package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sessionization and event-stream analytics over the hauser-style event
  * table (reference has session *fields* but no sessionizer —
  * reference: warehouse/schema.go:12,26,35; SURVEY.md §2.8 T7).
  *
  * Batch formulation: gap-based session ids via lag + running sum inside a
  * (user, time) window — one shuffle on user_id, everything else streams.
  * The streaming formulation lives in [[graft.streaming.EventStream]]
  * (session_window / flatMapGroupsWithState).
  */
object Sessionize {
  private val TsCol = "ts"

  /** Assign gap-based session ids per user: a new session starts when the
    * gap to the previous event exceeds `gapSeconds`; events at the same
    * timestamp are ordered by `event_id`. Returns the input plus
    * `session_seq` (1-based per-user session index). */
  def withSessionIds(events: DataFrame): DataFrame = {
    val userCol = "user_id"
    val tsCol = "ts"
    val gapSeconds: Long = 1800
    val byUser = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col("event_id"))
    val prev = lag(col(tsCol), 1).over(byUser)
    val isNew = when(prev.isNull, lit(1L)).otherwise(
      when(unix_micros(col(tsCol)) - unix_micros(prev) > gapSeconds * 1000000L,
        lit(1L)).otherwise(lit(0L)))
    events.withColumn("session_seq",
      sum(isNew).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** Per-session summary: bounds, event count, exact value sum (decimal
    * accumulation -> order-independent, oracle-safe). */
  def sessionSummary(events: DataFrame): DataFrame = {
    val userCol = "user_id"
    val valueCol = "value"
    withSessionIds(events)
      .groupBy(col(userCol), col("session_seq"))
      .agg(
        min(col(TsCol)).as("session_start"),
        max(col(TsCol)).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col(valueCol).cast("decimal(38,6)")).cast("double").as("sum_value"))
  }

  /** Tumbling-window event aggregate (hauser bundle analog, T2): events
    * bucketed to `date_trunc(unit)` per event_type. */
  def tumblingAgg(events: DataFrame): DataFrame = {
    val unit = "hour"
    events.groupBy(
      date_trunc(unit, col(TsCol)).as("window_start"),
      col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(38,6)")).cast("double").as("sum_value"))
  }
}
