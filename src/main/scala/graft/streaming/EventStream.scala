package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** Structured Streaming front door for the incremental pipeline — the
  * engine-native form of the reference's hand-rolled micro-batch loop
  * (SURVEY.md §2.8): tumbling windows = T2, withWatermark = T3, the
  * checkpointLocation = T4's offset log, foreachBatch = the load+commit
  * step, sequential micro-batches = T8's ordering guarantee.
  *
  * Note the deliberate semantic split (SURVEY.md §7.4 trap 6): hauser's
  * ExportDelay delays whole windows at the scheduler; the batch
  * [[graft.service.ExportService]] owns that gate. Streaming watermarks
  * here handle per-record lateness for the analytics aggregates.
  */
/** Typed rows for the custom-state sessionizer. `ts` is the watermark
  * column; `tsMicros` its long form for state arithmetic. */
final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp,
                              tsMicros: Long, value: Double)
final case class OpenSession(startTs: Long, lastTs: Long, n: Long, sum: Double)
final case class SessionOut(user_id: Long, start_ts: Long, end_ts: Long,
                            n_events: Long, sum_value: Double)

object EventStream {

  /** Streaming source over an events directory (parquet files appearing
    * over time = arriving bundles). */
  def readEvents(spark: SparkSession, path: String,
                 schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema).parquet(path)

  /** Tumbling-window aggregate with a watermark (T2+T3): per event_type
    * counts and value sums per window. */
  def windowedAgg(events: DataFrame, windowDur: String,
                  watermarkDelay: String): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Gap-based streaming sessionization via the built-in session_window
    * (T7 — the capability the reference lacks). */
  def sessionAgg(events: DataFrame, gap: String,
                 watermarkDelay: String): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Custom-state sessionization via flatMapGroupsWithState — the
    * hand-rolled alternative to session_window for when session logic
    * outgrows a gap rule (e.g. hauser-style "close on explicit end event").
    * State per user is one open session summary; event-time timeout closes
    * idle sessions when the watermark passes start + gap. */
  def statefulSessions(events: org.apache.spark.sql.Dataset[SessionEvent],
                       gapSeconds: Long,
                       watermarkDelay: String): org.apache.spark.sql.Dataset[SessionOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import org.apache.spark.sql.{Encoders => E}
    implicit val outEnc = E.product[SessionOut]
    implicit val stateEnc = E.product[OpenSession]

    def fn(userId: Long, evts: Iterator[SessionEvent],
           state: GroupState[OpenSession]): Iterator[SessionOut] = {
      val out = scala.collection.mutable.ArrayBuffer[SessionOut]()
      var open = state.getOption
      evts.toSeq.sortBy(_.tsMicros).foreach { e =>
        open match {
          case Some(s) if e.tsMicros - s.lastTs > gapSeconds * 1000000L =>
            out += SessionOut(userId, s.startTs, s.lastTs, s.n, s.sum)
            open = Some(OpenSession(e.tsMicros, e.tsMicros, 1L, e.value))
          case Some(s) =>
            open = Some(OpenSession(s.startTs, e.tsMicros, s.n + 1,
              s.sum + e.value))
          case None =>
            open = Some(OpenSession(e.tsMicros, e.tsMicros, 1L, e.value))
        }
      }
      if (state.hasTimedOut) {
        open.foreach(s =>
          out += SessionOut(userId, s.startTs, s.lastTs, s.n, s.sum))
        state.remove()
      } else open.foreach { s =>
        state.update(s)
        state.setTimeoutTimestamp(s.lastTs / 1000L + gapSeconds * 1000L)
      }
      out.iterator
    }

    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)(E.scalaLong)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Streaming exact dedup: drop events whose id was already seen within
    * the watermark horizon — the streaming half of the training-data dedup
    * story (state stays bounded because expired keys age out with the
    * watermark). */
  def dedupedStream(events: DataFrame, idCol: String, tsCol: String,
                    watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(idCol)

  /** Stream-STREAM interval join: rows of `right` that land within
    * `[l.ts, l.ts + window]` of a `left` row with the same key — the
    * click→conversion / impression→purchase correlation shape, run with
    * BOTH sides unbounded. Watermarks on both inputs plus the time-range
    * join condition are exactly what lets Spark bound the join state:
    * each side buffers only rows younger than watermark + window, and
    * older state ages out (an equi-join without the time bound would
    * buffer both streams forever). Output columns are prefixed l_/r_.
    *
    * Same semantics as the batch interval join (q109's one-sided window
    * with `[t, t+window]` bounds) — StreamingSpec pins the streaming
    * result equal to the static BETWEEN join over the same data. */
  def intervalJoinStreams(left: DataFrame, right: DataFrame,
                          keyCol: String, tsCol: String,
                          window: String, watermarkDelay: String)
      : DataFrame = {
    val l = left.withWatermark(tsCol, watermarkDelay)
      .select((left.columns.map(c => col(c).as(s"l_$c"))).toSeq: _*)
    val r = right.withWatermark(tsCol, watermarkDelay)
      .select((right.columns.map(c => col(c).as(s"r_$c"))).toSeq: _*)
    l.join(r,
      col(s"l_$keyCol") === col(s"r_$keyCol") &&
        col(s"r_$tsCol") >= col(s"l_$tsCol") &&
        col(s"r_$tsCol") <= col(s"l_$tsCol") + expr(s"INTERVAL $window"))
  }

  /** One micro-batch upsert, idempotent under replay: rows land in a
    * (day, batch_id) partition and the write is a DYNAMIC partition
    * overwrite, so a batch replayed after a checkpoint recovery rewrites
    * exactly its own partitions instead of appending duplicates — the
    * streaming analog of the batch service's idempotent day overwrite
    * (T5). A plain mode("append") here would double rows on every
    * replay. */
  def upsertBatch(batch: DataFrame, batchId: Long, outPath: String): Unit = {
    batch.withColumn("day", to_date(col("window_start")))
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("day", "batch_id").parquet(outPath)
  }

  /** Micro-batch sink into a warehouse-style partitioned parquet table:
    * foreachBatch + [[upsertBatch]] gives the batch-side exactly-once
    * hook. */
  def writeToWarehouse(agg: DataFrame, outPath: String,
                       checkpoint: String): StreamingQuery =
    agg.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        upsertBatch(batch, batchId, outPath)
      }
      .start()
}
