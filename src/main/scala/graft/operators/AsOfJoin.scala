package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join: for every left row, the single latest right row with
  * `right.ts <= left.ts` within the same key — the point-in-time lookup of
  * time-series analytics.
  *
  * Spark lacks the operator; rather than a custom physical plan, this is
  * the scalable composition: tag and union both sides, one window pass per
  * key ordered by (ts, side), and a running `last(..., ignoreNulls)` carries
  * the most recent right values forward into each left row. ONE shuffle on
  * the key, no range-condition join (which would plan as a broadcast-
  * nested-loop or per-key cross product at scale).
  */
object AsOfJoin {

  /** Left as-of join. Output: `key`, `leftTs`, the remaining left columns,
    * then `valueCols` from the matched right row (null when no right row is
    * at or before the left timestamp).
    *
    * `rightTieBreak`: optional right-side column ordering ties among right
    * rows that share a timestamp — the match becomes (max ts, then max
    * tie-break), making the join DETERMINISTIC under retries/AQE even when
    * the right stream has same-instant rows. Without it, equal-ts right
    * rows are picked in window arrival order. */
  def asofJoin(left: DataFrame, right: DataFrame,
               leftTs: String, rightTs: String,
               valueCols: Seq[String],
               rightTieBreak: Option[String] = None): DataFrame = {
    val key = "user_id"
    val payload = left.columns.filterNot(c => c == key || c == leftTs).toSeq
    def nul(df: DataFrame, c: String): Column =
      lit(null).cast(df.schema(c).dataType)

    val tbL: Seq[Column] = rightTieBreak.toSeq.map(c =>
      nul(right, c).as("__tb"))
    val tbR: Seq[Column] = rightTieBreak.toSeq.map(c => col(c).as("__tb"))
    val lNorm = left.select(
      col(key).as("__k") +: col(leftTs).as("__ts") +: lit(1).as("__side") +:
        (payload.map(c => col(c).as(s"__l_$c")) ++
          valueCols.map(c => nul(right, c).as(s"__r_$c")) ++ tbL): _*)
    val rNorm = right.select(
      col(key).as("__k") +: col(rightTs).as("__ts") +: lit(0).as("__side") +:
        (payload.map(c => nul(left, c).as(s"__l_$c")) ++
          valueCols.map(c => col(c).as(s"__r_$c")) ++ tbR): _*)

    // right rows sort BEFORE left rows at equal ts so `<=` matches; the
    // tie-break only reorders right rows among themselves (left rows sort
    // by __side regardless), so `last` picks the max-tie-break right row
    val order: Seq[Column] = Seq(col("__ts"), col("__side")) ++
      rightTieBreak.map(_ => col("__tb").asc_nulls_first).toSeq
    val w = Window.partitionBy(col("__k"))
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val carried = valueCols.foldLeft(lNorm.unionByName(rNorm)) { (df, c) =>
      df.withColumn(s"__asof_$c",
        last(col(s"__r_$c"), ignoreNulls = true).over(w))
    }
    carried.filter(col("__side") === 1)
      .select(col("__k").as(key) +: col("__ts").as(leftTs) +:
        (payload.map(c => col(s"__l_$c").as(c)) ++
          valueCols.map(c => col(s"__asof_$c").as(c))): _*)
  }
}
