package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Interval (range) join: every point row pairs with every interval row of
  * the same key whose `[start, end]` contains the point's timestamp — the
  * "events near an incident" / "reading inside a maintenance window" join
  * (reference scope: hauser's time-window bundle selection is the 1-D
  * degenerate case, `config.go` export windows).
  *
  * Spark plans a raw `p.ts BETWEEN i.start AND i.end` predicate as a
  * broadcast-nested-loop (or, keyed, a per-key sort-merge whose equal-key
  * groups still cross-product), which at 100 TB is quadratic in the hot
  * keys. The scalable composition used here is time-bin bucketing, the
  * standard range-join optimization (Databricks' range-join hints, Flink's
  * interval join): pick `binSeconds` on the order of the widest interval,
  * give each point its single bin `floor(ts / bin)`, explode each interval
  * into the `span/bin + 1` consecutive bins it overlaps (a small constant by
  * construction), equi-join on `(key, bin)`, and re-check the exact
  * `[start, end]` containment as a residual filter. Every exchange is a
  * hash-partitioned equi-join shuffle; each true pair materializes exactly
  * once because the point's bin appears exactly once in the interval's bin
  * list. Cost scales with pairs-per-bin, not pairs-per-key.
  */
object RangeJoin {

  /** Bin-bucketed interval join.
    *
    * `points` and `intervals` must have disjoint column names apart from
    * `key`. `tsCol` (on points) and `startCol`/`endCol` (on intervals) are
    * timestamp columns; containment is inclusive on both ends and exact to
    * the timestamp's microsecond precision (binning only routes candidates;
    * the residual filter decides). Inverted intervals (`end < start`) match
    * nothing and are dropped before the bin explode — `sequence()` would
    * otherwise step backwards and fabricate bins.
    *
    * `binSeconds` trades shuffle width for bin density: each interval emits
    * `floor(end/bin) - floor(start/bin) + 1` rows, so a bin at least as wide
    * as the typical interval keeps that at <= 2 while still subdividing the
    * timeline enough that one bin's points fit in an executor's hash table.
    */
  def intervalJoin(points: DataFrame, intervals: DataFrame,
                   binSeconds: Long): DataFrame = {
    val key = "user_id"
    val tsCol = "ts"
    val startCol = "w_start"
    val endCol = "w_end"
    require(binSeconds > 0, s"binSeconds must be positive: $binSeconds")
    val p = points.withColumn("__pbin",
      floor(col(tsCol).cast("long") / binSeconds))
    val i = intervals
      .filter(col(endCol) >= col(startCol))
      .withColumn("__ibin", explode(sequence(
        floor(col(startCol).cast("long") / binSeconds),
        floor(col(endCol).cast("long") / binSeconds))))
      .withColumnRenamed(key, "__ikey")
    p.join(i, col(key) === col("__ikey") &&
        col("__pbin") === col("__ibin") &&
        col(tsCol) >= col(startCol) && col(tsCol) <= col(endCol))
      .drop("__pbin", "__ibin", "__ikey")
  }
}
