package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data-layout planning: Z-order (Morton) clustering,
  * the public technique behind Delta/Iceberg `OPTIMIZE ZORDER BY` and
  * classic multi-dim indexing (Morton 1966). Sorting a 100 TB table by
  * one column gives perfect min/max file pruning on that column and NONE
  * on any other; writing files along the Z-curve of two columns keeps
  * BOTH dimensions in narrow per-file ranges, so a predicate on either
  * column skips most files at scan time.
  *
  * Everything here is pure integer arithmetic on codegen'd builtins
  * (shiftleft/shiftright/bitwiseAND folded into one projection) — the
  * z-value computation rides the scan; the only shuffle is whatever the
  * caller does with it (a `repartitionByRange(zCol)` before a write, or
  * the per-shard stats aggregate in [[zorderShardStats]]).
  */
object Layout {
  private val Bits = 8

  /** Morton interleave of two non-negative integer columns, `bits` bits
    * each: bit i of `x` lands at position 2i, bit i of `y` at 2i+1.
    * A fold of 2*bits shift/mask/add terms — one codegen'd projection,
    * and the identical expression is writable in ANSI SQL. */
  def zorder(x: Column, y: Column, bits: Int): Column = {
    require(bits > 0 && bits <= 31, s"bits out of range: $bits")
    val xl = x.cast("long")
    val yl = y.cast("long")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc +
        shiftleft(shiftright(xl, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(yl, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }
  }

  /** The matching SQL text for [[zorder]] (same term order, same
    * arithmetic) — used by oracle queries and by anyone materializing the
    * layout from a SQL engine, over columns `x` and `y`, `Bits` bits
    * each. */
  def zorderSql: String =
    (0 until Bits).map { i =>
      s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")

  /** Plan `nShards` equal-width Z-ranges over the `Bits`-bit square of
    * (`ub`, `hb`) and report, per shard, the row count and the min/max of
    * each dimension —
    * the metadata a layout writer would persist as file-level statistics.
    * Narrow per-shard ranges on BOTH dims are what make the layout prune:
    * the shard width in each dimension is ~2^(Bits/2) cells, not the full
    * 2^Bits span a single-column sort leaves on its secondary dim. */
  def zorderShardStats(df: DataFrame): DataFrame = {
    val xCol = "ub"
    val yCol = "hb"
    val nShards = 16
    require(nShards > 0 && (nShards & (nShards - 1)) == 0,
      s"nShards must be a power of two: $nShards")
    val shift = 2 * Bits - java.lang.Long.numberOfTrailingZeros(nShards.toLong)
    df.select(col(xCol).as("x"), col(yCol).as("y"),
        zorder(col(xCol), col(yCol), Bits).as("z"))
      .groupBy(shiftright(col("z"), shift).as("shard"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("x")).as("x_min"), max(col("x")).as("x_max"),
        min(col("y")).as("y_min"), max(col("y")).as("y_max"))
  }
}
