package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Group-wise top-k WITHOUT a window: the
  * `row_number().over(Window.partitionBy(g).orderBy(score))` idiom sorts
  * and shuffles EVERY row of every group; this shape reuses the bounded
  * [[graft.functions.TopKAgg]] heap (built for ANN) so each partition
  * contributes at most k candidates per group and the exchange carries
  * one ≤k-element buffer per (partition, group) — the difference between
  * a bounded and an unbounded shuffle when a hot group holds a million
  * rows. Determinism: the heap's total order is (score desc, id asc), so
  * the survivor set and ranks are unique regardless of arrival order. */
object TopK {

  /** Top `k` rows per group by `scoreCol` (desc, ties by `idCol` asc).
    * Returns (groupCol, idCol, score, rk). Payload columns re-attach to
    * the tiny survivor set with a broadcast join, per the TopKAgg
    * contract — they must not ride through the heap. */
  def groupTopK(df: DataFrame, groupCol: String, scoreCol: Column, k: Int): DataFrame = {
    val idCol = "doc_id"
    val agg = udaf(new graft.functions.TopKAgg(k))
    df.groupBy(col(groupCol))
      .agg(agg(scoreCol, col(idCol)).as("top"))
      .select(col(groupCol), posexplode(col("top").getField("items")))
      .select(col(groupCol),
        col("col.id").as(idCol),
        col("col.sim").as("score"),
        (col("pos") + 1).cast("int").as("rk"))
  }

  /** 2-D Pareto frontier (skyline): the rows not dominated in the
    * maximize-both sense — no other row is ≥ in both dimensions and
    * strictly better in one. The curation read: "the best-quality doc
    * at every length budget"; everything below the frontier has a
    * strictly better alternative. Returns frontier rows
    * (idCol, x, y), x integral (the q162 grid contract), y round(6).
    *
    * Scale shape: NO pairwise dominance join. The corpus
    * partial-combines to the per-x max-y grid; two suffix-max windows
    * over that bounded grid give, for each x, the best y among
    * strictly-longer (`mgt`) and ≥-length (`mge`) rows; each corpus row
    * then checks `mgt ≥ y OR mge > y` against the BROADCAST grid —
    * one map-side join, domination decided without ever forming a
    * pair. */
  def paretoFrontier(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val idCol = "doc_id"
    import org.apache.spark.sql.expressions.Window
    val pts = df.select(col(idCol), xCol.cast("long").as("x"),
      round(yCol, 6).as("y"))
    val grid = pts.groupBy(col("x")).agg(max(col("y")).as("my"))
    val wgt = Window.orderBy(col("x"))
      .rowsBetween(1, Window.unboundedFollowing)
    val wge = Window.orderBy(col("x"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val dom = grid
      .withColumn("mgt", max(col("my")).over(wgt))
      .withColumn("mge", max(col("my")).over(wge))
      .select(col("x"), col("mgt"), col("mge"))
    pts.join(Hints.boundedBroadcast(dom, "value_grid"), Seq("x"))
      .filter(!(coalesce(col("mgt") >= col("y"), lit(false))
        || col("mge") > col("y")))
      .select(col(idCol), col("x"), col("y"))
  }
}
