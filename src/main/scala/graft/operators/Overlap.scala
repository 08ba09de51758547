package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-overlap estimation between slices WITHOUT joining the corpora:
  * the question "how much does slice A share with slice B" (between crawl
  * snapshots, language subsets, vendor deliveries) answered from one tiny
  * mergeable sketch per slice, never a pairwise shingle join.
  *
  * Each slice is summarized by a KMV (k-minimum-values) sketch over its
  * shingle hashes (Beyer et al. 2007): the k lexicographically smallest
  * distinct md5 digests. Jaccard is then estimated from two sketches
  * alone: take the k smallest of the merged hash union (= KMV of A∪B) and
  * count how many of those landed in BOTH input sketches — under a
  * uniform hash that fraction is an unbiased estimate of |A∩B|/|A∪B|.
  * When k >= |A∪B| the "estimate" is exact, which is what the oracle's
  * fixture-free replication and the spec's small fixtures rely on.
  *
  * Scale shape: the corpus is scanned once, shingles hash map-side, and
  * the bounded [[graft.functions.KMinStringsAgg]] keeps <= k strings per
  * (partition, slice) — the shuffle moves p×k rows, not the shingle
  * stream, and no corpus-wide `distinct` ever materializes. The pairwise
  * stage touches only the sketch table (one row per slice), so its
  * inequality join is a broadcast over a handful of rows. Sketches are
  * plain `array<string>` columns: persistable, and mergeable across
  * snapshots with `array_union` + truncate — the incremental monitoring
  * mode (today's sketch vs yesterday's) costs one small union, no rescan.
  */
object Overlap {

  /** One KMV sketch row per slice: `(slice, hs)` where `hs` is the sorted
    * list of the k smallest distinct md5 hex digests of the slice's word
    * `shingleN`-gram shingles. */
  def kmvSketch(docs: DataFrame, k: Int): DataFrame = {
    val sliceCol = "lang"
    val textCol = "text"
    val shingleN = 3
    val kmin = udaf(new graft.functions.KMinStringsAgg(k))
    docs
      .select(col(sliceCol).as("slice"),
        explode(TextAnalysis.shingles(col(textCol), shingleN)).as("sh"))
      .select(col("slice"), md5(col("sh")).as("h"))
      .groupBy(col("slice"))
      .agg(kmin(col("h")).as("hs"))
  }

  /** Pairwise Jaccard estimates for every unordered slice pair, computed
    * from the sketches alone. `l_used = min(k, |merged union|)` is the
    * effective sketch size; `n_shared` counts merged-KMV members present
    * in both sides; `jaccard_est = n_shared / l_used`. */
  def kmvJaccard(sketches: DataFrame, k: Int): DataFrame = {
    val a = sketches.select(col("slice").as("slice_a"), col("hs").as("a_hs"))
    val b = sketches.select(col("slice").as("slice_b"), col("hs").as("b_hs"))
    a.join(b, col("slice_a") < col("slice_b"))
      .withColumn("merged",
        slice(array_sort(array_union(col("a_hs"), col("b_hs"))), 1, k))
      .select(col("slice_a"), col("slice_b"),
        size(col("merged")).cast("long").as("l_used"),
        size(array_intersect(array_intersect(col("merged"), col("a_hs")),
          col("b_hs"))).cast("long").as("n_shared"))
      .withColumn("jaccard_est",
        round(col("n_shared").cast("double") / col("l_used"), 6))
  }

  /** Sketch → pairwise estimates in one call (the q123 shape). The sketch
    * table is materialized before the self-join — it is referenced twice
    * there (side A and side B), and without the pin the whole corpus scan
    * + sketch aggregation would re-execute per side. */
  def sliceOverlap(docs: DataFrame, k: Int): DataFrame =
    kmvJaccard(Materializer.Local(kmvSketch(docs, k)), k)
}
