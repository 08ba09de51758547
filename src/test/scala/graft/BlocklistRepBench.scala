package graft

import org.apache.spark.unsafe.types.UTF8String

import graft.functions.BlocklistHits
import graft.registry.SparkHelpers

/** Representation benchmark for the blocklist automaton: the SAME
  * pattern set built both ways (`BlocklistHits.build(pats, denseLimit)`
  * override), walked single-threaded over the real sf0.1 documents
  * corpus, min-of-3 warm — so the dense-vs-sparse policy boundary
  * (`denseNodeLimit`) is priced, not guessed. Run with
  * `Test/runMain graft.BlocklistRepBench`; results recorded in
  * COVERAGE.md (round 12). Also cross-checks that both representations
  * produce identical counts on every document before timing. */
object BlocklistRepBench {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.create("blocklist-rep-bench")
    val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select("text").collect().map(r =>
        UTF8String.fromString(Option(r.getString(0)).getOrElse("")))
    // repeat to ~30 MB so the per-sweep time is far above timer noise
    val docs = Array.fill(20)(base).flatten
    val corpusBytes = docs.map(_.numBytes().toLong).sum
    println(s"corpus: ${docs.length} docs, $corpusBytes bytes")

    val rnd = new scala.util.Random(12)
    def word(n: Int) = (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar)
      .mkString
    val sets: Seq[(String, Seq[String])] = Seq(
      // referenced, not copied: the benchmark must price the pattern
      // sets the production queries actually run
      "q315 phrase blocklist (8 pats)" ->
        SparkHelpers.blocklistPatterns,
      "q323 trigram dictionary (3375 pats)" ->
        SparkHelpers.dictBlocklistPatterns,
      "synthetic PII dictionary (10k pats)" ->
        (1 to 10000).map(_ => word(8 + rnd.nextInt(5))).distinct)

    def time3(f: => Unit): Double = {
      f // warm
      (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.min
    }

    for ((label, pats) <- sets) {
      val bytes = pats.map(p => UTF8String.fromString(p).getBytes)
        .toArray
      val dense = BlocklistHits.build(bytes, denseLimit = Int.MaxValue)
      val sparse = BlocklistHits.build(bytes, denseLimit = 0)
      require(dense.dense && !sparse.dense)
      // semantics identical on every doc before any timing
      val nPats = bytes.length
      for (d <- docs.take(500)) {
        val c1 = new Array[Long](nPats); val e1 = new Array[Int](nPats)
        val c2 = new Array[Long](nPats); val e2 = new Array[Int](nPats)
        dense.run(d, c1, e1); sparse.run(d, c2, e2)
        require(java.util.Arrays.equals(c1, c2), s"mismatch in $label")
      }
      def sweep(a: BlocklistHits.Automaton): Double = time3 {
        val c = new Array[Long](nPats); val e = new Array[Int](nPats)
        var i = 0
        while (i < docs.length) {
          java.util.Arrays.fill(c, 0L); java.util.Arrays.fill(e, 0)
          a.run(docs(i), c, e)
          i += 1
        }
      }
      val td = sweep(dense)
      val ts = sweep(sparse)
      // transition-structure bytes only; `outs`/`patLen` exist
      // identically in BOTH representations so they cancel out of the
      // comparison. Sparse = keys(1B) + next(4B) per edge, plus the
      // off (4B x nodes+1) and fail (4B x nodes) arrays.
      val denseMB = (dense.nNodes.toLong << 8) * 4 / 1e6
      val sparseMB = (sparse.csrNext.length.toLong * 5 +
        (sparse.csrOff.length.toLong + sparse.fail.length.toLong) * 4
        ) / 1e6
      println(f"$label: nodes=${dense.nNodes} " +
        f"dense ${td}%.3f s (${corpusBytes / td / 1e6}%.0f MB/s, " +
        f"table ${denseMB}%.1f MB) | " +
        f"sparse ${ts}%.3f s (${corpusBytes / ts / 1e6}%.0f MB/s, " +
        f"${sparseMB}%.2f MB) | sparse/dense ${ts / td}%.2f")
    }
    spark.stop()
  }
}
