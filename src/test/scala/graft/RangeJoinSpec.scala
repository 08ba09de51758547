package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.{RangeJoin, Sampling}

/** Bin-bucketed interval join + single-scan filter funnel. */
class RangeJoinSpec extends SparkSpec {
  import spark.implicits._

  // --- intervalJoin -------------------------------------------------------

  private def pointsDf(rows: Seq[(Long, Long, Long)]) =
    rows.toDF("user_id", "p_id", "ts_s")
      .select(col("user_id"), col("p_id"), timestamp_seconds(col("ts_s")).as("ts"))

  private def intervalsDf(rows: Seq[(Long, Long, Long, Long)]) =
    rows.toDF("user_id", "i_id", "s_s", "e_s")
      .select(col("user_id"), col("i_id"),
        timestamp_seconds(col("s_s")).as("w_start"),
        timestamp_seconds(col("e_s")).as("w_end"))

  test("intervalJoin matches the naive BETWEEN join on a random fixture") {
    // deterministic pseudo-random fixture: points and intervals spread over
    // ~3 h and 4 keys, interval spans 0..40 min (several wider than the bin)
    val pts = (0 until 400).map { i =>
      (i % 4L, i.toLong, (i * 7919L % 10000L))
    }
    val ivs = (0 until 120).map { i =>
      val s = i * 6101L % 10000L
      (i % 4L, 1000L + i, s, s + (i * 31L % 2400L))
    }
    val p = pointsDf(pts)
    val iv = intervalsDf(ivs)
    val fast = RangeJoin.intervalJoin(p, iv, binSeconds = 600)
      .select("p_id", "i_id").as[(Long, Long)].collect().toSet
    val naive = p.join(iv.withColumnRenamed("user_id", "k2"),
        col("user_id") === col("k2") &&
          col("ts") >= col("w_start") && col("ts") <= col("w_end"))
      .select("p_id", "i_id").as[(Long, Long)].collect().toSet
    assert(fast == naive)
    assert(fast.nonEmpty) // fixture actually exercises matches
  }

  test("intervalJoin: inclusive bounds, bin-boundary points, each pair once") {
    // interval [600, 1800] spans bins 1..3 at bin=600; points sit exactly on
    // the bounds, on interior bin edges, and just outside
    val p = pointsDf(Seq((1L, 1L, 599L), (1L, 2L, 600L), (1L, 3L, 1200L),
      (1L, 4L, 1800L), (1L, 5L, 1801L), (2L, 6L, 700L)))
    val iv = intervalsDf(Seq((1L, 10L, 600L, 1800L)))
    val got = RangeJoin.intervalJoin(p, iv, binSeconds = 600)
      .select("p_id", "i_id").as[(Long, Long)].collect()
    // exactly once per true pair (no dup from the interval's 3 bins), only
    // in-range points of the same key
    assert(got.sorted.toSeq == Seq((2L, 10L), (3L, 10L), (4L, 10L)))
  }

  test("intervalJoin drops inverted intervals instead of fabricating bins") {
    val p = pointsDf(Seq((1L, 1L, 500L)))
    val iv = intervalsDf(Seq((1L, 10L, 900L, 100L))) // end < start
    assert(RangeJoin.intervalJoin(p, iv, binSeconds = 600).count() == 0)
  }

  test("q109 plan: candidates route through a bin equi-join, no nested loop") {
    val plan = SparkEntry.queries("q109_interval_join")(
      spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(plan.contains("__pbin"), plan.take(2000)) // bin key in the join
  }

  // --- filterFunnel -------------------------------------------------------

  private lazy val docs = Seq(
    (1L, "en", "a", 300L), (2L, "en", "a", 100L), (3L, "de", "a", 400L),
    (4L, "en", "spam", 500L), (5L, "en", "a", 250L), (6L, "en", "b", 50L)
  ).toDF("doc_id", "lang", "source", "n_chars")

  test("filterFunnel matches sequential filtering, stage by stage") {
    val stages = Seq(
      "blocklist" -> (col("source") =!= "spam"),
      "lang_en" -> (col("lang") === "en"),
      "min_len" -> (col("n_chars") >= 200L))
    val got = Sampling.filterFunnel(docs, stages)
      .orderBy("stage_id")
      .select("stage", "surviving", "dropped")
      .as[(String, Long, Long)].collect().toSeq
    // hand-check: 6 total; spam drops doc 4 -> 5; de drops doc 3 -> 4;
    // short drops docs 2 and 6 -> 2
    assert(got == Seq(("total", 6L, 0L), ("blocklist", 5L, 1L),
      ("lang_en", 4L, 1L), ("min_len", 2L, 2L)))
    // invariants any funnel must satisfy: survivors non-increasing and
    // surviving(i-1) = surviving(i) + dropped(i)
    got.sliding(2).foreach { case Seq((_, s0, _), (_, s1, d1)) =>
      assert(s0 == s1 + d1)
    }
  }

  test("filterFunnel runs as ONE scan + one partial-combined aggregate") {
    docs.write.mode("overwrite").parquet("/tmp/graft_funnel_fixture")
    val plan = Sampling.filterFunnel(
        spark.read.parquet("/tmp/graft_funnel_fixture"),
        Seq("a" -> (col("n_chars") > 0L)))
      .queryExecution.executedPlan.toString
    assert("FileScan parquet".r.findAllIn(plan).size == 1, plan.take(2000))
    assert(plan.contains("partial_"), plan.take(2000))
  }
}
