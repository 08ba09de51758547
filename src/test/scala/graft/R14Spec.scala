package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.functions._

/** Round-14 optimization pins: every structural rewrite this round ships
  * with a differential test against the VERBATIM formulation it
  * replaced, so bit-identity is machine-checked, not argued.
  */
class R14Spec extends SparkSpec {

  import spark.implicits._

  test("map_min_sum sorted-merge fast path == HOF formulation on sorted, " +
    "unsorted, and adversarial key orders") {
    // adversarial orders include the case that breaks a lazily-verified
    // merge: one side exhausts before the out-of-order key is consumed
    // ({b, a} vs {a} — the merge would return 0 without full-tail
    // verification; the true intersection min-sum is 1)
    val rows = Seq(
      // sorted both sides (the shipped tfMaps shape)
      (Map("a" -> 3L, "b" -> 1L, "c" -> 7L),
        Map("b" -> 5L, "c" -> 2L)),
      // left unsorted, right sorted
      (Map("c" -> 7L, "a" -> 3L, "b" -> 1L), Map("b" -> 5L, "c" -> 2L)),
      // the early-exhaust trap: {b, a} vs {a}
      (Map("b" -> 2L, "a" -> 1L), Map("a" -> 5L)),
      // disjoint, empty, identical
      (Map("x" -> 2L), Map("y" -> 9L)),
      (Map.empty[String, Long], Map("a" -> 1L)),
      (Map("a" -> 4L), Map("a" -> 4L)),
      // long sorted maps exercising the two-pointer advance: ListMap keeps
      // the sorted entry order through the encoder (toMap scrambles it,
      // which only ever reached the quadratic fallback)
      (ListMap((1 to 40).map(i => f"t$i%03d" -> i.toLong): _*),
        ListMap((20 to 60).map(i => f"t$i%03d" -> (i * 2).toLong): _*))
    ).toDF("ma", "mb")
    // the long case really is sorted once encoded, so it takes the merge
    val longKeys = rows.select(map_keys(col("ma")), map_keys(col("mb")))
      .collect().last
    for (ks <- Seq(longKeys.getSeq[String](0), longKeys.getSeq[String](1)))
      assert(ks.size > 20 && ks == ks.sorted, ks.toString)
    val hof = aggregate(
      map_values(map_zip_with(col("ma"), col("mb"),
        (_, va, vb) => when(va.isNull || vb.isNull, lit(0L))
          .otherwise(least(va, vb)))),
      lit(0L), (acc, x) => acc + x)
    val got = rows.select(
      functions.GraftFunctions.map_min_sum(col("ma"), col("mb"))
        .as("native"), hof.as("ref"))
      .collect()
    got.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    assert(got(2).getLong(0) == 1L) // the early-exhaust trap answered 1
  }

  test("driver-side vOptimalDp == the DataFrame DP formulation " +
    "bit-for-bit (ties, zero-fill gaps, skewed freqs)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.DataFrame
    // the r13 DataFrame DP, verbatim, as the reference
    def refDp(freqs: DataFrame, g: Int, k: Int): DataFrame = {
      val dense = (1 to g).toDF("t")
        .join(freqs.select(col("t"), col("f")), Seq("t"), "left")
        .select(col("t"), coalesce(col("f"), lit(0L)).as("f"))
      val wCum = Window.orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pre = operators.Materializer.Local(dense
        .withColumn("p", sum(col("f")).over(wCum))
        .withColumn("p2", sum(col("f") * col("f")).over(wCum))
        .select(col("t"), col("p"), col("p2"))
        .unionAll(Seq((0, 0L, 0L)).toDF("t", "p", "p2")))
      val hi = pre.select(col("t").as("b"), col("p").as("pb"),
        col("p2").as("p2b")).filter(col("b") >= 1)
      val lo = pre.select(col("t").as("a0"), col("p").as("pa"),
        col("p2").as("p2a"))
      val d = (col("pb") - col("pa")).cast("double")
      val d2 = (col("p2b") - col("p2a")).cast("double")
      val len = (col("b") - col("a0")).cast("double")
      val sseTab = operators.Materializer.Local(hi
        .join(broadcast(lo), col("a0") < col("b"))
        .select((col("a0") + 1).as("a"), col("b"),
          round(d2 - d * d / len, 9).as("sse")))
      var bests = List(operators.Materializer.Local(
        sseTab.filter(col("a") === 1)
          .select(col("b").as("i"), col("sse").as("cost"),
            lit(0).as("argm"))))
      for (_ <- 2 to k) {
        val prev = bests.head.select(col("i").as("m"),
          col("cost").as("pcost"))
        val wMin = Window.partitionBy(col("i"))
          .orderBy(col("cost").asc, col("m").asc)
        bests ::= operators.Materializer.Local(prev
          .join(broadcast(sseTab), col("a") === col("m") + 1)
          .select(col("b").as("i"), col("m"),
            round(col("pcost") + col("sse"), 9).as("cost"))
          .withColumn("rk", row_number().over(wMin))
          .filter(col("rk") === 1)
          .select(col("i"), col("cost"), col("m").as("argm")))
      }
      val byRound = bests.reverse.toArray
      var bounds = List(g)
      var cur = g
      for (j <- k to 2 by -1) {
        val m = byRound(j - 1).filter(col("i") === cur)
          .collect()(0).getInt(2)
        bounds ::= m
        cur = m
      }
      val segs = (0 until k).map { idx =>
        val sl = if (idx == 0) 1 else bounds(idx - 1) + 1
        (idx + 1, sl, bounds(idx))
      }.toDF("bucket", "seg_lo", "seg_hi")
      segs
        .join(broadcast(sseTab.select(col("a").as("seg_lo"),
          col("b").as("seg_hi"), col("sse"))), Seq("seg_lo", "seg_hi"))
        .join(broadcast(pre.select(col("t").as("seg_hi"),
          col("p").as("phi"))), Seq("seg_hi"))
        .join(broadcast(pre.select((col("t") + 1).as("seg_lo"),
          col("p").as("plo"))), Seq("seg_lo"))
        .select(col("bucket"), col("seg_lo"), col("seg_hi"),
          (col("phi") - col("plo")).cast("long").as("n_rows"),
          round(col("sse"), 6).as("sse"))
    }
    val cases: Seq[(Seq[(Int, Long)], Int, Int)] = Seq(
      // two plateaus: the classic zero-SSE split
      ((1 to 6).map(t => t -> (if (t <= 3) 10L else 50L)), 6, 2),
      // all-equal frequencies: maximal DP ties (argmin tie-break pinned)
      ((1 to 8).map(t => t -> 7L), 8, 3),
      // zero-fill gaps (absent t rows) + skew
      (Seq(1 -> 100L, 4 -> 1L, 7 -> 900L, 8 -> 2L), 8, 4),
      // pseudo-random, g = 32 / k = 4 — the shipped q297/q305 geometry
      ((1 to 32).map(t => t -> ((t * 2654435761L) % 97 + 1)), 32, 4)
    )
    for ((fs, g, k) <- cases) {
      val freqs = fs.toDF("t", "f")
      val got = operators.Stats.vOptimalDp(freqs, g, k)
        .orderBy(col("bucket"))
        .as[(Int, Int, Int, Long, Double)].collect().toSeq
      val ref = refDp(freqs, g, k)
        .orderBy(col("bucket"))
        .as[(Int, Int, Int, Long, Double)].collect().toSeq
      assert(got == ref, s"g=$g k=$k\ngot $got\nref $ref")
    }
  }

  test("vOptimalDp rejects duplicate t values instead of keeping the last") {
    val freqs = Seq(1 -> 10L, 2 -> 5L, 2 -> 7L, 3 -> 1L).toDF("t", "f")
    val e = intercept[IllegalArgumentException](
      operators.Stats.vOptimalDp(freqs, 3, 2))
    assert(e.getMessage.contains("duplicate t values in freqs (2)"),
      e.getMessage)
  }
}
