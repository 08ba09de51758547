package graft

import org.apache.spark.sql.functions._

import graft.registry.SparkHelpers

/** Round-13 optimization pins.
  *
  * 1. [[operators.FanOut]] — the unsplittable-input remedy must (a) widen
  *    an under-partitioned frame to the cluster's defaultParallelism, (b)
  *    leave an already-wide frame structurally UNTOUCHED (the production
  *    no-op guarantee: at scale the scan has enough splits and the
  *    exchange must not exist), and (c) never change row content.
  *
  * 2. [[SparkHelpers.copurchasePairCounts]] — the basket-explode rewrite of
  *    the co-purchase edge build must produce the IDENTICAL (pa, pb, cm)
  *    multiset as the orderkey self-join it replaced, including the two
  *    tricky cases: a part appearing twice in one order (contributes no
  *    self-pair, but doubles its pairs with every other part in the
  *    order) and support counting across orders.
  */
class FanOutSpec extends SparkSpec {

  import spark.implicits._

  test("FanOut widens an under-partitioned frame to defaultParallelism") {
    val df = (1 to 100).toDF("x").coalesce(1)
    assert(df.rdd.getNumPartitions == 1)
    val out = operators.FanOut(df)
    assert(out.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    assert(out.select(sum($"x")).as[Long].head() == 5050L)
  }

  test("FanOut is a structural no-op on an already-wide frame") {
    val p = spark.sparkContext.defaultParallelism
    val df = (1 to 100).toDF("x").repartition(p + 2)
    val out = operators.FanOut(df)
    // same object: no repartition node was added at all
    assert(out eq df)
  }

  test("FanOut returns a shuffle-bearing frame unchanged without running a job") {
    // under AQE, probing an aggregate's partitioning through `.rdd` runs
    // its upstream stages at plan time; the contract check must not
    val agg = (1 to 100).toDF("x").groupBy(($"x" % 3).as("k")).count()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val out = try {
      val o = operators.FanOut(agg)
      org.apache.spark.ListenerBusDrain(sc)
      o
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 0)
    assert(out eq agg)
  }

  test("basket-explode pair counts == orderkey self-join pair counts") {
    // order 1: parts 10,20,30; order 2: parts 10,20 (pair support 2);
    // order 3: part 40 twice + 50 (duplicate part: no (40,40) pair,
    // but (40,50) counted TWICE); order 4: singleton (no pairs);
    // order 5: parts 20,10 (reversed arrival order, canonical pa<pb)
    val li = Seq(
      (1L, 10L), (1L, 20L), (1L, 30L),
      (2L, 10L), (2L, 20L),
      (3L, 40L), (3L, 40L), (3L, 50L),
      (4L, 60L),
      (5L, 20L), (5L, 10L)
    ).toDF("l_orderkey", "l_partkey")
    val basket = SparkHelpers.copurchasePairCounts(li)
      .orderBy($"pa", $"pb")
      .as[(Long, Long, Long)].collect().toSeq
    // reference: the replaced self-join formulation, verbatim
    val a = li.select($"l_orderkey".as("ok"), $"l_partkey".as("pa"))
    val b = li.select($"l_orderkey".as("ok"), $"l_partkey".as("pb"))
    val ref = a.join(b, Seq("ok")).filter($"pa" < $"pb")
      .groupBy($"pa", $"pb").agg(count(lit(1)).as("cm"))
      .orderBy($"pa", $"pb")
      .as[(Long, Long, Long)].collect().toSeq
    assert(basket == ref)
    assert(basket.contains((40L, 50L, 2L)))   // duplicate-part doubling
    assert(basket.contains((10L, 20L, 3L)))   // support across orders
    assert(!basket.exists(t => t._1 == t._2)) // no self-pairs
  }

  test("equiDepthHistogram == percentile() bit-for-bit (ties included)") {
    // deterministic pseudo-random values WITH heavy ties, two columns —
    // exercises the interpolation, the equal-key shortcut, and the
    // integer-position shortcut (n = 101 makes p*(n-1) integral)
    val df = (0 until 101).map { i =>
      val a = ((i * 2654435761L) % 97).toDouble / 7.0
      val b = ((i * 40503L) % 13).toDouble // many ties
      (a, b)
    }.toDF("a", "b")
    val got = operators.Stats.equiDepthHistogram(df, Seq("a", "b"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
    val qs = (1 until 10).map(i => i.toDouble / 10)
    // reference boundaries through Spark's own round(.,6) so the
    // comparison replays the exact production rounding mode
    val exp = df.agg(
      expr(s"transform(percentile(a, array(${qs.mkString(",")})), " +
        "x -> round(x, 6))").as("qa"),
      expr(s"transform(percentile(b, array(${qs.mkString(",")})), " +
        "x -> round(x, 6))").as("qb"))
      .collect().head
    val ref =
      (1 until 10).map(i => ("a", i * 10, exp.getSeq[Double](0)(i - 1))) ++
      (1 until 10).map(i => ("b", i * 10, exp.getSeq[Double](1)(i - 1)))
    assert(got.toSeq.sortBy(t => (t._1, t._2)) ==
      ref.sortBy(t => (t._1, t._2)))
  }

  test("map_min_sum == the HOF zip/aggregate formulation") {
    // overlapping, disjoint, empty and asymmetric-size tf maps
    val rows = Seq(
      (Map("a" -> 3L, "b" -> 1L, "c" -> 7L), Map("b" -> 5L, "c" -> 2L)),
      (Map("x" -> 2L), Map("y" -> 9L)),                   // disjoint -> 0
      (Map.empty[String, Long], Map("a" -> 1L)),          // empty -> 0
      (Map("a" -> 4L), Map("a" -> 4L)),                   // equal -> 4
      ((1 to 40).map(i => s"t$i" -> i.toLong).toMap,
        (20 to 60).map(i => s"t$i" -> (i * 2).toLong).toMap)
    ).toDF("ma", "mb")
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
    assert(got(0).getLong(0) == 3L) // min(1,5) + min(7,2) = 3... (b,c)
  }

  test("copurchaseEdges keeps only support>=2 pairs, src < dst") {
    val li = Seq(
      (1L, 10L), (1L, 20L),
      (2L, 10L), (2L, 20L),
      (3L, 10L), (3L, 30L)
    ).toDF("l_orderkey", "l_partkey")
    val edges = SparkHelpers.copurchaseEdges(li)
      .as[(Long, Long)].collect().toSet
    assert(edges == Set((10L, 20L)))
  }
}
