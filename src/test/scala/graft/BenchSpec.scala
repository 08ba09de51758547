package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** Pins the bench harness's contract: a failed attempt is an ERROR,
  * never a measurement (a stopped SparkContext makes every remaining
  * query "run" in ~5 ms, which a min would prefer over the real time);
  * the graded and sf1 sections stay inside the deadline; and the stdout
  * lines and the certification history keep the shapes readers parse. */
class BenchSpec extends SparkSpec {

  /** `runSuite` once per pass over the same maps, as the main runs its
    * graded passes; true when every pass completed. */
  private def passes(n: Int)(pass: => Boolean): Boolean =
    Seq.fill(n)(pass).forall(identity)

  test("the query registry rejects a duplicate name when it is built") {
    val body: (SparkSession, String) => DataFrame = (s, _) => s.range(1).toDF()
    val e = intercept[IllegalArgumentException](QuerySpec.index(Seq(
      QuerySpec("qa", body, "SELECT 1"), QuerySpec("qb", body, "SELECT 2"),
      QuerySpec("qa", body, "SELECT 3"))))
    assert(e.getMessage.contains("duplicate query names: qa"), e.getMessage)
    assert(SparkEntry.specs.size == 322)
  }

  test("the sf1 tiers derive from the specs: seven tiered queries with " +
    "today's slice denominators") {
    val tiers = SparkEntry.specs.values.flatMap(q => q.tier.map(q.name -> _.n))
    assert(tiers.toMap == Map(
      "q201_setjoin_exact" -> 4, "q209_lsh_recall_cert" -> 8,
      "q263_lof" -> 8, "q304_weighted_neardup" -> 8,
      "q301_dup_transitivity" -> 4, "q310_dedup_threshold_sweep" -> 4,
      "q286_nn_descent" -> 2))
    assert(Bench.tierSlice("q209_lsh_recall_cert") == 8)
    assert(Bench.tierSlice("q01_pricing_summary") == 1)
  }

  test("a tier body is the graded body over a hash-sampled slice of its " +
    "table; the graded body itself reads the whole table") {
    val docs = spark.range(400).toDF("doc_id")
    val dir = java.nio.file.Files.createTempDirectory("tier").toString
    docs.write.parquet(s"$dir/documents.parquet")
    val q = QuerySpec("q_tiered",
      (s, d) => registry.SparkHelpers.t(s, d, "documents"), "",
      tier = Some(Slice("documents", "doc_id", 4)))
    val sliced = q.tierBody(spark, dir)
    assert(q.body(spark, dir).count() == 400)
    assert(sliced.count() == registry.SparkHelpers
      .hashSample(docs, "doc_id", 4).count())
    assert(sliced.count() > 0 && sliced.count() < 400)
  }

  test("every chunk line is one JSON object carrying errors_n and " +
    "graded_passes next to its slice of the graded map") {
    val names = (1 to 20).map(i => f"q$i%02d")
    val times = names.map(_ -> 0.5).toMap
    val lines = Bench.chunkLines(times, names, "sf", 2, 3)
    assert(lines.size == 3)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    lines.zipWithIndex.foreach { case (l, i) =>
      val node = mapper.readTree(l)
      assert(node.get("metric").asText == "total")
      assert(node.get("value").asDouble == 10.0)
      assert(node.get("chunk").asInt == i + 1)
      assert(node.get("chunks").asInt == 3)
      assert(node.get("graded_passes").asInt == 2)
      assert(node.get("errors_n").asInt == 3)
      assert(node.get("queries").size == (if (i < 2) 8 else 4))
    }
  }

  private val good: (SparkSession, String) => DataFrame =
    (s, _) => s.range(10).toDF("v")
  private val bad: (SparkSession, String) => DataFrame =
    (_, _) => throw new RuntimeException("boom: injected failure")
  // fails only while the flag is set — models a query that dies in pass 1
  // (context shutting down) but would succeed in a later healthy pass.
  // The SUCCESSFUL run sleeps a fixed floor so the spec can prove
  // structurally (lower bound, never flaky) which run the recorded min
  // came from: a recorded failure time would be far below the floor.
  private object Flaky {
    @volatile var failing = true
    val successFloorS = 0.2
  }
  private val flaky: (SparkSession, String) => DataFrame =
    (s, _) =>
      if (Flaky.failing) throw new RuntimeException("boom: transient")
      else {
        Thread.sleep((Flaky.successFloorS * 1000).toLong)
        s.range(5).toDF("v")
      }

  test("onRecorded fires once per created-or-improved min, never for a " +
    "failure — the mid-pass checkpoint hook an external kill depends on") {
    val acc = mutable.Map[String, Double]()
    val errors = mutable.Map[String, String]()
    val fired = mutable.ArrayBuffer[String]()
    passes(2)(Bench.runSuite(spark, "/unused", Seq("ok", "fail"),
      Map("ok" -> good, "fail" -> bad), acc, errors,
      onRecorded = fired += _))
    // "ok" fires on pass 1 (min created) and only fires again on pass 2
    // if pass 2 actually improved the min; "fail" never records, never
    // fires — a checkpoint of a failure would persist garbage stamps
    assert(fired.count(_ == "ok") >= 1 && fired.count(_ == "ok") <= 2,
      fired.mkString(", "))
    assert(!fired.contains("fail"), fired.mkString(", "))
  }

  test("a failed pass records NO per-query min — only an errors entry") {
    val acc = mutable.Map[String, Double]()
    val errors = mutable.Map[String, String]()
    val completed = passes(2)(Bench.runSuite(spark, "/unused",
      Seq("ok", "fail"), Map("ok" -> good, "fail" -> bad), acc, errors))
    assert(completed, "a query failure must not abort the suite")
    assert(acc.contains("ok") && acc("ok") > 0.0)
    assert(!acc.contains("fail"),
      "failure wall-clock must never enter the min — the round-6 poison")
    assert(errors("fail").contains("boom"))
  }

  test("a pass that fails then succeeds records only the SUCCESSFUL time") {
    val acc = mutable.Map[String, Double]()
    val errors = mutable.Map[String, String]()
    Flaky.failing = true
    // pass 1: flaky throws (instant — the poison candidate); flip the
    // flag via the observer query that runs after it in the same pass
    val flip: (SparkSession, String) => DataFrame =
      (s, _) => { Flaky.failing = false; s.range(1).toDF("v") }
    passes(2)(Bench.runSuite(spark, "/unused", Seq("aflaky", "zflip"),
      Map("aflaky" -> flaky, "zflip" -> flip), acc, errors))
    // pass-2 success is the ONLY recorded time; the instant pass-1
    // failure must not have seeded a ~0 ms min. Structural proof: the
    // success path sleeps a fixed floor, so any recorded value below it
    // can only be the pass-1 failure's wall-clock.
    assert(acc.contains("aflaky"))
    assert(acc("aflaky") >= Flaky.successFloorS,
      s"min ${acc("aflaky")} is below the success path's sleep floor — " +
        "it must be a recorded failure time")
    // queries/errors are DISJOINT (round-9 rule): once a successful
    // attempt lands, the transient pass-1 failure is superseded — a
    // reader applying "failures land in errors" must not misread a
    // certified entry as failed
    assert(!errors.contains("aflaky"),
      "a certified query must not also be listed in errors")
  }

  test("a failure AFTER a recorded success never re-enters errors: the " +
      "queries and errors maps stay disjoint") {
    val acc = mutable.Map[String, Double]()
    val errors = mutable.Map[String, String]()
    Flaky.failing = false
    // pass 1 succeeds (records the min), the observer then flips the
    // flag so pass 2 fails — the GC-retry/pass-2 shape the round-8
    // protocol made likely
    val flip: (SparkSession, String) => DataFrame =
      (s, _) => { Flaky.failing = true; s.range(1).toDF("v") }
    passes(2)(Bench.runSuite(spark, "/unused", Seq("aflaky", "zflip"),
      Map("aflaky" -> flaky, "zflip" -> flip), acc, errors))
    assert(acc.contains("aflaky") &&
      acc("aflaky") >= Flaky.successFloorS)
    assert(!errors.contains("aflaky"),
      "a pass-2 failure of an already-certified query is not an error " +
        "entry — the artifact's queries/errors maps must stay disjoint")
  }

  test("an expired deadline aborts between queries, keeping prior entries") {
    val acc = mutable.Map[String, Double]()
    val errors = mutable.Map[String, String]()
    val completed = Bench.runSuite(spark, "/unused", Seq("a", "b"),
      Map("a" -> good, "b" -> good), acc, errors,
      deadlineNanos = System.nanoTime() - 1L)
    assert(!completed && acc.isEmpty,
      "nothing may be timed after the budget deadline")
    // entries recorded BEFORE the deadline survive an abort
    val acc2 = mutable.Map[String, Double]("a" -> 1.23)
    val c2 = Bench.runSuite(spark, "/unused", Seq("b"),
      Map("b" -> good), acc2, errors,
      deadlineNanos = System.nanoTime() - 1L)
    assert(!c2 && acc2 == mutable.Map("a" -> 1.23))
  }

  test("min-of-N folds successful passes only") {
    val acc = mutable.Map[String, Double]()
    val errors = mutable.Map[String, String]()
    passes(3)(Bench.runSuite(spark, "/unused", Seq("ok"),
      Map("ok" -> good), acc, errors))
    assert(acc("ok") > 0.0 && errors.isEmpty)
  }

  // ---- nothing starts past the deadline, GC fractions are recorded,
  // the sf1 pass runs least-recently-certified first, and the
  // certification history round-trips

  test("a query whose projected cost exceeds the deadline is SKIPPED, " +
      "not run; the queries behind it still get entries") {
    val acc = mutable.Map[String, Double]()
    val errors = mutable.Map[String, String]()
    val ran = mutable.Set[String]()
    val observed: String => (SparkSession, String) => DataFrame =
      n => (s, _) => { ran += n; s.range(3).toDF("v") }
    // ~30 s headroom; "huge" projects 1e6 s and must be gated out while
    // "cheap" (no estimate) still runs AFTER it in sequence
    val completed = Bench.runSuite(spark, "/unused",
      Seq("huge", "cheap"),
      Map("huge" -> observed("huge"), "cheap" -> observed("cheap")),
      acc, errors,
      deadlineNanos = System.nanoTime() + 30L * 1000 * 1000 * 1000,
      estimate = n => if (n == "huge") 1e6 else 0.0)
    assert(!completed, "a projected-cost skip means the suite is incomplete")
    assert(!ran.contains("huge") && !acc.contains("huge"),
      "the over-budget query must not execute at all")
    assert(ran.contains("cheap") && acc.contains("cheap"),
      "queries after a projected skip must still run")
    assert(errors.isEmpty, "a projected skip is not an error")
  }

  test("successful runs record a GC fraction in [0,1]") {
    val acc = mutable.Map[String, Double]()
    val errors = mutable.Map[String, String]()
    val gcf = mutable.Map[String, Double]()
    Bench.runSuite(spark, "/unused", Seq("ok", "fail"),
      Map("ok" -> good, "fail" -> bad), acc, errors, gcf = gcf)
    assert(gcf.contains("ok") && gcf("ok") >= 0.0 && gcf("ok") <= 1.0)
    assert(!gcf.contains("fail"), "failures must not record a GC fraction")
  }

  test("largeOrder: never-certified first, then stalest certification, " +
      "cheapest-first within a recency group") {
    val hist = Map(
      "q_old_cheap" -> Bench.Cert(1.0, 3),
      "q_old_dear" -> Bench.Cert(50.0, 3),
      "q_stale" -> Bench.Cert(9.0, 1))
    val est = Map("q_new_a" -> 5.0, "q_new_b" -> 2.0,
      "q_old_cheap" -> 1.0, "q_old_dear" -> 50.0, "q_stale" -> 9.0)
    val order = Bench.largeOrder(
      Seq("q_old_dear", "q_new_a", "q_stale", "q_old_cheap", "q_new_b"),
      hist, est)
    assert(order == Seq(
      "q_new_b", "q_new_a", // never certified: first, cheap before dear
      "q_stale",            // certified longest ago
      "q_old_cheap", "q_old_dear")) // freshest last, cheap before dear
  }

  test("the summary line is one parseable JSON object under 500 bytes " +
      "with the metric/value/unit contract keys") {
    for (large <- Seq(None, Some((618.437261234, 301, 0)))) {
      val line = Bench.summaryLine(407.334987162, "/root/testdata/sf0.1",
        2, 301, 0, large, 1650.0, 1582.21)
      assert(line.length < 500, s"${line.length} bytes: $line")
      // parse with Spark's bundled JSON mapper — what any driver-side
      // json.load would accept
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(line)
      assert(node.get("metric").asText == "total")
      assert(node.get("unit").asText == "sec")
      assert(node.get("value").asDouble > 0)
      assert(node.get("summary").asBoolean)
      assert(node.has("total_large") == large.nonEmpty)
    }
  }

  test("largeEstimate: noisy history is capped at 8x the graded time; " +
      "clean history wins over the graded fallback; no history falls " +
      "back to graded x factor") {
    val hist = Map(
      "q_noisy" -> Bench.Cert(77.7, 1), // r7-style inflated recording
      "q_clean" -> Bench.Cert(12.0, 1))
    val graded = Map("q_noisy" -> 0.6, "q_clean" -> 4.0, "q_new" -> 2.0)
    val est = Bench.largeEstimate(hist, graded.get) _
    // 77.7*1.15 vs max(0.6*8, 0.6*2.5) -> capped at 4.8
    assert(math.abs(est("q_noisy") - 4.8) < 1e-9, est("q_noisy"))
    // 12*1.15 = 13.8 < max(32, 10) -> history (with drift) wins
    assert(math.abs(est("q_clean") - 13.8) < 1e-9, est("q_clean"))
    // no history: graded x factor
    assert(math.abs(est("q_new") - 5.0) < 1e-9, est("q_new"))
  }

  test("largeEstimate without a graded signal trusts history UNCAPPED; " +
      "with neither signal it is conservative, not 1 s") {
    // a query absent from the graded map (failed or skipped at the
    // graded tier) has no trusted signal to cap against: capping its
    // history at 8x a fabricated g=1.0 let a genuinely expensive query
    // through the projected-cost gate and past the 60 s reserve
    val hist = Map("q_dear" -> Bench.Cert(120.0, 1))
    val est = Bench.largeEstimate(hist, _ => None) _
    assert(math.abs(est("q_dear") - 138.0) < 1e-9, est("q_dear")) // 120*1.15
    assert(est("q_unknown") >= 10.0,
      s"${est("q_unknown")}: a query with neither signal needs a " +
        "conservative default — an optimistic one overruns the deadline")
  }

  test("readHistory tolerates a corrupt row without dropping the file") {
    val f = java.io.File.createTempFile("cert_history_bad", ".tsv")
    f.deleteOnExit()
    val w = new java.io.PrintWriter(f)
    w.println("#run\t5")
    w.println("qa\t1.25\t2")
    w.println("qb\tnot_a_number\t7") // the corrupt row
    w.println("qc\t0.5\t4")
    w.close()
    val (run, hist) = Bench.readHistory(f)
    assert(run == 5, "one bad row must not reset the run id")
    assert(hist == Map("qa" -> Bench.Cert(1.25, 2),
      "qc" -> Bench.Cert(0.5, 4)),
      "rows around the corrupt one must survive")
  }

  test("the summary's large_tiered map carries only the slices that were " +
      "actually applied in the pass, not the static registry") {
    // a pass that skipped (or ran full-size) a tiered query must not
    // publish that query's denominator: a dashboard normalizing
    // total_large by it would divide work that was never sliced
    val applied = Seq("q209_lsh_recall_cert", "q301_dup_transitivity")
    val line = Bench.summaryLine(100.0, "sf", 2, 310, 0,
      Some((500.0, 200, 110)), 1650.0, 1600.0, tierApplied = applied)
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(line)
    val tiers = node.get("large_tiered")
    assert(tiers.size == 2, tiers.toString)
    applied.foreach { n =>
      assert(tiers.get(n).asInt == Bench.tierSlice(n), tiers.toString)
    }
    // a registered-but-unapplied tier (e.g. q273 skipped this pass)
    // must be absent
    assert(!tiers.has("q273_betweenness"), tiers.toString)
    // and an empty applied set yields an empty map, not the registry
    val none = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Bench.summaryLine(100.0, "sf", 2, 310, 0,
        Some((500.0, 200, 110)), 1650.0, 1600.0))
    assert(none.get("large_tiered").size == 0, none.toString)
  }

  test("affordsWarmPass: pass 2 is gated only on its own projected " +
      "cost, never on large-section slack (the round-10 cold-headline " +
      "failure)") {
    // round 10's actual numbers: pass 1 took 743 s on a contended host,
    // elapsed ~800 s, budget 1650/reserve 60. The old gate demanded
    // 350 s of large-section slack on top and skipped pass 2; the new
    // gate affords it
    assert(Bench.affordsWarmPass(800.0, 743.0, 1650.0))
    assert(!Bench.affordsWarmPass(800.0, 743.0 + 412.0, 1650.0),
      "a pass too big to fit before the reserve must still be refused")
    // boundary: elapsed + 0.85*pass1 exactly at budget-reserve -> runs
    assert(Bench.affordsWarmPass(1000.0, 400.0, 1400.0))
    assert(!Bench.affordsWarmPass(1000.1, 400.0, 1400.0))
  }

  test("the filtered-mode summary names the filtered twin file") {
    val full = Bench.summaryLine(10.0, "sf", 1, 5, 0, None, 100.0, 50.0)
    val filt = Bench.summaryLine(10.0, "sf", 1, 5, 0, None, 100.0, 50.0,
      filtered = true)
    assert(full.contains("\".bench/last_run.json\""))
    assert(filt.contains("\".bench/last_filtered_run.json\""),
      filt)
  }

  test("certification history round-trips through the TSV file") {
    val f = java.io.File.createTempFile("cert_history", ".tsv")
    f.deleteOnExit()
    val hist = Map("qa" -> Bench.Cert(1.25, 2), "qb" -> Bench.Cert(0.5, 7))
    Bench.writeHistory(7, hist, f)
    val (run, back) = Bench.readHistory(f)
    assert(run == 7 && back == hist)
    // a missing file reads as an empty, run-0 history
    val (r0, h0) = Bench.readHistory(new java.io.File("/nonexistent/x.tsv"))
    assert(r0 == 0 && h0.isEmpty)
  }

  test("the scaling-cert ratio rides the TSV as an optional 4th column: " +
    "stamps with a ratio round-trip it, ratio-less stamps stay 3-column " +
    "(pre-round-12 rows keep parsing)") {
    val f = java.io.File.createTempFile("cert_history_ratio", ".tsv")
    f.deleteOnExit()
    val hist = Map(
      "qa" -> Bench.Cert(12.5, 6, 3.42),
      "qb" -> Bench.Cert(0.5, 4)) // no graded signal at stamp time
    Bench.writeHistory(6, hist, f)
    val lines = scala.io.Source.fromFile(f).getLines()
      .filterNot(_.startsWith("#")).toSeq
    assert(lines.contains("qa\t12.5\t6\t3.42"), lines.mkString("|"))
    assert(lines.contains("qb\t0.5\t4"), lines.mkString("|"))
    val (run, back) = Bench.readHistory(f)
    assert(run == 6 && back("qa") == Bench.Cert(12.5, 6, 3.42))
    assert(back("qb").ratio == -1.0)
  }

  test("minAttempts=2 runs every recorded query back-to-back and keeps " +
    "the warm min — the round-11 fix for cold-polluted sf1 stamps — and " +
    "the projected-cost gate prices BOTH attempts") {
    val acc = mutable.Map[String, Double]()
    val errors = mutable.Map[String, String]()
    val calls = mutable.Map[String, Int]().withDefaultValue(0)
    val counting: (SparkSession, String) => DataFrame =
      (s, _) => { calls("q") += 1; s.range(3).toDF("v") }
    val done = Bench.runSuite(spark, "/unused", Seq("q"),
      Map("q" -> counting), acc, errors, minAttempts = 2)
    assert(done && calls("q") == 2,
      s"exactly two attempts expected, saw ${calls("q")}")
    assert(acc.contains("q") && errors.isEmpty)
    // the gate prices minAttempts x estimate: a query that fits ONCE
    // but not twice is skipped whole — a one-attempt cold stamp is the
    // pollution this exists to prevent, not a fallback
    val acc2 = mutable.Map[String, Double]()
    val calls2 = mutable.Map[String, Int]().withDefaultValue(0)
    val counting2: (SparkSession, String) => DataFrame =
      (s, _) => { calls2("q") += 1; s.range(3).toDF("v") }
    val deadline = System.nanoTime() + (9.0 * 1e9).toLong
    val done2 = Bench.runSuite(spark, "/unused", Seq("q"),
      Map("q" -> counting2), acc2, errors,
      deadlineNanos = deadline, estimate = _ => 6.0, minAttempts = 2)
    assert(!done2 && calls2("q") == 0 && !acc2.contains("q"),
      "6 s fits once in the 9 s window but not twice -> skip whole")
  }

  test("minAttempts is enforced at RECORD time, not just by the " +
    "estimate gate: a query whose cold attempt 1 eats the window rolls " +
    "back instead of stamping a single cold run as a warm min") {
    // the estimate gate prices 2x the ESTIMATE, but a cold attempt can
    // run far past it (round 11 measured 4.9x) — if the deadline then
    // cuts attempt 2, recording attempt 1 would re-introduce the exact
    // pollution minAttempts exists to prevent
    val acc = mutable.Map[String, Double]()
    val errors = mutable.Map[String, String]()
    val calls = mutable.Map[String, Int]().withDefaultValue(0)
    val slow: (SparkSession, String) => DataFrame =
      (s, _) => { calls("q") += 1; Thread.sleep(2000); s.range(3).toDF("v") }
    val deadline = System.nanoTime() + (2500L * 1000 * 1000)
    val done = Bench.runSuite(spark, "/unused", Seq("q"),
      Map("q" -> slow), acc, errors,
      deadlineNanos = deadline, estimate = _ => 0.0, minAttempts = 2)
    assert(calls("q") == 1,
      s"attempt 2 cannot fit the 0.5 s left; saw ${calls("q")} calls")
    assert(!acc.contains("q"),
      "a 1-of-2-attempt result must roll back, not stamp")
    assert(!done, "an under-attempted query counts as a skip")
  }

  test("scalingViolations: the sf1/graded ratio ceiling flags " +
    "superlinear shapes, skips ratio-less stamps, and honors both the " +
    "output-growth exemption list and the tier registry") {
    val hist = Map(
      "q_fine" -> Bench.Cert(10.0, 6, 8.0),
      "q_super" -> Bench.Cert(200.0, 6, 40.0),     // the q273 shape
      "q_old" -> Bench.Cert(50.0, 4),              // pre-ratio stamp
      "q37_dedup_minhash_lsh" -> Bench.Cert(90.0, 6, 60.0), // exempt
      "q209_lsh_recall_cert" -> Bench.Cert(9.0, 6, 99.0))   // tiered
    assert(Bench.scalingViolations(hist, 25.0) == Seq("q_super"))
  }

  test("the checked-in rotation history carries no scaling violation: " +
    "any future superlinear sf1 shape fails THIS build, not a judge's " +
    "cross-round eyeball (the q273 lesson, generalized)") {
    val (_, hist) = Bench.readHistory()
    assert(hist.nonEmpty, "git-tracked rotation history must exist")
    val bad = Bench.scalingViolations(hist, 25.0)
    assert(bad.isEmpty,
      s"superlinear sf1/graded scaling certs recorded for: " +
        bad.mkString(", "))
  }
}
