package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The hot operator queries: `SparkEntry.queries` bodies run on the
  * vendored, read-only testdata, each timed through an action that hashes
  * every output column (so column pruning cannot skip work) and checked
  * against a pinned checksum.
  *
  * Set-up is repeated [[Bench.SetupReps]] times, each a fresh session that
  * reads the inputs once. One untimed warm-up pass follows; the measured
  * loop then runs whole passes, one query after another, until the time is
  * up (at least one pass). */
final class QueriesRun(o: Bench.Opts) {

  private val log = Bench.log _
  private val tracer = new Tracer
  private val listener = new JobListener
  private var spark: SparkSession = _
  private var attempts = 0L
  private var failures = 0L
  private val mismatches = mutable.ArrayBuffer[String]()

  private final case class QRun(name: String, ms: Double, trace: String,
                                gcMs: Long, traced: Boolean, pass: Int)

  private var seq = 0

  private def runOne(name: String, traced: Boolean,
                     pass: Int = -1): Option[QRun] = {
    attempts += 1
    val trace = s"$name#$seq"
    seq += 1
    tracer.enabled = traced
    val gc0 = Stats.gcMs()
    val t0 = System.nanoTime()
    try {
      val got = tracer.root(s"query.$name", trace) {
        Gates.checksum(SparkEntry.queries(name)(spark, o.data))
      }
      val ms = (System.nanoTime() - t0) / 1e6
      val want = Queries.Pinned(name)
      if (got != want) {
        failures += 1
        mismatches += s"$name: checksum $got, pinned $want"
      }
      Some(QRun(name, ms, trace, Stats.gcMs() - gc0, traced, pass))
    } catch {
      case e: Exception =>
        failures += 1
        log(s"$name failed: $e")
        None
    } finally tracer.enabled = false
  }

  def run(): Outcome = try runAll() finally { if (spark != null) spark.stop() }

  private def runAll(): Outcome = {
    // set-up = a fresh session that has registered the native functions
    // and read every input table once
    val setups = mutable.ArrayBuffer[Double]()
    for (_ <- 0 until Bench.SetupReps) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Bench.session(o)
      tracer.sc = spark.sparkContext
      graft.functions.GraftFunctions.register(spark)
      Queries.Tables.foreach(t =>
        spark.read.parquet(s"${o.data}/$t.parquet").count())
      setups += (System.nanoTime() - t0) / 1e9
    }
    // untimed warm-up: one pass, one query after another as in the loop
    val w0 = System.nanoTime()
    Layers.HotQueries.foreach { q =>
      attempts += 1
      val got = Gates.checksum(SparkEntry.queries(q)(spark, o.data))
      if (got != Queries.Pinned(q)) {
        failures += 1
        mismatches += s"$q (warm-up): checksum $got"
      }
    }
    log(f"set-ups ${setups.map(s => f"$s%.2f").mkString(" ")} s, " +
      f"warm-up ${(System.nanoTime() - w0) / 1e9}%.1f s; " +
      f"peak RSS ${Stats.peakRssMb()}%.0f MB")
    val sc = spark.sparkContext
    val runs = mutable.ArrayBuffer[QRun]()
    val passSteal = mutable.ArrayBuffer[Double]()
    val loop0 = System.nanoTime()
    val deadline = loop0 + o.seconds * 1000000000L
    var pass = 0
    var listening = false
    // at least one pass; a traced run alternates untraced and traced
    // passes, at least three, so the warm-up trend cancels out of the
    // tracing overhead
    val minPasses = if (o.trace) 3 else 1
    while (System.nanoTime() < deadline || pass < minPasses) {
      val traced = o.trace && pass % 2 == 1
      if (traced != listening) {
        org.apache.spark.PerfbenchBus.drain(sc)
        if (traced) sc.addSparkListener(listener)
        else sc.removeSparkListener(listener)
        listening = traced
      }
      val steal0 = Stats.stealS()
      val p0 = System.nanoTime()
      Layers.HotQueries.foreach(q =>
        runOne(q, traced, pass).foreach(runs += _))
      passSteal += Stats.stealShare(Stats.stealS() - steal0,
        (System.nanoTime() - p0) / 1e9)
      pass += 1
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    org.apache.spark.PerfbenchBus.drain(sc)
    if (listening) sc.removeSparkListener(listener)
    mismatches.foreach(m => log(s"GATE FAILED: $m"))

    val plain = runs.filterNot(_.traced)
    val keptPasses = Stats.undisturbed(plain.map(_.pass).distinct.toSeq)(
      passSteal(_)).toSet
    log(f"queries_hot: $pass passes in $loopS%.2f s, " +
      s"${plain.map(_.pass).distinct.size - keptPasses.size} untraced left " +
      f"out as disturbed; peak RSS ${Stats.peakRssMb()}%.0f MB")
    runs.foreach(r => log(f"  pass ${r.pass} ${r.name} ${r.ms / 1000}%.3f s" +
      f" (pass steal ${100 * passSteal(r.pass)}%.1f%%)"))

    // one operation = one pass over the hot queries
    def passMs(rs: Seq[QRun]) =
      rs.groupBy(_.pass).values.map(_.map(_.ms).sum).toSeq
    val kept = plain.filter(r => keptPasses(r.pass)).toSeq
    val metrics = if (!o.trace) Bench.endToEnd(
        rowsPerS = Queries.InputRows / (Stats.median(passMs(kept)) / 1000.0),
        opMs = passMs(kept), setupS = Stats.median(setups.toSeq))
      else Layers.complete {
        val traced = runs.filter(_.traced)
        Layers.HotQueries.flatMap { q =>
          val rs = traced.filter(_.name == q)
          val js = rs.map(r => listener.jobsOf(r.trace))
          def med(f: Seq[listener.Job] => Double) =
            Stats.median(js.map(j => f(j.toSeq)).toSeq)
          Seq("ms" -> Stats.median(rs.map(_.ms).toSeq),
            "jobs" -> med(_.size.toDouble),
            "tasks" -> med(_.map(_.tasks).sum.toDouble),
            "cpu_ms" -> med(_.map(_.cpuNs).sum / 1e6),
            "shuffle_bytes" -> med(_.map(_.shuffleBytes).sum.toDouble),
            "spill_bytes" -> med(_.map(_.spillBytes).sum.toDouble),
            "gc_ms" -> Stats.median(rs.map(_.gcMs.toDouble).toSeq))
            .map { case (k, v) => s"query.$q.$k" -> v }
        } :+ ("trace.overhead" -> Stats.median(passMs(traced.toSeq)) /
          Stats.median(passMs(plain.toSeq)))
      }
    o.spans.foreach(p => tracer.write(p, listener))
    Outcome(failures == 0, attempts, failures, metrics)
  }
}

object Queries {

  /** Writes each hot query's result and oracle SQL under `--out`, in the
    * layout `tools/check_oracle.py` reads, and prints the checksums that
    * [[Pinned]] holds. */
  def pin(o: Bench.Opts): Outcome = {
    val out = o.out.getOrElse(throw new IllegalArgumentException("--out"))
    val spark = Bench.session(o)
    try {
      val sums = Layers.HotQueries.map { q =>
        val df = SparkEntry.queries(q)(spark, o.data)
        df.write.mode("overwrite").parquet(out.resolve(q).toString)
        val sum = Gates.checksum(df)
        println(s"""    "$q" -> (${sum._1}L, BigInt("${sum._2}")),""")
        sum == Pinned(q)
      }
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val sql = mapper.createObjectNode()
      Layers.HotQueries.foreach(q => sql.put(q, SparkEntry.oracleSql(q)))
      java.nio.file.Files.writeString(out.resolve("oracle_sql.json"),
        mapper.writeValueAsString(sql))
      Outcome(sums.forall(identity), sums.size, sums.count(!_), Nil)
    } finally spark.stop()
  }

  /** (rows, xxhash64 sum over every column) of each hot query on the
    * vendored sf0.01 tables. Confirmed against the DuckDB oracle: see
    * perfbench/NOTES.md. */
  val Pinned: Map[String, (Long, BigInt)] = Map(
    "q304_weighted_neardup" -> (641L, BigInt("2021708936950421676")),
    "q248_hits" -> (1600L, BigInt("-214179913517224395649")),
    "q303_curation_ablation" -> (2L, BigInt("7175792122421724067")))

  val Tables: Seq[String] = Seq("documents", "orders", "lineitem")

  /** Rows of the input tables the hot queries read, summed per query
    * (documents; orders + lineitem; documents). */
  val InputRows: Double = 500 + (15000 + 60000) + 500
}
