package graft.perfbench

import java.time.{Duration, Instant}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.service.{BundleProcessed, ExportService, ServiceConfig, WaitFor}
import graft.sinks.{BigQueryParquetWarehouse, HadoopStorage, ParquetWarehouse, Storage, Warehouse}
import graft.sources.{DataExportSource, HttpExportClient, HttpExportSource}

/** A pipeline workload: window length and the warehouse recovery flavor. */
final case class PipelineSpec(name: String, window: Duration,
                              bigQuery: Boolean, windows: Int,
                              warmBundles: Int)

object PipelineSpec {
  /** 24 h windows (~3.3 k records), BigQuery flavor: per-row work and the
    * full-table sync-point check weigh as much as the fixed per-bundle
    * jobs. */
  val Daily = PipelineSpec("pipeline_daily", Duration.ofHours(24),
    bigQuery = true, windows = Gen.Days, warmBundles = 3)
}

/** Per-bundle record of the measured loop; `ms` is the wall time of
  * `processNext`, `steal` the host's share of CPU time during it
  * ([[Stats.stealShare]]). */
final case class BundleRun(trace: String, ms: Double, done: BundleProcessed,
                           traced: Boolean, steal: Double)

/** The hauser loop, driven from outside: the production
  * `HttpExportSource` over the stub API, `HadoopStorage` staging and a
  * parquet warehouse, run by `ExportService.processNext` one window at a
  * time (a closed loop with one caller, catching up window after window).
  *
  * Set-up is repeated [[Bench.SetupReps]] times, each a service (re)start
  * on the same directories: a fresh session, `init()` and `recover()`.
  * Warm-up bundles follow the first, cold start; the last restart's
  * service runs the measured loop. */
final class PipelineRun(spec: PipelineSpec, o: Bench.Opts,
                        defect: Option[Warehouse => Warehouse] = None) {

  private val log = Bench.log _
  private val tracer = new Tracer
  private val listener = new JobListener
  private val stageDir = o.root.resolve("stage").toString
  private val tableDir = o.root.resolve("warehouse").toString

  /** Windows are generated on first use, before the bundle that loads
    * them starts its clock. */
  private val generated = scala.collection.concurrent.TrieMap[Int, Bundle]()
  private var genNanos = 0L
  private def windowStart(i: Int): Instant =
    Gen.Epoch.plus(spec.window.multipliedBy(i.toLong))
  private def ensure(i: Int): Unit = if (i < spec.windows) {
    val t0 = System.nanoTime()
    generated.getOrElseUpdate(i, Gen.bundle(o.seed, windowStart(i),
      windowStart(i + 1)))
    genNanos += System.nanoTime() - t0
  }
  private def served(s: Instant, e: Instant): Option[Bundle] =
    generated.values.find(b => b.start == s && b.end == e)

  private var spark: SparkSession = _
  private var svc: ExportService = _
  private var whImpl: ParquetWarehouse = _
  private var tracedWh: Option[TracedWarehouse] = None
  private val done = mutable.ArrayBuffer[BundleProcessed]()
  private var failures = 0L
  private var attempts = 0L
  private var seq = 0

  private def wire(stub: StubApi): Unit = {
    whImpl = if (spec.bigQuery) new BigQueryParquetWarehouse(spark, tableDir)
      else new ParquetWarehouse(spark, tableDir)
    val client = new HttpExportClient(stub.url, "perfbench-token")
    val src0: DataExportSource =
      new HttpExportSource(spark, client, s"$stageDir/_downloads")
    val st0: Storage = new HadoopStorage(stageDir)
    val wh0: Warehouse = defect.map(_(whImpl)).getOrElse(whImpl)
    val (src, st, wh) =
      if (!o.trace) (src0, st0, wh0)
      else {
        val tw = new TracedWarehouse(wh0, tracer, tableDir)
        tracedWh = Some(tw)
        (new TracedSource(src0, tracer), new TracedStorage(st0, tracer), tw)
      }
    val lastEnd = windowStart(spec.windows)
    val config = ServiceConfig(startTime = Gen.Epoch,
      exportDuration = spec.window)
    // the clock stands just past the last generated window's maturity, so
    // the loop catches up through exactly the generated windows
    svc = new ExportService(spark, config, src, st, Some(wh),
      now = () => lastEnd.plus(config.exportDelay))
  }

  /** One bundle; a throw is a failure and the window is retried. */
  private def step(traced: Boolean): Option[BundleRun] = {
    var out: Option[BundleRun] = None
    var tries = 0
    while (out.isEmpty && tries < 3) {
      attempts += 1
      tries += 1
      val trace = s"b$seq"
      seq += 1
      ensure(done.size)
      tracer.enabled = traced
      val steal0 = Stats.stealS()
      val t0 = System.nanoTime()
      try {
        tracer.root("service.processNext", trace)(svc.processNext()) match {
          case b: BundleProcessed =>
            done += b
            val s = (System.nanoTime() - t0) / 1e9
            out = Some(BundleRun(trace, s * 1000, b, traced,
              Stats.stealShare(Stats.stealS() - steal0, s)))
          case WaitFor(_) => return None
        }
      } catch {
        case e: Exception =>
          failures += 1
          log(s"bundle failed (try $tries): $e")
      } finally tracer.enabled = false
    }
    if (out.isEmpty) throw new IllegalStateException("bundle failed 3 times")
    out
  }

  private def remaining: Boolean = done.size < spec.windows

  def run(): Outcome = {
    val stub = new StubApi(served).start()
    try runWith(stub) finally {
      stub.stop()
      if (spark != null) spark.stop()
    }
  }

  private def runWith(stub: StubApi): Outcome = {
    // set-up = a service (re)start on the run's directories: a fresh
    // session, wiring, init() and recover(). The first is cold and starts
    // from empty directories; warm-up bundles follow it, so every later
    // restart recovers a warehouse that holds data.
    val setups = mutable.ArrayBuffer[Double]()
    val initMs = mutable.ArrayBuffer[Double]()
    val recoverMs = mutable.ArrayBuffer[Double]()
    for (rep <- 0 until Bench.SetupReps) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Bench.session(o)
      tracer.sc = spark.sparkContext
      wire(stub)
      val t1 = System.nanoTime()
      svc.init()
      val t2 = System.nanoTime()
      svc.recover()
      val t3 = System.nanoTime()
      setups += (t3 - t0) / 1e9
      initMs += (t2 - t1) / 1e6
      recoverMs += (t3 - t2) / 1e6
      if (rep == 0) {
        val warm = (0 until spec.warmBundles).flatMap(_ =>
          if (remaining) step(traced = false) else None)
        log(s"warm-up bundles: ${warm.map(w => f"${w.ms}%.0f").mkString(" ")} ms")
      }
    }
    log(s"set-ups: ${setups.map(s => f"$s%.2f").mkString(" ")} s; " +
      f"peak RSS ${Stats.peakRssMb()}%.0f MB")

    val sc = spark.sparkContext
    val stub0 = (stub.handlerNanos.get, stub.bytesServed.get)
    val runs = mutable.ArrayBuffer[BundleRun]()
    val gc0 = Stats.gcMs()
    val loop0 = System.nanoTime()
    val deadline = loop0 + o.seconds * 1000000000L
    var listening = false
    while (remaining && (System.nanoTime() < deadline || runs.size < 2)) {
      // traced runs alternate untraced and traced bundles, so the tracing
      // overhead is measured on neighbouring bundles
      val traced = o.trace && runs.size % 2 == 1
      if (traced != listening) {
        org.apache.spark.PerfbenchBus.drain(sc)
        if (traced) sc.addSparkListener(listener)
        else sc.removeSparkListener(listener)
        listening = traced
      }
      step(traced).foreach(runs += _)
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    val gcLoop = Stats.gcMs() - gc0
    org.apache.spark.PerfbenchBus.drain(sc)
    if (listening) sc.removeSparkListener(listener)

    val kept = Stats.undisturbed(runs.filterNot(_.traced).toSeq)(_.steal)
    log(f"${spec.name}: ${runs.size} bundles in $loopS%.2f s, " +
      f"${runs.map(_.done.records).sum} rows; bundles " +
      runs.map(r => f"${r.ms}%.0f ms (steal ${100 * r.steal}%.1f%%)")
        .mkString(", ") + s"; ${runs.size - kept.size} left out as " +
      f"disturbed; peak RSS ${Stats.peakRssMb()}%.0f MB")

    log(f"generated ${generated.size} windows in ${genNanos / 1e9}%.2f s")
    val gates = Gates.pipeline(spark, whImpl, stageDir, done.toSeq,
      generated.values.map(b => b.start -> b).toMap)
    gates.failures.foreach(f => log(s"GATE FAILED: $f"))
    val gatePass = gates.failures.isEmpty

    val metrics =
      // rows committed per second of processNext, from the first
      // createExport to the last committed sync point of each bundle
      if (!o.trace) Bench.endToEnd(
        rowsPerS = kept.map(_.done.records).sum / (kept.map(_.ms).sum / 1000),
        opMs = kept.map(_.ms), setupS = Stats.median(setups.toSeq))
      else Layers.complete(Layers.pipeline(runs.toSeq, tracer, listener,
        initMs = Stats.median(initMs.toSeq),
        recoverMs = Stats.median(recoverMs.toSeq.tail),
        stubMs = (stub.handlerNanos.get - stub0._1) / 1e6,
        stubBytes = stub.bytesServed.get - stub0._2,
        gcMs = gcLoop.toDouble, cores = sc.defaultParallelism,
        warehouse = tracedWh))
    o.spans.foreach(p => tracer.write(p, listener))
    Outcome(gatePass && failures == 0,
      attempted = attempts + gates.checked,
      failed = failures + gates.failures.size, metrics = metrics)
  }
}
