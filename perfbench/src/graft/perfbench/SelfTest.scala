package graft.perfbench

import java.time.{Duration, Instant}

import graft.schema.Field
import graft.sinks.Warehouse

/** Checks that the pipeline gates catch a broken warehouse: a clean short
  * run must pass, and a run whose warehouse drops one bundle, or loads one
  * twice, must fail. Run with `python3 perfbench/run.py --selftest`. */
object SelfTest {

  /** Forwards every call; `load` decides what a load does. */
  private class Planted(in: Warehouse,
                        load: (String, Instant, Boolean) => Unit)
      extends Warehouse {
    override def initExportTable(schema: Seq[Field]): Boolean =
      in.initExportTable(schema)
    override def getExportTableColumns(): Seq[String] =
      in.getExportTableColumns()
    override def applyExportSchema(schema: Seq[Field]): Unit =
      in.applyExportSchema(schema)
    override def loadToWarehouse(csvRef: String, bundleStart: Instant,
                                 truncateDay: Boolean): Unit =
      load(csvRef, bundleStart, truncateDay)
    override def lastSyncPoint(): Option[Instant] = in.lastSyncPoint()
    override def saveSyncPoint(bundleEnd: Instant): Unit =
      in.saveSyncPoint(bundleEnd)
    override def removeOrphanedRecords(syncPoint: Instant): Unit =
      in.removeOrphanedRecords(syncPoint)
  }

  /** The 02:00 window: a mid-day load, which appends rather than
    * truncating the day. */
  private val Victim = Gen.Epoch.plusSeconds(2 * 3600L)

  val defects: Seq[(String, Option[Warehouse => Warehouse])] = Seq(
    "clean" -> None,
    "drops-one-bundle" -> Some(in => new Planted(in, (ref, s, tr) =>
      if (s != Victim) in.loadToWarehouse(ref, s, tr))),
    "loads-one-twice" -> Some(in => new Planted(in, (ref, s, tr) => {
      in.loadToWarehouse(ref, s, tr)
      if (s == Victim) in.loadToWarehouse(ref, s, truncateDay = false)
    })))

  def run(o: Bench.Opts): Outcome = {
    // 1 h windows of the unscaled stream, Redshift-flavor warehouse
    val spec = PipelineSpec("selftest", Duration.ofHours(1),
      bigQuery = false, windows = 12, warmBundles = 2)
    val results = defects.map { case (name, defect) =>
      val out = new PipelineRun(spec, o.copy(seconds = 1, trace = false,
        root = o.root.resolve(name)), defect).run()
      val ok = out.correct == defect.isEmpty
      Bench.log(s"selftest $name: gates ${if (out.correct) "pass" else
        "fail"} (${if (ok) "as expected" else "UNEXPECTED"})")
      ok
    }
    Outcome(results.forall(identity), results.size.toLong,
      results.count(!_).toLong, Nil)
  }
}
