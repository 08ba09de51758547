package graft.service

import java.time.{Duration, Instant}

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.schema.{ExportSchema, Field}
import graft.sinks.{CsvStage, Storage, StorageSyncPoint, Warehouse}
import graft.sources.DataExportSource
import graft.transform.ExportTransform

/** Service configuration (reference: config/config.go:141-251 defaults +
  * validation). GroupFilesByDay is the legacy alias for a 24 h duration
  * (config/config.go:174-180). `provider` is `Provider`, or the provider
  * the deprecated `Warehouse` key names (config/config.go:206-223). */
final case class ServiceConfig(
    startTime: Instant,
    exportDuration: Duration = Duration.ofHours(1),
    exportDelay: Duration = Duration.ofHours(24),
    backoff: Duration = Duration.ofSeconds(30),
    backoffStepsMax: Int = 8,
    storageOnly: Boolean = false,
    saveAsJson: Boolean = false,
    groupFilesByDay: Boolean = false,
    includeMobile: Boolean = false,
    useStartTime: Boolean = false,
    provider: Option[String] = None) {

  require(!saveAsJson || storageOnly,
    "SaveAsJson requires StorageOnly (reference: config/config.go:247-249)")

  def effectiveDuration: Duration =
    if (groupFilesByDay) Duration.ofHours(24) else exportDuration

  require(86400 % effectiveDuration.getSeconds == 0
      && effectiveDuration.getSeconds >= 900,
    "ExportDuration must be 15m..24h and evenly divide 24h " +
      "(reference: config/config.go:181-187)")
  require(exportDelay.getSeconds >= 3600,
    "ExportDelay must be >= 1h (reference: config/config.go:189-193)")

  /** Watermark gate: a window is exported once now - delay >= its end
    * (reference: internal/service.go:286-294). Delays whole windows —
    * deliberately NOT a per-record withWatermark (SURVEY.md §7.4 trap 6). */
  def isMature(end: Instant, now: Instant): Boolean =
    !now.isBefore(end.plus(exportDelay))
}

/** Retry classification + exponential backoff
  * (reference: internal/service.go:158-171 getRetryInfo,
  * internal/service.go:231-245 BackoffOnError). */
object RetryPolicy {
  final case class Retryable(status: Int, retryAfter: Option[Duration])
      extends RuntimeException(s"retryable: HTTP $status")

  /** Reference parity (internal/service.go:158-171): an HTTP status error
    * is fatal iff it is neither 429 nor >= 500 (Retry-After honored when
    * retryable); EVERY other failure — storage timeouts, connection
    * resets — is retryable, backed off by the loop's Backoff * 2^step
    * like the reference's BackoffOnError (internal/service.go:231-245). */
  def retryInfo(e: Throwable): Option[Duration] = e match {
    case Retryable(status, after) =>
      if (status != 429 && status < 500) None
      else Some(after.getOrElse(Duration.ZERO))
    case _ => Some(Duration.ZERO)
  }

  /** backoff * 2^step, fatal past stepsMax. Returns the sleep to take, or
    * None when the error is fatal. */
  def nextBackoff(e: Throwable, step: Int, base: Duration,
                  stepsMax: Int): Option[Duration] =
    retryInfo(e).flatMap { after =>
      if (step >= stepsMax) None
      else Some(Seq(base.multipliedBy(1L << step), after).max)
    }
}

/** Outcome of one ProcessNext step. */
sealed trait StepResult
/** One processed window. `ref` is the staged object's reference in
  * storage-only mode, where the object is the bundle's output. In
  * warehouse mode it is None: the rows are in the warehouse, and any
  * object staged to load them was deleted after the load (K9). */
final case class BundleProcessed(start: Instant, end: Instant,
                                 records: Long, ref: Option[String])
    extends StepResult
final case class WaitFor(d: Duration) extends StepResult

/** The incremental micro-batch driver loop — the reference's engine
  * (reference: internal/service.go:247-378), re-expressed with Spark doing
  * the heavy transform:
  *
  * plan window -> watermark gate -> pushdown scan (source export) ->
  * one-select transform -> warehouse load (the first window of a day
  * replaces the day, later windows append) or, in storage-only mode,
  * CSV/JSON staging -> sync-point commit.
  *
  * Each bundle is decoded once: one write is the only Spark action on the
  * fetched export, and the bundle's row count is observed by that write
  * job (`Dataset.observe`), not by a second scan. In warehouse mode that
  * write is [[Warehouse.loadRows]]: the Parquet warehouses write the rows
  * into the table in one job, and a warehouse that loads a staged object
  * stages it in that job and loads it after.
  *
  * The load-then-checkpoint ordering plus [[Warehouse.removeOrphanedRecords]]
  * at startup reproduces the exactly-once recovery invariant
  * (reference: internal/service.go:147-154; SURVEY.md §2.8 T4/T5).
  */
class ExportService(spark: SparkSession, config: ServiceConfig,
                    source: DataExportSource, storage: Storage,
                    warehouse: Option[Warehouse],
                    pollInterval: Duration = Duration.ofSeconds(5),
                    now: () => Instant = () => Instant.now()) {

  require(config.storageOnly || warehouse.nonEmpty,
    "a warehouse is needed unless StorageOnly")

  private var schema: Seq[Field] = ExportSchema.canonical(config.includeMobile)

  /** Startup: create-or-reconcile the export table
    * ([[ExportService.reconcileSchema]]). */
  def init(): Unit = {
    // UseStartTime: discard the storage sync file so processing restarts
    // from config.StartTime (reference: warehouse/localdisk.go:27-33)
    if (config.useStartTime && config.storageOnly)
      storage.deleteFile(StorageSyncPoint.SyncFileName)
    warehouse.foreach { wh =>
      schema = ExportService.reconcileSchema(wh, config.includeMobile)
    }
  }

  private def lastSyncPoint(): Option[Instant] =
    if (config.storageOnly) StorageSyncPoint.read(storage)
    else warehouse.flatMap(_.lastSyncPoint())

  /** One micro-batch (reference: ProcessNext, internal/service.go:269-360). */
  def processNext(): StepResult = {
    val lastSync = lastSyncPoint().getOrElse(config.startTime)
    val start = lastSync
    val end = ExportTransform.nextEndTime(start, config.effectiveDuration)

    if (!config.isMature(end, now()))
      return WaitFor(Duration.between(now(), end.plus(config.exportDelay)))

    // Submit + poll (reference: internal/service.go:297-314)
    val fields = ExportSchema.sourceFieldList(schema)
    val opId = source.createExport(start, end, fields)
    var exportId: Option[String] = None
    while (exportId.isEmpty) {
      val (_, done) = source.getExportProgress(opId)
      exportId = done
      if (exportId.isEmpty) Thread.sleep(pollInterval.toMillis)
    }

    // Fetch + transform + stage or load (reference:
    // internal/service.go:317-351); one write decodes the bundle
    val id = exportId.get
    val bundleName = s"${start.getEpochSecond}"
    try {
      val raw = source.getExport(id)
      val rows = Observation()
      def staged = ExportTransform.toStagedStrings(raw, schema)
        .observe(rows, count(lit(1)))

      // Load + commit; sync point saved strictly AFTER the load so a crash
      // between the two is healed by removeOrphanedRecords on restart
      // (reference: internal/service.go:121-156, crash comment :147-150).
      val ref =
        if (config.storageOnly) {
          val ref =
            if (config.saveAsJson) CsvStage.writeBundleJson(
              ExportTransform.toRecordJson(raw).observe(rows, count(lit(1))),
              storage, s"$bundleName.json")
            else CsvStage.writeBundleCsv(staged, storage, s"$bundleName.csv")
          StorageSyncPoint.write(storage, end)
          Some(ref)
        } else {
          warehouse.foreach { wh =>
            wh.loadRows(staged, storage, s"$bundleName.csv", start,
              truncateDay = isDayStart(start))
            wh.saveSyncPoint(end)
          }
          None
        }
      BundleProcessed(start, end, observed(rows), ref)
    } finally source.release(id) // a retry fetches the window anew
  }

  /** The count a write job observed. Observed metrics arrive through the
    * listener bus after the job ends; the wait is bounded so an event the
    * bus dropped fails the bundle, which is retried, instead of hanging
    * the loop. */
  private def observed(rows: Observation): Long =
    Await.result(rows.future, 5.minutes).getLong(0)

  private def isDayStart(t: Instant): Boolean =
    t.getEpochSecond % 86400 == 0

  /** Crash recovery before the first bundle and each retry. */
  def recover(): Unit = warehouse.foreach { wh =>
    ExportService.recover(wh, lastSyncPoint(), config.startTime)
  }

  /** Run until caught up: process windows until the watermark gate says
    * wait (the test/batch analog of Run's infinite loop with sleeps,
    * reference: internal/service.go:362-378). Errors retry with
    * exponential backoff per RetryPolicy. */
  def runUntilCaughtUp(maxBundles: Int = Int.MaxValue): Seq[BundleProcessed] = {
    init()
    recover()
    val out = scala.collection.mutable.ArrayBuffer[BundleProcessed]()
    var step = 0
    var continue = true
    while (continue && out.size < maxBundles) {
      try {
        if (step > 0) recover()
        processNext() match {
          case b: BundleProcessed => out += b; step = 0
          case WaitFor(_) => continue = false
        }
      } catch {
        case e: Throwable =>
          RetryPolicy.nextBackoff(e, step, config.backoff,
              config.backoffStepsMax) match {
            case Some(sleep) => Thread.sleep(sleep.toMillis); step += 1
            case None => throw e
          }
      }
    }
    out.toSeq
  }
}

/** The startup rules both front doors share: the batch loop
  * ([[ExportService]]) and the streaming drain
  * ([[graft.streaming.StreamingService]]). */
object ExportService {

  /** Create the export table, or reconcile the live one with the canonical
    * schema; the result is the session IR driving the source field list,
    * transform order and CSV header (reference: internal/service.go:247-266,
    * SURVEY.md §3.2). */
  def reconcileSchema(wh: Warehouse, includeMobile: Boolean): Seq[Field] = {
    val canonical = ExportSchema.canonical(includeMobile)
    if (wh.initExportTable(canonical)) canonical
    else {
      val schema = ExportSchema.reconcileWithExisting(
        wh.getExportTableColumns(), includeMobile)
      wh.applyExportSchema(schema)
      schema
    }
  }

  /** Crash recovery (reference: SURVEY.md §3.3): heal rows loaded past the
    * committed sync point, or past StartTime when none is committed.
    * Returns that point, where the next window starts. */
  def recover(wh: Warehouse, lastSync: Option[Instant],
              startTime: Instant): Instant = {
    val from = lastSync.getOrElse(startTime)
    wh.removeOrphanedRecords(from)
    from
  }
}
