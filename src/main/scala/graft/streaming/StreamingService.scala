package graft.streaming

import java.time.Instant

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.service.{ExportService, ServiceConfig}
import graft.sinks.{Storage, Warehouse}
import graft.transform.ExportTransform

/** Structured-Streaming front door for the CLI's incremental lifecycle
  * (`Mode = "streaming"`): the same contract as
  * [[graft.service.ExportService.runUntilCaughtUp]], expressed as a file
  * stream + `Trigger.AvailableNow` + `foreachBatch` instead of a
  * hand-rolled poll loop (SURVEY.md §7.1-6).
  *
  * Parity with the batch loop, piece by piece:
  *   - the EXPORT WINDOW maturity gate (now - delay >= window end) bounds
  *     what is processed, exactly like processNext — records at or past
  *     the last mature window end stay unread for the next invocation;
  *   - each micro-batch loads each of its days through the same
  *     [[graft.sinks.Warehouse.loadRows]] the batch loop uses;
  *   - recovery-then-load-then-commit ordering is preserved: orphaned rows
  *     are healed up front, the sync point is written only after the
  *     stream fully drains, so a crash mid-stream is healed by the next
  *     run (batch or streaming — the sync protocol is shared);
  *   - the committed sync point is THE SAME instant the batch loop would
  *     commit: the last mature window end (pinned by MainSpec);
  *   - the sync point is the only progress record: the stream's
  *     checkpoint lives for one drain and is deleted before the next.
  *     A file source checkpoint marks whole files as seen, so a kept one
  *     would never re-read a file's records past this run's window end,
  *     nor rows a failed commit healed away.
  *
  * The streaming source is the SAME DSv2 connector the batch path scans
  * with (`graft-export`, micro-batch capability): gzip detection,
  * token-streaming decode, unknown-field spillover into CustomVars, and
  * EventStart range pushdown all behave identically in both execution
  * modes — one connector, two front doors.
  */
object StreamingService {

  /** Drain all mature raw bundles and commit the batch-equivalent sync
    * point. Returns the committed sync point, or None when no window is
    * mature yet (the streaming WaitFor). */
  def runAvailableNow(spark: SparkSession, config: ServiceConfig,
                      rawDir: String, storage: Storage,
                      warehouse: Warehouse, checkpointDir: String,
                      now: () => Instant = () => Instant.now())
      : Option[Instant] = {
    // the batch loop's startup: schema reconcile, then recovery
    val schema = ExportService.reconcileSchema(warehouse, config.includeMobile)
    val lastSync = ExportService.recover(warehouse, warehouse.lastSyncPoint(),
      config.startTime)

    // maturity gate: the largest mature window end — the batch loop's
    // final committed sync point
    val dur = config.effectiveDuration
    val end = ExportTransform.nextEndTime(lastSync, dur)
    if (!config.isMature(end, now())) return None
    var syncEnd = end
    while (config.isMature(ExportTransform.nextEndTime(syncEnd, dur), now()))
      syncEnd = ExportTransform.nextEndTime(syncEnd, dur)

    // micro-batch stream over raw bundles through the DSv2 connector,
    // gated to [lastSync, syncEnd) — the range predicate is pushed into
    // the bundle decode exactly as in the batch scan
    // the range rides as source OPTIONS (streaming scans get no filter
    // pushdown from Catalyst); the post-scan filter restates the same
    // bounds as a cheap semantic guard
    val ckpt = new Path(checkpointDir)
    ckpt.getFileSystem(spark.sessionState.newHadoopConf()).delete(ckpt, true)
    val raw = spark.readStream
      .format("graft-export")
      .option("startTime", lastSync.toString)
      .option("endTime", syncEnd.toString)
      .load(rawDir)
      .filter(col("EventStart") >= lit(lastSync.toString).cast("timestamp")
        && col("EventStart") < lit(syncEnd.toString).cast("timestamp"))
    val staged = ExportTransform.toStagedStrings(raw, schema)

    val query = staged.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        // one load per day in the batch, through the same
        // Warehouse.loadRows as the batch loop (bundleStart = day start
        // places rows in their day partition; appends-then-commit keeps
        // the orphan-healing contract on crash). The batch is persisted so
        // the day list and every day's write read one decode of it.
        batch.persist()
        try {
          val days = batch
            .select(to_date(to_timestamp(col("EventStart"))).cast("string")
              .as("d"))
            .where(col("d").isNotNull).distinct().collect()
            .map(_.getString(0))
          days.sorted.foreach { day =>
            val dayRows = batch.filter(
              to_date(to_timestamp(col("EventStart"))) === lit(day))
            warehouse.loadRows(dayRows, storage, s"stream_${id}_$day.csv",
              Instant.parse(s"${day}T00:00:00Z"), truncateDay = false)
          }
        } finally batch.unpersist()
      }
      .start()
    query.awaitTermination()

    // commit strictly after the stream drains (load-then-checkpoint)
    warehouse.saveSyncPoint(syncEnd)
    Some(syncEnd)
  }
}
