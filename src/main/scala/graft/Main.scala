package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.service.{ConfigLoader, ExportService}
import graft.sinks.{HadoopStorage, JdbcWarehouse, ParquetWarehouse}
import graft.sources.{HttpExportClient, HttpExportSource, LocalFixtureSource}

/** CLI entry point — the reference's main.go:18-39 lifecycle: load config,
  * wire provider (source/storage/warehouse per core/core.go:18-51), run the
  * incremental loop until caught up.
  *
  * Usage: runMain graft.Main <config-file>
  * Config keys beyond ServiceConfig (see ConfigLoader): FixturePath (raw
  * export JSON), StageDir (staging storage), WarehouseDir (omit with
  * StorageOnly), Source = "fixture" | "http" (live client: ApiURL
  * + FsApiToken, the latter falling back to the FS_API_TOKEN environment
  * variable like the reference, config/config.go:152-155),
  * Mode = "batch" | "streaming" (streaming drains the raw bundles under
  * FixturePath, so it builds no Source), and WarehouseJdbcUrl to load
  * through the JDBC warehouse instead of the parquet one. Any other Source
  * or Mode value is rejected.
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: graft.Main <config-file>")
    val text = Files.readString(Paths.get(args(0)))
    val (config, warnings) = ConfigLoader.parseWithWarnings(text)
    warnings.foreach(w => println(s"[graft] $w"))
    val kv = ConfigLoader.parseDoc(text)
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing config key $k"))
    // the first accepted value is the default
    def oneOf(k: String, accepted: String*): String = {
      val v = kv.getOrElse(k, accepted.head)
      require(accepted.contains(v),
        s"""unknown $k "$v"; accepted: ${accepted.mkString(", ")}""")
      v
    }
    val sourceKind = oneOf("Source", "fixture", "http")
    val mode = oneOf("Mode", "batch", "streaming")

    // embedding-safe: getOrCreate may hand us a caller's session — only
    // stop what this main itself created
    val preExisting = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).isDefined
    val spark = GraftSession.create("graft")

    // provider-scoped storage timeout (reference: warehouse/s3.go:38-80
    // bounds S3 I/O with `[s3] Timeout`; the gcs section accepts the same
    // key): a hung object-store call fails the bundle after the bound and
    // falls into the loop's backoff path instead of hanging the service
    val baseStorage = new HadoopStorage(need("StageDir"))
    val storageTimeout = config.provider match {
      case Some("aws") => kv.get("s3.Timeout")
      case Some("gcp") => kv.get("gcs.Timeout")
      case _ => None
    }
    val storage = storageTimeout
      .map(t => new graft.sinks.TimeoutStorage(baseStorage,
        ConfigLoader.parseDuration(t)))
      .getOrElse(baseStorage)
    val warehouse = if (config.storageOnly) None
      else kv.get("WarehouseJdbcUrl") match {
        case Some(url) => Some(new JdbcWarehouse(spark, url))
        // Provider = "gcp" selects the BigQuery-flavor recovery strategy
        // (day-rewind + truncate-on-reload), like the reference's provider
        // factory (core/core.go:18-51)
        case None if config.provider.contains("gcp") =>
          Some(new graft.sinks.BigQueryParquetWarehouse(spark,
            need("WarehouseDir")))
        case None => Some(new ParquetWarehouse(spark, need("WarehouseDir")))
      }

    // Mode = "streaming" drains mature raw bundles through the Structured
    // Streaming front door (Trigger.AvailableNow + foreachBatch into the
    // same warehouse path) and commits the batch-equivalent sync point
    if (mode == "streaming") {
      val wh = warehouse.getOrElse(throw new IllegalArgumentException(
        "Mode=streaming loads a warehouse; unset StorageOnly"))
      val committed = graft.streaming.StreamingService.runAvailableNow(
        spark, config, need("FixturePath"), storage, wh,
        need("StageDir") + "/_stream_ckpt")
      committed match {
        case Some(end) => println(s"[graft] streaming caught up, sync $end")
        case None => println("[graft] streaming: no mature window yet")
      }
    } else {
      val source = sourceKind match {
        case "http" =>
          val token = kv.get("FsApiToken").orElse(sys.env.get("FS_API_TOKEN"))
            .getOrElse(throw new IllegalArgumentException(
              "Source=http needs FsApiToken (or the FS_API_TOKEN env var)"))
          new HttpExportSource(spark,
            new HttpExportClient(
              kv.getOrElse("ApiURL", ConfigLoader.DefaultApiUrl), token),
            need("StageDir") + "/_downloads")
        case "fixture" => new LocalFixtureSource(spark, need("FixturePath"))
      }
      val svc = new ExportService(spark, config, source, storage, warehouse)
      // MaxBundles bounds one invocation (cron-style runs); default unlimited
      val maxBundles = kv.get("MaxBundles").map(_.toInt).getOrElse(Int.MaxValue)
      val bundles = svc.runUntilCaughtUp(maxBundles)
      bundles.foreach(b => println(
        s"[graft] bundle ${b.start} .. ${b.end}: ${b.records} records -> ${b.ref.getOrElse("warehouse")}"))
      println(s"[graft] caught up after ${bundles.size} bundles")
    }
    if (!preExisting) spark.stop()
  }
}
