package graft

import java.nio.file.{Files, Path}
import java.time.{Duration, Instant}

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import graft.schema.ExportSchema
import graft.service.{BundleProcessed, ExportService, RetryPolicy, ServiceConfig, WaitFor}
import graft.sinks.{BigQueryParquetWarehouse, HadoopStorage, JdbcWarehouse, ParquetWarehouse, StorageSyncPoint}
import graft.sources.LocalFixtureSource
import graft.transform.ExportTransform

/** End-to-end service-loop tests: the analog of the reference's golden-file
  * e2e (internal/service_test.go TestHauser scenarios, re-derived with a
  * locally generated fixture). */
class ServiceSpec extends SparkSpec {

  private val frozenNow = Instant.parse("2020-09-01T00:00:00Z")
  private val startTime = Instant.parse("2020-08-27T00:00:00Z")

  /** 3 days x 2 records of raw export JSON, plus custom vars. */
  private def writeFixture(dir: Path): String = {
    val records = (0 until 3).flatMap { day =>
      val d = f"2020-08-${27 + day}%02d"
      Seq(
        s"""{"EventStart": "${d}T06:20:26.900Z", "EventType": "click",
           | "UserId": ${100 + day}, "PageUrl": "https://x.test/$day",
           | "evt_foo_str": "v$day"}""".stripMargin.replace("\n", ""),
        s"""{"EventStart": "${d}T18:00:00Z", "EventType": "custom",
           | "UserId": ${200 + day}, "PageUrl": "https://y.test/$day",
           | "evt_price_real": ${day}.5}""".stripMargin.replace("\n", ""))
    }
    val f = dir.resolve("raw.json")
    Files.writeString(f, records.mkString("[", ",\n", "]"))
    f.toString
  }

  private def newService(tmp: Path, storageOnly: Boolean = false,
                         saveAsJson: Boolean = false,
                         bigQuery: Boolean = false) = {
    val fixture = writeFixture(tmp)
    val storage = new HadoopStorage(tmp.resolve("stage").toString)
    val dir = tmp.resolve("wh").toString
    val wh = if (storageOnly) None
      else if (bigQuery) Some(new BigQueryParquetWarehouse(spark, dir))
      else Some(new ParquetWarehouse(spark, dir))
    val config = ServiceConfig(startTime = startTime,
      exportDuration = Duration.ofHours(24), storageOnly = storageOnly,
      saveAsJson = saveAsJson)
    val svc = new ExportService(spark, config,
      new LocalFixtureSource(spark, fixture), storage, wh,
      pollInterval = Duration.ofMillis(1), now = () => frozenNow)
    (svc, storage, wh)
  }

  test("steady-state loop: 5 mature daily bundles, load + sync commit") {
    val tmp = Files.createTempDirectory("graft-e2e")
    val (svc, storage, Some(wh)) = newService(tmp): @unchecked
    val bundles = svc.runUntilCaughtUp()
    // watermark: now=09-01, delay 24h => windows ending up to 08-31 mature:
    // 08-27, 08-28, 08-29, 08-30, 08-31 ends => 5 bundles from start 08-27
    assert(bundles.size == 4)
    assert(bundles.head.start == startTime)
    assert(bundles.last.end == Instant.parse("2020-08-31T00:00:00Z"))
    // warehouse got all 6 records (3 days data within mature windows)
    assert(wh.readTable().count() == 6)
    // sync advanced to last mature end
    assert(wh.lastSyncPoint().contains(Instant.parse("2020-08-31T00:00:00Z")))
    // staged files were cleaned up after load (K9)
    assert(!storage.exists(s"${startTime.getEpochSecond}.csv"))
    // table contains transformed staged strings in live order
    val row = wh.readTable().filter(col("UserId") === "100").collect()(0)
    assert(row.getAs[String]("EventStart") == "2020-08-27T06:20:26.9Z")
    assert(row.getAs[String]("CustomVars").contains("\"evt_foo_str\":\"v0\""))
  }

  test("empty windows still produce bundles (header-only loads)") {
    val tmp = Files.createTempDirectory("graft-e2e-empty")
    val (svc, _, Some(wh)) = newService(tmp): @unchecked
    val bundles = svc.runUntilCaughtUp()
    // day 08-30 has no records but is still processed
    val emptyBundle = bundles.find(
      _.start == Instant.parse("2020-08-30T00:00:00Z"))
    assert(emptyBundle.exists(_.records == 0))
  }

  test("each bundle is decoded once: one SQL execution per processNext scans the export") {
    for (json <- Seq(false, true)) {
      val tmp = Files.createTempDirectory("graft-e2e-scans")
      val (svc, _, _) = newService(tmp, storageOnly = json, saveAsJson = json)
      val fixture = tmp.resolve("raw.json").toString
      val scans = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new SparkListener {
        override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
          case s: SparkListenerSQLExecutionStart
              if s.physicalPlanDescription.contains(fixture) =>
            scans.incrementAndGet()
          case _ =>
        }
      }
      val sc = spark.sparkContext
      svc.init()
      svc.recover()
      sc.addSparkListener(listener)
      try {
        val perBundle = Iterator.continually {
          scans.set(0)
          val step = svc.processNext()
          ListenerBusDrain(sc)
          (step, scans.get())
        }.takeWhile(!_._1.isInstanceOf[WaitFor]).toSeq
        assert(perBundle.map(_._2) == Seq(1, 1, 1, 1), s"saveAsJson=$json")
        // the counts come from the write job; the 08-30 window is empty
        assert(perBundle.map(_._1.asInstanceOf[BundleProcessed].records) ==
          Seq(2L, 2L, 2L, 0L), s"saveAsJson=$json")
      } finally sc.removeSparkListener(listener)
    }
  }

  test("a warehouse-mode bundle is one Spark job and stages no object on the Parquet flavors") {
    for (bigQuery <- Seq(false, true)) {
      val tmp = Files.createTempDirectory("graft-e2e-jobs")
      val (svc, _, Some(wh)) = newService(tmp, bigQuery = bigQuery): @unchecked
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      val sc = spark.sparkContext
      svc.init()
      svc.recover()
      ListenerBusDrain(sc)
      sc.addSparkListener(listener)
      try {
        val perBundle = Iterator.continually {
          jobs.set(0)
          val step = svc.processNext()
          ListenerBusDrain(sc)
          (step, jobs.get())
        }.takeWhile(!_._1.isInstanceOf[WaitFor]).toSeq
        val clue = s"bigQuery=$bigQuery"
        assert(perBundle.map(_._2) == Seq(1, 1, 1, 1), clue)
        assert(perBundle.forall(_._1.asInstanceOf[BundleProcessed]
          .ref.isEmpty), clue)
        val stage = tmp.resolve("stage").toFile
        val left = Option(stage.list()).toSeq.flatten
          .filter(n => n.endsWith(".csv") || n.startsWith("_tmp_"))
        assert(left.isEmpty, clue)
      } finally sc.removeSparkListener(listener)
      assert(wh.readTable().count() == 6)
    }
  }

  test("staging keeps a value's edge whitespace, and the JDBC flavor loads it") {
    val tmp = Files.createTempDirectory("graft-e2e-padded")
    Files.writeString(tmp.resolve("raw.json"),
      """[{"EventStart": "2020-08-27T06:00:00Z", "UserId": 1,
        | "PageUrl": " padded ", "EventTargetText": "line1\n"}]"""
        .stripMargin.replace("\n ", ""))
    val config = ServiceConfig(startTime = startTime,
      exportDuration = Duration.ofHours(24))
    def run(storageOnly: Boolean, wh: Option[JdbcWarehouse]): HadoopStorage = {
      val storage = new HadoopStorage(
        tmp.resolve(s"stage-$storageOnly").toString)
      new ExportService(spark, config.copy(storageOnly = storageOnly),
        new LocalFixtureSource(spark, tmp.resolve("raw.json").toString),
        storage, wh, pollInterval = Duration.ofMillis(1),
        now = () => frozenNow).runUntilCaughtUp(maxBundles = 1)
      storage
    }
    val staged = spark.read.option("header", "true")
      .csv(run(storageOnly = true, None).getFileReference("1598486400.csv"))
      .collect().head
    assert(staged.getAs[String]("PageUrl") == " padded ")
    // sanitized: the line break is a space, and it stays
    assert(staged.getAs[String]("EventTargetText") == "line1 ")

    val url = s"jdbc:derby:${tmp.resolve("db")};create=true"
    run(storageOnly = false, Some(new JdbcWarehouse(spark, url)))
    val loaded = spark.read.jdbc(url, "\"export\"", new java.util.Properties())
      .collect().head
    assert(loaded.getAs[String]("PageUrl") == " padded ")
    assert(loaded.getAs[String]("EventTargetText") == "line1 ")
  }

  test("the orphan check reads only the partitions from the sync point's day") {
    val tmp = Files.createTempDirectory("graft-e2e-scope")
    val (svc, _, Some(wh)) = newService(tmp): @unchecked
    svc.runUntilCaughtUp()
    val sync = Instant.parse("2020-08-29T00:00:00Z")
    val scan = wh.readFrom(sync).queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s
    }.get
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "day")))
    assert(wh.readFrom(sync).select(col("day").cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq == Seq("2020-08-29"))
    assert(wh.maxEventStart(sync)
      .contains(Instant.parse("2020-08-29T18:00:00Z")))
    // nothing loaded from the last sync point's day on
    assert(wh.maxEventStart(Instant.parse("2020-08-31T00:00:00Z")).isEmpty)
  }

  test("a staging rename that returns false fails the bundle write") {
    val tmp = Files.createTempDirectory("graft-e2e-rename")
    val sc = spark.sparkContext
    sc.hadoopConfiguration.set("fs.renamefail.impl",
      classOf[RenameFailingFs].getName)
    val storage = new HadoopStorage(s"renamefail://${tmp.resolve("stage")}",
      sc.hadoopConfiguration)
    val df = ExportSchemaRow.blankRow(spark, Seq("a", "b"), "a" -> "1")
    val e = intercept[java.io.IOException] {
      graft.sinks.CsvStage.writeBundleCsv(df, storage, "b.blocked")
    }
    assert(e.getMessage.contains("could not rename"))
    // the same write to a name the file system renames is staged
    val ref = graft.sinks.CsvStage.writeBundleCsv(df, storage, "b.csv")
    assert(storage.readContent("b.csv").exists(_.startsWith("a,b")), ref)
  }

  test("storage-only + SaveAsJson: raw JSON bundles, file sync point") {
    val tmp = Files.createTempDirectory("graft-e2e-json")
    val (svc, storage, _) = newService(tmp, storageOnly = true,
      saveAsJson = true)
    val bundles = svc.runUntilCaughtUp()
    assert(bundles.size == 4)
    val day0 = storage.readContent(s"${startTime.getEpochSecond}.json").get
    assert(day0.startsWith("[") && day0.contains("\"evt_foo_str\":\"v0\""))
    // empty bundle renders as the empty JSON array
    val empty = storage.readContent(
      s"${Instant.parse("2020-08-30T00:00:00Z").getEpochSecond}.json").get
    assert(empty == "[]")
    assert(StorageSyncPoint.read(storage)
      .contains(Instant.parse("2020-08-31T00:00:00Z")))
  }

  test("watermark gate: immature window returns a wait") {
    val tmp = Files.createTempDirectory("graft-e2e-wait")
    val (svc, _, _) = newService(tmp)
    svc.runUntilCaughtUp()
    val res = svc.processNext()
    assert(res.isInstanceOf[graft.service.WaitFor])
  }

  test("crash recovery: orphaned rows past the sync point are healed") {
    val tmp = Files.createTempDirectory("graft-e2e-heal")
    val (svc, _, Some(wh)) = newService(tmp): @unchecked
    svc.runUntilCaughtUp()
    val before = wh.readTable().count()
    // simulate a load that committed without its sync point: inject rows
    // with EventStart beyond the checkpoint
    val s = spark
    import s.implicits._
    val cols = wh.getExportTableColumns()
    val orphan = ExportSchemaRow.blankRow(spark, cols,
      "EventStart" -> "2020-08-31T09:00:00Z", "UserId" -> "999")
      .withColumn("day", lit("2020-08-31"))
    orphan.write.mode("append").partitionBy("day")
      .parquet(tmp.resolve("wh").resolve("data").toString)
    assert(wh.readTable().count() == before + 1)
    svc.recover()
    assert(wh.readTable().count() == before)
    assert(wh.readTable().filter(col("UserId") === "999").count() == 0)
  }

  test("BigQuery-flavor crash recovery: day-rewind sync point, truncate-on-reload") {
    // Mirrors "crash recovery" above, but healing happens the BigQuery way
    // (reference: bigquery.go:82-104,147-151): no DELETE — the sync point
    // rewinds to the day boundary and the day's first reloaded bundle
    // WriteTruncates the partition.
    val tmp = Files.createTempDirectory("graft-e2e-bq")
    val fixture = writeFixture(tmp)
    val storage = new HadoopStorage(tmp.resolve("stage").toString)
    val wh = new graft.sinks.BigQueryParquetWarehouse(spark,
      tmp.resolve("wh").toString)
    val config = ServiceConfig(startTime = startTime,
      exportDuration = Duration.ofHours(24))
    def svc() = new ExportService(spark, config,
      new LocalFixtureSource(spark, fixture), storage, Some(wh),
      pollInterval = Duration.ofMillis(1), now = () => frozenNow)

    // load day 1 only, then simulate a crashed day-2 load: rows landed in
    // the 08-28 partition but the sync point was never written
    svc().runUntilCaughtUp(maxBundles = 1)
    assert(wh.lastSyncPoint()
      .contains(Instant.parse("2020-08-28T00:00:00Z")))
    val dayOne = wh.readTable().count()
    val cols = wh.getExportTableColumns()
    val orphan = ExportSchemaRow.blankRow(spark, cols,
      "EventStart" -> "2020-08-28T09:00:00Z", "UserId" -> "999")
      .withColumn("day", lit("2020-08-28"))
    orphan.write.mode("append").partitionBy("day")
      .parquet(tmp.resolve("wh").resolve("data").toString)

    // the rewound sync point is the day boundary (here: unchanged, already
    // midnight) and removeOrphanedRecords deletes nothing
    wh.removeOrphanedRecords(Instant.parse("2020-08-28T00:00:00Z"))
    assert(wh.readTable().filter(col("UserId") === "999").count() == 1)

    // catch-up re-exports from the day boundary; the first bundle of the
    // day truncates the partition, so the orphan vanishes without DELETE
    val bundles = svc().runUntilCaughtUp()
    assert(bundles.nonEmpty &&
      bundles.head.start == Instant.parse("2020-08-28T00:00:00Z"))
    assert(wh.readTable().filter(col("UserId") === "999").count() == 0)
    assert(wh.readTable().count() == 6) // all fixture records, no dupes
    assert(wh.lastSyncPoint()
      .contains(Instant.parse("2020-08-31T00:00:00Z")))
    assert(wh.readTable().count() >= dayOne)

    // mid-day rewind: a sync point at 12:00 with leftover rows past it
    // rewinds to the day start and drops the later sync row
    wh.saveSyncPoint(Instant.parse("2020-08-31T12:00:00Z"))
    val leftover = ExportSchemaRow.blankRow(spark, cols,
      "EventStart" -> "2020-08-31T15:00:00Z", "UserId" -> "998")
      .withColumn("day", lit("2020-08-31"))
    leftover.write.mode("append").partitionBy("day")
      .parquet(tmp.resolve("wh").resolve("data").toString)
    assert(wh.lastSyncPoint()
      .contains(Instant.parse("2020-08-31T00:00:00Z")))
    // idempotent: the rewound point is stable across calls
    assert(wh.lastSyncPoint()
      .contains(Instant.parse("2020-08-31T00:00:00Z")))
  }

  test("warehouse metadata is type-aware: retype rejected, legacy names upgraded") {
    val tmp = Files.createTempDirectory("graft-e2e-types")
    val wh = new graft.sinks.ParquetWarehouse(spark,
      tmp.resolve("wh").toString)
    val schema = graft.schema.ExportSchema.baseFields
    assert(wh.initExportTable(schema))
    // live metadata now carries types per ordinal
    val live = wh.getExportTableFields()
    assert(live.map(_.dbName) == schema.map(_.dbName))
    assert(live.find(_.dbName == "EventStart")
      .exists(_.dataType == org.apache.spark.sql.types.TimestampType))
    // append-only evolution still works
    wh.applyExportSchema(schema :+ graft.schema.Field("Extra", "Extra",
      org.apache.spark.sql.types.StringType))
    assert(wh.getExportTableColumns().last == "Extra")
    // a retyped live column is rejected, not silently reconciled
    val retyped = wh.getExportTableFields().map(f =>
      if (f.dbName == "EventStart")
        f.copy(dataType = org.apache.spark.sql.types.StringType) else f)
    intercept[IllegalArgumentException] { wh.applyExportSchema(retyped) }
    // legacy name-only metadata reads with unknown types and stays usable
    val storage = new graft.sinks.HadoopStorage(tmp.resolve("wh").toString)
    storage.saveContent("_columns.json", """["IndvId","UserId"]""")
    val legacy = wh.getExportTableFields()
    assert(legacy.map(_.dbName) == Seq("IndvId", "UserId"))
    assert(legacy.forall(_.dataType == org.apache.spark.sql.types.NullType))
    wh.applyExportSchema(schema) // name-prefix compatible -> upgrades format
    assert(wh.getExportTableFields().head.dataType ==
      org.apache.spark.sql.types.LongType) // IndvId, typed again
  }

  test("the fixture source's window is pushed into the graft-export scan") {
    val tmp = Files.createTempDirectory("graft-e2e-pushdown")
    val src = new LocalFixtureSource(spark, writeFixture(tmp))
    val op = src.createExport(Instant.parse("2020-08-28T00:00:00Z"),
      Instant.parse("2020-08-29T00:00:00Z"), Nil)
    // the frame the service stages: the export under the live projection
    val staged = ExportTransform.toStagedStrings(
      src.getExport(src.getExportProgress(op)._2.get),
      ExportSchema.canonical(includeMobile = false))
    val plan = staged.queryExecution.sparkPlan
    val scans = plan.collect { case s: BatchScanExec => s.scan.description() }
    assert(scans.size == 1 && scans.head.startsWith("graft-export"), plan)
    assert(scans.head.contains("pushed time range: " +
      "Some((2020-08-28T00:00:00Z,true)) .. Some((2020-08-29T00:00:00Z,false))"),
      scans.head)
    // nothing re-checks EventStart after the scan
    assert(plan.collect { case f: FilterExec => f }
      .forall(!_.condition.references.exists(_.name == "EventStart")), plan)
    assert(staged.select("UserId").collect().map(_.getString(0)).toSeq ==
      Seq("101", "201"))
  }

  test("custom-var numbers keep their JSON form: 1 stays 1 next to 1.5") {
    val tmp = Files.createTempDirectory("graft-e2e-numbers")
    Files.writeString(tmp.resolve("raw.json"), Seq(
      """{"EventStart": "2020-08-27T06:00:00Z", "UserId": 1, "evt_n_int": 1}""",
      """{"EventStart": "2020-08-27T07:00:00Z", "UserId": 2, "evt_n_int": 1.5}""")
      .mkString("[", ",\n", "]"))
    val storage = new HadoopStorage(tmp.resolve("stage").toString)
    val config = ServiceConfig(startTime = startTime,
      exportDuration = Duration.ofHours(24), storageOnly = true)
    new ExportService(spark, config,
      new LocalFixtureSource(spark, tmp.resolve("raw.json").toString),
      storage, None, pollInterval = Duration.ofMillis(1),
      now = () => frozenNow).runUntilCaughtUp(maxBundles = 1)
    val rows = storage.readContent("1598486400.csv").get.linesIterator
      .drop(1).toSeq
    assert(rows.size == 2)
    assert(rows(0).endsWith("\"{\"\"evt_n_int\"\":1}\""), rows(0))
    assert(rows(1).endsWith("\"{\"\"evt_n_int\"\":1.5}\""), rows(1))
  }

  test("IncludeMobileAppsFields: AppName lands in its column, never in CustomVars") {
    for (mobile <- Seq(true, false)) {
      val tmp = Files.createTempDirectory("graft-e2e-mobile")
      Files.writeString(tmp.resolve("raw.json"),
        """[{"EventStart": "2020-08-27T06:00:00Z", "EventType": "click",
          | "UserId": 1, "AppName": "shop", "evt_k_str": "v"}]"""
          .stripMargin.replace("\n", ""))
      val wh = new ParquetWarehouse(spark, tmp.resolve("wh").toString)
      val config = ServiceConfig(startTime = startTime,
        exportDuration = Duration.ofHours(24), includeMobile = mobile)
      new ExportService(spark, config,
        new LocalFixtureSource(spark, tmp.resolve("raw.json").toString),
        new HadoopStorage(tmp.resolve("stage").toString), Some(wh),
        pollInterval = Duration.ofMillis(1), now = () => frozenNow)
        .runUntilCaughtUp(maxBundles = 1)
      val row = wh.readTable().collect().head
      // without the mobile columns AppName is dropped, as the export
      // request does not ask for it
      assert(row.schema.fieldNames.contains("AppName") == mobile)
      if (mobile) assert(row.getAs[String]("AppName") == "shop")
      assert(row.getAs[String]("CustomVars") == """{"evt_k_str":"v"}""",
        s"includeMobile=$mobile")
    }
  }

  test("golden-file byte parity: staged CSV matches the pinned golden") {
    // the reference's primary e2e style (byte-equality of every uploaded
    // bundle against goldens, internal/service_test.go:179-191) — one
    // pinned bundle covering Go timestamp trim, RFC4180 quote doubling,
    // newline sanitization, empty cells, custom-var JSON
    val tmp = Files.createTempDirectory("graft-golden")
    val records = Seq(
      """{"EventStart": "2020-08-27T06:20:26.900Z", "EventType": "click",
        | "UserId": 100, "PageUrl": "https://x.test/a,b",
        | "EventTargetText": "line1\nline2", "evt_foo_str": "bar"}"""
        .stripMargin.replace("\n ", ""),
      """{"EventStart": "2020-08-27T18:00:00Z", "EventType": "custom",
        | "UserId": 200, "PageUrl": "https://y.test/q",
        | "evt_price_real": 0.5}""".stripMargin.replace("\n ", ""))
    Files.writeString(tmp.resolve("raw.json"), records.mkString("[", ",\n", "]"))
    val storage = new HadoopStorage(tmp.resolve("stage").toString)
    val config = ServiceConfig(startTime = startTime,
      exportDuration = Duration.ofHours(24), storageOnly = true)
    val svc = new ExportService(spark, config,
      new LocalFixtureSource(spark, tmp.resolve("raw.json").toString),
      storage, None, pollInterval = Duration.ofMillis(1),
      now = () => frozenNow)
    svc.runUntilCaughtUp()
    val got = storage.readContent("1598486400.csv").get
    val golden = new String(
      getClass.getResourceAsStream("/golden/1598486400.csv").readAllBytes(),
      "UTF-8")
    assert(got.stripLineEnd == golden.stripLineEnd)
  }

  test("ConfigLoader: reference defaults, deprecations, constraint checks") {
    val cfg = graft.service.ConfigLoader.parse(
      """# hauser-style config
        |StartTime = "2020-08-26T00:00:00Z"
        |GroupFilesByDay = true
        |StorageOnly = true
        |SaveAsJson = true
        |Backoff = "30s"
        |""".stripMargin)
    assert(cfg.effectiveDuration == Duration.ofHours(24)) // legacy alias
    assert(cfg.exportDelay == Duration.ofHours(24))       // default
    assert(cfg.backoffStepsMax == 8)                      // default
    assert(cfg.saveAsJson && cfg.storageOnly)
    // SaveAsJson without StorageOnly violates config/config.go:247-249
    intercept[IllegalArgumentException] {
      graft.service.ConfigLoader.parse("SaveAsJson = true")
    }
    // sub-15m or non-divisor durations are rejected (config.go:181-187)
    intercept[IllegalArgumentException] {
      graft.service.ConfigLoader.parse("ExportDuration = \"10m\"")
    }
    intercept[IllegalArgumentException] {
      graft.service.ConfigLoader.parse("ExportDuration = \"7h\"")
    }
  }

  test("UseStartTime resets the storage sync point at init") {
    val tmp = Files.createTempDirectory("graft-usestart")
    writeFixture(tmp)
    val storage = new HadoopStorage(tmp.resolve("stage").toString)
    StorageSyncPoint.write(storage, Instant.parse("2020-08-30T00:00:00Z"))
    val config = ServiceConfig(startTime = startTime,
      exportDuration = Duration.ofHours(24), storageOnly = true,
      useStartTime = true)
    val svc = new ExportService(spark, config,
      new LocalFixtureSource(spark, tmp.resolve("raw.json").toString),
      storage, None, pollInterval = Duration.ofMillis(1),
      now = () => frozenNow)
    val bundles = svc.runUntilCaughtUp()
    // restarted from StartTime (08-27), not the stale sync (08-30)
    assert(bundles.head.start == startTime)
    assert(bundles.size == 4)
  }

  test("retry policy: 429/5xx retryable with exponential backoff, 4xx fatal") {
    import RetryPolicy._
    assert(retryInfo(Retryable(429, None)).isDefined)
    assert(retryInfo(Retryable(503, None)).isDefined)
    // only a non-429 sub-500 HTTP status is fatal; any non-HTTP failure
    // (storage timeout, connection reset) is retryable, like the
    // reference's getRetryInfo (internal/service.go:158-171)
    assert(retryInfo(Retryable(404, None)).isEmpty)
    assert(retryInfo(new RuntimeException("boom")).isDefined)
    assert(nextBackoff(Retryable(500, None), 0, Duration.ofSeconds(30), 8)
      .contains(Duration.ofSeconds(30)))
    assert(nextBackoff(Retryable(500, None), 3, Duration.ofSeconds(30), 8)
      .contains(Duration.ofSeconds(240)))
    assert(nextBackoff(Retryable(500, None), 8, Duration.ofSeconds(30), 8)
      .isEmpty)
    // Retry-After honored when longer than the computed backoff
    assert(nextBackoff(Retryable(429, Some(Duration.ofSeconds(120))), 0,
      Duration.ofSeconds(30), 8).contains(Duration.ofSeconds(120)))
  }

  test("storage timeout: a hung write fails the bundle, retries, then fatal") {
    // reference semantics: `[s3] Timeout` bounds every storage I/O
    // (warehouse/s3.go:38-80) — a hung upload must fail the bundle after
    // the bound (not block the loop), be retried with backoff, and exit
    // through the fatal path once BackoffStepsMax is exhausted
    val tmp = Files.createTempDirectory("graft-e2e-timeout")
    val fixture = writeFixture(tmp)
    val saves = new java.util.concurrent.atomic.AtomicInteger(0)
    // healthy staging paths (the bundle CSV is a distributed Spark write
    // through getFileReference), but the sync-point saveContent — the
    // object-store PUT — hangs forever
    val real = new HadoopStorage(tmp.resolve("stage").toString)
    val hung = new graft.sinks.Storage {
      override def saveContent(name: String, content: String): String = {
        saves.incrementAndGet()
        Thread.sleep(600000) // a dead object store: never completes
        "unreachable"
      }
      override def readContent(name: String) = real.readContent(name)
      override def deleteFile(name: String): Unit = real.deleteFile(name)
      override def exists(name: String): Boolean = real.exists(name)
      override def getFileReference(name: String) = real.getFileReference(name)
    }
    val storage =
      new graft.sinks.TimeoutStorage(hung, Duration.ofMillis(150))
    val config = ServiceConfig(startTime = startTime,
      exportDuration = Duration.ofHours(24), storageOnly = true,
      backoff = Duration.ofMillis(1), backoffStepsMax = 2)
    val svc = new ExportService(spark, config,
      new LocalFixtureSource(spark, fixture), storage, None,
      pollInterval = Duration.ofMillis(1), now = () => frozenNow)
    val t0 = System.nanoTime()
    val e = intercept[java.io.IOException](svc.runUntilCaughtUp())
    assert(e.getMessage.contains("timed out"))
    // initial attempt + 2 backed-off retries, each cut off at the bound
    assert(saves.get() == 3)
    // failed BY the timeout, not by waiting out the hang
    assert((System.nanoTime() - t0) / 1e9 < 60)
  }
}

/** Helper to build a single staged-strings row matching live columns. */
object ExportSchemaRow {
  def blankRow(spark: org.apache.spark.sql.SparkSession, cols: Seq[String],
               overrides: (String, String)*): org.apache.spark.sql.DataFrame = {
    val m = overrides.toMap
    val row = org.apache.spark.sql.Row.fromSeq(cols.map(c => m.getOrElse(c, "")))
    spark.createDataFrame(
      java.util.List.of(row),
      org.apache.spark.sql.types.StructType(cols.map(c =>
        org.apache.spark.sql.types.StructField(c,
          org.apache.spark.sql.types.StringType))))
  }
}

/** Local file system under the `renamefail` scheme whose rename to a
  * `*.blocked` name returns false, the way object-store renames can fail. */
class RenameFailingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("renamefail:///")
  override def rename(src: org.apache.hadoop.fs.Path,
                      dst: org.apache.hadoop.fs.Path): Boolean =
    !dst.getName.endsWith(".blocked") && super.rename(src, dst)
}
