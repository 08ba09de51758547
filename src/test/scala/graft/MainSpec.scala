package graft

import java.nio.file.Files

/** CLI lifecycle e2e: config file -> provider wiring -> incremental loop,
  * exercising the config-selected JDBC warehouse path end to end
  * (reference lifecycle: main.go:18-39, provider factory core/core.go). */
class MainSpec extends SparkSpec {

  test("config-driven run: fixture source into the JDBC warehouse") {
    spark // materialize the shared session BEFORE Main so it embeds
    val tmp = Files.createTempDirectory("graft-main-e2e")
    val records = (0 until 2).map { day =>
      val d = s"2020-08-2${7 + day}"
      s"""{"EventStart": "${d}T06:00:00Z", "EventType": "click",
         | "UserId": ${100 + day}}""".stripMargin.replace("\n", "")
    }
    Files.writeString(tmp.resolve("raw.json"),
      records.mkString("[", ",\n", "]"))
    val url = s"jdbc:derby:${tmp.resolve("db")};create=true"
    val cfg = tmp.resolve("graft.toml")
    Files.writeString(cfg,
      s"""# graft CLI config
         |StartTime = "2020-08-27T00:00:00Z"
         |ExportDuration = "24h"
         |ExportDelay = "24h"
         |Source = "fixture"
         |FixturePath = "${tmp.resolve("raw.json")}"
         |StageDir = "${tmp.resolve("stage")}"
         |WarehouseJdbcUrl = "$url"
         |MaxBundles = "5"
         |""".stripMargin)
    Main.main(Array(cfg.toString))
    // the shared session survives Main's cleanup...
    assert(!spark.sparkContext.isStopped)
    // ...and the bundles landed through the JDBC warehouse
    val loaded = spark.read.jdbc(url, "\"export\"",
      new java.util.Properties())
    assert(loaded.count() == 2)
    val wh = new graft.sinks.JdbcWarehouse(spark, url)
    assert(wh.lastSyncPoint().isDefined)
  }

  test("Mode=streaming drains the fixture dir and commits the batch loop's sync point") {
    spark // materialize the shared session BEFORE Main so it embeds
    val tmp = Files.createTempDirectory("graft-main-stream")
    val rawDir = Files.createDirectories(tmp.resolve("rawdir"))
    // recent dates so the real-clock maturity gate bounds both runs the
    // same way: windows ending up to now-24h are mature in BOTH modes
    val day0 = java.time.Instant.now()
      .truncatedTo(java.time.temporal.ChronoUnit.DAYS)
      .minus(java.time.Duration.ofDays(4))
    def at(plusHours: Long) = day0.plus(java.time.Duration.ofHours(plusHours))
    val records = Seq(
      s"""{"EventStart": "${at(6)}", "EventType": "click", "UserId": 100}""",
      s"""{"EventStart": "${at(30)}", "EventType": "custom", "UserId": 101}""")
    Files.writeString(rawDir.resolve("raw.json"),
      records.mkString("[", ",\n", "]"))

    def runMain(mode: String, fixture: String, whDir: String): Unit = {
      val cfg = tmp.resolve(s"graft-$mode.toml")
      Files.writeString(cfg,
        s"""StartTime = "$day0"
           |ExportDuration = "24h"
           |ExportDelay = "24h"
           |Mode = "$mode"
           |FixturePath = "$fixture"
           |StageDir = "${tmp.resolve(s"stage-$mode")}"
           |WarehouseDir = "$whDir"
           |""".stripMargin)
      Main.main(Array(cfg.toString))
    }
    runMain("batch", rawDir.resolve("raw.json").toString,
      tmp.resolve("wh-batch").toString)
    runMain("streaming", rawDir.toString, tmp.resolve("wh-stream").toString)

    val whB = new graft.sinks.ParquetWarehouse(spark,
      tmp.resolve("wh-batch").toString)
    val whS = new graft.sinks.ParquetWarehouse(spark,
      tmp.resolve("wh-stream").toString)
    // same committed sync point: the last mature window end
    assert(whS.lastSyncPoint().isDefined)
    assert(whS.lastSyncPoint() == whB.lastSyncPoint())
    // same loaded records, same staged values
    def rows(wh: graft.sinks.ParquetWarehouse) = wh.readTable()
      .select("EventStart", "EventType", "UserId")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(rows(whS) == rows(whB))
    assert(rows(whS).size == 2)
  }

  test("Mode=streaming builds no export source: Source=http needs no token") {
    assume(sys.env.get("FS_API_TOKEN").isEmpty)
    spark // materialize the shared session BEFORE Main so it embeds
    val tmp = Files.createTempDirectory("graft-main-stream-http")
    val rawDir = Files.createDirectories(tmp.resolve("rawdir"))
    val day0 = java.time.Instant.now()
      .truncatedTo(java.time.temporal.ChronoUnit.DAYS)
      .minus(java.time.Duration.ofDays(3))
    Files.writeString(rawDir.resolve("raw.json"),
      s"""[{"EventStart": "${day0.plusSeconds(6 * 3600)}", "UserId": 100}]""")
    val cfg = tmp.resolve("graft.toml")
    Files.writeString(cfg,
      s"""StartTime = "$day0"
         |ExportDuration = "24h"
         |Mode = "streaming"
         |Source = "http"
         |FixturePath = "$rawDir"
         |StageDir = "${tmp.resolve("stage")}"
         |WarehouseDir = "${tmp.resolve("wh")}"
         |""".stripMargin)
    Main.main(Array(cfg.toString))
    val wh = new graft.sinks.ParquetWarehouse(spark, tmp.resolve("wh").toString)
    assert(wh.lastSyncPoint().isDefined)
    assert(wh.readTable().count() == 1)
  }

  /** Main's error for a config that sets `key` to `value`. A run that
    * accepted the value fails at once instead, on the missing fixture. */
  private def rejected(key: String, value: String): String = {
    val tmp = Files.createTempDirectory("graft-main-reject")
    val cfg = tmp.resolve("graft.toml")
    Files.writeString(cfg,
      s"""StartTime = "2020-08-27T00:00:00Z"
         |BackoffStepsMax = 0
         |$key = "$value"
         |FixturePath = "${tmp.resolve("raw.json")}"
         |StageDir = "${tmp.resolve("stage")}"
         |WarehouseDir = "${tmp.resolve("wh")}"
         |""".stripMargin)
    intercept[IllegalArgumentException](Main.main(Array(cfg.toString)))
      .getMessage
  }

  test("an unknown Source is rejected with the accepted values") {
    val msg = rejected("Source", "htpp")
    assert(msg.contains("unknown Source \"htpp\"") &&
      msg.contains("accepted: fixture, http"), msg)
  }

  test("an unknown Mode is rejected with the accepted values") {
    val msg = rejected("Mode", "stream")
    assert(msg.contains("unknown Mode \"stream\"") &&
      msg.contains("accepted: batch, streaming"), msg)
  }

  test("the deprecated Warehouse key picks the provider's warehouse flavor " +
      "and storage timeout") {
    spark // materialize the shared session BEFORE Main so it embeds
    val tmp = Files.createTempDirectory("graft-main-warehouse-key")
    val whDir = tmp.resolve("wh").toString
    // a committed sync point with a row loaded past it, in the same day
    val sync = java.time.Instant.parse("2020-08-27T07:00:00Z")
    val wh = new graft.sinks.ParquetWarehouse(spark, whDir)
    wh.initExportTable(graft.schema.ExportSchema.canonical(false))
    wh.saveSyncPoint(sync)
    ExportSchemaRow.blankRow(spark, wh.getExportTableColumns(),
        "EventStart" -> "2020-08-27T07:30:00Z", "UserId" -> "999")
      .withColumn("day", org.apache.spark.sql.functions.lit("2020-08-27"))
      .write.mode("append").partitionBy("day").parquet(s"$whDir/data")
    Files.writeString(tmp.resolve("raw.json"), "[]")
    def run(timeout: String): Unit = {
      val cfg = tmp.resolve("graft.toml")
      Files.writeString(cfg,
        s"""StartTime = "2020-08-27T00:00:00Z"
           |Warehouse = "bigquery"
           |FixturePath = "${tmp.resolve("raw.json")}"
           |StageDir = "${tmp.resolve("stage")}"
           |WarehouseDir = "$whDir"
           |MaxBundles = "0"
           |[gcs]
           |Timeout = "$timeout"
           |""".stripMargin)
      Main.main(Array(cfg.toString))
    }
    // the gcp provider's storage timeout is read
    val msg = intercept[IllegalArgumentException](run("5 minutes")).getMessage
    assert(msg.contains("invalid duration literal"), msg)
    // the BigQuery flavor rewinds to the day start; the plain Parquet
    // warehouse would heal the row away and keep the sync point
    run("5m")
    assert(wh.lastSyncPoint().contains(
      java.time.Instant.parse("2020-08-27T00:00:00Z")))
  }

  test("TOML sections scope same-named keys; deprecations warn like the reference") {
    import graft.service.ConfigLoader
    // the reference config has Timeout/Bucket/ExportTable in several
    // sections — they must land under distinct dotted keys, not collide
    val doc = ConfigLoader.parseDoc(
      """FilePrefix = "top"   # trailing comment
        |[s3]
        |Bucket = "stage-bucket"
        |Timeout = "5m"
        |[gcs]
        |Bucket = "gcs-bucket"
        |Timeout = "9m"
        |[redshift]
        |ExportTable = "fsexport"
        |""".stripMargin)
    assert(doc("FilePrefix") == "top")
    assert(doc("s3.Timeout") == "5m" && doc("gcs.Timeout") == "9m")
    assert(doc("s3.Bucket") == "stage-bucket" && doc("gcs.Bucket") == "gcs-bucket")
    assert(doc("redshift.ExportTable") == "fsexport")

    // deprecated Warehouse -> Provider mapping warns (config.go:206-223)
    val (cfgW, warnW) = ConfigLoader.parseWithWarnings(
      """StartTime = "2020-08-27T00:00:00Z"
        |Warehouse = "local"
        |""".stripMargin)
    assert(warnW.exists(_.contains("\"Warehouse\" option is deprecated")))
    // ...and the local provider forces StorageOnly with its own warning
    assert(cfgW.storageOnly)
    assert(warnW.exists(_.contains("only supports \"StorageOnly")))

    // GroupFilesByDay deprecation warns only when ExportDuration is unset;
    // an explicit duration wins silently (config.go:172-180)
    val (cfgG, warnG) = ConfigLoader.parseWithWarnings(
      """StartTime = "2020-08-27T00:00:00Z"
        |GroupFilesByDay = true
        |""".stripMargin)
    assert(cfgG.effectiveDuration == java.time.Duration.ofHours(24))
    assert(warnG.exists(_.contains("\"GroupFilesByDay\" option is deprecated")))
    val (cfgD, warnD) = ConfigLoader.parseWithWarnings(
      """StartTime = "2020-08-27T00:00:00Z"
        |GroupFilesByDay = true
        |ExportDuration = "1h"
        |""".stripMargin)
    assert(cfgD.effectiveDuration == java.time.Duration.ofHours(1))
    assert(!warnD.exists(_.contains("GroupFilesByDay")))

    // deprecated per-section S3Only raises the main-level StorageOnly
    val (cfgS, _) = ConfigLoader.parseWithWarnings(
      """StartTime = "2020-08-27T00:00:00Z"
        |Provider = "aws"
        |[s3]
        |S3Only = true
        |""".stripMargin)
    assert(cfgS.storageOnly)

    // StartTime default: 30 days before "now", with the INFO notice
    val fixed = java.time.Instant.parse("2021-01-31T00:00:00Z")
    val (cfgT, warnT) = ConfigLoader.parseWithWarnings(
      "ExportDuration = \"1h\"", now = () => fixed)
    assert(cfgT.startTime == java.time.Instant.parse("2021-01-01T00:00:00Z"))
    assert(warnT.exists(_.contains("\"StartTime\" not set")))
  }

  test("parseDuration mirrors Go time.ParseDuration") {
    import graft.service.ConfigLoader.parseDuration
    // the accept table from Go's own ParseDuration cases (expected nanos):
    // a config copied from a real hauser deployment can use any of these
    val ok: Seq[(String, Long)] = Seq(
      "0" -> 0L, "-0" -> 0L, "+0" -> 0L,
      "5s" -> 5000000000L, "30s" -> 30000000000L, "1478s" -> 1478000000000L,
      "-5s" -> -5000000000L, "+5s" -> 5000000000L,
      "5.0s" -> 5000000000L, "5.6s" -> 5600000000L, "5.s" -> 5000000000L,
      ".5s" -> 500000000L, "1.00s" -> 1000000000L, "1.004s" -> 1004000000L,
      "1.0040s" -> 1004000000L, "100.00100s" -> 100001000000L,
      "10ns" -> 10L, "11us" -> 11000L, "12µs" -> 12000L, "12μs" -> 12000L,
      "13ms" -> 13000000L, "14s" -> 14000000000L, "15m" -> 900000000000L,
      "16h" -> 57600000000000L, "3h30m" -> 12600000000000L,
      "10.5s4m" -> 250500000000L, "-2m3.4s" -> -123400000000L,
      "1h2m3s4ms5us6ns" -> 3723004005006L,
      "39h9m14.425s" -> 140954425000000L,
      "52763797000ns" -> 52763797000L,
      // truncation at nanosecond granularity, exactly as Go truncates
      "0.3333333333333333333h" -> 1199999999999L,
      "0.100000000000000000000h" -> 360000000000L,
      "1.5h" -> 5400000000000L, "300ms" -> 300000000L)
    for ((in, nanos) <- ok)
      assert(parseDuration(in).toNanos == nanos, s"parseDuration($in)")
    // and the reject table: bare numbers, lone signs/dots, unknown units,
    // int64-nanosecond overflow
    val bad = Seq("", "3", "-", "s", ".", "-.", ".s", "+.s", "1d",
      "1.3.4s", "3000000h", "1h m", "-1h+30m")
    for (in <- bad)
      assert(
        try { parseDuration(in); false }
        catch { case _: IllegalArgumentException => true },
        s"parseDuration($in) should be rejected")
  }
}
