package graft

import java.nio.file.Files
import java.time.{Duration, Instant}

import scala.jdk.CollectionConverters._

import graft.schema.{ExportSchema, Field}
import graft.sinks.{DerbySql, HadoopStorage, JdbcWarehouse}
import graft.service.{ExportService, ServiceConfig}
import graft.sources.LocalFixtureSource

/** Executes the warehouse statement cycle — CREATE, ALTER, stage-then-load,
  * sync-point log, orphan heal — against a LIVE embedded Derby connection
  * (the execution analog of warehouse/redshift.go:150-163, 195-354; Derby
  * ships on the Spark classpath). */
class JdbcWarehouseSpec extends SparkSpec {

  private def newDb(tag: String): String = {
    val dir = Files.createTempDirectory(s"graft-derby-$tag")
    s"jdbc:derby:${dir.resolve("db")};create=true"
  }

  test("DDL create + type-aware introspection + append-only evolution") {
    val wh = new JdbcWarehouse(spark, newDb("ddl"))
    val schema = ExportSchema.baseFields
    assert(wh.initExportTable(schema))
    assert(!wh.initExportTable(schema)) // second init: table exists

    // JDBC metadata round-trips names AND types, ordinal-ordered
    val live = wh.getExportTableFields()
    assert(live.map(_.dbName) == schema.map(_.dbName))
    assert(live.find(_.dbName == "EventStart")
      .exists(_.dataType == org.apache.spark.sql.types.TimestampType))
    assert(live.find(_.dbName == "IndvId")
      .exists(_.dataType == org.apache.spark.sql.types.LongType))

    // append-only evolution executes one ALTER per missing column
    val extended = schema ++ Seq(
      Field("AppName", "AppName", org.apache.spark.sql.types.StringType))
    wh.applyExportSchema(extended)
    assert(wh.getExportTableColumns().last == "AppName")

    // a retyped live column is rejected by the same type-aware check
    val retyped = extended.map(f =>
      if (f.dbName == "EventStart")
        f.copy(dataType = org.apache.spark.sql.types.StringType) else f)
    intercept[IllegalArgumentException] { wh.applyExportSchema(retyped) }
  }

  test("sync-point log and orphan heal execute real DELETEs") {
    val wh = new JdbcWarehouse(spark, newDb("sync"))
    wh.initExportTable(ExportSchema.baseFields)
    assert(wh.lastSyncPoint().isEmpty)
    val end = Instant.parse("2020-08-28T00:00:00Z")
    wh.saveSyncPoint(end)
    wh.saveSyncPoint(end.plus(Duration.ofDays(1)))
    assert(wh.lastSyncPoint().contains(end.plus(Duration.ofDays(1))))
  }

  test("full service loop: stage, distributed JDBC load, heal, resume") {
    val tmp = Files.createTempDirectory("graft-jdbc-e2e")
    val records = (0 until 3).flatMap { day =>
      val d = s"2020-08-2${7 + day}"
      Seq(
        s"""{"EventStart": "${d}T06:00:00Z", "EventType": "click",
           | "UserId": ${100 + day}, "PageUrl": "https://x.test/$day",
           | "evt_foo_str": "v$day"}""".stripMargin.replace("\n", ""))
    }
    Files.writeString(tmp.resolve("raw.json"),
      records.mkString("[", ",\n", "]"))
    val url = newDb("e2e")
    val wh = new JdbcWarehouse(spark, url)
    val storage = new HadoopStorage(tmp.resolve("stage").toString)
    val startTime = Instant.parse("2020-08-27T00:00:00Z")
    val svc = new ExportService(spark,
      ServiceConfig(startTime = startTime,
        exportDuration = Duration.ofHours(24)),
      new LocalFixtureSource(spark, tmp.resolve("raw.json").toString),
      storage, Some(wh), pollInterval = Duration.ofMillis(1),
      now = () => Instant.parse("2020-09-01T00:00:00Z"))
    val bundles = svc.runUntilCaughtUp()
    assert(bundles.size == 4) // 08-27..08-30 mature under the 24h delay
    assert(wh.lastSyncPoint().contains(Instant.parse("2020-08-31T00:00:00Z")))

    // the rows actually landed, typed
    val loaded = spark.read.jdbc(url, "\"export\"",
      new java.util.Properties())
    assert(loaded.count() == 3)
    assert(loaded.schema("EventStart").dataType ==
      org.apache.spark.sql.types.TimestampType)

    // orphan heal: inject a row past the sync point, then recover()
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      st.executeUpdate(
        """INSERT INTO "export" ("EventStart", "EventType", "UserId")
          | VALUES ({ts '2020-09-02 09:00:00'}, 'orphan', 999)"""
          .stripMargin.replace("\n", ""))
      st.close()
    } finally c.close()
    assert(wh.maxEventStart().contains(Instant.parse("2020-09-02T09:00:00Z")))
    svc.recover()
    val healed = spark.read.jdbc(url, "\"export\"",
      new java.util.Properties())
    assert(healed.count() == 3)
    assert(healed.filter(org.apache.spark.sql.functions
      .col("UserId") === 999).count() == 0)
  }

  test("a crash after staging or after the load, before the staged " +
    "object is deleted: the retries load each window once and leave no " +
    "staged object") {
    val tmp = Files.createTempDirectory("graft-jdbc-crash")
    // one record in each 1 h window from 06:00 through 09:00; no window
    // starts a day, so only the orphan heal undoes a load
    Files.writeString(tmp.resolve("raw.json"), Seq(
      "2020-08-27T06:20:26.900Z" -> 100, "2020-08-27T07:30:00Z" -> 200,
      "2020-08-27T08:30:00Z" -> 300).map { case (start, user) =>
        s"""{"EventStart": "$start", "EventType": "click", "UserId": $user}"""
      }.mkString("[", ",\n", "]"))

    /** The loaded export table's rows, sorted, after a run whose warehouse
      * throws once in every window at each boundary in `crashAt`. */
    def run(tag: String, crashAt: Set[String]): (Seq[String], Set[String]) = {
      val url = newDb(tag)
      val crashed = scala.collection.mutable.Set[String]()
      def crash(at: String, start: Instant): Unit =
        if (crashAt(at) && crashed.add(s"$at $start"))
          throw new java.io.IOException(s"crash $at in the window at $start")
      val wh = new JdbcWarehouse(spark, url) {
        override def loadToWarehouse(csvRef: String, bundleStart: Instant,
                                     truncateDay: Boolean): Unit = {
          crash("staged", bundleStart)
          super.loadToWarehouse(csvRef, bundleStart, truncateDay)
          crash("loaded", bundleStart)
        }
      }
      val stage = tmp.resolve(s"stage-$tag")
      val bundles = new ExportService(spark,
        ServiceConfig(startTime = Instant.parse("2020-08-27T06:00:00Z"),
          exportDuration = Duration.ofHours(1),
          backoff = Duration.ofMillis(1)),
        new LocalFixtureSource(spark, tmp.resolve("raw.json").toString),
        new HadoopStorage(stage.toString), Some(wh),
        pollInterval = Duration.ofMillis(1),
        now = () => Instant.parse("2020-08-28T09:00:00Z"))
        .runUntilCaughtUp(maxBundles = 40)
      assert(bundles.map(_.end.toString) == Seq("2020-08-27T07:00:00Z",
        "2020-08-27T08:00:00Z", "2020-08-27T09:00:00Z"), tag)
      val left = if (!Files.exists(stage)) Seq.empty[String]
        else Files.list(stage).iterator().asScala
          .map(_.getFileName.toString).toSeq
      assert(!left.exists(n => n.contains(".csv") || n.startsWith("_tmp_")),
        s"$tag: $left")
      val rows = spark.read.jdbc(url, "\"export\"", new java.util.Properties())
        .collect().map(_.mkString("|")).toSeq.sorted
      (rows, crashed.toSet)
    }

    val (clean, none) = run("clean", Set.empty)
    assert(none.isEmpty && clean.size == 3)
    val (rows, crashed) = run("crash", Set("staged", "loaded"))
    assert(crashed.size == 6, crashed) // both boundaries in all 3 windows
    assert(rows == clean)
  }

  test("truncate-day load is idempotent: replaying a bundle replaces it") {
    val url = newDb("trunc")
    val wh = new JdbcWarehouse(spark, url)
    wh.initExportTable(ExportSchema.baseFields)
    val tmp = Files.createTempDirectory("graft-jdbc-trunc")
    val cols = wh.getExportTableColumns()
    val df = ExportSchemaRow.blankRow(spark, cols,
      "EventStart" -> "2020-08-27T06:00:00Z", "EventType" -> "click",
      "UserId" -> "1")
      .union(ExportSchemaRow.blankRow(spark, cols,
        "EventStart" -> "2020-08-27T07:00:00Z", "EventType" -> "click",
        "UserId" -> "2"))
    val storage = new HadoopStorage(tmp.toString)
    val ref = graft.sinks.CsvStage.writeBundleCsv(df, storage, "b.csv")
    val start = Instant.parse("2020-08-27T00:00:00Z")
    wh.loadToWarehouse(ref, start, truncateDay = true)
    wh.loadToWarehouse(ref, start, truncateDay = true) // replay
    val n = spark.read.jdbc(url, "\"export\"", new java.util.Properties())
      .count()
    assert(n == 2) // replaced, not duplicated
  }

  test("Derby timestamp literals are JDBC escapes a TIMESTAMP column " +
    "compares with") {
    assert(DerbySql.timestampLiteral(Instant.parse("2020-08-31T00:00:00Z"))
      == "{ts '2020-08-31 00:00:00.000000'}")
  }
}
