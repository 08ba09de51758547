package graft

import java.nio.file.{Files, Path}
import java.time.{Duration, Instant}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.schema.Field
import graft.service.{ExportService, ServiceConfig}
import graft.sinks.{BigQueryParquetWarehouse, HadoopStorage, JdbcWarehouse, ParquetWarehouse, Storage, StorageSyncPoint, Warehouse}
import graft.sources.LocalFixtureSource

/** The Parquet warehouse's sync point: one [[StorageSyncPoint]] object,
  * committed by atomic replace, and the exactly-once loop around it. */
class SyncPointSpec extends SparkSpec {

  private val startTime = Instant.parse("2020-08-27T06:00:00Z")
  /** 1 h windows from 06:00 through 09:00 are mature. */
  private val frozenNow = Instant.parse("2020-08-28T09:00:00Z")

  /** By default two records on 08-27, in the first window and in the
    * third; neither on a window boundary, and neither window starts a day. */
  private def writeFixture(dir: Path, records: Seq[(String, Int)] = Seq(
      "2020-08-27T06:20:26.900Z" -> 100, "2020-08-27T08:30:00Z" -> 200))
      : String = {
    val f = dir.resolve("raw.json")
    Files.writeString(f, records.map { case (start, user) =>
      s"""{"EventStart": "$start", "UserId": $user}""" }
      .mkString("[", ",\n", "]"))
    f.toString
  }

  private def service(tmp: Path, wh: Warehouse) = new ExportService(spark,
    ServiceConfig(startTime = startTime, exportDuration = Duration.ofHours(1),
      backoff = Duration.ofMillis(1)),
    new LocalFixtureSource(spark, tmp.resolve("raw.json").toString),
    new HadoopStorage(tmp.resolve("stage").toString), Some(wh),
    pollInterval = Duration.ofMillis(1), now = () => frozenNow)

  private def userIds(wh: ParquetWarehouse): Seq[String] =
    wh.readTable().select("UserId").collect().map(_.getString(0)).toSeq.sorted

  /** A warehouse of recovery flavor `name` under `tmp`, with a reader of
    * its loaded UserIds. Parquet and Derby/JDBC heal by deleting orphans;
    * the BigQuery flavor rewinds to the day start. */
  private def flavor(name: String, tmp: Path): (Warehouse, () => Seq[String]) =
    name match {
      case "parquet" =>
        val wh = new ParquetWarehouse(spark, tmp.resolve("wh").toString)
        (wh, () => userIds(wh))
      case "bigquery" =>
        val wh = new BigQueryParquetWarehouse(spark, tmp.resolve("wh").toString)
        (wh, () => userIds(wh))
      case "jdbc" =>
        val url = s"jdbc:derby:${tmp.resolve("db")};create=true"
        (new JdbcWarehouse(spark, url), () => spark.read
          .jdbc(url, "\"export\"", new java.util.Properties())
          .select(col("UserId").cast("string")).collect()
          .map(_.getString(0)).toSeq.sorted)
    }

  test("a retried window is loaded once: the loop heals before each retry") {
    // each input: its records, the window ends whose commit fails once
    // after the window's rows were appended, and the flavors it runs on
    val cases = Seq(
      // the first window and the third; neither starts a day, and the
      // first has no sync point to rewind from
      (Seq("2020-08-27T06:20:26.900Z" -> 100, "2020-08-27T08:30:00Z" -> 200),
        Set("2020-08-27T07:00:00Z", "2020-08-27T09:00:00Z"),
        Seq("parquet", "bigquery")),
      // the first window alone: no later rewind to the day start and its
      // truncating reload hides a first window appended twice
      (Seq("2020-08-27T06:20:26.900Z" -> 100, "2020-08-27T08:30:00Z" -> 200),
        Set("2020-08-27T07:00:00Z"), Seq("parquet", "bigquery", "jdbc")),
      // a window whose only row sits exactly at its start, which is the
      // committed sync point: a heal that keeps `EventStart == sync`
      // loads that row twice
      (Seq("2020-08-27T07:00:00Z" -> 300), Set("2020-08-27T08:00:00Z"),
        Seq("parquet", "bigquery", "jdbc")))
    val lastEnd = Instant.parse("2020-08-27T09:00:00Z")
    for ((records, failingAt, names) <- cases; name <- names) {
      val tmp = Files.createTempDirectory("graft-sync-retry")
      writeFixture(tmp, records)
      val (wh, loadedIds) = flavor(name, tmp)
      val failing = failingAt.map(Instant.parse)
      val failed = scala.collection.mutable.Set[Instant]()
      val flaky = new ForwardingWarehouse(wh) {
        override def saveSyncPoint(bundleEnd: Instant): Unit =
          if (failing(bundleEnd) && failed.add(bundleEnd))
            throw new java.io.IOException(s"commit of $bundleEnd failed")
          else super.saveSyncPoint(bundleEnd)
      }
      val bundles = service(tmp, flaky).runUntilCaughtUp(maxBundles = 40)
      val clue = s"$records on $name"
      assert(failed == failing, clue)
      assert(loadedIds() == records.map(_._2.toString).sorted, clue)
      assert(bundles.last.end == lastEnd, clue)
      assert(wh.lastSyncPoint().contains(lastEnd), clue)
      if (name != "bigquery") // no rewind: each window is exported once
        assert(bundles.map(_.start) == (0 until 3).map(h =>
          startTime.plus(Duration.ofHours(h))), clue)
    }
  }

  test("recover keeps a row whose EventStart does not parse and drops the orphan") {
    val tmp = Files.createTempDirectory("graft-sync-blank")
    writeFixture(tmp)
    for (bigQuery <- Seq(false, true)) {
      val dir = tmp.resolve(s"wh-$bigQuery").toString
      val wh = if (bigQuery) new BigQueryParquetWarehouse(spark, dir)
        else new ParquetWarehouse(spark, dir)
      service(tmp, wh).runUntilCaughtUp(maxBundles = 1)
      val sync = Instant.parse("2020-08-27T07:00:00Z")
      assert(wh.lastSyncPoint().contains(sync))
      // a record staged without EventStart, and a row loaded past the
      // sync point, both in the sync point's day
      val cols = wh.getExportTableColumns()
      Seq("300" -> "", "999" -> "2020-08-27T07:30:00Z").foreach {
        case (user, start) =>
          ExportSchemaRow.blankRow(spark, cols, "EventStart" -> start,
            "UserId" -> user).withColumn("day", lit("2020-08-27"))
            .write.mode("append").partitionBy("day").parquet(s"$dir/data")
      }
      assert(wh.maxEventStart(sync)
        .contains(Instant.parse("2020-08-27T07:30:00Z")))
      if (bigQuery) // the orphan rewinds the sync point to the day start
        assert(wh.lastSyncPoint().contains(Instant.parse("2020-08-27T00:00:00Z")))
      else {
        service(tmp, wh).recover()
        assert(userIds(wh) == Seq("100", "300"))
      }
    }
  }

  test("building a warehouse or upserting a batch leaves the session's partition-overwrite mode alone") {
    val tmp = Files.createTempDirectory("graft-sync-conf")
    val key = "spark.sql.sources.partitionOverwriteMode"
    val before = spark.conf.getOption(key)
    new ParquetWarehouse(spark, tmp.resolve("wh").toString)
    val s = spark
    import s.implicits._
    graft.streaming.EventStream.upsertBatch(
      Seq(java.sql.Timestamp.from(startTime)).toDF("window_start"), 0L,
      tmp.resolve("upserts").toString)
    val docs = (0 until 200).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    val out = tmp.resolve("shards").toString
    graft.operators.Sharding.writeShards(docs, "doc_id", 4, out)
    graft.operators.Sharding.writeShards(docs, "doc_id", 2, out)
    val back = spark.read.parquet(out)
    assert(back.count() == 200)
    assert(back.select("shard").distinct().collect().map(_.getInt(0))
      .sorted.toSeq == Seq(0, 1))
    assert(spark.conf.getOption(key) == before)
  }

  test("a sync-point commit that fails part-way leaves the previous one; a rerun loads the window once") {
    val sc = spark.sparkContext
    sc.hadoopConfiguration.set("fs.partialwrite.impl",
      classOf[PartialWriteFs].getName)
    for (bigQuery <- Seq(false, true)) {
      val tmp = Files.createTempDirectory("graft-sync-partial")
      writeFixture(tmp)
      val dir = s"partialwrite://${tmp.resolve("wh")}"
      val wh = if (bigQuery) new BigQueryParquetWarehouse(spark, dir)
        else new ParquetWarehouse(spark, dir)
      service(tmp, wh).runUntilCaughtUp(maxBundles = 2)
      val committed = Instant.parse("2020-08-27T08:00:00Z")
      assert(wh.lastSyncPoint().contains(committed))
      // the third window loads, then its commit dies mid-write
      PartialWriteFs.armed.set(1)
      val e = intercept[java.io.IOException](service(tmp, wh).processNext())
      assert(e.getMessage.contains("part-way"), s"bigQuery=$bigQuery")
      assert(PartialWriteFs.armed.get == 0)
      assert(StorageSyncPoint.read(new HadoopStorage(dir, sc.hadoopConfiguration))
        .contains(committed))
      assert(userIds(wh) == Seq("100", "200"))
      // no temp object is left beside the sync object
      assert(Files.list(tmp.resolve("wh")).toArray.map(_.toString)
        .forall(!_.endsWith(".tmp")))
      val rerun = service(tmp, wh).runUntilCaughtUp(maxBundles = 20)
      assert(rerun.last.end == Instant.parse("2020-08-27T09:00:00Z"))
      assert(userIds(wh) == Seq("100", "200"), s"bigQuery=$bigQuery")
      assert(wh.lastSyncPoint().contains(Instant.parse("2020-08-27T09:00:00Z")))
    }
  }

  test("a table holding an older `_sync` directory and no sync object is refused") {
    val tmp = Files.createTempDirectory("graft-sync-old")
    val wh = new ParquetWarehouse(spark, tmp.resolve("wh").toString)
    assert(wh.lastSyncPoint().isEmpty)
    Files.createDirectories(tmp.resolve("wh").resolve("_sync"))
    val e = intercept[IllegalStateException](wh.lastSyncPoint())
    assert(e.getMessage.contains(tmp.resolve("wh").resolve("_sync").toString))
    // a committed sync object is what the warehouse reads
    wh.saveSyncPoint(startTime)
    assert(wh.lastSyncPoint().contains(startTime))
  }

  test("reading and committing the sync point runs no Spark job") {
    val tmp = Files.createTempDirectory("graft-sync-jobs")
    writeFixture(tmp)
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    for (bigQuery <- Seq(false, true)) {
      val dir = tmp.resolve(s"wh-$bigQuery").toString
      val wh = if (bigQuery) new BigQueryParquetWarehouse(spark, dir)
        else new ParquetWarehouse(spark, dir)
      service(tmp, wh).runUntilCaughtUp(maxBundles = 20)
      ListenerBusDrain(sc)
      sc.addSparkListener(listener)
      try {
        jobs.set(0)
        wh.saveSyncPoint(Instant.parse("2020-08-28T00:00:00Z"))
        assert(wh.lastSyncPoint().contains(Instant.parse("2020-08-28T00:00:00Z")))
        ListenerBusDrain(sc)
        assert(jobs.get == 0, s"bigQuery=$bigQuery")
      } finally sc.removeSparkListener(listener)
    }
  }
}

/** Forwards every call to `in`. */
class ForwardingWarehouse(in: Warehouse) extends Warehouse {
  override def initExportTable(schema: Seq[Field]): Boolean =
    in.initExportTable(schema)
  override def getExportTableColumns(): Seq[String] = in.getExportTableColumns()
  override def applyExportSchema(schema: Seq[Field]): Unit =
    in.applyExportSchema(schema)
  override def loadToWarehouse(csvRef: String, bundleStart: Instant,
                               truncateDay: Boolean): Unit =
    in.loadToWarehouse(csvRef, bundleStart, truncateDay)
  override def loadRows(rows: DataFrame, storage: Storage, name: String,
                        bundleStart: Instant, truncateDay: Boolean): Unit =
    in.loadRows(rows, storage, name, bundleStart, truncateDay)
  override def lastSyncPoint(): Option[Instant] = in.lastSyncPoint()
  override def saveSyncPoint(bundleEnd: Instant): Unit =
    in.saveSyncPoint(bundleEnd)
  override def removeOrphanedRecords(syncPoint: Instant): Unit =
    in.removeOrphanedRecords(syncPoint)
}

/** Local file system under the `partialwrite` scheme. While armed, a write
  * of a sync object writes half of its bytes and then fails, the way a
  * full disk or a dropped connection cuts a write short. */
class PartialWriteFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("partialwrite:///")
  override def create(f: org.apache.hadoop.fs.Path, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    val out = super.create(f, overwrite, bufferSize, replication, blockSize,
      progress)
    if (!f.getName.contains(StorageSyncPoint.SyncFileName) ||
        PartialWriteFs.armed.getAndUpdate(n => (n - 1).max(0)) == 0) out
    else new org.apache.hadoop.fs.FSDataOutputStream(
      new java.io.OutputStream {
        override def write(b: Int): Unit = out.write(b)
        override def write(b: Array[Byte], off: Int, len: Int): Unit = {
          out.write(b, off, len / 2)
          out.hflush()
          throw new java.io.IOException(s"write of $f failed part-way")
        }
        override def close(): Unit = out.close()
      }, null)
  }
}

object PartialWriteFs {
  /** How many sync-object writes are still to fail. */
  val armed = new AtomicInteger()
}
