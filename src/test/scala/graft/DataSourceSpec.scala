package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** DSv2 connector tests: schema, record split, and that projection +
  * time-range predicates actually reach the scan (S1 pushdown). */
class DataSourceSpec extends SparkSpec {

  private lazy val fixture: String = {
    val dir = Files.createTempDirectory("graft-dsv2")
    val json =
      """[
        |{"EventStart": "2020-08-27T06:20:26.9Z", "EventType": "click",
        | "UserId": 7, "PageUrl": "https://x/a", "evt_foo_str": "bar"},
        |{"EventStart": "2020-08-28T10:00:00Z", "EventType": "navigate",
        | "userid": 8, "pagenumevents": 3, "evt_n_real": 1.5},
        |{"EventStart": "2020-08-29T00:00:00Z", "EventType": "custom",
        | "UserId": 9},
        |{"not_a_record": true},
        |{"EventStart": "2020-08-30T12:00:00Z", "EventType": "load",
        | "UserId": 10}
        |]""".stripMargin
    Files.writeString(dir.resolve("bundle.json"), json)
    dir.toString
  }

  private def load = spark.read.format("graft-export").load(fixture)

  test("exposes the canonical 67-column typed schema: mobile fields before CustomVars") {
    assert(load.schema.length == 67)
    assert(load.schema("EventStart").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(load.schema.fieldNames.slice(58, 66).toSeq ==
      graft.schema.ExportSchema.mobileFields.map(_.dbName))
    assert(load.schema.fieldNames.last == "CustomVars")
  }

  test("reads records: case-insensitive fields, custom-var spillover, empty-fill") {
    // The record with no known fields is KEPT with nulls + custom spillover:
    // the reference's transform fills missing fields rather than dropping
    // records (internal/service.go transformExportJSONRecord).
    val all = load.collect()
    assert(all.length == 5)
    assert(all.count(_.isNullAt(all.head.fieldIndex("EventStart"))) == 1)
    val rows = load.filter(col("EventStart").isNotNull)
      .orderBy("EventStart").collect()
    assert(rows.length == 4)
    val r0 = rows(0)
    assert(r0.getAs[Long]("UserId") == 7L)
    assert(r0.getAs[String]("CustomVars") == """{"evt_foo_str":"bar"}""")
    val r1 = rows(1)
    assert(r1.getAs[Long]("UserId") == 8L)   // matched case-insensitively
    assert(r1.getAs[Int]("PageNumEvents") == 3)
    assert(r1.getAs[String]("CustomVars").contains("evt_n_real"))
    assert(rows(2).getAs[String]("CustomVars") == "{}")
  }

  test("time-range predicate is pushed into the scan") {
    val q = load.filter(col("EventStart") >= "2020-08-28" &&
      col("EventStart") < "2020-08-30")
    val rows = q.collect()
    assert(rows.length == 2)
    val scanDesc = q.queryExecution.executedPlan.toString
    assert(scanDesc.contains("graft-export"))
    // the v2 scan's pushed filters survive into the physical plan
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(optimized.contains("EventStart"))
  }

  test("gzipped bundles decompress transparently (S4)") {
    // the wire format is gzipped JSON; LocalFixtureSource reads through the
    // graft-export connector, which detects gzip by its magic bytes
    val dir = Files.createTempDirectory("graft-gz")
    val gz = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(dir.resolve("bundle.json.gz")))
    gz.write(
      """[{"EventStart": "2020-08-27T06:00:00Z", "EventType": "click",
        | "UserId": 1}]""".stripMargin.getBytes("UTF-8"))
    gz.close()
    val src = new graft.sources.LocalFixtureSource(spark,
      dir.resolve("bundle.json.gz").toString)
    val op = src.createExport(
      java.time.Instant.parse("2020-08-27T00:00:00Z"),
      java.time.Instant.parse("2020-08-28T00:00:00Z"),
      Seq("EventStart", "EventType", "UserId"))
    val df = src.getExport(src.getExportProgress(op)._2.get)
    assert(df.count() == 1)
    assert(df.collect()(0).getAs[String]("EventType") == "click")
  }

  test("two pushed bounds on the same side keep the tightest one") {
    // Catalyst may push several lower bounds; accepted filters are removed
    // from post-scan evaluation, so ALL must hold at the scan. The max
    // lower bound wins (exclusive beating inclusive on ties).
    val q = load.filter(col("EventStart") >= "2020-08-27" &&
      col("EventStart") > "2020-08-28T00:00:00Z" &&
      col("EventStart") <= "2020-08-30T23:00:00Z" &&
      col("EventStart") < "2020-08-30T00:00:01Z")
    val got = q.collect().map(_.getAs[Long]("UserId")).sorted.toSeq
    assert(got == Seq(8L, 9L))
  }

  test("missing EventStart is dropped only under a pushed time filter") {
    // timeGated path: a record with no parseable EventStart cannot satisfy
    // a pushed bound, so it is excluded at the scan...
    val gated = load.filter(col("EventStart") >= "2020-01-01").collect()
    assert(gated.length == 4)
    // ...but with no pushed filter the same record survives with a null.
    assert(load.collect().length == 5)
  }

  test("non-object array elements are skipped; object records still decode") {
    val dir = Files.createTempDirectory("graft-scalar")
    Files.writeString(dir.resolve("b.json"),
      """[42, {"EventStart": "2020-08-27T06:00:00Z", "EventType": "click",
        | "UserId": 1}, "stray", [1,2], {"EventStart":
        | "2020-08-27T07:00:00Z", "EventType": "load", "UserId": 2}]"""
        .stripMargin)
    val rows = spark.read.format("graft-export").load(dir.toString)
      .orderBy("EventStart").collect()
    assert(rows.map(_.getAs[Long]("UserId")).toSeq == Seq(1L, 2L))
  }

  test("bad array framing aborts the bundle") {
    val dir = Files.createTempDirectory("graft-badframe")
    Files.writeString(dir.resolve("b.json"),
      """{"EventStart": "2020-08-27T06:00:00Z"}""")
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.format("graft-export").load(dir.toString).collect()
    }
    assert(e.getMessage.contains("not a JSON array") ||
      Option(e.getCause).exists(_.getMessage.contains("not a JSON array")))
  }

  test("gzipped bundle decodes through the DSv2 streaming reader") {
    val dir = Files.createTempDirectory("graft-dsv2-gz")
    val gz = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(dir.resolve("b.json.gz")))
    gz.write(
      """[{"EventStart": "2020-08-27T06:00:00Z", "EventType": "click",
        | "UserId": 11, "evt_k": "v"}]""".stripMargin.getBytes("UTF-8"))
    gz.close()
    val rows = spark.read.format("graft-export").load(dir.toString).collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Long]("UserId") == 11L)
  }

  test("a gzipped bundle with no .gz suffix decodes (magic-byte gzip detection)") {
    val dir = Files.createTempDirectory("graft-gz-noext")
    val gz = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(dir.resolve("bundle")))
    gz.write(
      """[{"EventStart": "2020-08-27T06:00:00Z", "EventType": "click",
        | "UserId": 12}]""".stripMargin.getBytes("UTF-8"))
    gz.close()
    val rows = spark.read.format("graft-export")
      .load(dir.resolve("bundle").toString).collect()
    assert(rows.map(_.getAs[Long]("UserId")).toSeq == Seq(12L))
  }

  test("bundles are listed and opened with the session's Hadoop configuration") {
    // the scheme is known only to the session's configuration, as a
    // scheme or a credential set on sc.hadoopConfiguration would be
    spark.sparkContext.hadoopConfiguration.set("fs.sessiononly.impl",
      classOf[SessionOnlyFs].getName)
    val rows = spark.read.format("graft-export")
      .load(s"sessiononly://$fixture")
      .filter(col("EventStart") >= "2020-08-28").collect()
    assert(rows.map(_.getAs[Long]("UserId")).sorted.toSeq == Seq(8L, 9L, 10L))
  }

  test("micro-batch stream: incremental bundles, gzip + CustomVars parity") {
    val dir = Files.createTempDirectory("graft-dsv2-stream")
    val cp = Files.createTempDirectory("graft-dsv2-stream-cp")
    Files.writeString(dir.resolve("a.json"),
      """[{"EventStart": "2020-08-27T06:00:00Z", "EventType": "click",
        | "UserId": 1, "evt_custom_k": "v1"}]""".stripMargin)

    def drain(): Seq[org.apache.spark.sql.Row] = {
      val got = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
      spark.readStream.format("graft-export").load(dir.toString)
        .select("EventStart", "EventType", "UserId", "CustomVars")
        .writeStream
        .option("checkpointLocation", cp.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          got ++= batch.collect(); ()
        }
        .start().awaitTermination()
      got.toSeq
    }

    // first drain delivers the initial bundle, with the same custom-var
    // spillover the batch scan produces
    val first = drain()
    assert(first.map(_.getAs[Long]("UserId")) == Seq(1L))
    assert(first.head.getAs[String]("CustomVars").contains("evt_custom_k"))

    // a gzipped bundle lands; the next drain processes ONLY the new file
    // (seen-file offset), decoding gzip exactly like the batch path
    val gz = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(dir.resolve("b.json.gz")))
    gz.write(
      """[{"EventStart": "2020-08-28T06:00:00Z", "EventType": "load",
        | "UserId": 2}]""".stripMargin.getBytes("UTF-8"))
    gz.close()
    val second = drain()
    assert(second.map(_.getAs[Long]("UserId")) == Seq(2L))

    // nothing new: the stream drains zero batches, not duplicates
    assert(drain().isEmpty)
  }

  test("micro-batch stream gates the EventStart range at the scan (options)") {
    // at 100 TB the streaming scan must gate records during decode, not
    // after. Catalyst gives streaming scans no filter pushdown, so the
    // window rides as startTime/endTime source options; the executed
    // micro-batch plan's scan description must carry the bounds.
    val cp = Files.createTempDirectory("graft-dsv2-push-cp")
    val q = spark.readStream.format("graft-export")
      .option("startTime", "2020-08-28T00:00:00Z")
      .option("endTime", "2020-08-30T00:00:00Z")
      .load(fixture)
      .select("EventStart", "UserId")
      .writeStream
      .option("checkpointLocation", cp.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory").queryName("graft_push_probe")
      .start()
    q.awaitTermination()
    val exec = q.asInstanceOf[
        org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan.toString
    assert(exec.contains("pushed time range: Some((2020-08-28T00:00:00Z"),
      exec.take(3000))
    // and the gate worked: only the two in-range records arrived
    val got = spark.table("graft_push_probe").collect()
      .map(_.getAs[Long]("UserId")).sorted.toSeq
    assert(got == Seq(8L, 9L))
  }

  test("user-declared schema prunes the scan (the streaming pruning path)") {
    // batch scans get pruneColumns from Catalyst; streaming scans don't —
    // there, .schema(subset) is how a reader avoids materializing all 59
    // fields per record (supportsExternalMetadata)
    val subset = org.apache.spark.sql.types.StructType(
      graft.sources.ExportDataSource.schema.fields
        .filter(f => Set("EventStart", "UserId").contains(f.name)))
    val cp = Files.createTempDirectory("graft-dsv2-schema-cp")
    val got = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    val q = spark.readStream.format("graft-export").schema(subset)
      .load(fixture)
      .writeStream
      .option("checkpointLocation", cp.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= batch.collect(); ()
      }
      .start()
    q.awaitTermination()
    assert(got.head.schema.fieldNames.toSet == Set("EventStart", "UserId"))
    assert(got.map(_.getAs[Long]("UserId")).filter(_ != 0).sorted.toSeq ==
      Seq(7L, 8L, 9L, 10L))
    // and the executed plan's scan carries only the declared columns
    val exec = q.asInstanceOf[
        org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan.toString
    assert(!exec.contains("PageUrl"), exec.take(2000))
  }

  test("projection pushdown prunes the read schema") {
    val q = load.select("EventType", "UserId")
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(!scan.contains("PageUrl"))
    // 5 rows: 4 typed events + the empty-filled record (null EventType)
    val types = q.collect().map(_.getAs[String]("EventType"))
    assert(types.count(_ == null) == 1)
    assert(types.filter(_ != null).sorted.toSeq ==
      Seq("click", "custom", "load", "navigate"))
  }
}

/** Local file system under the `sessiononly` scheme, registered on the
  * session's Hadoop configuration by the test that uses it. */
class SessionOnlyFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("sessiononly:///")
}
