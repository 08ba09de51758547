package graft

import java.time.{Duration, Instant}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.schema.ExportSchema
import graft.transform.{ExportTransform, ValueFormat}

/** Record-pipeline parity tests (reference behavior:
  * internal/service_test.go TestTransformExportJSONRecord and
  * warehouse value-conversion tests, re-derived). */
class TransformSpec extends SparkSpec {

  private def fixtureDf = {
    val s = spark
    import s.implicits._
    Seq(
      ("2020-08-27T06:20:26.900Z", "click", 7L, "https://x.test/a?q=1",
        "bar", 1.5, "line1\nline2"),
      ("2020-08-27T07:00:00Z", "custom", 8L, "https://x.test/b",
        "baz,qux", 42.0, "plain")
    ).toDF("eventstart", "EVENTTYPE", "UserId", "PageUrl",
      "evt_foo_str", "evt_price_real", "EventTargetText")
  }

  test("staged strings: live order, case-insensitive match, custom-var spillover") {
    val schema = ExportSchema.reconcileWithExisting(
      Seq("EventStart", "EventType", "UserId", "PageUrl", "CustomColumn",
        "EventTargetText", "CustomVars"))
    val out = ExportTransform.toStagedStrings(fixtureDf, schema)
    assert(out.columns.take(7).toSeq == Seq("EventStart", "EventType",
      "UserId", "PageUrl", "CustomColumn", "EventTargetText", "CustomVars"))
    val rows = out.orderBy(col("EventStart")).collect()
    val r0 = rows(0)
    // Go RFC3339Micro trailing-zero trim: .900 -> .9
    assert(r0.getAs[String]("EventStart") == "2020-08-27T06:20:26.9Z")
    assert(r0.getAs[String]("EventType") == "click")
    assert(r0.getAs[String]("UserId") == "7")
    // DB-only column -> empty string
    assert(r0.getAs[String]("CustomColumn") == "")
    // newline sanitization
    assert(r0.getAs[String]("EventTargetText") == "line1 line2")
    // custom vars keep original key case, values stringified
    val cv0 = r0.getAs[String]("CustomVars")
    assert(cv0.contains("\"evt_foo_str\":\"bar\""))
    assert(cv0.contains("\"evt_price_real\":\"1.5\""))
    // whole-second timestamp drops the fraction entirely
    assert(rows(1).getAs[String]("EventStart") == "2020-08-27T07:00:00Z")
  }

  test("absent source fields render as empty strings") {
    val schema = ExportSchema.reconcileWithExisting(Seq())
    val out = ExportTransform.toStagedStrings(fixtureDf, schema)
    val r = out.orderBy(col("EventStart")).collect()(0)
    assert(r.getAs[String]("PageRefererUrl") == "")
    assert(r.getAs[String]("IndvId") == "")
    assert(out.columns.length == 59)
  }

  test("goNumber renders whole doubles without .0") {
    val s = spark
    import s.implicits._
    val df = Seq((42.0, 1.5)).toDF("a", "b")
      .select(ValueFormat.goNumber(col("a")).as("a"),
        ValueFormat.goNumber(col("b")).as("b"))
    val r = df.collect()(0)
    assert(r.getString(0) == "42" && r.getString(1) == "1.5")
  }

  test("tumbling window alignment truncates to duration boundary (P8)") {
    val d = Duration.ofHours(1)
    assert(ExportTransform.nextEndTime(
      Instant.parse("2020-08-27T06:20:00Z"), d) ==
      Instant.parse("2020-08-27T07:00:00Z"))
    assert(ExportTransform.nextEndTime(
      Instant.parse("2020-08-27T06:00:00Z"), d) ==
      Instant.parse("2020-08-27T07:00:00Z"))
    // 24h windows align to UTC midnight
    assert(ExportTransform.nextEndTime(
      Instant.parse("2020-08-27T05:00:00Z"), Duration.ofHours(24)) ==
      Instant.parse("2020-08-28T00:00:00Z"))
  }
}
