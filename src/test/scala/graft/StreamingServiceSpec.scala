package graft

import java.nio.file.{Files, Path}
import java.time.{Duration, Instant}

import graft.service.ServiceConfig
import graft.sinks.{HadoopStorage, ParquetWarehouse}
import graft.streaming.StreamingService

/** The streaming front door resumes from the committed sync point alone:
  * a rerun re-reads whatever its window needs, whichever file holds it. */
class StreamingServiceSpec extends SparkSpec {

  private val config = ServiceConfig(
    startTime = Instant.parse("2020-08-27T00:00:00Z"),
    exportDuration = Duration.ofHours(24), exportDelay = Duration.ofHours(24))

  /** One raw bundle file with a record at 06:00 on each of three days. */
  private def rawDir(tmp: Path): String = {
    val dir = Files.createDirectories(tmp.resolve("raw"))
    val records = Seq("27", "28", "29").map(d =>
      s"""{"EventStart": "2020-08-${d}T06:00:00Z", "EventType": "click", "UserId": 1$d}""")
    Files.writeString(dir.resolve("bundle.json"), records.mkString("[", ",\n", "]"))
    dir.toString
  }

  private def drain(tmp: Path, wh: graft.sinks.Warehouse, now: String) =
    StreamingService.runAvailableNow(spark, config, rawDir(tmp),
      new HadoopStorage(tmp.resolve("stage").toString), wh,
      tmp.resolve("ckpt").toString, () => Instant.parse(now))

  private def loaded(wh: ParquetWarehouse): Seq[String] =
    wh.readTable().select("EventStart").collect().map(_.get(0).toString)
      .toSeq.sorted

  test("a file's records past one run's sync point load on a later run") {
    val tmp = Files.createTempDirectory("graft-stream-straddle")
    val wh = new ParquetWarehouse(spark, tmp.resolve("wh").toString)
    // the 27th and 28th are mature; the 29th's window is not yet
    assert(drain(tmp, wh, "2020-08-30T00:00:00Z")
      .contains(Instant.parse("2020-08-29T00:00:00Z")))
    assert(loaded(wh).size == 2)
    assert(drain(tmp, wh, "2020-08-31T00:00:00Z")
      .contains(Instant.parse("2020-08-30T00:00:00Z")))
    assert(loaded(wh).size == 3 && loaded(wh).distinct.size == 3)
  }

  test("a failed sync-point commit reloads every row exactly once on rerun") {
    val tmp = Files.createTempDirectory("graft-stream-commit")
    val wh = new ParquetWarehouse(spark, tmp.resolve("wh").toString)
    var armed = true
    val failing = new ForwardingWarehouse(wh) {
      override def saveSyncPoint(bundleEnd: Instant): Unit =
        if (armed) { armed = false; throw new java.io.IOException("commit lost") }
        else super.saveSyncPoint(bundleEnd)
    }
    intercept[java.io.IOException](drain(tmp, failing, "2020-08-31T00:00:00Z"))
    assert(wh.lastSyncPoint().isEmpty)
    assert(drain(tmp, failing, "2020-08-31T00:00:00Z")
      .contains(Instant.parse("2020-08-30T00:00:00Z")))
    assert(loaded(wh).size == 3 && loaded(wh).distinct.size == 3)
  }
}
