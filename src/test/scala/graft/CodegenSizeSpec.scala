package graft

import java.nio.file.Files
import java.time.Instant

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.debug.codegenStringSeq

import graft.schema.ExportSchema
import graft.sinks.{CsvStage, HadoopStorage, ParquetWarehouse}
import graft.transform.ExportTransform

/** The bundle path's generated code stays small enough for the JIT:
  * HotSpot never compiles a method of over 8,000 bytecode bytes
  * (`DontCompileHugeMethods` is on by default), so a per-row loop over
  * that size runs interpreted for the life of the process. */
class CodegenSizeSpec extends SparkSpec {

  /** Every whole-stage-codegen subtree of `df`'s plan, compiled: each
    * method's bytecode is under the huge-method limit. */
  private def assertJitSized(df: DataFrame, what: String): Unit = {
    val stages = codegenStringSeq(df.queryExecution.executedPlan)
    assert(stages.nonEmpty, s"$what: no generated code")
    stages.foreach { case (subtree, _, stats) =>
      assert(stats.maxMethodCodeSize > 0, s"$what: did not compile\n$subtree")
      assert(stats.maxMethodCodeSize < CodeGenerator.DEFAULT_JVM_HUGE_METHOD_LIMIT,
        s"$what: a ${stats.maxMethodCodeSize}-byte method\n$subtree")
    }
  }

  test("staging and load projections compile to methods the JIT takes") {
    val dir = Files.createTempDirectory("graft-codegen-size")
    val bundle = dir.resolve("bundle.json")
    Files.writeString(bundle,
      """[{"EventStart": "2020-08-27T06:20:26.9Z", "UserId": 7,
        |  "EventCumulativeLayoutShift": 0.5, "AppName": "a", "evt_x": 1}]"""
        .stripMargin)
    for (mobile <- Seq(false, true)) {
      val staged = ExportTransform.toStagedStrings(
        spark.read.format("graft-export").load(bundle.toString),
        ExportSchema.canonical(mobile))
      assertJitSized(staged, s"staging projection, includeMobile=$mobile")
    }

    val schema = ExportSchema.canonical(includeMobile = false)
    val wh = new ParquetWarehouse(spark, dir.resolve("wh").toString)
    wh.initExportTable(schema)
    val ref = CsvStage.writeBundleCsv(ExportTransform.toStagedStrings(
      spark.read.format("graft-export").load(bundle.toString), schema),
      new HadoopStorage(dir.resolve("stage").toString), "1.csv")
    assertJitSized(wh.readStaged(ref), "load projection")
    wh.loadToWarehouse(ref, Instant.parse("2020-08-27T00:00:00Z"),
      truncateDay = true)
    assert(wh.readTable().count() == 1)
  }
}
