package graft

import java.nio.file.Files
import java.time.Instant

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.debug.codegenStringSeq

import graft.schema.ExportSchema
import graft.sinks.{CsvStage, HadoopStorage, ParquetWarehouse}
import graft.transform.ExportTransform

/** The bundle path's generated code stays small enough for the JIT:
  * HotSpot never compiles a method of over 8,000 bytecode bytes
  * (`DontCompileHugeMethods` is on by default), so a per-row loop over
  * that size runs interpreted for the life of the process. */
class CodegenSizeSpec extends SparkSpec {

  /** Every whole-stage-codegen subtree of `plan`, compiled: each method's
    * bytecode is under the huge-method limit. */
  private def assertJitSized(plan: SparkPlan, what: String): Unit = {
    val stages = codegenStringSeq(plan)
    assert(stages.nonEmpty, s"$what: no generated code")
    stages.foreach { case (subtree, _, stats) =>
      assert(stats.maxMethodCodeSize > 0, s"$what: did not compile\n$subtree")
      assert(stats.maxMethodCodeSize < CodeGenerator.DEFAULT_JVM_HUGE_METHOD_LIMIT,
        s"$what: a ${stats.maxMethodCodeSize}-byte method\n$subtree")
    }
  }

  /** The executed plans of the writes `body` runs. */
  private def writePlans(body: => Unit): Seq[SparkPlan] =
    actions(body).map(_._2.executedPlan)

  test("staging and load projections compile to methods the JIT takes") {
    val dir = Files.createTempDirectory("graft-codegen-size")
    val bundle = dir.resolve("bundle.json")
    Files.writeString(bundle,
      """[{"EventStart": "2020-08-27T06:20:26.9Z", "UserId": 7,
        |  "EventCumulativeLayoutShift": 0.5, "AppName": "a", "evt_x": 1}]"""
        .stripMargin)
    def staged(mobile: Boolean) = ExportTransform.toStagedStrings(
      spark.read.format("graft-export").load(bundle.toString),
      ExportSchema.canonical(mobile))
    val day = Instant.parse("2020-08-27T00:00:00Z")
    for (mobile <- Seq(false, true)) {
      assertJitSized(staged(mobile).queryExecution.executedPlan,
        s"staging projection, includeMobile=$mobile")

      // the plan the Parquet warehouses' one write per bundle executes
      val wh = new ParquetWarehouse(spark, dir.resolve(s"wh-$mobile").toString)
      wh.initExportTable(ExportSchema.canonical(mobile))
      val plans = writePlans(wh.loadRows(staged(mobile),
        new HadoopStorage(dir.resolve("stage").toString), "0.csv", day,
        truncateDay = true))
      assert(plans.size == 1, s"includeMobile=$mobile")
      assertJitSized(plans.head, s"direct write, includeMobile=$mobile")
      assert(wh.readTable().count() == 1)
    }

    val schema = ExportSchema.canonical(includeMobile = false)
    val wh = new ParquetWarehouse(spark, dir.resolve("wh").toString)
    wh.initExportTable(schema)
    val ref = CsvStage.writeBundleCsv(staged(mobile = false),
      new HadoopStorage(dir.resolve("stage").toString), "1.csv")
    assertJitSized(wh.readStaged(ref).queryExecution.executedPlan,
      "load projection")
    wh.loadToWarehouse(ref, day, truncateDay = true)
    assert(wh.readTable().count() == 1)
  }
}
