package graft
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.create("graft-plan-dump")
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    for (q <- args(0).split(",")) {
      // the judge-checkable artifact format (optimization guide §7.2)
      val p = SparkEntry.queries(q)(spark, dir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      println(s"===== $q =====")
      println(p)
    }
    spark.stop()
  }
}
