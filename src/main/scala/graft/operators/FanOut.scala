package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** Scan-stage fan-out for unsplittable inputs (optimization guide §2.5,
  * "input skew: one huge unsplittable file ... repartition immediately
  * after the read").
  *
  * A parquet file is splittable only at ROW-GROUP boundaries, so a file
  * written as one row group scans as ONE task no matter how many cores
  * the cluster has — and every map-side stage downstream of that scan
  * (codec decode, tokenize+explode+partial-agg, hash/signature kernels)
  * inherits the single-task stage. The bench inputs are exactly that
  * shape (one file, one row group per table), so without this the
  * expensive per-row kernels run on 1 of N cores.
  *
  * Scale-adaptive by construction, not tuned for local mode: the guard
  * compares the frame's actual scan partitioning against the cluster's
  * `defaultParallelism`, so at production scale (thousands of row
  * groups per table) it is a structural NO-OP and the plan is
  * unchanged. When it does fire, the cost is one round-robin exchange
  * of the (by definition under-partitioned, hence small) input.
  *
  * Results are unaffected: a round-robin repartition only changes row
  * placement, and every consumer follows the repo-wide
  * order-independence discipline (decimal/integer aggregation, ordered
  * struct-min/max instead of positional collect_list).
  */
object FanOut {
  /** CONTRACT: `df` is an exchange-free BATCH frame (a scan plus narrow
    * projections/filters). The guard reads the partitioning via `.rdd`,
    * which on a plain scan plan compiles the physical plan without running
    * a job; on a shuffle-bearing frame under AQE,
    * `AdaptiveSparkPlanExec.doExecute` would run the upstream query
    * stages at plan time (work discarded and re-run at execution). So a
    * frame whose physical plan holds an exchange comes back unchanged,
    * unprobed: its partitioning is the exchange's, not a scan's. `.rdd`
    * throws on streaming frames, hence the require. */
  def apply(df: DataFrame): DataFrame = {
    require(!df.isStreaming, "FanOut is a batch-scan helper")
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (plan.exists(_.isInstanceOf[Exchange]) || df.rdd.getNumPartitions >= p)
      df
    else df.repartition(p)
  }
}
