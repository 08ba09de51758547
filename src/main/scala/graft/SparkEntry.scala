package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query has a deterministic total ORDER BY on both the Spark and
  * DuckDB side. Floating-point aggregates use decimal accumulation
  * (exact, order-independent) cast back to double so both engines produce
  * bit-identical values regardless of partial-aggregation order.
  */
object SparkEntry {

  /** Every query of the suite, one [[QuerySpec]] each, by name. */
  lazy val specs: Map[String, QuerySpec] = QuerySpec.index(Seq(
    registry.RelationalQueries.specs, registry.TimeSeriesQueries.specs,
    registry.TextAnalysisQueries.specs, registry.DedupQueries.specs,
    registry.SimilarityQueries.specs, registry.MultimodalQueries.specs,
    registry.StatsQueries.specs, registry.GraphQueries.specs).flatten)

  /** Each query's Spark body, by name. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map { case (n, q) => n -> q.body }

  /** Each query's DuckDB oracle SQL, by name. */
  lazy val oracleSql: Map[String, String] =
    specs.map { case (n, q) => n -> q.oracleSql }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Region revenue rollup: 4-table join with broadcast dims. */
  def entry(spark: SparkSession): DataFrame =
    queries("q05_region_revenue")(spark, "/root/testdata/sf0.001")
}
