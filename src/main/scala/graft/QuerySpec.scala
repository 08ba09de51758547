package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.registry.SparkHelpers

/** A deterministic slice of one input table: the rows whose `key` xxhash64
  * lands in residue 0 of `n` (see [[SparkHelpers.hashSample]]). */
final case class Slice(table: String, key: String, n: Int)

/** One query of the suite: its Spark body next to the DuckDB SQL that pins
  * its result, plus how the sf1-class bench pass treats it.
  *
  * @param tier              the sf1-class bench runs the body over this
  *                          slice of one input table: the exact-audit
  *                          queries whose cost is super-linear by design
  *                          price their plan shape without the quadratic
  *                          payload (tiered names and denominators ride the
  *                          bench JSON as `large_tiered`)
  * @param warmIndex         the first run against a corpus dir builds a
  *                          persisted artifact (bucketed tables, index,
  *                          model), so the bench runs it once untimed first
  * @param outputGrowthBound the result itself grows faster than the input
  *                          under fact scaling (clone-pair emitters), so a
  *                          large sf1/graded ratio is the correct answer,
  *                          not a scaling defect */
final case class QuerySpec(
    name: String,
    body: (SparkSession, String) => DataFrame,
    oracleSql: String,
    tier: Option[Slice] = None,
    warmIndex: Boolean = false,
    outputGrowthBound: Boolean = false) {

  /** The body the sf1-class pass times: the graded body itself, reading
    * its tier slice in place of the whole table when the spec has one. */
  def tierBody: (SparkSession, String) => DataFrame =
    if (tier.isEmpty) body
    else (s, dir) => SparkHelpers.tableSlice.withValue(tier)(body(s, dir))
}

object QuerySpec {

  /** Specs by name; a duplicate name is rejected here, when the registry
    * is built. */
  def index(specs: Seq[QuerySpec]): Map[String, QuerySpec] = {
    val dups = specs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    specs.map(q => q.name -> q).toMap
  }
}
