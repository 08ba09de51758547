package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic shuffle-and-shard for training-data output.
  *
  * The last pipeline stage before a trainer consumes the corpus: give
  * every document a pseudo-random but DETERMINISTIC position (so a retry,
  * a different engine, or a re-run emits byte-identical shards — the q63
  * split idiom, no rand()), bucket the corpus into `nShards` files of
  * near-equal size, and write one sorted parquet file per shard.
  *
  * Scale shape: the shard id and sort key are map-side projections of
  * md5(id); the only exchange is the single hash repartition on `shard`
  * (exactly the shuffle a 100 TB writer must pay to produce n files), and
  * the within-shard order comes from `sortWithinPartitions` — a local
  * sort, NOT a global `orderBy` (which would range-partition the corpus a
  * second time). With uniform md5 keys the shard sizes concentrate tightly
  * around n/nShards, so no shard becomes the straggler file.
  */
object Sharding {

  /** First 8 md5 hex chars of the id — the engine-portable uniform key
    * (lexicographic == numeric for fixed-width lowercase hex). */
  def shardKey(idCol: String): Column =
    substring(md5(col(idCol).cast("string")), 1, 8)

  /** Shard id: numeric value of [[shardKey]] mod `nShards`. */
  def shardOf(idCol: String, nShards: Int): Column =
    pmod(conv(shardKey(idCol), 16, 10).cast("long"), lit(nShards.toLong))
      .cast("int")

  /** Input plus (`shard`, `shard_key`) — the plan/write order is
    * (shard, shard_key, id). */
  def assignShards(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards > 0)
    df.withColumn("shard", shardOf(idCol, nShards))
      .withColumn("shard_key", shardKey(idCol))
  }

  /** Per-shard manifest: row/byte totals, distinct sources, and the
    * lexicographic key range each shard file will span. One
    * partial-combined aggregation — the manifest of a 100 TB write is a
    * nShards-row result computed without ever collecting the corpus. */
  def shardStats(df: DataFrame): DataFrame = {
    val idCol = "doc_id"
    val nShards = 16
    val sizeCol = "n_chars"
    val srcCol = "source"
    assignShards(df, idCol, nShards)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(sizeCol)).as("n_bytes"),
        count_distinct(col(srcCol)).as("n_sources"),
        min(col("shard_key")).as("first_key"),
        max(col("shard_key")).as("last_key"))
  }

  /** Write the corpus as `nShards` sorted parquet shard directories
    * (`shard=K/`). One shuffle (hash on `shard`), local within-shard sort,
    * one file per shard via the single post-shuffle partition. The sort
    * leads with `shard` so it already satisfies the dynamic-partition
    * writer's required ordering — otherwise the writer inserts its own
    * shard-only sort, which need not preserve the key order within a
    * shard. */
  def writeShards(df: DataFrame, idCol: String, nShards: Int,
                  outDir: String): Unit =
    assignShards(df, idCol, nShards)
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("shard_key"), col(idCol))
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)

  /** Rendezvous / highest-random-weight node assignment (Thaler &
    * Ravishankar 1996): the key goes to the node with the largest
    * md5("n<i>:<key>") weight. Ties (astronomically unlikely but the
    * contract must be total) break to the larger node id via the
    * "#<node>" suffix inside one fixed-width max-string reduction —
    * a pure map-side projection, `nNodes` hashes per key. */
  def hrwNode(nNodes: Int): Column = {
    val idCol = "k"
    require(nNodes > 0 && nNodes < 100)
    val tagged = transform(sequence(lit(0), lit(nNodes - 1)),
      i => concat(
        md5(concat(lit("n"), i.cast("string"), lit(":"),
          col(idCol).cast("string"))),
        lit("#"), lpad(i.cast("string"), 2, "0")))
    substring(array_max(tagged), 34, 2).cast("int")
  }

  /** Reshard-movement audit: when the shard count grows `n0 -> n1`,
    * what fraction of keys MOVE under (a) the mod-N assignment
    * ([[shardOf]] — nearly every key reshuffles, ~1-1/n1 of the corpus
    * in motion) vs (b) rendezvous hashing ([[hrwNode]] — only keys whose
    * argmax lands on a NEW node move, ~(n1-n0)/n1, the minimal-disruption
    * bound). The scout a 100 TB layout owner runs BEFORE committing a
    * reshard: the answer is the data-motion bill. Both assignments are
    * map-side md5 projections over the distinct key table; one
    * partial-combined aggregate; 2-row output. */
  def reshardAudit(df: DataFrame)
      : DataFrame = {
    val idCol = "doc_id"
    val n0 = 8
    val n1 = 9
    val keys = df.select(col(idCol).cast("string").as("k")).distinct()
    val agg1 = keys.select(
        (shardOf("k", n0) =!= shardOf("k", n1)).as("mod_moved"),
        (hrwNode(n0) =!= hrwNode(n1)).as("hrw_moved"))
      .agg(count(lit(1)).cast("long").as("n_keys"),
        sum(when(col("mod_moved"), 1L).otherwise(0L)).cast("long")
          .as("mod_m"),
        sum(when(col("hrw_moved"), 1L).otherwise(0L)).cast("long")
          .as("hrw_m"))
    agg1.select(explode(array(
        struct(lit("hrw").as("scheme"), col("n_keys"),
          col("hrw_m").as("n_moved")),
        struct(lit("mod").as("scheme"), col("n_keys"),
          col("mod_m").as("n_moved")))).as("r"))
      .select(col("r.scheme").as("scheme"), col("r.n_keys").as("n_keys"),
        col("r.n_moved").as("n_moved"),
        round(col("r.n_moved").cast("double")
          / col("r.n_keys").cast("double"), 6).as("moved_share"))
  }
}
