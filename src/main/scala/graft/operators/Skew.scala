package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities. AQE's skew-join handles most runtime skew;
  * salting is the explicit tool when one key dominates so heavily that even
  * split shuffle blocks hot-spot a single executor (the classic power-law
  * user_id / null-key cases at 100 TB).
  */
object Skew {
  private val Key = "user_id"

  /** Salted inner equi-join: the fact side gets a salt in [0, 8), the
    * dimension side is exploded 8 times, and the join key becomes
    * (key, salt) — spreading each hot key over 8 reducers. Exact same
    * result set as `fact.join(dim, keys)`, at the cost of replicating the
    * (small) dimension side.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame): DataFrame = {
    val salts = 8
    // deterministic salt from a stable row hash — reproducible, and unlike
    // rand() safe under task retries
    val salted = fact.withColumn("__salt",
      pmod(xxhash64(struct(fact.columns.map(col).toSeq: _*)), lit(salts)))
    val exploded = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1)).cast("array<long>")))
    salted.join(exploded, Seq(Key, "__salt")).drop("__salt")
  }

  /** Bloom-pruned join: when the dim side is SELECTIVE but too large to
    * broadcast as a hash relation, build a bloom filter over its join
    * keys (one distributed aggregate → one binary scalar on the driver)
    * and drop non-matching fact rows MAP-SIDE, BEFORE the shuffle — the
    * manual form of Spark's own InjectRuntimeFilter, for when the
    * optimizer won't fire it (subquery shapes, DSv2 sources, disabled
    * AQE). The result is EXACTLY the plain inner join: a bloom has no
    * false negatives, and the join itself kills the false positives —
    * only the shuffle volume changes. At 100 TB pruning a 1%-selective
    * join before the exchange is a 100× shuffle-byte cut. */
  def bloomPrunedJoin(fact: DataFrame, dim: DataFrame): DataFrame = {
    val factKey = "l_partkey"
    val dimKey = "p_partkey"
    val expectedItems = 1L << 20
    val numBits = 1L << 23
    val bloomRow = dim
      .agg(graft.functions.GraftFunctions.bloom_agg(
        xxhash64(col(dimKey)), expectedItems, numBits)).collect()(0)
    if (bloomRow.isNullAt(0)) return fact.limit(0).join(dim,
      col(factKey) === col(dimKey))
    val bloom = bloomRow.getAs[Array[Byte]](0)
    fact
      .filter(graft.functions.GraftFunctions.bloom_might_contain(
        lit(bloom), xxhash64(col(factKey))))
      .join(dim, col(factKey) === col(dimKey))
  }

  /** Partition-load audit for a candidate shuffle key: simulate hashing
    * the key into nParts partitions (md5-derived bucket — an
    * engine-portable stand-in for the partitioner hash; what matters is
    * that SAME KEY → SAME PARTITION, so co-located key mass adds up
    * exactly) and report each partition's row and key mass plus its
    * load ratio vs the uniform ideal. It answers the operational
    * question "if I shuffle/bucket on this key at this width, how bad is
    * the worst task". Run it BEFORE committing a join/bucketing layout;
    * a max load_ratio of 5 means the stage runs at 5× the uniform
    * wall-clock no matter how many executors are added, and the key
    * needs salting ([[saltedJoin]]) or AQE skew splitting.
    *
    * Returns (part, n_rows, n_keys, load_ratio) — nParts rows (empty
    * partitions included, ratio 0), load_ratio = n_rows / (total /
    * nParts), round(6).
    *
    * Scale shape: ONE key-keyed partial-combined count sees the corpus;
    * partition assignment is a map-side projection on the bounded key
    * table, the nParts rollup is trivial, and the ideal-load scalar
    * joins back as a 1-row broadcast. */
  def partitionSkewAudit(df: DataFrame, nParts: Int)
      : DataFrame = {
    require(nParts >= 1)
    val keyCounts = df.groupBy(col(Key).cast("string").as("k"))
      .agg(count(lit(1)).as("n"))
      .select(col("n"),
        pmod(conv(substring(md5(col("k")), 1, 8), 16, 10).cast("long"),
          lit(nParts.toLong)).as("part"))
    val parts = keyCounts.groupBy(col("part"))
      .agg(sum(col("n")).as("n_rows"), count(lit(1)).as("n_keys"))
    val spark = df.sparkSession
    import spark.implicits._
    val all = (0L until nParts.toLong).toDF("part")
    val tot = parts.agg(sum(col("n_rows")).as("n_total"))
    all.join(parts, Seq("part"), "left")
      .select(col("part"), coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        coalesce(col("n_keys"), lit(0L)).as("n_keys"))
      .crossJoin(broadcast(tot))
      .select(col("part"), col("n_rows"), col("n_keys"),
        round(col("n_rows").cast("double")
          / (col("n_total").cast("double") / lit(nParts.toDouble)), 6)
          .as("load_ratio"))
      .orderBy(col("part"))
  }
}
