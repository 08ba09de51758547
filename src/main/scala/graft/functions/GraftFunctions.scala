package graft.functions

import org.apache.spark.sql.{Column, GraftColumns, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain,
  Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** graft's native Catalyst expressions, as Columns and as SQL functions.
  *
  * Each Column façade builds its expression directly through
  * [[org.apache.spark.sql.GraftColumns]], so a query needs nothing
  * registered on the session that runs it. The SQL names come from one
  * table, [[sqlFunctions]]: [[GraftExtensions]] injects it into every
  * session built with
  * `spark.sql.extensions=graft.functions.GraftExtensions`, and
  * [[register]] installs it on one existing session.
  */
object GraftFunctions {

  /** One SQL function: its name, usage line and expression builder. */
  final case class SqlFunction(name: String, usage: String,
                               build: Seq[Expression] => Expression) {
    def identifier: FunctionIdentifier = FunctionIdentifier(name)
    // the full 11-arg constructor is the only non-deprecated way to carry
    // a usage string; "built-in" is the one registry-accepted source tag
    // for JVM expressions
    def info: ExpressionInfo = new ExpressionInfo("graft", null, name, usage,
      "", "", "", "", "", "", "built-in")
  }

  /** Every SQL name graft installs. */
  val sqlFunctions: Seq[SqlFunction] = Seq(
    SqlFunction("cosine_sim",
      "cosine_sim(a, b) - cosine similarity of two float vectors",
      e => CosineSimilarity(e(0), e(1))),
    SqlFunction("minhash_sig",
      "minhash_sig(tokens, k, n, md5, bands) - MinHash signature / LSH band keys",
      e => MinHashSig(e(0), e(1), e(2), e(3), e(4))),
    SqlFunction("hyperplane_lsh",
      "hyperplane_lsh(vec, planes) - sign-bit LSH bucket id",
      e => HyperplaneLsh(e(0), e(1))),
    SqlFunction("word_shingles",
      "word_shingles(tokens, n) - word n-gram shingles",
      e => WordShingles(e(0), e(1))),
    SqlFunction("simhash_md5",
      "simhash_md5(tokens) - portable 64-bit SimHash hex",
      e => SimHashMd5(e(0))),
    SqlFunction("cosine_exact",
      "cosine_exact(a, b) - decimal-exact (oracle-bitwise) cosine",
      e => CosineExactDecimal(e(0), e(1))),
    SqlFunction("nearest_cells",
      "nearest_cells(vec, centroids, probes, exact) - map-side IVF cell assignment",
      e => NearestCells(e(0), e(1), e(2), e(3))),
    SqlFunction("hex_hamming",
      "hex_hamming(a, b) - Hamming distance of two hex simhashes",
      e => HexHamming(e(0), e(1))),
    SqlFunction("pq_adc",
      "pq_adc(codes, luts, qnorm, nsq) - PQ asymmetric-distance cosine",
      e => AdcCosine(e(0), e(1), e(2), e(3))),
    SqlFunction("bpe_encode",
      "bpe_encode(tokens, merges) - one-pass BPE subword tokenization",
      e => BpeEncode(e(0), e(1))),
    SqlFunction("cdc_pairs",
      "cdc_pairs(text, w) - content-defined chunk [start,end) pairs",
      e => CdcPairs(e(0), e(1))),
    SqlFunction("blocklist_hits",
      "blocklist_hits(text, patterns) - per-pattern greedy hit counts",
      e => BlocklistHits(e(0), e(1))),
    SqlFunction("char_entropy",
      "char_entropy(text) - character-level Shannon entropy",
      e => CharEntropy(e(0))),
    SqlFunction("map_min_sum",
      "map_min_sum(a, b) - sum of min(a[t], b[t]) over two tf maps",
      e => MapMinSum(e(0), e(1))),
    // Spark's own runtime-filter bloom expressions (catalyst internal,
    // not exposed as SQL functions): the decontamination path builds an
    // eval-set bloom distributedly (one binary scalar to the driver) and
    // probes it map-side, the machinery InjectRuntimeFilter uses for
    // join pruning
    SqlFunction("bloom_agg",
      "bloom_agg(hashed, items, bits) - distributed bloom-filter build",
      e => new BloomFilterAggregate(e(0), e(1), e(2)).toAggregateExpression()),
    SqlFunction("bloom_might_contain",
      "bloom_might_contain(bloom, hashed) - map-side bloom probe",
      e => BloomFilterMightContain(e(0), e(1))))

  /** Installs [[sqlFunctions]] on `spark`, for plain SQL on a session
    * built without [[GraftExtensions]]; a function of the same name on the
    * session is replaced. The Column façades below never need it. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach(f => reg.registerFunction(f.identifier, f.info, f.build))
  }

  private def column(e: Expression): Column = GraftColumns.column(e)
  private def x(c: Column): Expression = GraftColumns.expression(c)

  /** One-pass BPE subword tokenization of a token array against a
    * foldable merge-table literal (see [[BpeEncode]]). */
  def bpe_encode(tokens: Column, merges: Column): Column =
    column(BpeEncode(x(tokens), x(merges)))

  /** Hamming distance between 16-hex-char simhashes as one native pass
    * (see [[HexHamming]]). */
  def hex_hamming(a: Column, b: Column): Column =
    column(HexHamming(x(a), x(b)))

  /** Map-side IVF cell assignment: `probes` nearest centroids of `vec`
    * against a literal centroid array (see [[NearestCells]]). */
  def nearest_cells(vec: Column, centroids: Column, probes: Int,
                    exact: Boolean): Column =
    column(NearestCells(x(vec), x(centroids), Literal(probes),
      Literal(exact)))

  /** Decimal-exact (oracle-bitwise) cosine as one native pass
    * (see [[CosineExactDecimal]]). */
  def cosine_exact(a: Column, b: Column): Column =
    column(CosineExactDecimal(x(a), x(b)))

  /** Σ min(a[t], b[t]) over two string→long tf maps as one native pass
    * (see [[MapMinSum]]). */
  def map_min_sum(a: Column, b: Column): Column =
    column(MapMinSum(x(a), x(b)))

  /** Portable 64-bit SimHash (hex string) over a token array. */
  def simhash_md5(tokens: Column): Column = column(SimHashMd5(x(tokens)))

  /** One-pass word n-gram shingles over a token array. */
  def word_shingles(tokens: Column, n: Int): Column =
    column(WordShingles(x(tokens), Literal(n)))

  /** Codegen'd content-defined chunk [start,end) pairs (see
    * [[CdcPairs]]). */
  def cdc_pairs(text: Column, w: Int): Column =
    column(CdcPairs(x(text), Literal(w)))

  /** Codegen'd cosine similarity over two array<float> columns. */
  def cosine_sim(a: Column, b: Column): Column =
    column(CosineSimilarity(x(a), x(b)))

  /** One-pass MinHash signature over a token array (see [[MinHashSig]]). */
  def minhash_sig(tokens: Column, k: Int, shingleN: Int, useMd5: Boolean): Column =
    minhash_bands(tokens, k, shingleN, useMd5, 0)

  /** One-pass MinHash LSH band keys (signature + banding fused). */
  def minhash_bands(tokens: Column, k: Int, shingleN: Int, useMd5: Boolean,
                    bands: Int): Column =
    column(MinHashSig(x(tokens), Literal(k), Literal(shingleN),
      Literal(useMd5), Literal(bands)))

  /** One-pass ADC cosine for PQ search (see [[AdcCosine]]). */
  def pq_adc(codes: Column, luts: Column, qnorm: Column,
             nsq: Column): Column =
    column(AdcCosine(x(codes), x(luts), x(qnorm), x(nsq)))

  /** Codegen'd random-hyperplane LSH bucket id (see [[HyperplaneLsh]]). */
  def hyperplane_lsh(vec: Column, planes: Int): Column =
    column(HyperplaneLsh(x(vec), Literal(planes)))

  /** Per-pattern greedy hit counts of a string against a foldable
    * pattern-array literal, one automaton walk per row (see
    * [[BlocklistHits]]). */
  def blocklist_hits(text: Column, patterns: Column): Column =
    column(BlocklistHits(x(text), x(patterns)))

  /** Character-level Shannon entropy of a string in bits (see
    * [[CharEntropy]]). */
  def char_entropy(text: Column): Column = column(CharEntropy(x(text)))

  /** Distributed bloom-filter build over a LONG column (feed it
    * `xxhash64(...)`): Spark's own `BloomFilterAggregate`, yielding the
    * serialized filter as one binary scalar. */
  def bloom_agg(hashed: Column, expectedItems: Long, numBits: Long): Column =
    column(new BloomFilterAggregate(x(hashed), Literal(expectedItems),
      Literal(numBits)).toAggregateExpression())

  /** Map-side bloom probe (`BloomFilterMightContain`): `bloom` must be a
    * foldable binary literal; `hashed` the same `xxhash64` used at build. */
  def bloom_might_contain(bloom: Column, hashed: Column): Column =
    column(BloomFilterMightContain(x(bloom), x(hashed)))
}
