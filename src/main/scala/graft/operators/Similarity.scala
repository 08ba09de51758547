package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Similarity search over an embedding column (array<float>).
  *
  * Two tiers, as a 100 TB design demands:
  *   - [[bruteForceTopK]] — exact cosine top-k for a bounded query set:
  *     broadcast the queries, stream the corpus once, per-partition top-k
  *     via window rank. The corpus never shuffles; work is O(|Q| * |corpus|)
  *     with the codegen'd [[graft.functions.CosineSimilarity]] kernel.
  *   - [[lshTopK]] — random-hyperplane LSH: corpus and queries hash to
  *     sign-bit buckets map-side, candidates come from an equi-join on the
  *     bucket key, exact cosine re-ranks only candidates. Sub-linear reads
  *     per query at scale; recall tunable via #planes / #probes (multi-bucket
  *     emission of single-bit flips).
  *
  * Hyperplanes are pseudo-random but deterministic: component j of plane p
  * is a hash-derived value in [-1,1], so results are reproducible with no
  * stored model.
  */
object Similarity {
  private val VecCol = "embedding"
  private val LabelCol = "label"
  private val K = 5
  private val IdCol = "vec_id"

  /** Exact decimal-accumulated cosine — order-independent, engine-portable
    * (matches a DuckDB oracle bit-for-bit); use for correctness paths.
    * One native pass ([[graft.functions.CosineExactDecimal]]); the HOF
    * formulation below ([[cosineExactHof]]) defines the semantics and pins
    * the native kernel in a differential spec. */
  def cosineExact(a: Column, b: Column): Column =
    GraftFunctions.cosine_exact(a, b)

  /** Reference HOF formulation of [[cosineExact]] (interpreted, ~10x
    * slower): kept as the executable spec of the decimal semantics. */
  def cosineExactHof(a: Column, b: Column): Column = {
    val dec = "decimal(38,20)"
    def dsum(c: Column) = c.cast("double")
    val dot = aggregate(zip_with(a, b,
      (x, y) => (x.cast("double") * y.cast("double")).cast(dec)),
      lit(0).cast(dec), (acc, v) => (acc + v).cast(dec))
    val na = aggregate(transform(a,
      x => (x.cast("double") * x.cast("double")).cast(dec)),
      lit(0).cast(dec), (acc, v) => (acc + v).cast(dec))
    val nb = aggregate(transform(b,
      x => (x.cast("double") * x.cast("double")).cast(dec)),
      lit(0).cast(dec), (acc, v) => (acc + v).cast(dec))
    when(na === 0 || nb === 0, lit(0.0)).otherwise(
      dsum(dot) / (sqrt(dsum(na)) * sqrt(dsum(nb))))
  }

  /** Sign-bit LSH bucket id from `planes` deterministic random hyperplanes
    * — one codegen'd pass per row (see [[graft.functions.HyperplaneLsh]]). */
  def lshBuckets(vec: Column, planes: Int): Column =
    GraftFunctions.hyperplane_lsh(vec, planes)

  /** Per-query bounded top-k via the [[graft.functions.TopKAgg]] partial
    * aggregate: the shuffle carries one ≤m-element heap per (partition,
    * query) instead of every scored row. Expects columns (query_id,
    * neighbor_id); returns (query_id, hsim, neighbor_id, hrk) with hrk =
    * heap rank under (simKey desc, neighbor_id asc). Payload columns are
    * deliberately NOT threaded through the heap (each scored row pays the
    * aggregate's input encoding) — re-attach them to the tiny survivor set
    * with a broadcast join. */
  private def partialTopK(scored: DataFrame, simKey: Column,
                          m: Int): DataFrame = {
    val agg = udaf(new graft.functions.TopKAgg(m))
    scored.groupBy(col("query_id"))
      .agg(agg(simKey, col("neighbor_id")).as("top"))
      .select(col("query_id"), posexplode(col("top").getField("items")))
      .select(col("query_id"),
        col("col.sim").as("hsim"),
        col("col.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("hrk"))
  }

  /** Exact cosine top-k: for every query vector, the k nearest corpus
    * vectors (self-matches excluded). `queries` is expected to be small —
    * it is broadcast; the corpus is streamed once with no shuffle before
    * the final per-query top-k. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     exact: Boolean = false,
                     fanOutCorpus: Boolean = false): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_vec"))
    // fanOutCorpus: the |Q| x |corpus| scoring loop runs in the corpus
    // scan stage (the queries ride a broadcast), so a single-row-group
    // input scores on ONE task. Callers whose query set is CORPUS-SCALE
    // (the exact n^2 audits — q263's LOF kNN measured 9.5 -> 3.8 s) opt
    // in; for fixed small query panels the exchange is pure overhead
    // (q40/q72/q228 measured +0.4-0.7 s each with it always-on) and at
    // production partitioning the guard no-ops either way.
    val c0 = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_vec"))
    val c = if (fanOutCorpus) FanOut(c0) else c0
    if (!exact) {
      // one corpus pass; the partial top-k aggregate bounds the shuffle to
      // ≤k rows per (partition, query) — the heap order (rounded sim desc,
      // id asc) IS the output order, so no rank window at all
      val scored = c.join(Hints.boundedBroadcast(q, "query_set_contract"),
        col("query_id") =!= col("neighbor_id"))
        .withColumn("sim",
          round(GraftFunctions.cosine_sim(col("q_vec"), col("c_vec")), 6))
      partialTopK(scored, col("sim"), k)
        .select(col("query_id"), col("neighbor_id"),
          col("hsim").as("sim"), col("hrk").as("rk"))
    } else {
      // Two-phase: the codegen'd double kernel scans all pairs and the
      // bounded heap keeps a generous candidate margin per query; the
      // expensive decimal-exact (oracle-bitwise) cosine then re-scores
      // only candidates. The two kernels differ merely in FP summation
      // error (<1e-12), so a true top-k member cannot rank below
      // k + margin in phase 1. Survivor vectors re-attach via a broadcast
      // join of the |Q| x margin candidate set; the final rank window runs
      // over those rows only.
      val margin = k + 15
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("neighbor_id").asc)
      val scored = c
        .join(Hints.boundedBroadcast(q, "query_set_contract"),
          col("query_id") =!= col("neighbor_id"))
        .withColumn("fsim", GraftFunctions.cosine_sim(col("q_vec"), col("c_vec")))
      c.join(Hints.boundedBroadcast(
          partialTopK(scored, col("fsim"), margin), "topk_capped"),
          Seq("neighbor_id"))
        .join(Hints.boundedBroadcast(q, "query_set_contract"),
          Seq("query_id"))
        .withColumn("sim", round(cosineExact(col("q_vec"), col("c_vec")), 6))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .select(col("query_id"), col("neighbor_id"), col("sim"),
          col("rk").cast("int").as("rk"))
    }
  }

  /** Feature-hashing "embeddings" (the hashing trick, Weinberger et al.
    * 2009 — also the DSIR paper's hashed n-gram features): dim-bucket
    * token-count vectors under an md5-portable bucket hash. Model-free
    * and engine-portable, so they plug into every ANN operator here as a
    * drop-in baseline wherever a real model-embedding column would go
    * (q92 composes them with chunking + exact top-k into the full
    * chunk→embed→retrieve loop). One narrow shuffle keyed by the row id
    * (explode → partial-combined bucket counts → map assembly); md5 runs
    * once per token. Rows whose token array is empty/null are dropped
    * (no content to embed). Counts ≤ 2²⁴ are exact in the float32
    * output. */
  def hashEmbeddings(df: DataFrame, dim: Int): DataFrame = {
    val toksCol = "toks"
    require(dim > 0)
    val bucket = pmod(conv(substring(md5(col("tok")), 1, 8), 16, 10)
      .cast("long"), lit(dim.toLong))
    val counts = df
      .select(col(IdCol).as("id"), explode_outer(col(toksCol)).as("tok"))
      .filter(col("tok").isNotNull)
      .groupBy(col("id"), bucket.as("b"))
      .agg(count(lit(1)).cast("double").as("c"))
    counts.groupBy(col("id"))
      .agg(map_from_entries(collect_list(struct(col("b"), col("c"))))
        .as("m"))
      .select(col("id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => coalesce(element_at(col("m"), i.cast("long")), lit(0.0))
            .cast("float")).as("embedding"))
  }

  /** Hard-negative mining for contrastive / embedding training: for each
    * query vector, the k nearest corpus vectors whose `label` DIFFERS
    * from the query's (the "hard negatives" — close in embedding space,
    * wrong class). Same scale shape as [[bruteForceTopK]]: queries
    * broadcast, corpus streamed once, the label-mismatch predicate rides
    * the broadcast join (map-side — mismatching pairs never materialize),
    * and the bounded [[graft.functions.TopKAgg]] heap caps the shuffle at
    * ≤k rows per (partition, query). The candidate margin is re-scored
    * with the decimal-exact cosine (oracle-bitwise). Reads `vec_id`,
    * `embedding` and `label`. */
  def hardNegativesTopK(corpus: DataFrame, queries: DataFrame, k: Int)
      : DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_vec"), col("label").as("q_label"))
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_vec"), col("label").as("c_label"))
    val joinCond = col("query_id") =!= col("neighbor_id") &&
      !(col("q_label") <=> col("c_label"))
    // two-phase exact (see bruteForceTopK): fast-kernel heap with a
    // candidate margin, decimal-exact re-score on survivors only
    val margin = k + 15
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    val scored = c.join(
      Hints.boundedBroadcast(q, "query_set_contract"), joinCond)
      .withColumn("fsim", GraftFunctions.cosine_sim(col("q_vec"), col("c_vec")))
    c.join(Hints.boundedBroadcast(
        partialTopK(scored, col("fsim"), margin), "topk_capped"),
        Seq("neighbor_id"))
      .join(Hints.boundedBroadcast(q, "query_set_contract"),
        Seq("query_id"))
      .withColumn("sim", round(cosineExact(col("q_vec"), col("c_vec")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"),
        col("rk").cast("int").as("rk"))
  }

  /** Symmetric per-vector int8 quantization: scale = max|x| / 127,
    * q_j = floor(x_j / scale + 0.5) — 4x smaller vectors for ANN recall
    * stages at 100 TB, with the full-precision corpus kept only for final
    * re-ranking. floor(x + 0.5) is used instead of round() because both
    * engines define it identically (round() half-away vs half-even differs
    * between engines); all arithmetic is IEEE double, so the int codes are
    * engine-portable and oracle-checkable. Zero vectors quantize to zeros
    * with scale 0. */
  def quantizeInt8: Column = {
    val vec = col("embedding")
    val absMax = array_max(transform(vec, x => abs(x.cast("double"))))
    val scale = absMax / lit(127.0)
    struct(
      when(absMax === 0, transform(vec, _ => lit(0)))
        .otherwise(transform(vec,
          x => floor(x.cast("double") / scale + lit(0.5)).cast("int")))
        .as("codes"),
      round(scale, 9).as("scale"))
  }

  /** Per-dimension standardization of an embedding corpus (whitening
    * without rotation — the feature-scaling pass before clustering /
    * ANN / linear probes whenever dimensions carry different scales).
    * Shape at 100 TB: ONE partial-combined aggregate produces d stat
    * rows (d = vector dim), which broadcast back onto the element
    * stream — the corpus shuffles once for the stats and never for the
    * transform. Moments accumulate in DECIMAL(38,20) (exact, order-
    * independent), the z-score itself is IEEE double with one fixed op
    * order, so the output is oracle-exact; constant dimensions
    * (std = 0) standardize to 0. Returns (id, pos, z) rows. */
  def whiten(emb: DataFrame): DataFrame = {
    val el = emb
      .select(col(IdCol), posexplode(col(VecCol)).as(Seq("pos0", "v")))
      .select(col(IdCol), (col("pos0") + 1).cast("long").as("pos"),
        col("v").cast("double").as("x"))
    val stats = el.groupBy(col("pos"))
      .agg(
        (sum(col("x").cast("decimal(38,20)")).cast("double")
          / count(lit(1))).as("mean"),
        (sum((col("x") * col("x")).cast("decimal(38,20)")).cast("double")
          / count(lit(1))).as("ex2"))
      .select(col("pos"), col("mean"),
        sqrt(col("ex2") - col("mean") * col("mean")).as("std"))
    el.join(Hints.boundedBroadcast(stats, "vector_dim_domain"),
      Seq("pos"))
      .select(col(IdCol), col("pos"),
        when(col("std") === 0, lit(0.0))
          .otherwise(round((col("x") - col("mean")) / col("std"), 9))
          .as("z"))
  }

  /** The centroid set as a foldable literal Column — the "broadcast" of a
    * by-definition-small model (k × dim floats, driver-collected once) that
    * lets [[graft.functions.NearestCells]] assign cells as a pure
    * projection. At 100 TB the corpus never shuffles for assignment; only
    * the k×dim literal ships inside the serialized plan. */
  private def centroidLiteral(seeds: DataFrame, idCol: String,
                              vecCol: String): Column = {
    val rows = seeds.select(col(idCol).cast("long"), col(vecCol)).collect()
    require(rows.nonEmpty, "IVF needs at least one seed centroid")
    val cents: Seq[(Long, Seq[Float])] =
      rows.toSeq.map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
    typedlit(cents)
  }

  /** Lloyd-style IVF centroid training over cosine assignment: seed with
    * the k vectors of smallest (md5(id), id) — a deterministic
    * hash-order sample that works for ANY id space (sparse hashes,
    * snowflakes; seeding by `id < k` would pick an empty or skewed seed
    * set there) and plans as TakeOrderedAndProject (per-partition top-k,
    * driver merge — no global sort). Then iterate (assign to nearest
    * centroid -> re-average per cell with the
    * [[graft.functions.VectorAvg]] typed Aggregator). Assignment is a
    * map-side argmax against the collected centroid literal
    * ([[graft.functions.NearestCells]]) — each iteration is one
    * projection + one hash aggregate; vectors never shuffle (only
    * per-cell sum buffers do), and collecting the k centroids per round
    * cuts lineage by construction (no checkpoint primitive needed: the k ×
    * dim model is driver-resident between rounds, as Lloyd's requires). */
  def trainIvfCentroids(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    val vecAvg = org.apache.spark.sql.functions.udaf(graft.functions.VectorAvg)
    var centroids = emb
      .orderBy(md5(col("vec_id").cast("string")).asc, col("vec_id").asc)
      .limit(k)
      .select(col("vec_id").cast("long").as("cell_id"),
          col("embedding").as("c_vec"))
    for (_ <- 1 to iters) {
      val centLit = centroidLiteral(centroids, "cell_id", "c_vec")
      centroids = emb
        .select(col("embedding"),
          element_at(GraftFunctions.nearest_cells(col("embedding"), centLit,
            probes = 1, exact = false), 1).as("cell_id"))
        .groupBy(col("cell_id"))
        .agg(vecAvg(col("embedding")).as("c_vec"))
    }
    centroids
  }

  /** IVF-style approximate top-k: corpus vectors are assigned to their
    * nearest seed centroid (an inverted file of cells); a query searches
    * its `nprobe` nearest cells (corpus vectors stay single-celled, so a
    * (query, neighbor) pair occurs at most once and index size is
    * unchanged — nprobe trades candidate reads for recall). Seeds are
    * broadcast, assignment is map-side, and the candidate join is an
    * equi-join on cell id — per-query work is nprobe cell populations.
    * Cell assignment and the final ranking are decimal-exact
    * (oracle-bitwise). Reads `vec_id` and `embedding`. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, seeds: DataFrame, nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val centLit = centroidLiteral(seeds, "vec_id", "embedding")
    // Map-side assignment ([[graft.functions.NearestCells]]): the two-phase
    // exact semantics (fast-kernel top probes+1, decimal-exact re-rank) run
    // inside the expression, so assignment is a projection — no corpus×k
    // join, no per-vector window shuffle. The corpus flows scan → project →
    // cell equi-join untouched.
    def assign(df: DataFrame, id: String, vec: String,
               probes: Int): DataFrame = {
      val base = df.select(col("vec_id").as(id), col("embedding").as(vec))
      val cells =
        GraftFunctions.nearest_cells(col(vec), centLit, probes, exact = true)
      if (probes == 1)
        base.select(col(id), col(vec), element_at(cells, 1).as("cell_id"))
      else
        base.select(col(id), col(vec), explode_outer(cells).as("cell_id"))
    }
    val c = assign(corpus, "neighbor_id", "c_vec", probes = 1)
    val q = assign(queries, "query_id", "q_vec", probes = nprobe)
    val candidates = c.join(
      Hints.boundedBroadcast(q, "query_set_contract"), Seq("cell_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("fsim",
        GraftFunctions.cosine_sim(col("q_vec"), col("c_vec")))
    // bounded heap on the fast kernel, exact re-score of survivors only;
    // survivor vectors re-attach via broadcast joins of the candidate
    // set against the RAW corpus (re-deriving `c` would re-run the whole
    // cell-assignment subtree a second time)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_vec"))
      .join(Hints.boundedBroadcast(
        partialTopK(candidates, col("fsim"), K + 15), "topk_capped"),
        Seq("neighbor_id"))
      // one row per query even under nprobe > 1 probed cells
      .join(Hints.boundedBroadcast(q.select(col("query_id"), col("q_vec"))
        .dropDuplicates("query_id"), "query_set_contract"),
        Seq("query_id"))
      .withColumn("sim", round(cosineExact(col("q_vec"), col("c_vec")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= K)
      .select(col("query_id"), col("neighbor_id"), col("sim"),
        col("rk").cast("int").as("rk"))
  }

  /** Product-quantization codebooks: the embedding dimension is split into
    * `m` contiguous subspaces and each subspace gets its own `ksub`-centroid
    * codebook, trained with the same Lloyd loop as IVF
    * ([[trainIvfCentroids]], cosine assignment via the codegen'd
    * [[graft.functions.NearestCells]]). The model is m × ksub × (dim/m)
    * floats — driver-resident by construction, exactly like the IVF
    * centroid model, and small enough to serialize into any plan as a
    * literal. Returns codebooks(j)(c) = centroid c of subspace j, densely
    * renumbered 0..ksub-1 (Lloyd cells that lose every member drop out). */
  def trainPqCodebooks(emb: DataFrame, m: Int, ksub: Int, iters: Int)
      : Array[Array[Array[Float]]] = {
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    require(m > 0 && dim % m == 0, s"dim $dim must split into m=$m subspaces")
    val sub = dim / m
    (0 until m).toArray.map { j =>
      trainIvfCentroids(
          emb.select(col("vec_id"),
            slice(col("embedding"), j * sub + 1, sub).as("embedding")),
          ksub, iters)
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1).map(_._2)
    }
  }

  /** PQ-compressed approximate top-k (asymmetric distance): every corpus
    * vector is encoded map-side to `m` byte-sized codes (its nearest
    * centroid per subspace — dim floats become m small ints, a 16-32×
    * memory cut), and a query scores a code word WITHOUT reconstructing it:
    * cosine decomposes over the subspace blocks as
    *   cos(q, recon(codes)) = Σ_j lut_j[code_j] / (|q| · sqrt(Σ_j nsq_j[code_j]))
    * where lut_j[c] = dot(q_j, cb_j[c]) is a per-query lookup table (m ×
    * ksub doubles, built once per query row) and nsq_j[c] = |cb_j[c]|² is a
    * static model table. The scan over the corpus therefore reads ONLY the
    * code column — at 100 TB the float vectors stay in cold storage and the
    * hot ANN loop touches m bytes per vector plus table lookups.
    *
    * Plan shape mirrors [[bruteForceTopK]]: queries (with their LUTs)
    * broadcast, the corpus streams once with no shuffle, and the bounded
    * [[graft.functions.TopKAgg]] heap caps the exchange at k rows per
    * (partition, query). Returns (query_id, neighbor_id, sim, rk) with sim
    * the ADC cosine rounded to 6. Approximate by nature — gate on recall
    * against [[bruteForceTopK]], not on exact neighbor sets. */
  /** PQ code word for a vector column: one codegen'd argmax per subspace
    * — a pure projection. */
  private def pqCodesCol(codebooks: Array[Array[Array[Float]]]): Column = {
    val vecCol = col("c_vec")
    val sub = codebooks(0)(0).length
    def centLit(j: Int): Column = typedlit(codebooks(j).zipWithIndex.map {
      case (v, i) => (i.toLong, v.toSeq) }.toSeq)
    array(codebooks.indices.map { j =>
      element_at(GraftFunctions.nearest_cells(
        slice(vecCol, j * sub + 1, sub), centLit(j),
        probes = 1, exact = false), 1)
    }: _*)
  }

  /** Per-query ADC lookup tables: (luts, qnorm) columns for a query
    * vector. */
  private def pqQuerySide(codebooks: Array[Array[Array[Float]]])
      : (Column, Column) = {
    val vecCol = col("q_vec")
    val sub = codebooks(0)(0).length
    val cbLit = typedlit(codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    val dotd = (a: Column, b: Column) => aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val qsubs = array(codebooks.indices.map(j =>
      slice(vecCol, j * sub + 1, sub)): _*)
    (zip_with(qsubs, cbLit,
      (qs, cb) => transform(cb, cent => dotd(qs, cent))),
      sqrt(dotd(vecCol, vecCol)))
  }

  /** |codebook_j[c]|² model table as a foldable literal. */
  private def pqNsqLit(codebooks: Array[Array[Array[Float]]]): Column =
    typedlit(codebooks.map(_.map(v =>
      v.map(x => x.toDouble * x.toDouble).sum).toSeq).toSeq)

  def pqTopK(corpus: DataFrame, queries: DataFrame,
             codebooks: Array[Array[Array[Float]]], k: Int)
      : DataFrame = {
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
      "empty PQ codebook")
    // The encoded corpus is the PQ INDEX — m longs per vector — and it
    // must be pinned before the nested-loop scan: inside whole-stage
    // codegen the BNLJ defers the streamed side's projection into its
    // inner loop, so an unpinned encode re-runs once per (row, query)
    // PAIR (measured 10× the whole query at sf0.1). Pinning also matches
    // the operating mode: a pipeline encodes once, persists the index
    // (`Materializer.Persisted`), and every search scans codes only.
    val c = Materializer.Local(corpus
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_vec"))
      .select(col("neighbor_id"),
        pqCodesCol(codebooks).as("codes")))
    val nsqLit = pqNsqLit(codebooks)
    val (lutsCol, qnormCol) = pqQuerySide(codebooks)
    val q = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
      .withColumn("luts", lutsCol)
      .withColumn("qnorm", qnormCol)
      .select(col("query_id"), col("luts"), col("qnorm"))
    // native one-pass ADC ([[graft.functions.AdcCosine]]): the HOF
    // formulation ([[adcCosineHof]]) re-evaluates the 8-argmax encode child
    // once per subspace element after projection collapse — quadratic in m
    // on the hottest scan (measured 10× on the sf0.1 bench)
    val scored = c.join(Hints.boundedBroadcast(q, "query_set_contract"),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("fsim", GraftFunctions.pq_adc(col("codes"), col("luts"),
        col("qnorm"), nsqLit))
    partialTopK(scored, col("fsim"), k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("hsim"), 6).as("sim"), col("hrk").as("rk"))
  }

  /** The IVF-PQ INDEX of a corpus: coarse inverted file × product
    * quantization, the FAISS IVFPQ shape. One row per vector,
    * (neighbor_id, cell_id, codes), ~8 + m bytes each, built in a single
    * map-side projection (coarse cell + PQ codes, both codegen'd argmax
    * against foldable literals). This is the durable artifact a 100 TB
    * pipeline builds once and persists (parquet via
    * [[Materializer.Persisted]]); every later [[ivfPqSearch]] reads
    * (cell_id, codes) off disk and touches neither the float vectors nor
    * the assignment kernels. A query probes its `nprobe` nearest coarse
    * cells (an equi-join on cell id, so per-query work is the probed
    * cells' population, not the corpus) and scores candidates with the
    * native one-pass ADC kernel against its lookup tables. Recall knobs:
    * nprobe (coarse) × codebook size (fine). */
  def ivfPqIndex(corpus: DataFrame, seeds: DataFrame,
                 codebooks: Array[Array[Array[Float]]])
      : DataFrame = {
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
      "empty PQ codebook")
    val centLit = centroidLiteral(seeds, "vec_id", "embedding")
    corpus
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_vec"))
      .select(col("neighbor_id"),
        element_at(GraftFunctions.nearest_cells(col("c_vec"), centLit,
          probes = 1, exact = false), 1).as("cell_id"),
        pqCodesCol(codebooks).as("codes"))
  }

  /** Search an [[ivfPqIndex]] (in-memory or parquet-loaded): each query
    * probes its `nprobe` nearest coarse cells via a cell-id equi-join and
    * scores candidates with the native one-pass ADC kernel. The index side
    * is scan → equi-join → heap: per-query work is the probed cells'
    * code words, never the corpus. */
  def ivfPqSearch(index: DataFrame, queries: DataFrame, seeds: DataFrame,
                  codebooks: Array[Array[Array[Float]]], k: Int,
                  nprobe: Int = 1)
      : DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
      "empty PQ codebook")
    val centLit = centroidLiteral(seeds, "vec_id", "embedding")
    val (lutsCol, qnormCol) = pqQuerySide(codebooks)
    val q = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
      .withColumn("luts", lutsCol)
      .withColumn("qnorm", qnormCol)
      .select(col("query_id"), col("luts"), col("qnorm"),
        explode_outer(GraftFunctions.nearest_cells(col("q_vec"), centLit,
          probes = nprobe, exact = false)).as("cell_id"))
    val scored = index.join(
      Hints.boundedBroadcast(q, "query_set_contract"), Seq("cell_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("fsim", GraftFunctions.pq_adc(col("codes"), col("luts"),
        col("qnorm"), pqNsqLit(codebooks)))
    partialTopK(scored, col("fsim"), k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("hsim"), 6).as("sim"), col("hrk").as("rk"))
  }

  /** Reference HOF formulation of the ADC cosine (executable spec of
    * [[graft.functions.AdcCosine]]'s semantics, pinned by a differential
    * test — not for hot paths: projection collapse re-evaluates the code
    * children per element). */
  private[graft] def adcCosineHof(codes: Column, luts: Column,
                                  qnorm: Column, nsq: Column): Column = {
    val dot = aggregate(zip_with(codes, luts,
      (cd, lut) => coalesce(element_at(lut, (cd + 1).cast("int")), lit(0.0))),
      lit(0.0), (acc, v) => acc + v)
    val rn = aggregate(zip_with(codes, nsq,
      (cd, ns) => coalesce(element_at(ns, (cd + 1).cast("int")), lit(0.0))),
      lit(0.0), (acc, v) => acc + v)
    when(qnorm === 0 || rn === 0, lit(0.0))
      .otherwise(dot / (qnorm * sqrt(rn)))
  }

  /** LSH-bucketed approximate top-k: equi-join on bucket id, exact cosine
    * re-rank within candidates. The scale path — per-query work is the
    * bucket population, not the corpus.
    *
    * `probeBits = 1` turns on multi-probe: each QUERY additionally probes
    * every bucket at Hamming distance 1 (one sign bit flipped — the
    * buckets a near-neighbor most likely fell into when it landed just on
    * the other side of one hyperplane). Probing multiplies per-query
    * candidate reads by ~(planes+1) but leaves the corpus single-bucketed,
    * so index size is unchanged and a (query, neighbor) pair still occurs
    * at most once — recall rises without any dedup step. 8 hyperplanes;
    * reads `vec_id` and `embedding`. */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              probeBits: Int = 0): DataFrame = {
    val planes = 8
    require(probeBits >= 0 && probeBits <= 1, "probeBits must be 0 or 1")
    val q0 = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_vec"),
      lshBuckets(col("embedding"), planes).as("bucket0"))
    val q =
      if (probeBits == 0)
        q0.select(col("query_id"), col("q_vec"),
          col("bucket0").as("bucket"))
      else {
        import org.apache.spark.sql.functions.{call_function => cf}
        q0.select(col("query_id"), col("q_vec"),
          explode(concat(array(col("bucket0")),
            transform(sequence(lit(0), lit(planes - 1)), i =>
              col("bucket0").bitwiseXOR(cf("shiftleft", lit(1L), i)))))
            .as("bucket"))
      }
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_vec"),
      lshBuckets(col("embedding"), planes).as("bucket"))
    val scored = c.join(
      Hints.boundedBroadcast(q, "query_set_contract"), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", round(cosineExact(col("q_vec"), col("c_vec")), 6))
    partialTopK(scored, col("sim"), K)
      .select(col("query_id"), col("neighbor_id"),
        col("hsim").as("sim"), col("hrk").as("rk"))
  }

  /** Embedding outlier detection — the vector-space cleaning gate: flag
    * vectors whose Euclidean distance to the corpus centroid exceeds the
    * exact `pct` distance quantile (garbage embeddings — encoder
    * failures, empty inputs, wrong-modality rows — land far from the
    * data manifold, and a pretraining pipeline prunes them before ANN
    * indexing or clustering).
    *
    * Scale shape: the centroid is ONE per-dimension partial-combined
    * aggregate (d rows, DECIMAL(38,20) accumulation, round(9) so both
    * engines share bit-identical centroid values), broadcast back over
    * the element stream; distances are map-side DECIMAL-accumulated
    * sums; the fence is one tiny percentile aggregate over n doubles
    * broadcast back (exact here for oracle parity — at 100 TB swap in
    * `approx_percentile`, the one documented estimator substitution).
    * The corpus never joins itself. Returns (id, dist, fence) for
    * flagged rows. */
  def centroidOutliers(emb: DataFrame, pct: Double = 0.99): DataFrame = {
    val el = emb
      .select(col(IdCol), posexplode(col(VecCol)).as(Seq("pos0", "v")))
      .select(col(IdCol), (col("pos0") + 1).cast("long").as("pos"),
        col("v").cast("double").as("x"))
    val centroid = el.groupBy(col("pos"))
      .agg(round(sum(col("x").cast("decimal(38,20)")).cast("double")
        / count(lit(1)), 9).as("c"))
    val dist = el.join(
      Hints.boundedBroadcast(centroid, "vector_dim_domain"), Seq("pos"))
      .groupBy(col(IdCol))
      .agg(round(sqrt(sum(((col("x") - col("c")) * (col("x") - col("c")))
        .cast("decimal(38,20)")).cast("double")), 6).as("dist"))
    val fence = dist.agg(
      expr(s"percentile(dist, ${pct})").as("fence"))
    dist.crossJoin(broadcast(fence))
      .filter(col("dist") > col("fence"))
      .select(col(IdCol), col("dist"), round(col("fence"), 6).as("fence"))
  }

  /** Simplified (centroid-based) silhouette per cluster label — the
    * clustering-quality audit an embedding pipeline publishes for a
    * labeling / clustering run: per point, `a` = distance to its own
    * cluster centroid, `b` = distance to the nearest OTHER centroid,
    * `s = (b - a) / max(a, b)` (Rousseeuw 1987 in the centroid
    * approximation — the O(n·k) form; the exact O(n²) silhouette is the
    * documented substitution where n is eval-set-sized). Returns one row
    * per label: (label, n, mean_sil).
    *
    * Scale shape: centroids are ONE per-(label, dim) partial-combined
    * aggregate (k·d rows, DECIMAL accumulation, round(9) for
    * engine-identical values), assembled into a single broadcast row;
    * every distance then computes MAP-SIDE via decimal-accumulated HOFs
    * against that k-vector literal — the corpus never shuffles; the only
    * corpus-wide exchange is the final per-label partial-combined mean
    * (k rows). Distances round(6) before the a/b comparison so the
    * ranking can never hinge on a cross-engine ulp. */
  def simplifiedSilhouette(emb: DataFrame): DataFrame = {
    val dec = "decimal(38,20)"
    val el = emb
      .select(col(LabelCol).as("clabel"),
        posexplode(col(VecCol)).as(Seq("pos", "v")))
      .select(col("clabel"), col("pos"), col("v").cast("double").as("x"))
    val cent = el.groupBy(col("clabel"), col("pos"))
      .agg(round(sum(col("x").cast(dec)).cast("double")
        / count(lit(1)), 9).as("c"))
    val cvecs = cent.groupBy(col("clabel"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).as("cv"))
    val all = cvecs.agg(collect_list(struct(col("clabel"), col("cv")))
      .as("cents"))
    val d2 = (v: Column, cv: Column) =>
      round(sqrt(aggregate(zip_with(v, cv,
        (x, c) => ((x.cast("double") - c) * (x.cast("double") - c))
          .cast(dec)),
        lit(0).cast(dec), (acc, x) => (acc + x).cast(dec))
        .cast("double")), 6)
    // `all` is ONE row whose payload is <= |label domain| x dim centroid
    // values — bounded by the cluster-domain contract, not by the walker
    // (a scalar collect_list over corpus rows would be byte-unbounded,
    // which is exactly what the guard rejects without this stamp)
    val dists = emb.crossJoin(
      Hints.boundedBroadcast(all, "cluster_domain_payload"))
      .select(col(IdCol), col(LabelCol).as("plabel"),
        transform(col("cents"), ct =>
          struct(ct.getField("clabel").as("clabel"),
            d2(col(VecCol), ct.getField("cv")).as("d"))).as("ds"))
    val s = dists.select(col("plabel"),
      element_at(filter(col("ds"),
        x => x.getField("clabel") === col("plabel")), 1)
        .getField("d").as("a"),
      array_min(transform(filter(col("ds"),
        x => x.getField("clabel") =!= col("plabel")),
        x => x.getField("d"))).as("b"))
      .select(col("plabel"),
        when(greatest(col("a"), col("b")) === 0, lit(0.0))
          .otherwise(round((col("b") - col("a"))
            / greatest(col("a"), col("b")), 6)).as("s"))
    s.groupBy(col("plabel").as("label"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("s").cast("decimal(38,6)")).cast("double")
          / count(lit(1)).cast("double"), 6).as("mean_sil"))
  }

  /** Fisher class-separation of a labeled embedding space: the ratio of
    * between-class to within-class scatter summed over dimensions,
    * `J = Σ_d Σ_c n_c(µ_cd − µ_d)² / Σ_d Σ_c (Σx² − (Σx)²/n_c)` — the
    * one-scalar "do these labels separate in this space" diagnostic
    * that complements [[simplifiedSilhouette]]'s per-point view.
    * Returns one row (n_classes, n_dims, between, within, fisher),
    * scatters round(6).
    *
    * Scale shape: components round(6) on entry (DECIMAL(15,6), so the
    * squared products stay exact and int64-safe in every engine), ONE
    * (label, dim) partial-combined exchange of exact sums; everything
    * after runs on the labels×dims table with per-cell double algebra
    * round(9) re-summed in DECIMAL. */
  def fisherSeparation(emb: DataFrame)
      : DataFrame = {
    val x6 = round(col("x").cast("double"), 6).cast("decimal(15,6)")
    // pinned: the (label, dim) cell table feeds the dim totals, the
    // scatter projection AND the k/d driver scalars — unpinned, the
    // corpus explode would run four times
    val cell = Materializer.Local(emb
      .select(col(LabelCol).as("label"),
        posexplode(col(VecCol)).as(Seq("pos", "x")))
      .select(col("label"), col("pos"), x6.as("x"))
      .groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("n_c"), sum(col("x")).as("s_c"),
        sum(col("x") * col("x")).as("ss_c")))
    val dim = cell.groupBy(col("pos"))
      .agg(sum(col("n_c")).as("n_t"), sum(col("s_c")).as("s_t"))
    val scat = cell.join(
      Hints.boundedBroadcast(dim, "vector_dim_domain"), Seq("pos"))
      .select(
        round(col("n_c").cast("double")
          * (col("s_c").cast("double") / col("n_c").cast("double")
            - col("s_t").cast("double") / col("n_t").cast("double"))
          * (col("s_c").cast("double") / col("n_c").cast("double")
            - col("s_t").cast("double") / col("n_t").cast("double")), 9)
          .as("bt"),
        round(col("ss_c").cast("double")
          - col("s_c").cast("double") * col("s_c").cast("double")
            / col("n_c").cast("double"), 9).as("wt"),
        col("label"), col("pos"))
    val k = cell.select(col("label")).distinct().count()
    val d = cell.agg(max(col("pos"))).collect()(0).getInt(0) + 1
    scat.agg(
        round(sum(col("bt").cast("decimal(38,9)")).cast("double"), 6)
          .as("between"),
        round(sum(col("wt").cast("decimal(38,9)")).cast("double"), 6)
          .as("within"))
      .select(lit(k).as("n_classes"), lit(d).as("n_dims"),
        col("between"), col("within"),
        round(col("between") / col("within"), 6).as("fisher"))
  }

  /** Top principal component of the embedding space by power iteration —
    * the spectral readout behind dimension reduction, drift direction
    * analysis ("what single direction explains the most variance") and
    * whitening diagnostics. The classic big-data PCA decomposition: ONE
    * corpus pass builds the d×d second-moment matrix (a (dim_i, dim_j)
    * pair stream that partial-combines to d² cells — the shuffle carries
    * partitions×d² partials, never the corpus), the driver holds the d²
    * covariance cells and runs the O(d²·iters) power iteration, and the
    * eigenvector returns as a d-row table (project the corpus with one
    * map-side dot product against it).
    *
    * Determinism contract: moments and means are DECIMAL(38,20)-
    * accumulated (the q40 dot-product cast), covariance cells round(12);
    * each iteration's matrix-vector products round(12) into
    * DECIMAL(38,12)-exact sums (driver BigDecimal mirrors the oracle's
    * decimal SUM bit for bit); normalization divides by the SIGNED
    * component of maximum |value| (tie: lowest index) — one IEEE
    * division, which also pins the eigenvector's sign. No convergence
    * test: a fixed `iters` makes the run replayable (the kCore/q91
    * explicit-round contract).
    *
    * 100 TB shape: BOTH moments come from ONE typed-Aggregator pass
    * ([[graft.functions.SecondMomentAgg]]) — a d + d(d+1)/2 BigDecimal
    * buffer per partition with map-side combine, never exploded product
    * rows (the previous posexplode-triangle form fanned out d(d+1)/2
    * rows per input row: fine at d = 64, ~300k rows/row at d = 768).
    * The aggregator reproduces the exploded form's decimal casts and
    * round(12) normalization term for term, so the oracle's full-matrix
    * replay still matches bit for bit (measured 8.6 -> ~2.8 s at
    * sf0.1). */
  def pcaTopComponent(emb: DataFrame): DataFrame = {
    val iters = 5
    val spark = emb.sparkSession
    val mo = emb.select(col(VecCol).cast("array<float>"))
      .as[Array[Float]](org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Array[Float]]())
      .select(graft.functions.SecondMomentAgg.toColumn)
      .collect()(0)
    val d = mo.mu.length
    def muRows(i: Int): Double = mo.mu(i)
    // upper triangle, row-major: (i, j>=i) at i*d - i*(i-1)/2 + (j-i)
    def mRows(ij: (Int, Int)): Double = {
      val (a, b) = if (ij._1 <= ij._2) ij else ij.swap
      mo.m(a * d - a * (a - 1) / 2 + (b - a))
    }
    // Spark round semantics for driver-side math (BigDecimal.valueOf =
    // shortest-repr decimal of the double, HALF_UP — what Column.round
    // does), so the oracle's round() replays these steps exactly
    def r(x: Double, s: Int): Double =
      BigDecimal.valueOf(x).setScale(s, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    val cov = Array.tabulate(d, d)((i, j) =>
      r(mRows((i, j)) - muRows(i) * muRows(j), 12))
    var w = Array.fill(d)(1.0)
    for (_ <- 0 until iters) {
      val raw = Array.tabulate(d) { i =>
        var acc = BigDecimal(0).setScale(12)
        var j = 0
        while (j < d) {
          acc = acc + BigDecimal.valueOf(r(cov(i)(j) * w(j), 12))
          j += 1
        }
        acc.toDouble
      }
      val imax = raw.indices.minBy(i => (-math.abs(raw(i)), i))
      val scale = raw(imax)
      require(scale != 0.0, "pca: degenerate (zero) iterate")
      w = raw.map(_ / scale)
    }
    import spark.implicits._
    w.zipWithIndex.map { case (x, i) => (i, r(x, 6)) }.toSeq
      .toDF("i", "loading").orderBy(col("i"))
  }

  /** Gonzalez greedy k-center coreset over the embedding space — the
    * diversity-first data-selection step (each pick is the point
    * farthest from everything already kept, a 2-approximation of the
    * k-center optimum): seeds coverage-maximizing fine-tuning subsets
    * and probe sets. k corpus passes by construction (the honest cost
    * of the greedy — centers so far are plan literals each pass, the
    * argmax is one TakeOrdered, the driver holds k vectors).
    *
    * Distances are squared euclidean, DECIMAL(38,20)-exact per term
    * (float subtraction and squaring are exact in double), round(6)
    * BEFORE the min over centers and the (dist desc, id asc) argmax —
    * nothing ever ranks on an unpinned ulp. Returns (rk, id,
    * dist_at_pick) with dist 0.0 for the seed (= lowest id). */
  def kCenterCoreset(emb: DataFrame, k: Int): DataFrame = {
    require(k >= 1)
    val spark = emb.sparkSession
    val dec = "decimal(38,20)"
    def sqDist(center: Seq[Float]): Column = {
      val v = col(VecCol)
      round(aggregate(zip_with(v, typedlit(center),
        (x, c) => ((x.cast("double") - c.cast("double"))
          * (x.cast("double") - c.cast("double"))).cast(dec)),
        lit(0).cast(dec), (acc, t) => (acc + t).cast(dec))
        .cast("double"), 6)
    }
    val seed = emb.select(col(IdCol), col(VecCol))
      .orderBy(col(IdCol)).limit(1).collect()(0)
    var centers = Vector((seed.getLong(0), seed.getSeq[Float](1), 0.0))
    for (_ <- 1 until k) {
      val ds = centers.map(c => sqDist(c._2))
      val minD = if (ds.size == 1) ds.head else least(ds: _*)
      val next = emb.select(col(IdCol), col(VecCol), minD.as("md"))
        .orderBy(col("md").desc, col(IdCol).asc).limit(1).collect()(0)
      centers = centers :+
        ((next.getLong(0), next.getSeq[Float](1), next.getDouble(2)))
    }
    import spark.implicits._
    centers.zipWithIndex
      .map { case ((id, _, dist), rk) => (rk, id, dist) }
      .toDF("rk", "id", "dist").orderBy(col("rk"))
  }

  /** Grid-density clustering over a 2-D projection of the embedding
    * space — the scalable DBSCAN shape (Gunawan 2013 grid variant):
    * points bucket into eps-sized grid cells map-side; cells holding
    * >= minPts points are DENSE; dense cells that are 8-neighbors merge
    * into one cluster via connected components; points in non-dense
    * cells are noise. This trades DBSCAN's per-point radius query (a
    * quadratic all-pairs at scale) for one cell-count aggregate plus a
    * CC over the DENSE-CELL graph — whose size is corpus-density-
    * bounded, not corpus-bounded. Cluster density questions ("are the
    * near-dup embeddings one blob or many?") get answered without any
    * point-to-point join.
    *
    * Returns one row per point: (pid, cx, cy, ck) where ck is the
    * cluster's min dense-cell key, NULL for noise. Deterministic: cell
    * assignment is pure floor arithmetic, the CC label is the min
    * encoded cell key ([[Dedup.nearDupClusters]] pointer-jumping, O(log
    * diameter) rounds), and isolated dense cells self-label.
    *
    * Scale shape: ONE (cx, cy) partial-combined count is the only
    * exchange that sees the corpus; the dense-cell graph (8-offset
    * explode + coordinate equi-join — never a cartesian) and the CC
    * rounds ride the bounded cell table, and the per-point labeling is
    * a broadcast join of that table back onto the stream. */
  def gridDensityClusters(points: DataFrame, eps: Double, minPts: Long)
      : DataFrame = {
    val xCol = "x"
    val yCol = "y"
    require(eps > 0 && minPts >= 1)
    // encoded cell key: (cx + 2^20) * 2^21 + (cy + 2^20) — collision-free
    // for |cx|,|cy| < 2^20, ordered lexicographically by (cx, cy)
    val B = 1L << 20
    val M = 1L << 21
    val withCell = points.select(col(IdCol).as("pid"),
      floor(col(xCol).cast("double") / lit(eps)).cast("long").as("cx"),
      floor(col(yCol).cast("double") / lit(eps)).cast("long").as("cy"))
    val cells = Materializer.Local(withCell.groupBy(col("cx"), col("cy"))
      .agg(count(lit(1)).as("n"))
      .withColumn("k", (col("cx") + lit(B)) * lit(M) + (col("cy") + lit(B))))
    val dense = cells.filter(col("n") >= lit(minPts))
    val offsets = Seq((-1, -1), (-1, 0), (-1, 1), (0, -1),
      (0, 1), (1, -1), (1, 0), (1, 1))
    val probe = dense
      .select(col("k").as("a_key"), col("cx"), col("cy"),
        explode(array(offsets.map { case (dx, dy) =>
          struct(lit(dx).as("dx"), lit(dy).as("dy")) }: _*)).as("o"))
      .select(col("a_key"), (col("cx") + col("o.dx")).as("ncx"),
        (col("cy") + col("o.dy")).as("ncy"))
    val pairs = probe.join(
        dense.select(col("k").as("b_key"), col("cx").as("ncx"),
          col("cy").as("ncy")),
        Seq("ncx", "ncy"))
      .filter(col("a_key") < col("b_key"))
      .select(col("a_key").as("a_id"), col("b_key").as("b_id"))
      .distinct()
    val cc = Dedup.nearDupClusters(pairs)
    // both sides are density-bounded; the checkpointed label table has
    // no stats, so pick the broadcast explicitly
    val denseLab = dense
      .join(Hints.boundedBroadcast(cc.withColumnRenamed("doc_id", "k"),
        "grid_cells"), Seq("k"), "left")
      .select(col("cx"), col("cy"),
        coalesce(col("cluster_id"), col("k")).as("ck"))
    withCell.join(Hints.boundedBroadcast(denseLab, "grid_cells"),
      Seq("cx", "cy"), "left")
      .select(col("pid"), col("cx"), col("cy"), col("ck"))
  }

  /** NN-descent k-NN-graph construction (Dong, Charikar & Li, WWW
    * 2011) — the graph-ANN family's build step (the HNSW/NSG
    * ingredient), and a different trade than the LSH/IVF/PQ indexes:
    * no model, no codebook, just "my neighbors' neighbors are probably
    * my neighbors" iterated to a fixpoint. Init: each vector's k
    * nearest within its buckets across `spaces` INDEPENDENT md5-random
    * bucketings (⌈n/bucketTarget⌉ buckets each) — the deterministic,
    * engine-portable stand-in for the paper's global random init.
    * Independent spaces matter: one bucketing alone yields disjoint
    * cliques that 2-hop expansion can never leave (measured: recall
    * froze at the init level); cross-cutting buckets make the start
    * graph connected, which is what the paper's random k-sample gives.
    * Each round, candidates = neighbors-of-neighbors over the
    * UNDIRECTED current graph unioned with the current edges,
    * re-scored and cut back to top-k.
    *
    * Scoring is the q40 two-phase contract: the codegen'd double
    * kernel prunes each v's ≤k+k² candidates to k+margin (FP error
    * < 1e-12 can't push a true top-k member below the margin), the
    * decimal-exact cosine then ranks survivors bit-identically to the
    * oracle. Scale shape: every stage is an equi-join on vector ids or
    * bucket keys — candidate fanout is bounded by (2k)² per vector and
    * the vector table joins in by id (never broadcast, never
    * crossed). The paper's ρ-sampling drops fanout further at 100 TB;
    * this is the faithful full-join variant with small k. Returns the
    * final directed edge list (v, u, sim, rk). */
  def nnDescentGraph(emb: DataFrame, k: Int = 10, rounds: Int = 3,
                     bucketTarget: Int = 16): DataFrame = {
    val spaces = 3
    val margin = 15
    require(k >= 1 && rounds >= 0 && bucketTarget >= 1)
    val pts = Materializer.Local(
      emb.select(col("vec_id").as("pid"), col("embedding").as("pvec")))
    // bucket count — a corpus-size scalar, shared with the oracle's
    // ceil(count/target) subquery
    val b = math.max(1L,
      math.ceil(pts.count().toDouble / bucketTarget).toLong)
    val init = (0 until spaces).map { r =>
      val withB = pts.select(col("pid"),
        pmod(conv(substring(md5(concat(lit(s"nnd$r|"),
          col("pid").cast("string"))), 1, 8), 16, 10).cast("long"),
          lit(b)).as("bk"))
      withB.select(col("bk"), col("pid").as("v"))
        .join(withB.select(col("bk"), col("pid").as("u")), Seq("bk"))
        .filter(col("v") =!= col("u"))
        .select(col("v"), col("u"))
    }.reduce(_ unionAll _).distinct()
    val pv = pts.select(col("pid").as("v"), col("pvec").as("qv"))
    val pu = pts.select(col("pid").as("u"), col("pvec").as("cv"))
    def topK(cand: DataFrame): DataFrame = {
      // NOTE (r13 measured experiment, kept as the window formulation):
      // replacing the w1 margin cut with the TopKAgg heap + survivor
      // vector re-attach (the bruteForceTopK shape) measured 3x SLOWER
      // here — the candidate join on v already leaves the stream
      // hashpartitioned by v, so the rank window reuses that exchange
      // and costs only an in-partition sort, while the heap's typed
      // aggregate (2k groups > the object-hash fallback threshold)
      // degenerates to a sort-based aggregate PLUS two extra id joins.
      val w1 = Window.partitionBy(col("v"))
        .orderBy(col("fsim").desc, col("u").asc)
      val w2 = Window.partitionBy(col("v"))
        .orderBy(col("sim").desc, col("u").asc)
      cand.join(pv, Seq("v")).join(pu, Seq("u"))
        .withColumn("fsim",
          graft.functions.GraftFunctions.cosine_sim(col("qv"), col("cv")))
        .withColumn("prk", row_number().over(w1))
        .filter(col("prk") <= k + margin)
        .withColumn("sim", round(cosineExact(col("qv"), col("cv")), 6))
        .withColumn("rk", row_number().over(w2))
        .filter(col("rk") <= k)
        .select(col("v"), col("u"), col("sim"),
          col("rk").cast("int").as("rk"))
    }
    var edges = Materializer.Local(topK(init))
    for (_ <- 1 to rounds) {
      val und = Materializer.Local(edges.select(col("v"), col("u"))
        .unionAll(edges.select(col("u").as("v"), col("v").as("u")))
        .distinct())
      val nn2 = und.select(col("v"), col("u").as("a"))
        .join(und.select(col("v").as("a"), col("u")), Seq("a"))
        .filter(col("v") =!= col("u"))
        .select(col("v"), col("u"))
      val cand = nn2.unionAll(edges.select(col("v"), col("u"))).distinct()
      edges = Materializer.Local(topK(cand))
    }
    edges
  }

  /** Incremental insert into an [[nnDescentGraph]] k-NN graph — the
    * graph-ANN member of the q70/q128 incremental-index family: attach
    * a batch of NEW vectors to an EXISTING (persisted) graph without
    * recomputing it. Candidates for each new vector are its md5-bucket
    * mates in the base corpus (same `spaces` hash spaces and bucket
    * geometry as the stored graph) plus THEIR stored neighbors — one
    * hop through the index, the HNSW-style "navigate via existing
    * links" step flattened to a single expansion — re-scored with the
    * q40 two-phase contract. Old-vs-old pairs never form; base vectors
    * and edges are read, never re-signatured. Ids of `newEmb` must be
    * disjoint from the base. Returns (v, u, sim, rk) for new v only. */
  def nnGraphInsert(baseGraph: DataFrame, baseEmb: DataFrame,
                    newEmb: DataFrame, k: Int = 10): DataFrame = {
    val spaces = 3
    val bucketTarget = 16
    val margin = 15
    require(k >= 1)
    val bpts = Materializer.Local(
      baseEmb.select(col("vec_id").as("pid"), col("embedding").as("pvec")))
    val npts = Materializer.Local(
      newEmb.select(col("vec_id").as("pid"), col("embedding").as("pvec")))
    // bucket geometry comes from the BASE corpus — the stored index's
    // layout, exactly as the oracle's base-count subquery replays it
    val b = math.max(1L,
      math.ceil(bpts.count().toDouble / bucketTarget).toLong)
    def wb(pts: DataFrame, r: Int) = pts.select(col("pid"),
      pmod(conv(substring(md5(concat(lit(s"nnd$r|"),
        col("pid").cast("string"))), 1, 8), 16, 10).cast("long"),
        lit(b)).as("bk"))
    val cand0 = (0 until spaces).map { r =>
      wb(npts, r).select(col("bk"), col("pid").as("v"))
        .join(wb(bpts, r).select(col("bk"), col("pid").as("u")),
          Seq("bk"))
        .select(col("v"), col("u"))
    }.reduce(_ unionAll _).distinct()
    val hop = cand0
      .join(baseGraph.select(col("v").as("u"), col("u").as("w")),
        Seq("u"))
      .select(col("v"), col("w").as("u"))
    val cand = cand0.unionAll(hop).distinct()
    val pv = npts.select(col("pid").as("v"), col("pvec").as("qv"))
    val pu = bpts.select(col("pid").as("u"), col("pvec").as("cv"))
    // window formulation kept — see the measured note in
    // [[nnDescentGraph]]'s topK (heap rework measured 3x slower)
    val w1 = Window.partitionBy(col("v"))
      .orderBy(col("fsim").desc, col("u").asc)
    val w2 = Window.partitionBy(col("v"))
      .orderBy(col("sim").desc, col("u").asc)
    cand.join(pv, Seq("v")).join(pu, Seq("u"))
      .withColumn("fsim",
        graft.functions.GraftFunctions.cosine_sim(col("qv"), col("cv")))
      .withColumn("prk", row_number().over(w1))
      .filter(col("prk") <= k + margin)
      .withColumn("sim", round(cosineExact(col("qv"), col("cv")), 6))
      .withColumn("rk", row_number().over(w2))
      .filter(col("rk") <= k)
      .select(col("v"), col("u"), col("sim"),
        col("rk").cast("int").as("rk"))
  }
}
