package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sparse-lexical retrieval over the document corpus: BM25 scoring,
  * inverted-index all-pairs cosine, and reciprocal-rank fusion — the
  * term-space complement of the dense [[Similarity]] stack (a production
  * RAG/selection pipeline runs BOTH and fuses the rankings; see
  * reference behavior scope in SURVEY.md §2 LLM-pipeline extensions).
  *
  * Scale design: every operator here keys its one corpus shuffle on the
  * TERM (or the (doc, term) pair), never on raw text; query-dependent
  * work is trimmed map-side against a broadcast term set BEFORE any
  * exchange, so scoring a 10-term query over 100 TB shuffles only the
  * postings of 10 terms.
  */
object Retrieval {
  private val TextCol = "text"
  private val IdCol = "doc_id"

  /** The trimmed-postings frame both batch rankers score from:
    * (doc_id, dl, t) — one row per doc with its token count, exploded
    * (outer, so zero/absent-term docs keep one NULL-t row) over the
    * tokens that appear in `allTerms`. Exposed so a consumer running
    * SEVERAL rankers over the SAME corpus and query sets (q290 runs
    * BM25 + QLM) tokenizes the corpus ONCE and shares the materialized
    * frame (r14, §2.4 fewer passes) — both batch rankers take it as
    * their input. */
  def trimmedPostings(docs: DataFrame, allTerms: Seq[String]): DataFrame = {
    val toks = TextAnalysis.tokens(col(TextCol))
    Materializer.Local(docs.select(col(IdCol).as("doc_id"),
      size(toks).as("dl"),
      explode_outer(filter(toks, t => t.isInCollection(allTerms)))
        .as("t")))
  }

  /** BM25 document scores for one bag-of-terms query (Robertson et al.;
    * the Lucene `k1`/`b` formulation with the always-positive idf
    * `ln(1 + (N - df + 0.5)/(df + 0.5))`): the lexical ranking function
    * retrieval pipelines default to. Returns the `topN` documents by
    * (rounded score desc, doc_id asc) as (rk, doc_id, n_terms, score).
    *
    * Scale shape: the exploded token stream is filtered to the BROADCAST
    * query-term set map-side, so the single (doc_id, term) partial-combined
    * exchange carries only matching postings — query-sized, not
    * corpus-sized. df comes from one tiny aggregate of that tf table
    * (≤ |query| rows, broadcast back); N and the average document length
    * are a 1-row aggregate over the map-side `size(tokens)` projection
    * (the corpus is NOT exploded a second time) attached via a 1-row
    * broadcast cross join. Per-term scores are IEEE doubles in one fixed
    * op order (ln ulps absorbed by round(6)); the per-doc sum accumulates
    * in DECIMAL(38,6) so partial-agg order can never flip a bit; the
    * final top-N is a bounded TakeOrdered, not a window. */
  def bm25(docs: DataFrame,
           queryTerms: Seq[String],
           topN: Int = 10): DataFrame = {
    val idCol = "doc_id"
    val textCol = "text"
    val k1 = 1.2
    val b = 0.75
    require(queryTerms.nonEmpty && topN > 0)
    val toks = TextAnalysis.tokens(col(textCol))
    // one corpus pass: doc length for every doc (zero-token docs count
    // toward N and avgdl, exactly as the oracle's array_length does)
    val dl = Materializer.Local(docs.select(col(idCol).as("doc_id"),
      size(toks).as("dl"),
      explode_outer(filter(toks, t => t.isInCollection(queryTerms)))
        .as("t")))
    val stats = dl.groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).cast("double").as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1)).cast("double"))
          .as("avgdl"))
    val tf = dl.filter(col("t").isNotNull)
      .groupBy(col("doc_id"), col("dl"), col("t"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy(col("t")).agg(count(lit(1)).cast("double").as("df"))
    val idf = log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5))
      / (col("df") + lit(0.5)))
    val tfn = col("tf") * lit(k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b)
        + lit(b) * col("dl").cast("double") / col("avgdl")))
    tf.join(Hints.boundedBroadcast(df, "query_term_set"), Seq("t"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), (idf * tfn).as("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_terms"),
        round(sum(col("s").cast("decimal(38,6)")).cast("double"), 6)
          .as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(topN)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id").asc)).cast("int"))
      .select(col("rk"), col("doc_id"), col("n_terms"), col("score"))
  }

  /** Multi-query BM25: every label's top-N in ONE postings pass over
    * the UNION of all query sets — the batch-retrieval shape (score
    * q queries per index scan, not one): the corpus is tokenized and
    * trimmed once, df/dl/avgdl are computed once, and each label's
    * score is the same per-term algebra grouped by (label, doc), so
    * results are BIT-IDENTICAL to calling [[bm25]] per label (the same
    * decimal-sum requantization; sums are order-independent). The
    * per-label rank is a label-partitioned window — the one place the
    * batch pays more than the single query's TakeOrdered; a bounded
    * per-group heap is the drop-in at extreme corpus sizes.
    *
    * `postings` is [[trimmedPostings]] over the corpus and the union of
    * these queries' terms — the caller-shared one-tokenize path. Top 10
    * per label, k1 = 1.2, b = 0.75. */
  def bm25Batch(postings: DataFrame, queries: Seq[(String, Seq[String])])
      : DataFrame = {
    val k1 = 1.2
    val b = 0.75
    val topN = 10
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty))
    val stats = postings.groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).cast("double").as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1)).cast("double"))
          .as("avgdl"))
    val tf = postings.filter(col("t").isNotNull)
      .groupBy(col("doc_id"), col("dl"), col("t"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy(col("t")).agg(count(lit(1)).cast("double").as("df"))
    val sp0 = postings.sparkSession
    import sp0.implicits._
    val lbl = queries.flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("q", "t")
    val idf = log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5))
      / (col("df") + lit(0.5)))
    val tfn = col("tf") * lit(k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b)
        + lit(b) * col("dl").cast("double") / col("avgdl")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("q"))
      .orderBy(col("score").desc, col("doc_id").asc)
    tf.join(Hints.boundedBroadcast(lbl, "query_term_set"), Seq("t"))
      .join(Hints.boundedBroadcast(df, "query_term_set"), Seq("t"))
      .crossJoin(broadcast(stats))
      .select(col("q"), col("doc_id"), (idf * tfn).as("s"))
      .groupBy(col("q"), col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_terms"),
        round(sum(col("s").cast("decimal(38,6)")).cast("double"), 6)
          .as("score"))
      .withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= topN)
      .select(col("q"), col("rk"), col("doc_id"), col("n_terms"),
        col("score"))
  }

  /** Multi-query Dirichlet QLM: the batch analog of
    * [[queryLikelihood]], one trimmed postings pass for all labels,
    * per-label (c0, nq) scalars broadcast as a bounded table, every
    * (label, doc) scored map-side off the doc-length table — results
    * bit-identical to per-label calls (same round(9) DECIMAL(38,9)
    * accumulations, order-independent), INCLUDING the all-absent edge: a
    * label none of whose terms occur in the corpus keeps its rows via a
    * left join into the scalar table ((c0 NULL, nq 0) — exactly the
    * single-query path's empty aggregate). `postings` is
    * [[trimmedPostings]], as for [[bm25Batch]]; Dirichlet mu = 100. */
  def queryLikelihoodBatch(postings: DataFrame,
                           queries: Seq[(String, Seq[String])], topN: Int)
      : DataFrame = {
    val mu = 100.0
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty) && topN > 0)
    val docLen = postings.groupBy(col("doc_id"))
      .agg(first(col("dl")).as("dl"))
    val totT = docLen.agg(sum(col("dl")).cast("long").as("tt"))
    val cf = postings.filter(col("t").isNotNull).groupBy(col("t"))
      .agg(count(lit(1)).cast("long").as("cf"))
    val pw = round(col("cf").cast("double") / col("tt").cast("double"),
      12)
    val cfp = Materializer.Local(cf.crossJoin(broadcast(totT))
      .select(col("t"), pw.as("pw")))
    val sp0 = postings.sparkSession
    import sp0.implicits._
    val lbl = queries.flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("q", "t")
    // per-label scalars on the bounded (label, term) table. Labels are
    // LEFT-joined back in so a query whose terms are ALL absent from the
    // corpus still scores every document — (c0 NULL, nq 0), which is
    // byte-for-byte what the single-query path's empty aggregate yields
    // (NULL score, n_match 0, rows ranked by doc_id) — instead of
    // silently vanishing from the result.
    val cScalar = queries.map(_._1).distinct.toDF("q")
      .join(cfp.join(Hints.boundedBroadcast(lbl, "query_term_set"), Seq("t"))
        .groupBy(col("q"))
        .agg(sum(round(log(lit(mu) * col("pw")), 9).cast("decimal(38,9)"))
            .as("c0"),
          count(lit(1)).cast("int").as("nq")),
        Seq("q"), "left")
      .select(col("q"), col("c0"),
        coalesce(col("nq"), lit(0).cast("int")).as("nq"))
    val tf = postings.filter(col("t").isNotNull)
      .groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val adj = tf.join(Hints.boundedBroadcast(cfp, "query_term_set"), Seq("t"))
      .join(Hints.boundedBroadcast(lbl, "query_term_set"), Seq("t"))
      .groupBy(col("q").as("aq"), col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_match"),
        sum(round(log(col("tf") + lit(mu) * col("pw"))
            - log(lit(mu) * col("pw")), 9).cast("decimal(38,9)"))
          .as("adj"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("q"))
      .orderBy(col("score").desc, col("doc_id").asc)
    // cScalar is ONE row per query (a per-query scalar), not a per-term
    // table — the query-set contract is the bound, not term trimming
    docLen.crossJoin(Hints.boundedBroadcast(cScalar, "query_set_contract"))
      .join(adj, col("q") === col("aq")
        && docLen("doc_id") === adj("doc_id"), "left")
      .select(col("q"), docLen("doc_id").as("doc_id"),
        coalesce(col("n_match"), lit(0)).as("n_match"),
        round(col("c0").cast("double")
          + coalesce(col("adj"), lit(0).cast("decimal(38,9)"))
            .cast("double")
          - col("nq").cast("double")
            * log(col("dl").cast("double") + lit(mu)), 6).as("score"))
      .withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= topN)
      .select(col("q"), col("rk"), col("doc_id"), col("n_match"),
        col("score"))
  }

  /** Dirichlet-smoothed query-likelihood retrieval (Ponte & Croft 1998;
    * Zhai & Lafferty 2001 — the language-modeling ranking function,
    * BM25's main rival): score(q,d) = Σ_w ln((tf(w,d) + μ·P(w|C)) /
    * (|d| + μ)). Unlike BM25 every document scores every query term —
    * the background model P(w|C) = cf(w)/|C| supplies the mass for
    * absent terms — so the naive plan touches |q|·N rows.
    *
    * Scale shape: the sum DECOMPOSES — score = C + Σ_{matched}
    * [ln(tf + μp_w) − ln(μp_w)] − |q|·ln(|d| + μ), where
    * C = Σ_w ln(μp_w) is a 1-row scalar — so the corpus pays exactly
    * the BM25 plan: a map-side trim of the token stream to the
    * broadcast query set, one bounded (doc, term) exchange for matched
    * postings, per-doc length-norm algebra, a bounded TakeOrdered. The
    * |q|·N cross product never materializes. Matched-term adjustments
    * accumulate as round(9) DECIMAL(38,9); C's three ln terms likewise;
    * one pinned final op order. */
  def queryLikelihood(docs: DataFrame,
                      queryTerms: Seq[String], mu: Double = 100.0,
                      topN: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty && topN > 0 && mu > 0)
    val toks = TextAnalysis.tokens(col(TextCol))
    val dl = Materializer.Local(docs.select(col(IdCol).as("doc_id"),
      size(toks).as("dl"),
      explode_outer(filter(toks, t => t.isInCollection(queryTerms)))
        .as("t")))
    val docLen = dl.groupBy(col("doc_id"))
      .agg(first(col("dl")).as("dl"))
    // collection stats: total token mass and per-query-term collection
    // frequency (cf > 0 required — a term absent from the collection
    // has no Dirichlet mass and is dropped from the query, the
    // standard convention)
    val totT = docLen.agg(sum(col("dl")).cast("long").as("tt"))
    val cf = dl.filter(col("t").isNotNull).groupBy(col("t"))
      .agg(count(lit(1)).cast("long").as("cf"))
    val pw = round(col("cf").cast("double") / col("tt").cast("double"),
      12)
    val cfp = Materializer.Local(cf.crossJoin(broadcast(totT))
      .select(col("t"), pw.as("pw")))
    val cScalar = cfp.agg(
      sum(round(log(lit(mu) * col("pw")), 9).cast("decimal(38,9)"))
        .as("c0"),
      count(lit(1)).cast("int").as("nq"))
    val tf = dl.filter(col("t").isNotNull)
      .groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val adj = tf.join(Hints.boundedBroadcast(cfp, "query_term_set"), Seq("t"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_match"),
        sum(round(log(col("tf") + lit(mu) * col("pw"))
            - log(lit(mu) * col("pw")), 9).cast("decimal(38,9)"))
          .as("adj"))
    docLen.join(adj, Seq("doc_id"), "left")
      .crossJoin(broadcast(cScalar))
      .select(col("doc_id"),
        coalesce(col("n_match"), lit(0)).as("n_match"),
        round(col("c0").cast("double")
          + coalesce(col("adj"), lit(0).cast("decimal(38,9)"))
            .cast("double")
          - col("nq").cast("double")
            * log(col("dl").cast("double") + lit(mu)), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(topN)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id").asc)).cast("int"))
      .select(col("rk"), col("doc_id"), col("n_match"), col("score"))
  }

  /** All-pairs document cosine similarity over L2-normalized TF vectors,
    * computed through the inverted index (the Elsayed/Lin/Oard MapReduce
    * pairwise-similarity shape, a.k.a. DISCO): per-term partial products
    * `w_a(t)·w_b(t)` group-sum to the full dot product, so candidate
    * pairs form ONLY where a shared term exists — no all-pairs product,
    * no LSH miss (recall 1.0 above the threshold given the df cap).
    *
    * `maxDf` is the prefix-filter: terms in more than `maxDf` documents
    * (the Zipf head — stopwords) are dropped from the similarity space
    * BEFORE the pair join, which is what bounds per-term fanout at scale
    * (a term in every document would otherwise generate the full n²
    * pair set by itself). The cosine is over the REMAINING terms — the
    * operator's contract, matching what Lucene's similarity with a
    * stopword list computes; the oracle applies the identical cap.
    *
    * `shingleN > 1` runs the same algebra over word n-gram shingles
    * instead of unigrams — the similarity space span-level dedup and
    * plagiarism detection use (rarer terms, sharper cosines, smaller
    * per-term fanout).
    *
    * Per-doc norms accumulate in DECIMAL(38,20); partial products are
    * IEEE doubles summed in DECIMAL(38,20) per pair, one fixed op order,
    * round(6). Returns (a_id, b_id, n_shared, sim) for pairs with
    * sim >= threshold, a_id < b_id. */
  def sparseCosinePairs(docs: DataFrame,
                        maxDf: Long, threshold: Double, shingleN: Int = 1)
      : DataFrame = {
    val terms =
      if (shingleN <= 1) TextAnalysis.tokens(col(TextCol))
      else TextAnalysis.shingles(col(TextCol), shingleN)
    // (doc, term, tf) — one partial-combined exchange; pinned: the norm
    // aggregate, df filter, and both join sides all read it
    val tf = Materializer.Local(docs
      .select(col(IdCol).as("doc_id"), explode_outer(terms).as("t"))
      .filter(col("t").isNotNull)
      .groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).cast("double").as("tf")))
    // UNHINTED: the kept-term set is the vocabulary minus its frequent
    // head — it GROWS with the corpus (Heaps' law), so a forced
    // broadcast would bypass Spark's size check at 100 TB and OOM
    // instead of falling back. Both sides are keyed on t (the shuffled
    // join is the postings shape anyway); AQE still broadcasts when the
    // vocabulary is genuinely small.
    val kept = tf.join(
      tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf).select(col("t")),
      Seq("t"))
    // L2 norm over the KEPT terms only (the capped similarity space)
    val norms = kept.groupBy(col("doc_id"))
      .agg(sqrt(sum((col("tf") * col("tf")).cast("decimal(38,20)"))
        .cast("double")).as("nrm"))
    val w = Materializer.Local(kept.join(norms, Seq("doc_id"))
      .select(col("t"), col("doc_id"), (col("tf") / col("nrm")).as("w")))
    w.select(col("t"), col("doc_id").as("a_id"), col("w").as("a_w"))
      .join(w.select(col("t"), col("doc_id").as("b_id"), col("w").as("b_w")),
        Seq("t"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).cast("long").as("n_shared"),
        round(sum((col("a_w") * col("b_w")).cast("decimal(38,20)"))
          .cast("double"), 6).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009): merge any number of
    * (doc_id, rk) rankings into one by `score = Σ 1/(c + rk)`, the
    * standard way a pipeline combines lexical (BM25) and dense
    * (embedding-ANN) retrieval without score calibration. Input frames
    * need only (doc_id, rk); a doc absent from a ranking contributes
    * nothing (the canonical skip-missing convention). Returns the fused
    * top-`topN` as (rk, doc_id, n_lists, score).
    *
    * Scale shape: rankings are top-k lists — tiny by construction — so
    * the union + one partial-combined sum is driver-negligible at any
    * corpus size; the heavy lifting already happened inside the
    * retrievers. The fused score is a sum of exact binary fractions only
    * when c+rk is a power of two, so it accumulates in DECIMAL(38,20)
    * with one division order and rounds to 9. */
  /** Offline ranking-quality evaluation — recall@k, MRR and nDCG@k per
    * query — of a retrieval `run` (query_id, doc_id, rk) against graded
    * relevance labels `qrels` (query_id, doc_id, rel > 0). This is how a
    * pipeline certifies an index/tokenizer/fusion change before swapping
    * it into production retrieval (TREC methodology; nDCG per
    * Järvelin & Kekäläinen 2002, linear-gain form `rel / log2(rank+1)`).
    *
    * Scale shape: the run is top-k per query by construction and qrels
    * are a curated eval set — both bounded — so the (query_id, doc_id)
    * equi-join, the per-query DCG aggregate and the ideal-DCG
    * computation (per-query rel list sorted desc, sliced to k, map-side
    * HOF sum) are eval-set-sized no matter how big the corpus behind the
    * run was. Numeric portability: discounts are IEEE `ln(x)/ln(2)` in
    * one op order; per-query sums accumulate in DECIMAL(38,20) and
    * round(6).
    *
    * Returns (query_id, n_rel, n_hits, recall, mrr, ndcg) with
    * recall = hits@k / n_rel, mrr = 1/first-relevant-rank (0 when none),
    * ndcg = DCG@k / IDCG@k. Queries present in qrels but absent from the
    * run score 0 (the run failed them — they must count). */
  def rankingMetrics(run: DataFrame, qrels: DataFrame, k: Int): DataFrame = {
    require(k > 0)
    val disc = (r: Column) => log(2.0, r.cast("double") + lit(1.0))
    // graded gains of the retrieved-and-relevant rows
    val hits = run.filter(col("rk") <= k)
      .join(qrels.select(col("query_id"), col("doc_id"),
        col("rel").cast("double").as("rel")),
        Seq("query_id", "doc_id"))
    val perQ = hits.groupBy(col("query_id"))
      .agg(count(lit(1)).cast("long").as("n_hits"),
        sum((col("rel") / disc(col("rk"))).cast("decimal(38,20)"))
          .cast("double").as("dcg"),
        min(when(col("rel") > 0, col("rk"))).as("first_rel"))
    // ideal DCG from the qrels alone: per-query rel list sorted desc,
    // sliced to k, discounted map-side (aggregate HOF — no second shuffle)
    val ideal = qrels.groupBy(col("query_id"))
      .agg(count(lit(1)).cast("long").as("n_rel"),
        slice(sort_array(collect_list(col("rel").cast("double")),
          asc = false), 1, k).as("rels"))
      .select(col("query_id"), col("n_rel"),
        aggregate(zip_with(col("rels"),
            sequence(lit(1), size(col("rels"))),
            (r, i) => (r / disc(i)).cast("decimal(38,20)")),
          lit(0).cast("decimal(38,20)"),
          (acc, v) => (acc + v).cast("decimal(38,20)"))
          .cast("double").as("idcg"))
    ideal.join(perQ, Seq("query_id"), "left")
      .select(col("query_id"), col("n_rel"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double")
          / col("n_rel").cast("double"), 6).as("recall"),
        round(coalesce(lit(1.0) / col("first_rel").cast("double"),
          lit(0.0)), 6).as("mrr"),
        round(coalesce(col("dcg"), lit(0.0)) /
          col("idcg"), 6).as("ndcg"))
  }

  /** Directional set-containment pairs (Broder 1997's containment
    * `|A ∩ B| / |A|` over word `shingleN`-gram shingle SETS): detects
    * partial copies — quotation, wrapper pages, doc-inside-doc — that
    * symmetric Jaccard/cosine under-scores (a short doc fully contained
    * in a long one has low Jaccard but containment 1.0). Emits
    * (a_id, b_id, n_shared, containment) for ORDERED pairs a≠b with
    * containment(a in b) >= threshold.
    *
    * Scale shape is the inverted-index discipline of
    * [[sparseCosinePairs]]: distinct (doc, shingle) rows form map-side;
    * one partial-combined exchange keys on the shingle; the `maxDf`
    * prefix filter drops corpus-frequent shingles BEFORE the pair join,
    * bounding per-shingle fanout; candidate pairs exist only where a
    * shared shingle survives, so recall is 1.0 for thresholds above
    * maxDf-droppable mass — no all-pairs product. Containment is an
    * exact integer ratio (n_shared / |A|), so there is no float algebra
    * to replicate at all. */
  def containmentPairs(docs: DataFrame, maxDf: Long, threshold: Double)
      : DataFrame = {
    val shingleN = 3
    val sh = Materializer.Local(docs
      .select(col(IdCol).as("doc_id"),
        explode(array_distinct(
          TextAnalysis.shingles(col(TextCol), shingleN))).as("t")))
    // the kept-shingle set (df <= maxDf) is the Heaps-growing RARE tail
    // of the vocabulary — unhinted, like the round-9 q139 kept-term
    // de-hint: both sides key on the shingle, AQE broadcasts only when
    // the set is genuinely small
    val kept = sh.join(
      sh.groupBy(col("t")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf).select(col("t")),
      Seq("t"))
    // |A| over the KEPT shingles (the capped similarity space — the
    // denominator must live in the same space as the intersection)
    val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val shared = kept.select(col("t"), col("doc_id").as("a_id"))
      .join(kept.select(col("t"), col("doc_id").as("b_id")), Seq("t"))
      .filter(col("a_id") =!= col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_shared"))
    shared.join(sizes.withColumnRenamed("doc_id", "a_id"), Seq("a_id"))
      .select(col("a_id"), col("b_id"), col("n_shared"),
        round(col("n_shared").cast("double") / col("sz").cast("double"), 6)
          .as("containment"))
      .filter(col("containment") >= threshold)
  }

  def rrfFuse(rankings: Seq[DataFrame], topN: Int = 10)
      : DataFrame = {
    val c = 60
    require(rankings.nonEmpty && topN > 0)
    val all = rankings.map(_.select(col("doc_id"),
      (lit(1.0) / (lit(c.toDouble) + col("rk").cast("double"))).as("s")))
      .reduce(_ unionByName _)
    all.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_lists"),
        round(sum(col("s").cast("decimal(38,20)")).cast("double"), 9)
          .as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(topN)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id").asc)).cast("int"))
      .select(col("rk"), col("doc_id"), col("n_lists"), col("score"))
  }

  /** Pseudo-relevance-feedback query expansion (the RM3 recipe, Lavrenko
    * & Croft 2001 as deployed in Anserini/Indri): run the base query,
    * take the top `fbDocs` results as presumed-relevant, add their
    * `fbTerms` most frequent non-query terms, and return the expanded
    * term list for a second [[bm25]] pass — the classic +5-10% recall
    * lever a lexical retrieval stack applies before reranking.
    *
    * Deterministic end-to-end: feedback docs come from bm25's pinned
    * (score desc, id asc) ranking; expansion terms rank on the INTEGER
    * (tf desc, term asc) key — never on a float weight. Two driver
    * actions, both bounded (fbDocs ids, fbTerms strings); the term
    * count pass explodes ONLY the feedback docs. */
  def rm3ExpandTerms(docs: DataFrame,
                     baseQuery: Seq[String], fbDocs: Int = 5,
                     fbTerms: Int = 3): Seq[String] = {
    require(fbDocs > 0 && fbTerms > 0)
    val run1 = bm25(docs, baseQuery, topN = fbDocs)
    val ids = run1.select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    val exp = docs.filter(col(IdCol).isInCollection(ids))
      .select(explode(TextAnalysis.tokens(col(TextCol))).as("t"))
      .filter(!col("t").isInCollection(baseQuery))
      .groupBy(col("t")).agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("t").asc).limit(fbTerms)
      .collect().map(_.getString(0)).toSeq
    baseQuery ++ exp
  }

  /** The MMR greedy (Carbonell & Goldstein 1998): pick `k` of the
    * candidates, each maximizing `lambda·rel − (1−lambda)·maxSimToPicked`
    * (ties to the lowest id; the first pick sees maxSim 0). Pure bounded
    * driver arithmetic over an already-collected candidate set — the
    * distributed work (relevance scoring, the pairwise similarity
    * matrix) happens upstream; this is the q199-style bounded tail.
    * `sims` must contain both orientations of each pair; missing pairs
    * read as similarity 0. Returns (rk, id, rel, maxSim, mmr),
    * unrounded. */
  def mmrSelect(cands: Seq[(Long, Double)],
                sims: Map[(Long, Long), Double], k: Int, lambda: Double)
      : Seq[(Int, Long, Double, Double, Double)] = {
    require(k >= 1 && lambda >= 0 && lambda <= 1)
    var picked = Vector.empty[(Long, Double, Double, Double)]
    var rest = cands.toVector
    for (_ <- 0 until math.min(k, cands.size)) {
      val scored = rest.map { case (id, rel) =>
        val ms = if (picked.isEmpty) 0.0
          else picked.map(p => sims.getOrElse((id, p._1), 0.0)).max
        (id, rel, ms, lambda * rel - (1.0 - lambda) * ms)
      }
      val best = scored.minBy { case (id, _, _, m) => (-m, id) }
      picked = picked :+ best
      rest = rest.filterNot(_._1 == best._1)
    }
    picked.zipWithIndex.map { case ((id, rel, ms, m), i) =>
      (i + 1, id, rel, ms, m) }
  }
}
