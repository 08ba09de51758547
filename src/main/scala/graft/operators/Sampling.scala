package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic corpus sampling for training-data pipelines.
  *
  * [[stratifiedSample]] complements the hash-THRESHOLD downsampling of the
  * mixture-rebalance query (q67): thresholds give each row an independent
  * keep decision (proportional share, no exact guarantee); stratified
  * sampling returns EXACTLY `n` rows per group — the "same-size eval slice
  * per language/source" ask — and stays engine-portable (md5 rank order,
  * no rand()), so a retry, a different engine, or a different partitioning
  * returns the identical document set.
  */
object Sampling {
  private val Tokens = col("toks")
  private val TextCol = "text"
  private val IdCol = "doc_id"
  private val GroupCol = "source"

  /** First 8 md5 hex chars of the id — the uniform, engine-portable rank
    * key (lexicographic == numeric for fixed-width lowercase hex). */
  private def hashKey: Column = {
    val idCol = "doc_id"
    substring(md5(col(idCol).cast("string")), 1, 8)
  }

  /** Exact-count stratified sample: for every group, the `n` rows with the
    * smallest (md5(id), id) rank — min(n, |group|) rows when a group is
    * smaller. Returns the input columns plus `rk` (1-based rank within the
    * group).
    *
    * Scale shape: the naive formulation is one rank window over the whole
    * corpus partitioned by group — group sizes are Zipf (one language can
    * be half of 100 TB), so that window is the skew cliff. Instead, a
    * two-phase trim: a tiny per-group count derives a candidate hash
    * threshold `p = margin·n / |group|` (clamped to 1), the corpus takes a
    * map-side `hash < p·2³²` filter against the broadcast thresholds —
    * candidates are ~margin·n rows per group regardless of group size —
    * and only candidates pay the rank window. A per-group candidate
    * recount (tiny) PROVES sufficiency: any group whose candidate set
    * somehow fell below `n` (hash-variance tail, probability ~e^{-margin·n}
    * ) is re-ranked over its full population, so the result is exactly the
    * true top-n by construction, not with high probability. */
  def stratifiedSample(df: DataFrame,
                       n: Int, margin: Double = 4.0): DataFrame = {
    val groupCol = "lang"
    require(n > 0 && margin >= 1.0)
    val h = hashKey
    val counts = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_total"))
    // candidate keep-probability per group, as a fixed-width hex threshold
    // (the q67 derivation: lexicographic compare == numeric compare)
    val thr = counts.withColumn("thr", lower(lpad(hex(least(
        ceil(lit(margin * n) / col("n_total") * lit(4294967296.0))
          .cast("long"),
        lit(4294967295L))), 8, "0")))
      .select(col(groupCol), col("thr"))
    // null-safe join: a null group is a group like any other (the naive
    // window formulation keeps it; a plain equi-join would drop it)
    // materialized: the candidate set (~margin·n rows per group) feeds
    // both the sufficiency recount ACTION and the pool — unmaterialized,
    // the corpus scan behind it runs twice
    val cands = Materializer.Local(
      df.join(broadcast(thr.withColumnRenamed(groupCol, "s_grp")),
          col(groupCol) <=> col("s_grp"))
        .filter(h <= col("thr"))
        .drop("thr", "s_grp"))
    // sufficiency proof: a group with < n candidates re-ranks over its
    // full population (tiny driver list; empty in practice). Derived from
    // `counts` LEFT-joined with candidate counts: a group whose candidate
    // set is EMPTY (hash-variance tail) has no candidate row at all, and an
    // inner join would silently drop it from the output instead of
    // re-ranking it. Null-safe join so a null group is handled like any
    // other.
    val candCounts = cands.groupBy(col(groupCol).as("c_grp"))
      .agg(count(lit(1)).as("n_cand"))
    val short = counts
      .join(candCounts, col(groupCol) <=> col("c_grp"), "left")
      .filter(coalesce(col("n_cand"), lit(0L)) <
        least(lit(n.toLong), col("n_total")))
      .select(col(groupCol)).collect().map(_.get(0))
    // null-safe membership (isin never matches a null group)
    val isShort = short.foldLeft(lit(false))((acc, v) =>
      acc || (col(groupCol) <=> lit(v)))
    val pool =
      if (short.isEmpty) cands
      else cands.filter(!isShort).unionByName(df.filter(isShort))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(h.asc, col(IdCol).asc)
    pool.withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= n)
  }

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    * arXiv:2302.03169): pick the `n` raw-corpus documents that look most
    * like a target domain. Per-doc importance weight
    * `log w(d) = Σ_t tf_t(d)·(ln p_target(t) − ln p_raw(t))` under add-α
    * unigram LMs trained on the target slice and the full corpus; the
    * paper's Gumbel-top-k resample is made deterministic and
    * engine-portable by deriving each doc's Gumbel noise
    * `g = −ln(−ln u)` from a md5-uniform `u` (the q63 idiom — no
    * rand(), identical selection on retry or on another engine).
    * Selected = top `n` by (log w + g), tie-broken by id.
    *
    * Scale shape: per-doc term tf partial-combines once
    * ([[Materializer]]-pinned; the two LM count tables and the join-back
    * all share it); both LMs are aggregates of that table (the target LM
    * filters it by an id-keyed semi-join — the corpus is NOT
    * re-tokenized); the join-back keys on the term (Zipf head → AQE
    * skew-join). The per-doc weight sum accumulates in DECIMAL(38,6)
    * so partial-agg order can never flip a bit, and the final top-n is
    * a bounded sort, not a global window. Driver scalars: two LM
    * totals + two vocab sizes.
    *
    * `target` must be a subset of `df` rows (same id space). Returns
    * (rk, id, logw, score) for the selected docs. */
  def dsirResample(df: DataFrame, target: DataFrame, n: Int): DataFrame = {
    val alpha = 0.5
    require(n > 0)
    val tf = Materializer.Local(df
      .select(col(IdCol).as("id"),
        explode(TextAnalysis.tokens(col(TextCol))).as("t"))
      .groupBy(col("id"), col("t")).agg(count(lit(1)).as("tf")))
    val targetIds = target.select(col(IdCol).as("id"))
    // id-keyed SEMI join, unhinted: the target slice can be an
    // SF-linear selection (q88 keys it by source), so a forced
    // broadcast is the 100x-scale OOM class — AQE still broadcasts
    // a genuinely small target, and the semi join never widens rows
    val tgtTf = tf.join(targetIds, Seq("id"), "left_semi")
    val rawLm = tf.groupBy(col("t")).agg(sum(col("tf")).as("c_raw"))
    val tgtLm = tgtTf.groupBy(col("t")).agg(sum(col("tf")).as("c_tgt"))
    def scalars(lm: DataFrame, c: String): (Double, Double) = {
      val r = lm.agg(coalesce(sum(col(c)), lit(0L)),
        count(lit(1))).collect()(0)
      (r.getLong(0).toDouble, r.getLong(1).toDouble)
    }
    val (nRaw, vRaw) = scalars(rawLm, "c_raw")
    val (nTgt, vTgt) = scalars(tgtLm, "c_tgt")
    // an empty target slice has no LM to resample toward: return the
    // empty selection (schema intact) instead of ln(x/0) noise
    if (nTgt == 0.0)
      return df.select(lit(0).as("rk"), col(IdCol).as("id"),
        lit(0.0).as("logw"), lit(0.0).as("score")).limit(0)
    // ln p_target(t) - ln p_raw(t); a term absent from the target LM
    // still scores via the smoothing mass (c_tgt -> 0)
    val lr = rawLm.join(tgtLm, Seq("t"), "left")
      .withColumn("lratio",
        log((coalesce(col("c_tgt"), lit(0L)).cast("double") + lit(alpha)) /
          lit(nTgt + alpha * vTgt)) -
        log((col("c_raw").cast("double") + lit(alpha)) /
          lit(nRaw + alpha * vRaw)))
      .select(col("t"), col("lratio"))
    val u = (conv(substring(md5(col("id").cast("string")), 1, 8), 16, 10)
      .cast("double") + lit(1.0)) / lit(4294967297.0)
    val logw = tf.join(lr, Seq("t"))
      .groupBy(col("id"))
      .agg(round(sum((col("tf").cast("double") * col("lratio"))
        .cast("decimal(38,6)")).cast("double"), 6).as("logw"))
    logw
      .withColumn("score", round(col("logw") - log(-log(u)), 6))
      .orderBy(col("score").desc, col("id").asc)
      .limit(n)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("score").desc, col("id").asc)).cast("int"))
      .select(col("rk"), col("id"), col("logw"), col("score"))
  }

  /** Cascaded-filter retention accounting — the C4/RefinedWeb cleaning
    * funnel report: each stage is a named predicate applied ON TOP of all
    * earlier stages, and the output is one row per stage with the surviving
    * row count and the rows that stage removed (stage 0 = the unfiltered
    * total). Pipelines publish exactly this table in data cards and use it
    * to spot a filter that suddenly eats the corpus.
    *
    * Scale shape: the naive form runs one `count` job per stage — k full
    * scans, k× the 100 TB read. Here every stage predicate becomes one
    * conditional-sum column of a SINGLE partial-combined aggregate (one
    * scan, map-side combine, a 1-row exchange), and the per-stage rows are
    * exploded from that 1-row result on the driver side of the plan. */
  def filterFunnel(df: DataFrame, stages: Seq[(String, Column)]): DataFrame = {
    require(stages.nonEmpty)
    // stage i condition = conjunction of predicates 1..i
    val cascaded = stages.scanLeft(lit(true)) {
      case (acc, (_, c)) => acc && c
    }.tail
    val aggs = count(lit(1)).as("__s0") +:
      cascaded.zipWithIndex.map { case (c, i) =>
        sum(when(c, 1L).otherwise(0L)).as(s"__s${i + 1}")
      }
    val totals = df.agg(aggs.head, aggs.tail: _*)
    val names = "total" +: stages.map(_._1)
    val rows = names.zipWithIndex.map { case (nm, i) =>
      struct(lit(i).as("stage_id"), lit(nm).as("stage"),
        col(s"__s$i").as("surviving"),
        (if (i == 0) lit(0L)
         else col(s"__s${i - 1}") - col(s"__s$i")).as("dropped"))
    }
    totals.select(explode(array(rows: _*)).as("f")).select("f.*")
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis 2006,
    * algorithm A-ES, in its Gumbel-key form): per group, `n` rows drawn
    * with probability proportional to `weight` — "sample 100k docs per
    * language, length/quality-weighted" — made deterministic and
    * engine-portable by deriving each row's uniform from md5(id) (the
    * q63/q88 idiom: no rand(), a retry or another engine selects the
    * identical rows). Key = ln(w) + Gumbel(u) = ln(w) − ln(−ln(u));
    * top-n keys per group IS the without-replacement weighted draw
    * (Efraimidis–Spirakis Thm 1 via the exponential-races argument).
    *
    * Scale shape: keys are one map-side projection; the per-group top-n
    * rides the bounded [[graft.functions.TopKAgg]] heap (the q135
    * machinery) — each partition ships ≤n candidates per group, no
    * group-partitioned window, so a group holding half of 100 TB still
    * can't funnel one task. Keys round(6) so ranking never hangs on a
    * libm ulp; ties break by id. Returns (group, id, score, rk). */
  def weightedSample(df: DataFrame, weight: Column, n: Int): DataFrame = {
    val groupCol = "lang"
    val idCol = "doc_id"
    require(n > 0)
    val u = (conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("double") + lit(1.0)) / lit(4294967297.0)
    val key = round(log(weight) - log(-log(u)), 6)
    TopK.groupTopK(
      df.select(col(groupCol), col(idCol), key.as("aes_key")),
      groupCol, col("aes_key"), n)
  }

  /** Per-group cap keeping the BEST rows — the RefinedWeb-style per-domain
    * cap with quality priority: for every group, the `n` rows with the
    * highest `score` (ties broken by smallest id). [[stratifiedSample]]
    * answers "a same-size UNIFORM slice per group"; this answers "at most
    * `n` docs per domain, and make them the best ones".
    *
    * Scale shape: the naive per-group `row_number` window shuffles every
    * row of a Zipf-skewed corpus into per-domain partitions (one domain
    * can be half of 100 TB). Instead the bounded
    * [[graft.functions.TopKAgg]] heap partial-aggregates map-side: the
    * exchange moves one ≤n-element buffer per (partition, group), never
    * the corpus. The heap's total order (score desc, id asc) makes the
    * kept set unique and merge-order-independent, and the finished
    * buffer's position IS the rank — no window anywhere.
    *
    * Returns (group, id, score, rk), rk 1-based best-first. */
  def cappedByScore(df: DataFrame, score: Column, n: Int): DataFrame = {
    val groupCol = "source"
    val idCol = "doc_id"
    require(n > 0)
    val agg = udaf(new graft.functions.TopKAgg(n))
    df.select(col(groupCol), score.as("s"),
        col(idCol).cast("long").as("i"))
      .groupBy(col(groupCol))
      .agg(agg(col("s"), col("i")).as("top"))
      .select(col(groupCol), posexplode(col("top").getField("items")))
      .select(col(groupCol), col("col.id").as(idCol),
        col("col.sim").as("score"),
        (col("pos") + 1).cast("int").as("rk"))
  }

  /** Token-budget mixture plan — the "data recipe" calculation a
    * pretraining run is provisioned with: given per-group available
    * token mass (one corpus pass), a UNIFORM target mixture over the
    * groups and a total training-token budget, report per group the
    * sampling rate that hits its target share, the epoch count an
    * over-asked group must repeat (up-sampling), and the share actually
    * achievable once repeats are capped at `maxEpochs` (the standard
    * repetition guard — data repeated too often stops helping, so the
    * planner must surface WHERE the recipe falls short rather than
    * silently over-repeating).
    *
    * Exact integer algebra end to end: targets are integer divisions of
    * the budget, caps are integer min/max, and only the published rate
    * and share are pinned round(6) doubles — so the plan replays
    * bit-identically on any engine. One partial-combined
    * (group, Σtokens) exchange; everything after is group-count-sized.
    * Returns (group, n_docs, tokens_avail, target_tokens,
    * sampling_rate, epochs, capped_tokens, achievable_share) ordered by
    * group. */
  def mixturePlan(docs: DataFrame,
                  budget: Long, maxEpochs: Int = 4): DataFrame = {
    require(budget > 0 && maxEpochs >= 1)
    val per = docs
      .groupBy(col(GroupCol).as("grp"))
      .agg(count(lit(1)).as("n_docs"),
        sum(Tokens.cast("long")).as("tokens_avail"))
    val nGrp = per.agg(count(lit(1)).as("n_groups"))
    // uniform target: every group owes budget / n_groups tokens (integer
    // division — the remainder is deliberately left unassigned rather
    // than invented); an over-asked group repeats ceil(target/avail)
    // epochs, capped at maxEpochs
    // total over empty groups too: a source whose docs are all empty
    // (tokens_avail = 0) reports (rate null, 1 epoch, 0 tokens, share 0)
    // instead of dividing by zero — dropping the row would silently hide
    // exactly the recipe shortfall the planner exists to surface
    val hasTok = col("tokens_avail") > 0L
    per.crossJoin(broadcast(nGrp))
      .withColumn("target_tokens",
        expr(s"CAST($budget AS BIGINT) div n_groups"))
      .withColumn("sampling_rate",
        when(hasTok, round(col("target_tokens").cast("double")
          / col("tokens_avail").cast("double"), 6)))
      .withColumn("epochs",
        when(hasTok, least(
          expr("(target_tokens + tokens_avail - 1) div tokens_avail"),
          lit(maxEpochs.toLong))).otherwise(lit(1L)))
      .withColumn("capped_tokens",
        when(hasTok, least(col("target_tokens"),
          col("tokens_avail") * col("epochs"))).otherwise(lit(0L)))
      .select(col("grp").as(GroupCol), col("n_docs"),
        col("tokens_avail"), col("target_tokens"), col("sampling_rate"),
        col("epochs"), col("capped_tokens"),
        round(col("capped_tokens").cast("double") / lit(budget.toDouble),
          6).as("achievable_share"))
      .orderBy(col(GroupCol))
  }

  /** Temperature-scaled mixture weights (q326) — the multilingual /
    * multi-source sampling-temperature sweep: a source's natural share
    * p_i = toks_i / Σtoks is flattened to w_i ∝ p_i^T, and the readout
    * shows, for every temperature in the grid, each source's sampled
    * share and its boost over natural — the table a pretraining run
    * uses to pick T (T=1 is proportional sampling; lower T upweights
    * small sources).
    *
    * The grid is DYADIC on purpose: temperatures are given as sqrt
    * APPLICATIONS k (T = 2^-k: k=0 -> 1, k=1 -> 0.5, k=2 -> 0.25),
    * because IEEE-754 requires sqrt to be correctly rounded in every
    * engine while pow's last ulp is libm-specific — so p^T here is
    * bit-exact across Spark and any SQL oracle, with no pow anywhere.
    * The per-temperature normalizer Σw sums doubles through
    * DECIMAL(38,20) (the q40 cosine idiom), so it is order-independent.
    * Zero-share groups take an explicit 0.0 branch in both engines.
    *
    * Scale shape: ONE corpus scan — the (source, toks) aggregate —
    * then pure algebra on the |sources| x |grid| frame: the token
    * total and the per-T normalizers are WINDOW sums over that
    * already-bounded frame (a DataFrame branch per scalar would
    * re-execute the corpus scan once per reference), and the grid
    * rides a broadcast literal cross. The global window is over
    * |sources| rows, never the corpus. */
  def temperatureMixture(docs: DataFrame, tokens: Column)
      : DataFrame = {
    val sqrtLevels = Seq(0, 1, 2)
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    def sqrtK(k: Int): Column = {
      val c = col("p")
      (1 to k).foldLeft(c)((x, _) => sqrt(x))
    }
    val base = docs.groupBy(col(GroupCol).as("grp"))
      .agg(sum(tokens.cast("long")).cast("long").as("toks"))
    val grid = sqrtLevels.map(k => (k, math.pow(0.5, k)))
      .toDF("k", "t") // 0.5^k is a power of two — exact in the literal
    val w = sqrtLevels.tail.foldLeft(
        when(col("k") === sqrtLevels.head, sqrtK(sqrtLevels.head))
      )((acc, k) => acc.when(col("k") === k, sqrtK(k)))
    base
      .withColumn("total_toks",
        sum(col("toks")).over(Window.partitionBy()))
      // explicit zero branch: an all-empty corpus gives total_toks = 0
      // and 0/0 would be NaN here while the SQL replay's NaN-to-DECIMAL
      // cast ERRORS — both engines must take the same 0.0 path
      .withColumn("p", when(col("total_toks") > 0,
        col("toks").cast("double") / col("total_toks").cast("double"))
        .otherwise(0.0))
      .crossJoin(broadcast(grid))
      .withColumn("w", w)
      // per-T normalizer: exact decimal adds (the q40 idiom), so the
      // window's accumulation order cannot flip a bit
      .withColumn("sw", sum(col("w").cast("decimal(38,20)"))
        .over(Window.partitionBy(col("k"))).cast("double"))
      .select(col("t"), col("grp").as(GroupCol), col("toks"),
        round(col("p"), 6).as("share_natural"),
        when(col("sw") > 0, round(col("w") / col("sw"), 6))
          .otherwise(0.0).as("share_sampled"))
      .withColumn("boost",
        when(col("share_natural") > 0,
          round(col("share_sampled") / col("share_natural"), 6))
          .otherwise(0.0))
      .orderBy(col("t").desc, col(GroupCol))
  }

  /** Token-budget greedy selection — "fill an N-token training budget
    * with the best-scored documents": docs rank by (score desc, id asc)
    * and the selected set is the maximal prefix whose PRECEDING
    * cumulative weight stays under `budget` (so the doc that crosses
    * the line is included — the usual knapsack-relaxation greedy, which
    * is optimal for this fractional objective up to one document).
    *
    * The global prefix sum is the q66 two-phase shape generalized to a
    * score order: approximate score-quantile boundaries bucket the
    * corpus into contiguous ranges of the order (boundaries affect
    * PARTITIONING only — the per-bucket offsets re-align the exact
    * cumulative, so estimator noise can never change the result), each
    * bucket runs a local (k, id) window, and the driver prefix-sums
    * nBuckets totals. No single-partition window, no global sort.
    * Returns per-doc (id, w, s, selected). */
  def budgetSelect(docs: DataFrame, weight: Column,
                   score: Column, budget: Long, nBuckets: Int = 64)
      : DataFrame = {
    require(budget >= 0 && nBuckets > 0)
    // materialize the narrow (id, w, s) table ONCE: it feeds three
    // consumers (quantile bounds, bucket totals, the final window), and
    // unmaterialized the bucket-assignment HOF re-evaluates the caller's
    // score expression per boundary element after projection collapse
    // (the q98 trap — measured 20.6 s -> ~1 s at sf0.1 for a regex-heavy
    // quality score)
    val base = Materializer.Local(docs.select(col(IdCol).cast("long").as("id"),
      weight.cast("long").as("w"), score.cast("double").as("s"))
      .withColumn("k1", -col("s")))
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets)
    val aggRow = base.agg(count(lit(1)),
      percentile_approx(col("k1"),
        typedlit(if (probs.isEmpty) Seq(0.5) else probs),
        lit(10000))).collect()(0)
    if (aggRow.getLong(0) == 0L)
      return base.select(col("id"), col("w"), col("s"),
        lit(false).as("selected")).limit(0)
    val bounds =
      if (probs.isEmpty) Array.empty[Double]
      else aggRow.getSeq[Double](1).toArray.distinct.sorted
    val bucketOf: Column =
      if (bounds.isEmpty) lit(0L)
      else aggregate(typedlit(bounds.toSeq), lit(0L),
        (acc, b) => acc + when(col("k1") >= b, 1L).otherwise(0L))
    val bk = base.withColumn("bucket", bucketOf)
    val totals = bk.groupBy(col("bucket")).agg(sum(col("w")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = totals.scanLeft((Long.MinValue, 0L)) {
      case ((_, acc), (b, t)) => (b, acc + t)
    }.sliding(2).map { case Array((_, prev), (b, _)) => (b, prev) }
      .toMap
    val offCol = coalesce(element_at(
      map(offsets.toSeq.sortBy(_._1).flatMap { case (b, o) =>
        Seq(lit(b), lit(o)) }: _*), col("bucket")), lit(0L))
    val win = Window.partitionBy(col("bucket"))
      .orderBy(col("k1"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bk.withColumn("cum", sum(col("w")).over(win) + offCol)
      .select(col("id"), col("w"), col("s"),
        (col("cum") - col("w") < budget).as("selected"))
  }

  /** Facility-location greedy data selection (Lin & Bilmes, ACL 2011 —
    * submodular subset selection for training data): pick `k` docs from
    * an `nCand`-doc hash-order candidate pool maximizing
    * Σ_d max_{s∈S} sim(d, s) — the "every document has a similar
    * representative" coverage objective, within 1−1/e of optimal by
    * Nemhauser–Wolsey–Fisher 1978. sim = exact Jaccard over distinct
    * word `shingleN`-shingles.
    *
    * Scale shape: the similarity matrix forms ONCE via a broadcast
    * candidate-shingle equi-join (the corpus never self-joins — fanout
    * is bounded by the nCand pool) and is checkpointed; each greedy
    * round is one marginal-gain aggregate over that sparse matrix plus
    * a 1-row broadcast update of the per-doc coverage vector. Sims,
    * gains and the objective stay exact DECIMAL(19,9)+ end to end — no
    * float summation anywhere — so the unrolled SQL replay is
    * bit-identical. Returns one row per greedy round:
    * (rk, doc_id, gain, objective). */
  def facilityLocationSelect(docs: DataFrame, nCand: Int = 30,
                             k: Int = 5): DataFrame = {
    val shingleN = 3
    import org.apache.spark.sql.expressions.Window
    require(nCand >= 1 && k >= 1)
    val zero = lit(0).cast("decimal(19,9)")
    val sh = docs.select(col(IdCol).as("did"),
      explode(array_distinct(
        TextAnalysis.shingles(col(TextCol), shingleN))).as("sg"))
    val cands = docs
      .orderBy(md5(concat(lit("fl|"), col(IdCol).cast("string"))).asc,
        col(IdCol).asc)
      .limit(nCand)
      .select(col(IdCol).as("cid"), col(TextCol).as("ctext"))
    val csh = cands.select(col("cid"),
      explode(array_distinct(
        TextAnalysis.shingles(col("ctext"), shingleN))).as("sg"))
    val dsz = sh.groupBy(col("did")).agg(count(lit(1)).as("sa"))
    val csz = csh.groupBy(col("cid")).agg(count(lit(1)).as("sb"))
    val m = Materializer.Local(sh.join(broadcast(csh), Seq("sg"))
      .groupBy(col("did"), col("cid")).agg(count(lit(1)).as("ix"))
      .join(dsz, Seq("did")).join(broadcast(csz), Seq("cid"))
      .select(col("did"), col("cid"),
        round(col("ix").cast("double")
            / (col("sa") + col("sb") - col("ix")).cast("double"), 9)
          .cast("decimal(19,9)").as("sim")))
    // coverage vector over the docs that CAN be covered (docs sharing no
    // shingle with any candidate contribute 0 to every gain, exactly as
    // their absence does)
    var best = Materializer.Local(
      m.select(col("did")).distinct().withColumn("best", zero))
    var picks: DataFrame = null
    for (r <- 1 to k) {
      val gains = m.join(best, Seq("did"))
        .filter(col("sim") > col("best"))
        .groupBy(col("cid"))
        .agg(sum(col("sim") - col("best")).as("g"))
      val pick = Materializer.Local(
        gains.orderBy(col("g").desc, col("cid").asc).limit(1))
      val row = pick.select(lit(r).as("rk"), col("cid").as("doc_id"),
        col("g"))
      picks = if (picks == null) row else picks.unionAll(row)
      val mp = m.join(broadcast(pick.select(col("cid"))), Seq("cid"))
        .select(col("did"), col("sim"))
      best = Materializer.Local(best.join(mp, Seq("did"), "left")
        .select(col("did"),
          greatest(col("best"), coalesce(col("sim"), zero)).as("best")))
    }
    // k rows: the running objective is a bounded-table window
    val w = Window.orderBy(col("rk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    picks
      .withColumn("objective", round(sum(col("g")).over(w).cast("double"), 6))
      .select(col("rk"), col("doc_id"),
        round(col("g").cast("double"), 6).as("gain"), col("objective"))
  }

  /** Quality-curriculum schedule (q317) — the staged "clean data first"
    * training plan: docs are bucketed into `nTiers` quality tiers, and
    * stage s (1-based) trains on the pool of tiers >= nTiers - s — the
    * top tier alone first, each later stage ADDING the next tier down —
    * with a budget share proportional to the stage index (later stages
    * see more data and take more tokens: stage_budget = budget * s /
    * Σ(1..nTiers), integer division, remainder deliberately
    * unassigned). Per stage the [[mixturePlan]] algebra prices the
    * plan: sampling rate against the pool, epochs an over-asked stage
    * must repeat (capped at `maxEpochs`), and the achievable share once
    * capped — including the zero-token branch (an EMPTY pool — e.g. no
    * doc reaches the top tier — reports rate NULL, 1 epoch, 0 tokens,
    * share 0 rather than vanishing: surfacing the shortfall is the
    * point of the plan).
    *
    * Scale shape: ONE corpus rollup (tier-keyed partial-combined
    * aggregate, <= nTiers rows); the stage x tier range join is a
    * broadcast nested-loop over two tier-count-sized frames — the
    * per-tier side is stamped `value_grid` (tiers are cells of the
    * quantized quality grid, bounded by construction of the tier
    * expression, which the structural walker cannot see through the
    * grouped aggregate). Everything downstream is integer algebra.
    * Returns (stage, min_tier, n_tiers, n_docs, tokens_avail,
    * stage_budget, sampling_rate, epochs, capped_tokens,
    * achievable_share) ordered by stage. */
  def curriculumPlan(docs: DataFrame, budget: Long)
      : DataFrame = {
    val tier = col("tier")
    val nTiers = 4
    val maxEpochs = 4
    require(budget > 0)
    val spark = docs.sparkSession
    import spark.implicits._
    val perTier = docs
      .groupBy(tier.cast("int").as("tier"))
      .agg(count(lit(1)).as("td"), sum(Tokens.cast("long")).as("tt"))
    val stages = (1 to nTiers).map(st => (st, nTiers - st))
      .toDF("stage", "min_tier")
    val weightSum = nTiers * (nTiers + 1) / 2
    val pool = stages
      // tier domain is <= nTiers cells of the quality grid: bounded by
      // the tier expression's construction, not visible to the walker
      .join(Hints.boundedBroadcast(perTier, "value_grid"),
        col("tier") >= col("min_tier"), "left")
      .groupBy(col("stage"), col("min_tier"))
      .agg(count(col("tier")).cast("long").as("n_tiers"),
        coalesce(sum(col("td")), lit(0L)).cast("long").as("n_docs"),
        coalesce(sum(col("tt")), lit(0L)).cast("long")
          .as("tokens_avail"))
      .withColumn("stage_budget",
        expr(s"CAST($budget AS BIGINT) * stage div $weightSum"))
    val hasTok = col("tokens_avail") > 0L
    pool
      .withColumn("sampling_rate",
        when(hasTok, round(col("stage_budget").cast("double")
          / col("tokens_avail").cast("double"), 6)))
      .withColumn("epochs",
        when(hasTok, least(
          expr("(stage_budget + tokens_avail - 1) div tokens_avail"),
          lit(maxEpochs.toLong))).otherwise(lit(1L)))
      .withColumn("capped_tokens",
        when(hasTok, least(col("stage_budget"),
          col("tokens_avail") * col("epochs"))).otherwise(lit(0L)))
      .select(col("stage"), col("min_tier"), col("n_tiers"),
        col("n_docs"), col("tokens_avail"), col("stage_budget"),
        col("sampling_rate"), col("epochs"), col("capped_tokens"),
        round(col("capped_tokens").cast("double")
          / lit(budget.toDouble), 6).as("achievable_share"))
      .orderBy(col("stage"))
  }
}
