package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline: exact dedup,
  * MinHash+LSH near-dup, SimHash, and n-gram Jaccard verification.
  *
  * Scale design (the point at 100 TB):
  *   - exact dedup is a hash-groupBy on a digest, never on raw text — the
  *     shuffle moves 16-byte keys + doc ids, not documents;
  *   - MinHash/LSH turns the quadratic all-pairs problem into an equi-join
  *     on (band index, band hash): signatures are computed map-side in one
  *     pass, candidates materialize only inside identical buckets, and the
  *     final Jaccard verify runs on the candidate set only;
  *   - every step is a DataFrame op (groupBy / join on short keys), so AQE
  *     handles skewed buckets and partial aggregation runs map-side.
  */
object Dedup {
  private val VecCol = "embedding"
  private val TextCol = "text"
  private val IdCol = "doc_id"

  /** Exact duplicate groups: digest -> representative (min doc id) + count.
    * Grouping on md5 keeps the shuffle narrow and is oracle-checkable. */
  def exactDuplicateGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col(TextCol)).as("text_hash"))
      .agg(min(col(IdCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)

  /** Drop exact duplicates, keeping the min-id representative per text.
    * Window-free formulation: an aggregate + semi-join back keeps the plan
    * a pair of narrow shuffles on the digest key. */
  def dropExactDuplicates(docs: DataFrame): DataFrame = {
    val keep = docs
      .groupBy(md5(col(TextCol)).as("text_hash"))
      .agg(min(col(IdCol)).as(IdCol))
      .select(IdCol)
    docs.join(keep, Seq(IdCol), "left_semi")
  }

  /** MinHash signature as array<string> of length k, using md5 hex-string
    * minima over n-gram shingles. String-min MinHash is engine-portable
    * (DuckDB computes the identical signature), which makes the whole LSH
    * pipeline oracle-checkable. One native pass per row (see
    * [[graft.functions.MinHashSig]]). */
  def minhashSignature(text: Column, k: Int, shingleN: Int): Column =
    graft.functions.GraftFunctions.minhash_sig(
      TextAnalysis.tokens(text), k, shingleN, useMd5 = true)

  /** LSH band keys: the signature split into `bands` contiguous rows, each
    * band rendered to one string key. Equal band key => candidate pair. */
  def lshBandKeys(sig: Column, k: Int, bands: Int): Column = {
    val r = k / bands
    transform(sequence(lit(0), lit(bands - 1)),
      b => concat_ws("_", b.cast("string"),
        concat_ws("|", slice(sig, b * r + 1, lit(r)))))
  }

  /** Word-set Jaccard similarity of two texts (unigram token sets). */
  def jaccardTokens: Column = {
    val a = col("a_text")
    val b = col("b_text")
    val ta = array_distinct(TextAnalysis.tokens(a))
    val tb = array_distinct(TextAnalysis.tokens(b))
    val inter = size(array_intersect(ta, tb)).cast("double")
    val uni = size(array_union(ta, tb)).cast("double")
    when(uni === 0, lit(0.0)).otherwise(inter / uni)
  }

  /** Word n-gram Jaccard similarity of two texts. */
  def jaccardShingles: Column = {
    val a = col("a_text")
    val b = col("b_text")
    val n = 3
    val sa = array_distinct(TextAnalysis.shingles(a, n))
    val sb = array_distinct(TextAnalysis.shingles(b, n))
    val inter = size(array_intersect(sa, sb)).cast("double")
    val uni = size(array_union(sa, sb)).cast("double")
    when(uni === 0, lit(0.0)).otherwise(inter / uni)
  }

  /** MinHash+LSH near-duplicate candidate pairs over `docs`, verified with
    * exact token-set Jaccard >= threshold. Output: (a_id, b_id, sim) with
    * a_id < b_id, one row per confirmed near-dup pair.
    *
    * Plan shape: scan -> map-side signature/bands -> explode(bands) ->
    * shuffle on band key -> in-bucket self-join -> distinct pairs ->
    * verify. No all-pairs product ever forms.
    */
  def minhashLshPairs(docs: DataFrame,
                      bands: Int = 4,
                      threshold: Double = 0.5,
                      fast: Boolean = true): DataFrame = {
    // Shingle sets and banded signatures are computed ONCE per document in
    // a single native pass (signature + banding fused — slicing a signature
    // column into bands would re-evaluate it per band); the candidate join
    // moves only (id, bandkey) pairs, and the Jaccard verify re-attaches
    // the precomputed shingle arrays by id — never recomputing per
    // candidate pair (that would be quadratic work at scale).
    // CPU-bound signature stage: small corpora arrive as one input split,
    // so spread rows across the cluster first (at 100 TB the scan already
    // has enough splits; the repartition is a no-op cost-wise).
    // materialized eagerly: the projection is referenced three times
    // (banding + both verify re-attach sides) and Catalyst re-executes an
    // uncached subtree per reference — without this, the shingle+signature
    // pass (the query's dominant cost) runs three times over the corpus.
    // The artifact is the (id, shingles, band keys) dedup index — the
    // natural thing to persist at scale anyway (Materializer.Persisted
    // exports it).
    val prepared = Materializer.Local(
      minhashIndex(docs, bands, fast))
    // explode_outer, not explode: the band array is never empty, and plain
    // explode makes Catalyst infer a size(bandkeys)>0 scan filter that
    // re-evaluates the whole signature a second time per row.
    val banded = prepared
      .select(col("id"), explode_outer(col("bandkeys")).as("bandkey"))
    val candidates = banded.select(col("bandkey"), col("id").as("a_id"))
      .join(banded.select(col("bandkey"), col("id").as("b_id")), Seq("bandkey"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    val shA = prepared.select(col("id").as("a_id"), col("sh").as("a_sh"))
    val shB = prepared.select(col("id").as("b_id"), col("sh").as("b_sh"))
    val inter = size(array_intersect(col("a_sh"), col("b_sh"))).cast("double")
    val uni = size(array_union(col("a_sh"), col("b_sh"))).cast("double")
    candidates
      .join(shA, Seq("a_id")).join(shB, Seq("b_id"))
      .withColumn("sim", round(
        when(uni === 0, lit(0.0)).otherwise(inter / uni), 6))
      .filter(col("sim") >= threshold)
      .select(col("a_id"), col("b_id"), col("sim"))
  }

  /** The `(id, sh, bandkeys)` minhash dedup index of a corpus: distinct
    * shingle sets plus banded minhash keys, one map-side pass per
    * document. Build it once, write it out (parquet — it IS the artifact
    * [[Materializer.Persisted]] exports), and join every incoming batch
    * against it with [[minhashLshPairsIncremental]] — the incremental
    * form a 100 TB corpus actually runs: the historical corpus is never
    * re-signatured, only its matching band buckets are touched. */
  def minhashIndex(docs: DataFrame,
                   bands: Int = 4, fast: Boolean = true): DataFrame = {
    val idCol = "doc_id"
    val textCol = "text"
    val k = 16
    val shingleN = 3
    // CPU-bound signature stage: small corpora arrive as one input split,
    // so spread rows across the cluster first (at 100 TB the scan already
    // has enough splits; the repartition is a no-op cost-wise).
    val parallelism = docs.sparkSession.sparkContext.defaultParallelism
    docs.repartition(parallelism, col(idCol)).select(col(idCol).as("id"),
      array_distinct(TextAnalysis.shingles(col(textCol), shingleN)).as("sh"),
      graft.functions.GraftFunctions.minhash_bands(
        TextAnalysis.tokens(col(textCol)), k, shingleN, !fast, bands)
        .as("bandkeys"))
  }

  /** Near-dup pairs of a NEW batch against an existing [[minhashIndex]]
    * (plus within the batch itself): returns every pair with at least one
    * new-side id — old-vs-old pairs never form, so the incremental run
    * shuffles only the new batch's bands and the index buckets they hit.
    * `newIndex` and `index` must share the index parameters (bands,
    * fast). Pair ids are canonical (`a_id < b_id`), so a daily
    * pipeline can append the result to its confirmed-pair log and the new
    * index rows to the persisted index. */
  def minhashLshPairsIncremental(newIndex: DataFrame, index: DataFrame,
                                 threshold: Double = 0.5): DataFrame = {
    // both sides pinned: `fresh` is referenced twice (its own banding +
    // inside `all`) and `all` three times (banding + both verify re-attach
    // sides) — Catalyst recomputes an uncached subtree per reference, and
    // for a freshly-computed index that means re-signaturing. When `index`
    // is what it should be at scale — a parquet-backed persisted artifact —
    // its re-scan is already cheap and the materialize is a no-op cost.
    val fresh = Materializer.Local(newIndex)
    val all = Materializer.Local(fresh.unionByName(index))
    val newBanded = fresh
      .select(col("id"), explode_outer(col("bandkeys")).as("bandkey"))
    val allBanded = all
      .select(col("id"), explode_outer(col("bandkeys")).as("bandkey"))
    // new side drives the join; dropping symmetric (new,new) duplicates
    // via least/greatest canonicalization keeps old-vs-old out while
    // keeping new-vs-old in both orientations
    val candidates = newBanded.select(col("bandkey"), col("id").as("n_id"))
      .join(allBanded.select(col("bandkey"), col("id").as("o_id")),
        Seq("bandkey"))
      .filter(col("n_id") =!= col("o_id"))
      .select(least(col("n_id"), col("o_id")).as("a_id"),
        greatest(col("n_id"), col("o_id")).as("b_id"))
      .distinct()
    val shA = all.select(col("id").as("a_id"), col("sh").as("a_sh"))
    val shB = all.select(col("id").as("b_id"), col("sh").as("b_sh"))
    val inter = size(array_intersect(col("a_sh"), col("b_sh"))).cast("double")
    val uni = size(array_union(col("a_sh"), col("b_sh"))).cast("double")
    candidates
      .join(shA, Seq("a_id")).join(shB, Seq("b_id"))
      .withColumn("sim", round(
        when(uni === 0, lit(0.0)).otherwise(inter / uni), 6))
      .filter(col("sim") >= threshold)
      .select(col("a_id"), col("b_id"), col("sim"))
  }

  /** Cross-TABLE fuzzy join (record linkage / entity resolution): rows of
    * a LEFT table matched to rows of a RIGHT table by text similarity —
    * the blocking formulation of a similarity join (the classic
    * Fellegi-Sunter blocking step realized with MinHash bands). Unlike the
    * self-dedup family, the two sides are DIFFERENT tables with
    * independent id spaces (crawl docs vs a licensed corpus, product
    * titles vs a catalog), so pairs are NOT canonicalized: output is one
    * (left_id, right_id, sim) row per linked pair.
    *
    * Both inputs are [[minhashIndex]] artifacts and must share
    * (k, bands, shingleN, fast) — at scale one side is typically the
    * persisted parquet index of the reference corpus, so a new table
    * links against it without the reference ever being re-signatured.
    * Plan shape: band-key equi-join (candidates form only inside
    * identical buckets — no cross product), distinct pairs, then exact
    * shingle-Jaccard verify on candidates only, re-attaching each side's
    * precomputed shingle set by id. */
  def fuzzyJoin(leftIndex: DataFrame, rightIndex: DataFrame,
                threshold: Double = 0.5): DataFrame = {
    // both sides pinned: each index is referenced twice (banding + its
    // verify re-attach side) and Catalyst re-executes an uncached subtree
    // per reference — for freshly-built indexes that is the whole
    // signature pass run twice
    val li = Materializer.Local(leftIndex)
    val ri = Materializer.Local(rightIndex)
    val lBanded = li
      .select(col("id"), explode_outer(col("bandkeys")).as("bandkey"))
    val rBanded = ri
      .select(col("id"), explode_outer(col("bandkeys")).as("bandkey"))
    val candidates = lBanded.select(col("bandkey"), col("id").as("left_id"))
      .join(rBanded.select(col("bandkey"), col("id").as("right_id")),
        Seq("bandkey"))
      .select(col("left_id"), col("right_id"))
      .distinct()
    val shL = li.select(col("id").as("left_id"), col("sh").as("l_sh"))
    val shR = ri.select(col("id").as("right_id"), col("sh").as("r_sh"))
    val inter = size(array_intersect(col("l_sh"), col("r_sh"))).cast("double")
    val uni = size(array_union(col("l_sh"), col("r_sh"))).cast("double")
    candidates
      .join(shL, Seq("left_id")).join(shR, Seq("right_id"))
      .withColumn("sim", round(
        when(uni === 0, lit(0.0)).otherwise(inter / uni), 6))
      .filter(col("sim") >= threshold)
      .select(col("left_id"), col("right_id"), col("sim"))
  }

  /** Near-duplicate CLUSTERS from confirmed pairs: the connected
    * components of the pair graph, labeled by the component's min doc id —
    * the step after pair finding that dedup actually needs (keep one
    * representative per cluster, drop the rest).
    *
    * Distributed min-label propagation WITH POINTER JUMPING: every node
    * starts labeled with its own id; each round (a) takes the min of its
    * label and its neighbors' labels (propagates the min one edge), then
    * (b) pointer-jumps `label <- label(label)` (doubles the distance the
    * min has travelled — every label value is itself a node id present in
    * the label table, so the jump is a total inner self-join). The
    * combined round halves the remaining distance-to-min, so rounds are
    * O(log diameter) instead of O(diameter) — the difference between ~14
    * rounds and ~10,000 on a drift-chain component (template-spam corpora
    * really produce those), which at 100 TB is the difference between a
    * job and a cliff. Each round is three narrow shuffles (edge join +
    * groupBy min + label self-join) over the EDGE/NODE sets only, never
    * the corpus, and lineage is cut per round via the [[Materializer]]
    * (default executor-local; reliable checkpoint / parquet for
    * preemptible fleets) so plans stay flat. Same contract as
    * GraphX/GraphFrames connected components, expressed in DataFrame ops.
    *
    * Input: (a_id, b_id) pairs (a_id < b_id). Output: (doc_id, cluster_id)
    * for every document that appears in at least one pair. */
  def nearDupClusters(pairs: DataFrame): DataFrame =
    nearDupClustersWithRounds(pairs)._1

  /** [[nearDupClusters]] plus the number of rounds the fixpoint loop ran —
    * the O(log diameter) bound is a tested property, not a comment. */
  def nearDupClustersWithRounds(pairs: DataFrame): (DataFrame, Int) = {
    // the pair set is materialized BEFORE the symmetrizing union: the
    // union references `pairs` twice, and Catalyst re-executes an
    // uncached subtree per reference — for an expensive generator
    // (banded join + verify over a 100 TB corpus) that is the whole
    // candidate search run twice (measured: large q84 46 -> ~34 s)
    val p0 = Materializer.Local(
      pairs.select(col("a_id").as("src"), col("b_id").as("dst")))
    val edges = Materializer.Local(
      p0.union(p0.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())
    var labels = Materializer.Local(edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")))
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      rounds += 1
      // (a) min neighbor label per node, then min with own label
      val nbr = edges.join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("label")).as("nbr_min"))
      val l1 = labels.withColumnRenamed("label", "old")
        .join(nbr, Seq("id"), "left")
        .select(col("id"), col("old"),
          least(col("old"), coalesce(col("nbr_min"), col("old")))
            .as("label"))
      // (b) pointer jump with the PREVIOUS round's table as the lookup
      // side: jump(v) = labels(l1(v)). labels covers distance d, l1
      // covers d+1, so the composite covers 2d+1 — the same doubling
      // recurrence as l1(l1(v)) — but l1 is referenced only once, so the
      // whole round is ONE materialized pipeline plus the convergence
      // count (the r5 per-round action count; an l1(l1) jump needs a
      // second materialization per round, measured ~15% slower on dense
      // graphs). Sound because label(v) <= v and label(v) stays in v's
      // component; the inner join is total (every label value has a
      // label row). `chg` rides along so the convergence count is a
      // filter over the checkpointed result, not a fresh join.
      val next = Materializer.Local(l1
        .join(labels.select(col("id").as("label"), col("label").as("jump")),
          Seq("label"))
        .select(col("id"), col("jump").as("label"),
          (col("jump") < col("old")).as("chg")))
      changed = next.filter(col("chg")).count()
      labels = next.select(col("id"), col("label"))
    }
    (labels.select(col("id").as("doc_id"), col("label").as("cluster_id")),
      rounds)
  }

  /** INCREMENTAL connected components — the daily operating mode of the
    * clustering stage, completing the q70 story (incremental pair finding
    * against a persisted index) with incremental cluster maintenance
    * against persisted labels: yesterday's (doc_id, cluster_id) table plus
    * today's new pairs, WITHOUT re-clustering the historical graph.
    *
    * Graph contraction: each new pair's endpoints project to their current
    * cluster representative (label if present, self otherwise — one left
    * join against the label table), then [[nearDupClusters]] runs on the
    * CONTRACTED edge set — proportional to today's batch, not the corpus.
    * The result composes back over the old labels with one more join.
    *
    * Exactly equal to re-running CC on the full pair set: every stored
    * label is its cluster's MIN member id, so the contracted component's
    * min over representatives is the min over all member ids — the same
    * label the full recompute lands on (spec-pinned differential).
    * Clusters only ever merge; a representative's own label can change,
    * and the compose join re-labels its whole old cluster through it.
    *
    * Output: (doc_id, cluster_id) for every doc in `labels` or touching a
    * new pair — the new label table to persist for tomorrow. */
  def nearDupClustersIncremental(labels: DataFrame, newPairs: DataFrame)
      : DataFrame = {
    val lab = Materializer.Local(labels.select(col("doc_id").as("l_id"),
      col("cluster_id").as("l_cl")))
    // materialize the caller's pair plan BEFORE it fans out (contraction
    // + the two newDocs union arms would re-run the incremental band-join
    // + verify three times — the q84/pageRank double-reference lesson)
    val np = Materializer.Local(newPairs.select(col("a_id"), col("b_id")))
    // contract today's edges through yesterday's labels (self when absent)
    val contracted = np
      .join(lab.withColumnRenamed("l_id", "a_id")
        .withColumnRenamed("l_cl", "a_cl"), Seq("a_id"), "left")
      .join(lab.withColumnRenamed("l_id", "b_id")
        .withColumnRenamed("l_cl", "b_cl"), Seq("b_id"), "left")
      .select(coalesce(col("a_cl"), col("a_id")).as("ra"),
        coalesce(col("b_cl"), col("b_id")).as("rb"))
      .filter(col("ra") =!= col("rb"))
      .select(least(col("ra"), col("rb")).as("a_id"),
        greatest(col("ra"), col("rb")).as("b_id"))
    // CC over the contracted graph: rep -> merged-component min id
    val merged = Materializer.Local(
      nearDupClusters(contracted)
        .select(col("doc_id").as("rep"), col("cluster_id").as("new_cl")))
    // compose: old docs re-label through their (possibly merged) rep;
    // docs only in new pairs pick up their rep's merged label directly
    val oldRelabeled = lab
      .join(merged.withColumnRenamed("rep", "l_cl"), Seq("l_cl"), "left")
      .select(col("l_id").as("doc_id"),
        coalesce(col("new_cl"), col("l_cl")).as("cluster_id"))
    val newDocs = np
      .select(col("a_id").as("doc_id"))
      .union(np.select(col("b_id").as("doc_id")))
      .distinct()
      .join(lab.withColumnRenamed("l_id", "doc_id"), Seq("doc_id"),
        "left_anti")
    val newLabeled = newDocs
      .join(merged.withColumnRenamed("rep", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("new_cl"), col("doc_id")).as("cluster_id"))
    oldRelabeled.unionByName(newLabeled)
  }

  /** Dedup threshold governance: how much would each candidate Jaccard
    * cutoff actually remove? From ONE verified pair table (built once at
    * the LOOSEST threshold under consideration), report per threshold θ:
    * the surviving pair count, the number of distinct documents touched
    * by at least one surviving pair (an upper bound on removable docs —
    * keep-one-per-pair removes at most half), and the mean similarity of
    * survivors. This is the knob-setting readout a curation pipeline
    * reads BEFORE committing to a cutoff: the pair generation (the
    * expensive banded join + verify) runs once, and the sweep is pure
    * algebra on the pair stream — never one pass per θ.
    *
    * Scale shape: `pairs` is the bounded candidate-verify output; the θ
    * grid is a literal table (broadcast-bounded by construction); both
    * rollups partial-combine on θ. The affected-doc count is a distinct
    * over (θ, doc) — exchanged at pair-stream size, never corpus size.
    * `pairs.sim` must already be rounded (the generators round(6)), so
    * `sim >= θ` compares identical IEEE values on every engine.
    * Returns (theta, n_pairs, n_docs, mean_sim) ordered by theta. */
  def dedupThresholdSweep(pairs: DataFrame, thresholds: Seq[Double])
      : DataFrame = {
    require(thresholds.nonEmpty)
    val p = Materializer.Local(
      pairs.select(col("a_id"), col("b_id"), col("sim")))
    val sp = p.sparkSession
    import sp.implicits._
    val thr = thresholds.distinct.sorted.toDF("theta")
    val hit = p.crossJoin(broadcast(thr)).filter(col("sim") >= col("theta"))
    val perPair = hit.groupBy(col("theta"))
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("sim").cast("decimal(38,6)")).cast("double")
          / count(lit(1)), 6).as("mean_sim"))
    val perDoc = hit
      .select(col("theta"), explode(array(col("a_id"), col("b_id")))
        .as("d"))
      .groupBy(col("theta"))
      .agg(count_distinct(col("d")).as("n_docs"))
    // left join from the full grid so a θ with zero survivors still
    // reports (0, 0, null) instead of vanishing from the readout
    thr.join(perPair, Seq("theta"), "left")
      .join(perDoc, Seq("theta"), "left")
      .select(col("theta"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        col("mean_sim"))
      .orderBy(col("theta"))
  }

  /** The SELECTION step a dedup pipeline ends with: per near-dup cluster
    * keep the best member by `score` (ties: lowest id); documents in no
    * pair cluster as themselves. Returns one row per cluster:
    * (cluster_id, kept_id, n_members, best_q).
    *
    * The argmax is two partial-combined aggregates — max score per
    * cluster, then min id among the maxima — rather than a
    * cluster-partitioned rank window: cluster sizes are adversarial at
    * scale (a boilerplate spam cluster can hold millions of members), and
    * a window would funnel the largest cluster through one task. `score`
    * must be deterministic per row (it is evaluated on both sides of the
    * self-join). */
  def keepBest(docs: DataFrame, pairs: DataFrame, score: Column): DataFrame = {
    val clusters = nearDupClusters(pairs)
      .withColumnRenamed("doc_id", "kb_id")
    val labeled = docs
      .join(clusters, col(IdCol) === col("kb_id"), "left")
      .select(col(IdCol).as("kb_id2"),
        coalesce(col("cluster_id"), col(IdCol)).as("cluster_id"),
        score.as("q"))
    val best = labeled.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"), max(col("q")).as("best_q"))
    labeled.join(best, Seq("cluster_id"))
      .filter(col("q") === col("best_q"))
      .groupBy(col("cluster_id"), col("n_members"), col("best_q"))
      .agg(min(col("kb_id2")).as("kept_id"))
      .select(col("cluster_id"), col("kept_id"), col("n_members"),
        col("best_q"))
  }

  /** Leakage-safe train/test assignment: every document inherits its
    * near-dup CLUSTER's hash split, so no confirmed near-dup pair can
    * straddle train and test — the contamination mode a per-doc hash
    * split cannot prevent (a test document with a near-verbatim twin in
    * train is an eval leak even after exact dedup; Lee et al. 2022 §6).
    * Assignment hashes the cluster representative's id with the same
    * md5-bucket idiom as the per-doc split ([[NaiveBayes.isTrain]]:
    * first hex char < 'c' = 12/16 = 75% train expected), so the
    * split stays deterministic, engine-portable (no rand()), and stable
    * under re-sharding; because pair endpoints are by definition in one
    * component, the cluster-keyed split straddles zero pairs by
    * construction.
    *
    * Returns (doc_id, cluster_id, naive_split, split): `naive_split` is
    * the per-doc-id hash split a cluster-blind pipeline would produce —
    * kept so an audit can price exactly the leakage the cluster-aware
    * assignment removes. Plan shape: the CC labels ride
    * [[nearDupClusters]] (pair-graph-sized, never corpus-wide), one
    * id-keyed left join attaches them, both splits are map-side
    * projections. */
  def clusterAwareSplit(docs: DataFrame, pairs: DataFrame): DataFrame = {
    // the ONE md5-bucket split rule (shared with NaiveBayes/q63), so the
    // per-doc and per-cluster assignments can never drift apart
    def splitOf(c: Column): Column =
      when(NaiveBayes.isTrain(c), lit("train"))
        .otherwise(lit("test"))
    val clusters = nearDupClusters(pairs)
      .withColumnRenamed("doc_id", "cs_id")
    // project docs down to the id BEFORE the join: assignment needs
    // nothing else, the exchange carries one column, and a caller whose
    // docs already contains a cluster_id/cs_id column can't make the
    // post-join references ambiguous
    docs.select(col(IdCol))
      .join(clusters, col(IdCol) === col("cs_id"), "left")
      .select(col(IdCol).as("doc_id"),
        coalesce(col("cluster_id"), col(IdCol)).as("cluster_id"))
      .select(col("doc_id"), col("cluster_id"),
        splitOf(col("doc_id")).as("naive_split"),
        splitOf(col("cluster_id")).as("split"))
  }

  /** Portable 64-bit SimHash as a hex string (md5 token hashes, per-bit
    * majority vote) — oracle-checkable; see
    * [[graft.functions.SimHashMd5]]. */
  def simhashHex(text: Column): Column =
    graft.functions.GraftFunctions.simhash_md5(TextAnalysis.tokens(text))

  /** Hamming distance between two 16-hex-char simhash strings — one
    * native pass ([[graft.functions.HexHamming]]); engine-portable
    * semantics (digit-wise bit_count of XOR), so it oracle-checks.
    * Applied to candidate pairs only; [[hammingHexStrHof]] below is the
    * executable spec a differential test pins it against. */
  def hammingHexStr: Column = {
    val a = col("a_sig")
    val b = col("b_sig")
    graft.functions.GraftFunctions.hex_hamming(a, b)
  }

  /** Reference HOF formulation of [[hammingHexStr]] (interpreted —
    * 16 locate/substring calls per pair): kept as the executable spec of
    * the digit semantics, including the non-hex (-1) and past-the-end (0)
    * edges. */
  def hammingHexStrHof(a: Column, b: Column): Column = {
    val hex = lit("0123456789abcdef")
    aggregate(sequence(lit(0), lit(15)), lit(0L), (acc, i) => {
      val da = (call_function("locate",
        call_function("substring", a, i + 1, lit(1)), hex) - 1).cast("long")
      val db = (call_function("locate",
        call_function("substring", b, i + 1, lit(1)), hex) - 1).cast("long")
      acc + call_function("bit_count", da.bitwiseXOR(db))
    })
  }

  /** SimHash near-duplicate pairs: the 64-bit signature is split into 4
    * contiguous 16-bit blocks (4 hex chars each); candidate pairs share at
    * least one identical block, then verify with the exact Hamming
    * distance. By pigeonhole, any pair within `MaxHamming` = 3 bits
    * differs in at most 3 blocks, so block-equality candidates have
    * RECALL 1.0 — no probabilistic miss, unlike MinHash banding. Plan
    * shape matches the MinHash path: map-side signatures, equi-join on
    * (block index, block value), exact verify on candidates only. */
  def simhashNearDupPairs(docs: DataFrame): DataFrame = {
    // (id, 16-char sig) is referenced three times (banding + both sides of
    // the verify re-attach); materialize it once so the md5-per-token
    // signature pass runs once over the corpus, not three times — the
    // materialized index is ~24 bytes/doc, the natural artifact to persist
    // at scale
    // FanOut before the projection: the md5-per-token signature is the
    // per-row cost, and a single-row-group input would otherwise run it
    // inside a one-task scan stage (no-op at production partitioning)
    val sig = Materializer.Local(
      FanOut(docs.select(col(IdCol).as("id"), col(TextCol).as("t_")))
        .select(col("id"), simhashHex(col("t_")).as("sig")))
    bandedHammingPairs(sig)
  }

  /** The Hamming distance at or under which the banded searches pair two
    * 64-bit signatures. 4-block banding guarantees recall only up to 3. */
  private val MaxHamming = 3

  /** The banded-Hamming pair search shared by SimHash text dedup and
    * perceptual-hash image dedup: `sig` is (id, 16-hex-char 64-bit
    * signature); the signature splits into 4 contiguous 16-bit blocks
    * (4 hex chars), candidate pairs share at least one identical block,
    * then the exact native Hamming verify runs on candidates only. By
    * pigeonhole, any pair within `MaxHamming` = 3 differs in at most 3
    * blocks, so recall is 1.0 — no probabilistic miss. */
  def bandedHammingPairs(sig: DataFrame): DataFrame = {
    val banded = sig.select(col("id"),
      explode_outer(transform(sequence(lit(0), lit(3)),
        b => concat_ws("_", b.cast("string"),
          call_function("substring", col("sig"), b * 4 + 1, lit(4)))))
        .as("blockkey"))
    val candidates = banded.select(col("blockkey"), col("id").as("a_id"))
      .join(banded.select(col("blockkey"), col("id").as("b_id")),
        Seq("blockkey"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    candidates
      .join(sig.select(col("id").as("a_id"), col("sig").as("a_sig")),
        Seq("a_id"))
      .join(sig.select(col("id").as("b_id"), col("sig").as("b_sig")),
        Seq("b_id"))
      .withColumn("hamming", hammingHexStr)
      .filter(col("hamming") <= MaxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** Image near-duplicate pairs over a perceptual-hash table
    * ([[Multimodal.extractImageHashes]] output): corrupt rows
    * (`decoded = false`) are excluded, then the dHash strings go through
    * the same banded-Hamming search as SimHash text dedup — decode and
    * hashing are map-side `mapPartitions` work, the pair search shuffles
    * 8-byte signatures + ids only. */
  def imageNearDupPairs(hashes: DataFrame): DataFrame = {
    val sig = Materializer.Local(hashes.filter(col("decoded"))
      .select(col("doc_id").as("id"), col("dhash").as("sig")))
    bandedHammingPairs(sig)
  }

  /** Audio near-duplicate pairs over an envelope-hash table
    * ([[Multimodal.extractAudioHashes]] output): the audio twin of
    * [[imageNearDupPairs]] — corrupt rows excluded, then the 64-bit
    * envelope fingerprints go through the shared banded-Hamming search.
    * Decode + hashing are map-side; the pair search shuffles 8-byte
    * signatures + ids only, never PCM. */
  def audioNearDupPairs(hashes: DataFrame): DataFrame = {
    val sig = Materializer.Local(hashes.filter(col("decoded"))
      .select(col("doc_id").as("id"), col("ahash").as("sig")))
    bandedHammingPairs(sig)
  }

  /** Video near-duplicate pairs over a first-frame perceptual-hash table
    * ([[Multimodal.extractVideoHashes]] output) — completes the
    * near-dup trio: text SimHash, image dHash, audio envelope hash and
    * video key-frame dHash all ride the SAME banded-Hamming search.
    * Decode + hashing are map-side; the pair search shuffles 8-byte
    * signatures + ids only, never frames. */
  def videoNearDupPairs(hashes: DataFrame): DataFrame = {
    val sig = Materializer.Local(hashes.filter(col("decoded"))
      .select(col("doc_id").as("id"), col("vhash").as("sig")))
    bandedHammingPairs(sig)
  }

  /** Incremental banded-Hamming pairs: a NEW batch of (id, sig) rows
    * against an existing signature index (plus within the batch itself)
    * — every returned pair touches at least one new id; old-vs-old pairs
    * never form, so a daily run shuffles only the new batch's blocks and
    * the index buckets they hit, and the historical corpus is never
    * re-decoded or re-hashed. The image twin of
    * [[minhashLshPairsIncremental]]: persist
    * [[Multimodal.extractImageHashes]] output once
    * ([[Materializer.Persisted]] — ~24 bytes/image), hash only each
    * day's new images, append confirmed pairs and the new index rows. */
  def bandedHammingPairsIncremental(newSig: DataFrame,
                                    sig: DataFrame): DataFrame = {
    val fresh = Materializer.Local(newSig)
    val all = Materializer.Local(fresh.unionByName(sig))
    def banded(df: DataFrame): DataFrame = df.select(col("id"),
      explode_outer(transform(sequence(lit(0), lit(3)),
        b => concat_ws("_", b.cast("string"),
          call_function("substring", col("sig"), b * 4 + 1, lit(4)))))
        .as("blockkey"))
    val candidates = banded(fresh).select(col("blockkey"), col("id").as("n_id"))
      .join(banded(all).select(col("blockkey"), col("id").as("o_id")),
        Seq("blockkey"))
      .filter(col("n_id") =!= col("o_id"))
      .select(least(col("n_id"), col("o_id")).as("a_id"),
        greatest(col("n_id"), col("o_id")).as("b_id"))
      .distinct()
    candidates
      .join(all.select(col("id").as("a_id"), col("sig").as("a_sig")),
        Seq("a_id"))
      .join(all.select(col("id").as("b_id"), col("sig").as("b_sig")),
        Seq("b_id"))
      .withColumn("hamming", hammingHexStr)
      .filter(col("hamming") <= MaxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** 64-bit SimHash over tokens: per-bit majority vote of token hashes.
    * Map-side only; Hamming-close simhashes => near-dup candidates. */
  def simhash64(text: Column): Column = {
    import org.apache.spark.sql.functions.{call_function => cf}
    val hashes = transform(TextAnalysis.tokens(text), t => xxhash64(t))
    val bits = transform(sequence(lit(0), lit(63)), b =>
      when(aggregate(hashes, lit(0L),
        (acc, h) => acc + when(cf("shiftright", h, b).bitwiseAND(lit(1L)) === 1L,
          lit(1L)).otherwise(lit(-1L))) > 0, lit(1L)).otherwise(lit(0L)))
    aggregate(sequence(lit(0), lit(63)), lit(0L),
      (acc, b) => acc.bitwiseOR(
        cf("shiftleft", element_at(bits, b.cast("int") + 1), b)))
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Embedding-cosine near-duplicate pairs above a threshold, using the
    * codegen'd cosine kernel over LSH-bucketed candidates (see
    * [[Similarity.lshBuckets]]) as a prefilter and the decimal-exact
    * cosine on survivors. */
  def embeddingNearDupPairs(embs: DataFrame,
                            planes: Int = 12, threshold: Double = 0.95)
      : DataFrame = {
    val idCol = "vec_id"
    val vecCol = "embedding"
    val bucketed = embs.select(col(idCol).as("id"), col(vecCol).as("vec"),
      Similarity.lshBuckets(col(vecCol), planes).as("bucket"))
    val l = bucketed.select(col("bucket"), col("id").as("a_id"), col("vec").as("a_vec"))
    val r = bucketed.select(col("bucket"), col("id").as("b_id"), col("vec").as("b_vec"))
    val pairs = l.join(r, Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
    val fast = graft.functions.GraftFunctions.cosine_sim(col("a_vec"), col("b_vec"))
    // two-phase: the codegen'd double kernel prefilters (its error vs
    // the decimal-exact kernel is <1e-11, so a 1e-4 margin around the
    // threshold cannot lose a true pair); the oracle-bitwise exact
    // cosine re-scores only survivors
    pairs
      .withColumn("fsim", fast)
      .filter(col("fsim") >= threshold - 1e-4)
      .withColumn("sim",
        round(Similarity.cosineExact(col("a_vec"), col("b_vec")), 6))
      .filter(col("sim") >= threshold)
      .select(col("a_id"), col("b_id"), col("sim"))
      .distinct()
  }

  /** Embedding-space decontamination — the paraphrase-robust
    * complement of the shingle-overlap check (q68/q90): a rephrased or
    * translated eval item shares no 5-grams with its source but still
    * sits next to it in embedding space. Flags every corpus vector
    * whose cosine against ANY eval vector clears `threshold`, with the
    * best-matching eval item attached. Eval sets are small by nature →
    * broadcast; the corpus streams once per pass with the codegen'd
    * kernel as prefilter and the decimal-exact cosine
    * re-scoring survivors only (the q40/q42 two-phase pattern); the
    * verdict is two partial-combined argmax aggregates — no window, so
    * a pathological corpus item matching the whole eval set still can't
    * funnel one task. Pairs sharing an id are excluded. Returns
    * (id, n_hits, best_eval, sim). */
  def semanticContamination(corpus: DataFrame, evalSet: DataFrame,
                            threshold: Double): DataFrame = {
    val idCol = "vec_id"
    val c = corpus.select(col(idCol).as("id"), col(VecCol).as("vec"))
    val e = evalSet.select(col(idCol).as("e_id"), col(VecCol).as("e_vec"))
    val fast = graft.functions.GraftFunctions.cosine_sim(col("vec"),
      col("e_vec"))
    val joined = c.join(
      Hints.boundedBroadcast(e, "eval_set_contract"),
      col("id") =!= col("e_id"))
    val hits = joined.withColumn("fsim", fast)
      .filter(col("fsim") >= threshold - 1e-4)
      .withColumn("sim",
        round(Similarity.cosineExact(col("vec"), col("e_vec")), 6))
      .filter(col("sim") >= threshold)
    val agg1 = hits.groupBy(col("id"))
      .agg(count(lit(1)).as("n_hits"), max(col("sim")).as("sim"))
    hits.join(agg1.select(col("id"), col("sim")), Seq("id", "sim"))
      .groupBy(col("id"))
      .agg(min(col("e_id")).as("best_eval"))
      .join(agg1, Seq("id"))
      .select(col("id"), col("n_hits"), col("best_eval"), col("sim"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication over an embedding column. A vector is dropped iff a
    * LOWER-id vector shares its LSH bucket with cosine >= `threshold`
    * (greedy keep-lowest-id inside each ε-ball; the hyperplane bucket
    * plays the paper's k-means-cluster role — both are "only compare
    * within a cell" scopes). Built on [[embeddingNearDupPairs]], so
    * candidates come from the single bucket equi-join and the verdict
    * adds ONE partial-combined aggregate (min + count) over the pair
    * stream — no window, no iteration, no transitive closure (the
    * published algorithm is per-ball greedy, not connected-components,
    * so a chain a~b~c with a≁c keeps a AND c). Returns one row per
    * dropped vector: (id, dup_of = smallest earlier near-dup,
    * n_earlier = how many earlier near-dups it has). */
  def semanticDedupDrops(embs: DataFrame,
                         planes: Int = 12, threshold: Double = 0.95)
      : DataFrame =
    embeddingNearDupPairs(embs, planes, threshold)
      .groupBy(col("b_id"))
      .agg(min(col("a_id")).as("dup_of"), count(lit(1)).as("n_earlier"))
      .select(col("b_id").as("id"), col("dup_of"), col("n_earlier"))

  /** EXACT all-pairs Jaccard similarity join via prefix filtering (the
    * AllPairs / PPJoin family — Bayardo et al. WWW 2007, Xiao et al.
    * WWW 2008): every pair with shingle-set Jaccard >= num/den, recall
    * 1.0 GUARANTEED — the exact counterpart to [[minhashLshPairs]]'
    * probabilistic banding (LSH trades recall for speed; prefix
    * filtering keeps recall and still never forms the n² product).
    *
    * The filter: order each set by global shingle rarity (df asc,
    * shingle asc — attached per token by one vocab join, sorted per doc
    * with array_sort over (df, s) structs: no global rank window); two
    * sets with Jaccard >= t MUST share a shingle within their first
    * `|s| − ⌈t·|s|⌉ + 1` rarest elements (pigeonhole), so candidates
    * form on a prefix-shingle equi-join — rare shingles lead the
    * prefixes, which is what bounds per-key fanout (the Zipf head sits
    * at the END of the order and almost never enters a prefix).
    *
    * Every threshold comparison is exact integer arithmetic
    * (`den·inter >= num·union`; ⌈t·n⌉ = (num·n + den − 1) div den) —
    * nothing ranks or gates on a float. The reported jaccard is the
    * one double quotient, round(6).
    *
    * Scale shape: one vocab-keyed df join (AQE skew-join for the head),
    * one per-doc sort, one prefix equi-join + distinct, verify touches
    * candidates only via two id-keyed joins. */
  def prefixFilterJaccardPairs(docs: DataFrame): DataFrame = {
    val shingleN = 3
    val thetaNum = 1
    val thetaDen = 2
    require(thetaNum > 0 && thetaDen >= thetaNum)
    // r14 REVERT of the r13 shingling fan-out: the sf1 filtered A/B the
    // r13 verdict asked for shows NO win there (fan-out ON
    // q201 25.5 / q209 34.3 s vs OFF 22.6-30.5 / 30.5-32.0 s, warm
    // min-of-2 at .bench/sf1) while r13's own sf0.1 numbers carried a
    // small cost (q209 3.85 -> 4.54) — the shingling kernel is cheap
    // enough per row that the exchange never pays for itself.
    val sets = Materializer.Local(
      (docs.select(col(IdCol).as("id"), col(TextCol).as("t_")))
        .select(col("id"),
          array_distinct(TextAnalysis.shingles(col("t_"), shingleN))
            .as("sh")))
    val tok = sets.select(col("id"), explode(col("sh")).as("s"))
    val dfTab = tok.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val sorted = tok.join(dfTab, Seq("s"))
      .groupBy(col("id"))
      .agg(transform(array_sort(collect_list(struct(col("df"), col("s")))),
        x => x.getField("s")).as("ssh"), count(lit(1)).as("n"))
    val prefLen = (col("n")
      - floor((lit(thetaNum) * col("n") + lit(thetaDen - 1))
        / lit(thetaDen)).cast("long") + lit(1L)).cast("int")
    // prefix positions ride along for the PPJoin positional filter
    val pref = sorted.select(col("id"), col("n"),
        posexplode(slice(col("ssh"), lit(1), prefLen)))
      .select(col("id"), col("n"), col("pos").cast("long").as("p"),
        col("col").as("s"))
    // two more exact integer prunes BEFORE the distinct + verify joins
    // (Xiao et al.'s length and positional filters — both are provably
    // lossless given the shared global token order):
    //   length: J >= num/den forces den*min(|a|,|b|) >= num*max(|a|,|b|)
    //   positional: a shared prefix token at (pa, pb) caps the overlap
    //     at 1 + min(na-pa-1, nb-pb-1), which must clear the PPJoin
    //     overlap threshold ceil(num*(na+nb)/(num+den)); the FIRST
    //     common token always satisfies this for a true pair, so
    //     keeping a pair when ANY occurrence passes loses nothing
    val cands = pref
      .select(col("id").as("a_id"), col("n").as("na"),
        col("p").as("pa"), col("s"))
      .join(pref.select(col("id").as("b_id"), col("n").as("nb"),
        col("p").as("pb"), col("s")), Seq("s"))
      .filter(col("a_id") < col("b_id"))
      .filter(lit(thetaDen.toLong) * least(col("na"), col("nb"))
        >= lit(thetaNum.toLong) * greatest(col("na"), col("nb")))
      .filter((lit(1L) + least(col("na") - col("pa") - lit(1L),
          col("nb") - col("pb") - lit(1L)))
        * lit((thetaNum + thetaDen).toLong)
        >= lit(thetaNum.toLong) * (col("na") + col("nb")))
      .select(col("a_id"), col("b_id")).distinct()
    val verified = cands
      .join(sets.select(col("id").as("a_id"), col("sh").as("a_sh")),
        Seq("a_id"))
      .join(sets.select(col("id").as("b_id"), col("sh").as("b_sh")),
        Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("a_sh"), col("b_sh"))).as("inter"),
        size(array_union(col("a_sh"), col("b_sh"))).as("uni"))
      .filter(col("inter") * lit(thetaDen) >= lit(thetaNum) * col("uni"))
    verified.select(col("a_id"), col("b_id"),
      round(col("inter").cast("double") / col("uni").cast("double"), 6)
        .as("jaccard"))
  }

  /** (0,1) uniform from 8 hex chars of an md5 column, the engine-portable
    * RNG idiom (q63/q143): `u = (hex8 + 0.5) / 2^32`, never exactly 0 or
    * 1 so `ln(u)` is always finite. */
  private def hexU(h: Column, start: Int): Column =
    (conv(substring(h, start, 8), 16, 10).cast("double") + lit(0.5)) /
      lit(4294967296.0)

  /** Weighted MinHash signatures by Ioffe's improved consistent sampling
    * (Ioffe, ICDM 2010 "Improved Consistent Sampling, Weighted Minhash
    * and L1 Sketching") — the tf-WEIGHTED near-dup path: collision
    * probability of two docs' seed-k samples equals their weighted
    * Jaccard Σ_t min(w_a, w_b) / Σ_t max(w_a, w_b), so a term occurring
    * 50 times finally counts 50× in near-dup policy where plain MinHash
    * (q37) sees only the binary shingle set.
    *
    * Per (doc, term, seed): the CWS draws r, c ~ Gamma(2,1) and
    * β ~ U(0,1) as pure functions of (term, seed) via the salted-md5
    * uniform (identical across replicas/engines — what makes the sampler
    * oracle-REPLAYABLE), then
    *   t   = ⌊ln w / r + β⌋
    *   ln a = ln c − r·(t + 1 − β)
    * and the signature element for the seed is the (term, t) pair of the
    * arg-min ln a. Every ln/exp output is round(9)-requantized before it
    * feeds a comparison (the libm-ulp absorption contract), and the
    * arg-min tie-breaks on term asc, so Spark and DuckDB pick identical
    * samples bit-for-bit.
    *
    * Returns (id, seed, skey) — skey = "term|t". Scale shape: one
    * (doc, term) tf exchange; the CWS draws (r, ln c, β) are functions
    * of (term, seed) ONLY, so they're computed ONCE on a vocab×k MODEL
    * table (md5 count = |vocab|·k, not |corpus tf|·k — measured 26 s →
    * ~4 s at sf0.1) that joins back into the tf stream UNHINTED: vocab
    * grows with the corpus (Heaps' law), so a forced broadcast is the
    * 100 TB OOM class — both sides key on the term, and AQE still
    * broadcasts when the vocab is genuinely small; the
    * arg-min is a partial-combining groupBy min(struct(lna, term)) —
    * map-side combine on the doc's own vocab, never a window sort. */
  def weightedMinhashSignatures(docs: DataFrame, idCol: String,
                                textCol: String, k: Int): DataFrame =
    weightedMinhashSignaturesFromTf(
      docs.select(col(idCol).as("id"),
          explode(TextAnalysis.tokens(col(textCol))).as("t"))
        .groupBy(col("id"), col("t")).agg(count(lit(1)).as("w")),
      k)

  /** [[weightedMinhashSignatures]] over a pre-built (id, t, w) term-
    * frequency frame, so a caller that already paid the corpus
    * tokenize+exchange ([[weightedMinhashPairs]] materializes tf for its
    * verify stage) reuses it instead of tokenizing the corpus twice. */
  private[graft] def weightedMinhashSignaturesFromTf(tf: DataFrame,
                                                     k: Int): DataFrame = {
    require(k >= 1)
    // vocab×k CWS model: the expensive md5/ln algebra runs once per
    // (term, seed) — the 100 TB shape (a model table, like a codebook)
    val h1 = md5(concat_ws("|", col("seed"), col("t"), lit("wmh")))
    val h2 = md5(concat_ws("|", lit("wmhb"), col("seed"), col("t")))
    val model = tf.select(col("t")).distinct()
      .select(col("t"), explode(sequence(lit(0), lit(k - 1))).as("seed"))
      .withColumn("h1", h1).withColumn("h2", h2)
      .select(col("t"), col("seed"),
        round(-log(hexU(col("h1"), 1)) - log(hexU(col("h1"), 9)), 9)
          .as("r"),
        round(log(-log(hexU(col("h1"), 17)) - log(hexU(col("h1"), 25))), 9)
          .as("lnc"),
        hexU(col("h2"), 1).as("beta"))
    val scored = tf
      .withColumn("lnw", round(log(col("w").cast("double")), 9))
      .join(model, Seq("t"))
      .withColumn("tq",
        floor(round(col("lnw") / col("r") + col("beta"), 9)).cast("long"))
      .withColumn("lna",
        round(col("lnc") - col("r")
          * (col("tq").cast("double") + lit(1.0) - col("beta")), 9))
    // arg-min (lna, term) per (doc, seed) as a lexicographic struct min:
    // partial-aggregates map-side where a row_number window would sort
    // every (doc, seed) partition through one exchange
    scored
      .groupBy(col("id"), col("seed"))
      .agg(min(struct(col("lna"), col("t"), col("tq"))).as("m"))
      .select(col("id"), col("seed"),
        concat_ws("|", col("m.t"), col("m.tq")).as("skey"))
  }

  /** Weighted near-duplicate pairs: [[weightedMinhashSignatures]] banded
    * into `bands` LSH buckets (k/bands consistent samples per band key —
    * equal key ⇒ candidate), then EXACT weighted Jaccard verification on
    * candidates only, via the identity Σmax = Σw_a + Σw_b − Σmin so the
    * verify needs one common-term join plus two per-doc scalar weights —
    * all integer arithmetic until the one rounded output division.
    * Output (a_id, b_id, jw) with jw = Σmin/Σmax ≥ thetaNum/thetaDen,
    * a_id < b_id.
    *
    * Scale shape: band keys are an equi-join (never a cross product);
    * the verify is candidate-bounded; per-doc weight sums partial-combine
    * on the tf exchange already paid by the signatures. Candidate volume
    * is set ENTIRELY by the banding policy (k/bands) against the
    * corpus's background similarity: with 2 samples per band the default
    * keeps ≥0.8 recall at Jw 0.6, and on a corpus whose background Jw
    * sits near the threshold (flat region of the LSH S-curve) the exact
    * verify is honestly millions of bounded pair rows — the same trade
    * [[prefixFilterJaccardPairs]] prices for exact set joins. The Σmin
    * itself rides per-doc tf MAPS (`map_zip_with` + `aggregate` on the
    * pair row): joining each candidate pair to two bounded map payloads
    * shuffles |pairs| rows once per side, where the per-term
    * formulation it replaced exploded |pairs|×|doc vocab| narrow rows
    * through an extra pair-keyed aggregation exchange (measured 2.8×
    * on the verify stage at sf0.1, output bit-identical). */
  def weightedMinhashPairs(docs: DataFrame,
                           k: Int = 8, bands: Int = 4): DataFrame = {
    val thetaNum = 3
    val thetaDen = 5
    require(k % bands == 0)
    val rpb = k / bands
    // FanOut before tokenize+explode: the map side of the tf exchange is
    // the corpus's dominant per-row cost, and a single-row-group input
    // would otherwise run it inside a one-task scan stage. The OUTER
    // FanOut (r14, task-metrics-measured) re-widens the CHECKPOINTED tf:
    // AQE coalesces the tf aggregate's output by BYTES (~2 MB at sf0.1 ->
    // 1-2 partitions), and every downstream CPU-heavy stage — the CWS
    // model algebra, the |tf|*k argmin partials, the tfMaps build —
    // inherited that near-serial partitioning (the q304 signature stage
    // ran ~5 s on ONE task). At production width both guards no-op.
    val tf = FanOut(Materializer.Local(FanOut(docs.select(col(IdCol).as("id"),
        col(TextCol).as("t_")))
      .select(col("id"), explode(TextAnalysis.tokens(col("t_"))).as("t"))
      .groupBy(col("id"), col("t")).agg(count(lit(1)).as("w"))))
    // the signatures reuse the materialized tf: tokenizing the corpus is
    // the dominant scan and used to be paid twice per call
    val sig = weightedMinhashSignaturesFromTf(tf, k)
    // band key: the band's rpb samples concatenated in seed order —
    // seed = band*rpb + j, so position j = seed % rpb is unique per band
    // and max(CASE) assembles the key without an order-unstable
    // collect_list
    val posCols = (0 until rpb).map(j =>
      max(when(col("seed") % rpb === j, col("skey"))).as(s"s$j"))
    val banded = sig
      .withColumn("band", (col("seed") / rpb).cast("int"))
      .groupBy(col("id"), col("band"))
      .agg(posCols.head, posCols.tail: _*)
    val bandkey = concat_ws("#",
      col("band").cast("string") +: (0 until rpb).map(j => col(s"s$j")): _*)
    val keyed = banded.select(col("id"), bandkey.as("bk"))
    // materialized + fanned out before the verify (r14, measured): AQE
    // sizes the post-distinct read by BYTES — a few dozen MB of narrow
    // (a_id, b_id) pairs coalesce to a handful of tasks — but the
    // verify's per-row cost is the native map-min-sum over two tf maps
    // (§2.5's cheap-bytes / expensive-rows shape: the q304 verify ran
    // 3.4M candidates on 1-2 cores). The FanOut guard makes this a
    // structural no-op once the candidate set is genuinely wide
    // (production partitioning).
    val cands = FanOut(Materializer.Local(
      keyed.select(col("id").as("a_id"), col("bk"))
        .join(keyed.select(col("id").as("b_id"), col("bk")), Seq("bk"))
        .filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id")).distinct()))
    // per-doc verification payload: the tf as a bounded map plus Σw —
    // one row per doc, so attaching it to a candidate pair is a plain
    // id-keyed join, never a per-term explosion
    // entries SORTED by term (r14): map_min_sum's linear two-pointer
    // merge needs strictly-ascending key arrays on both sides — t is
    // unique per id, so struct (t, w) order is strict; the sort is per
    // bounded per-doc entry list, and an unsorted input merely falls
    // back to map_min_sum's order-agnostic quadratic path
    val tfMaps = Materializer.Local(tf.groupBy(col("id"))
      .agg(map_from_entries(
          sort_array(collect_list(struct(col("t"), col("w")))))
        .as("m"),
        sum(col("w")).as("sw")))
    // LENGTH FILTER before the Σmin evaluation — sound because
    // Jw ≤ min(Σw_a, Σw_b)/max(Σw_a, Σw_b), so any pair the final
    // threshold keeps passes this too (a Spark-plan-only prune, results
    // provably unchanged); it drops length-mismatched band collisions
    // before their map payloads are compared
    val lenOk = cands
      .join(tfMaps.select(col("id").as("a_id"), col("sw").as("sa"),
        col("m").as("ma")), Seq("a_id"))
      .join(tfMaps.select(col("id").as("b_id"), col("sw").as("sb"),
        col("m").as("mb")), Seq("b_id"))
      .filter(lit(thetaDen.toLong) * least(col("sa"), col("sb"))
        >= lit(thetaNum.toLong) * greatest(col("sa"), col("sb")))
    // Σmin over the two tf maps, evaluated ON the pair row: exact
    // integer arithmetic, a key absent from either side contributes 0.
    // One native pass ([[graft.functions.MapMinSum]], differential spec
    // vs the HOF formulation): the interpreted map_zip_with + aggregate
    // chain allocated an intermediate map and boxed a lambda call per
    // key for every candidate pair — the verify's dominant cost over a
    // candidate set that is honestly millions of rows.
    val sminCol = graft.functions.GraftFunctions.map_min_sum(
      col("ma"), col("mb"))
    // Threshold algebra with ONE smin occurrence (r14, measured): the
    // optimizer collapses this filter into the join condition, where
    // every occurrence of smin re-evaluates the map-min-sum per joined
    // row — `smin·θd ≥ θn·(sa+sb−smin)` evaluated it twice. The
    // equivalent `smin·(θd+θn) ≥ θn·(sa+sb)` (add θn·smin to both
    // sides; exact long arithmetic, no division) evaluates it once.
    // smax is only needed for the jw of the FINAL survivors.
    lenOk
      .select(col("a_id"), col("b_id"), col("sa"), col("sb"),
        sminCol.as("smin"))
      .filter(col("smin") * lit((thetaDen + thetaNum).toLong)
        >= lit(thetaNum.toLong) * (col("sa") + col("sb")))
      .select(col("a_id"), col("b_id"),
        round(col("smin").cast("double")
          / (col("sa") + col("sb") - col("smin")).cast("double"), 6)
          .as("jw"))
  }
}
