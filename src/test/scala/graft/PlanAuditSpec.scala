package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Physical-plan regression audit: the properties that make these queries
  * survive a 100 TB scale-up must be visible in the executed plan —
  * pushed filters, pruned read schemas, broadcast dimension joins, and no
  * accidental quadratic recompute (inferred generator predicates). */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  /** The final executed plans of every action that building `result` and
    * collecting it run, joined into one string to audit. An operator's
    * `Materializer.Local` pins run as `localCheckpoint` actions, so the
    * subplans a pin cuts out of the result's own plan are here. */
  private def ranPlans(result: => DataFrame): String = {
    val runs = actions(result.collect())
    assert(runs.exists(_._1 == "localCheckpoint"), runs.map(_._1))
    runs.map(_._2.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).mkString("\n")
  }

  /** [[ranPlans]] of registry query `q`. */
  private def ranPlans(q: String): String =
    ranPlans(SparkEntry.queries(q)(spark, dir))

  test("q01: shipdate predicate and column pruning reach the parquet scan") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"))
    assert(!p.contains("l_orderkey")) // pruned: only 7 of 11 columns read
  }

  test("q02/q05: dimension joins broadcast, no shuffle join of small dims") {
    assert(plan("q02_top_customers").contains("BroadcastHashJoin"))
    val p5 = plan("q05_region_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p5).size >= 4)
    assert(!p5.contains("CartesianProduct"))
  }

  test("q37: LSH join is an equi-join on band keys, no cartesian product") {
    val p = plan("q37_dedup_minhash_lsh")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // explode_outer keeps the inferred size()>0 predicate out of the scan:
    // the signature must not be evaluated inside scan DataFilters
    assert(!p.contains("DataFilters: [(size(minhashsig"))
  }

  test("q20: events aggregate reads only the three needed columns") {
    val p = plan("q20_evt_hourly")
    // the pruning pin, not a physical-type pin: the generator has shipped
    // events.ts as TIMESTAMP(NANOS) (read bigint) and TIMESTAMP(MICROS)
    // no-UTC (read timestamp_ntz) in different rounds — either way the
    // scan must read exactly the three needed columns
    assert(p.contains("ReadSchema: struct<ts:bigint,event_type:string,value:double>")
      || p.contains("ReadSchema: struct<ts:timestamp_ntz,event_type:string,value:double>"))
  }

  test("q41/q46: ANN candidate joins are equi-joins on bucket/cell keys") {
    for (q <- Seq("q41_ann_lsh", "q46_ann_ivf")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q)
      // the bucket/cell equi-join must be a hash or sort-merge join, not a
      // nested loop over the corpus
      assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
        || p.contains("ShuffledHashJoin"), q)
    }
  }

  test("q46: IVF cell assignment is map-side — no per-vector shuffle or window") {
    // NearestCells makes assignment a projection: the only exchanges left
    // key on query_id (bounded top-k aggregate / final re-rank over
    // survivors), never on the corpus vector id.
    val p = plan("q46_ann_ivf")
    assert(!p.contains("hashpartitioning(neighbor_id"), p.take(2000))
    assert(!p.contains("hashpartitioning(vec_id"), p.take(2000))
  }

  test("q40: corpus scans once; queries are the broadcast side") {
    val p = plan("q40_knn_brute")
    assert(p.contains("BroadcastNestedLoopJoin")) // intended: tiny query set x corpus
    assert(!p.contains("CartesianProduct"))
  }

  test("q52 joins bucket-to-bucket with no shuffle; q53 pays the Exchange") {
    val p52 = plan("q52_join_bucketed")
    assert(p52.contains("SortMergeJoin"))
    val join52 = p52.substring(p52.indexOf("SortMergeJoin"))
    assert(!join52.contains("Exchange hashpartitioning(l_orderkey") &&
      !join52.contains("Exchange hashpartitioning(o_orderkey"),
      s"unexpected shuffle below the bucketed join:\n$join52")
    val p53 = plan("q53_join_shuffled")
    val join53 = p53.substring(p53.indexOf("SortMergeJoin"))
    assert(join53.contains("Exchange hashpartitioning"))
  }

  test("q10/q11: semi/anti probe side collapses to distinct keys below the join") {
    // existence joins only need each probe key once: the plan must show a
    // key-only aggregate under the join so the exchange (or broadcast)
    // carries one row per key instead of every order
    for ((q, joinTag) <- Seq("q10_semi_join" -> "LeftSemi",
        "q11_anti_join" -> "LeftAnti")) {
      val p = plan(q)
      assert(p.contains(joinTag), q)
      assert(p.contains("HashAggregate(keys=[c_custkey"), q)
      assert(!p.contains("CartesianProduct"), q)
    }
  }

  test("q105: cross-table fuzzy join blocks on band keys, no cartesian") {
    val p = plan("q105_fuzzy_join")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("q65: incremental dedup stays a band-key equi-join, no cartesian") {
    val p = plan("q65_dedup_incremental")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("q70: fast incremental dedup stays a band-key equi-join, no cartesian") {
    // (the on-disk-index property itself is pinned by OperatorsSpec's
    // fresh-session test — the Materializer checkpoint collapses the
    // parquet scan into a LogicalRDD, so the path cannot appear here)
    val p = plan("q70_dedup_incr_fast")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("q67: mixture thresholds broadcast; corpus never windows or sorts globally") {
    // SinglePartition exchanges DO appear — under the per-lang counts
    // (5 rows) feeding min(n_total) — which is fine; the corpus path must
    // be: scan -> broadcast threshold join -> partial-combined aggregate,
    // with no window and no nested-loop/cartesian corpus join
    val p = plan("q67_doc_mix")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("partial_count"), p.take(2000))
  }

  test("q68: eval shingles broadcast; the corpus side never shuffle-joins") {
    val p = plan("q68_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q66: the packing prefix sum never funnels through one partition") {
    // the two-phase prefix sum must keep the window partitioned on the
    // bucket key; a bare orderBy window would show a SinglePartition
    // exchange — correct at sf0.1, dead at 100 TB
    val p = plan("q66_doc_pack")
    assert(p.contains("hashpartitioning(bucket"), p.take(2000))
    assert(!p.contains("Exchange SinglePartition"), p.take(2000))
  }

  test("q71: the frequent-set attach is an sh-keyed equi-join; corpus DF " +
      "agg partial-combines") {
    // the only corpus-wide exchange is the (shingle, count) aggregate.
    // Round 9 de-hinted the frequent-set attach: the df>=minDf set GROWS
    // with the corpus, so the join must stay an UNFORCED equi-join —
    // AQE broadcasts it when small, falls back to shuffle when not
    // (a forced hint would OOM at 100 TB instead of falling back)
    val p = plan("q71_boilerplate")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p.take(2000))
    assert(p.contains("partial_count"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("q79: span dedup — duplicated-span attach is an unforced equi-join, " +
      "intervals merge per doc, no cartesian") {
    // corpus-wide work is one partial-combined (span, count) aggregate;
    // the duplicated-span attach is UNHINTED (round 9: the set grows
    // with the corpus — AQE picks broadcast only when actually small);
    // the interval merge window partitions by doc_id (never global)
    val p = plan("q79_span_dedup")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p.take(2000))
    assert(p.contains("partial_count"), p.take(2000))
    assert(p.contains("hashpartitioning(doc_id"), p.take(2000))
    assert(!p.contains("Exchange SinglePartition"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("q81: image near-dup candidates come from the block equi-join, no cartesian") {
    // decode + dHash are mapPartitions projections; the pair search must
    // be the banded equi-join on block keys with the native Hamming
    // verify on candidates only
    val p = plan("q81_image_neardup")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("blockkey"), p.take(2000))
  }

  test("q80: BPE tokenization is one map-side projection — no shuffle before the sort") {
    // the merge table is a foldable literal inside the plan; the only
    // exchange allowed is the final orderBy's range partitioning
    val p = plan("q80_bpe_tokens")
    assert(p.contains("bpeencode") || p.toLowerCase.contains("bpe_encode"),
      p.take(2000))
    assert(!p.contains("Exchange hashpartitioning"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q82: incremental image dedup pairs via the block equi-join, no cartesian") {
    // (the parquet-index-from-disk behavior itself is pinned in
    // OperatorsSpec's fresh-session test; the Materializer's
    // localCheckpoint hides the scan node from this executed plan)
    val p = plan("q82_image_neardup_incr")
    assert(p.contains("blockkey"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("q73: the TF-IDF top-N window partitions per document, never globally") {
    // per-doc rank state is one document's vocabulary; a global rank
    // window would show a SinglePartition exchange
    val p = plan("q73_doc_tfidf")
    assert(p.contains("hashpartitioning(doc_id"), p.take(2000))
    assert(!p.contains("Exchange SinglePartition"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q72: PQ encode is a projection; the corpus never shuffles before the heap") {
    // codes come from per-subspace nearest_cells against foldable codebook
    // literals — assignment must be map-side (no corpus-keyed exchange),
    // and the ADC scan must end in the bounded partial top-k heap
    val p = plan("q72_ann_pq")
    assert(!p.contains("hashpartitioning(neighbor_id"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("ObjectHashAggregate"), p.take(2000))
    assert(p.toLowerCase.contains("partial_topkagg"), p.take(2000))
  }

  test("q74: sampling thresholds broadcast; only candidates reach the rank window") {
    // the corpus pays a map-side hash filter against broadcast thresholds;
    // the rank window must partition by the group key over candidates only.
    // The executed q74 plan hides the candidate stage behind the
    // checkpoint that pins it, so the broadcast pin audits the plans of
    // every action the operator runs, the checkpoint's included
    val p = plan("q74_doc_stratified")
    assert(p.contains("hashpartitioning(lang"), p.take(2000))
    assert(!p.contains("Exchange SinglePartition"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val raw = ranPlans(graft.operators.Sampling
      .stratifiedSample(docs, 20))
    assert(raw.contains("BroadcastHashJoin"), raw.take(2000))
    assert(raw.contains("hashpartitioning(lang"), raw.take(2000))
    assert(!raw.contains("Exchange SinglePartition"), raw.take(2000))
    assert(!raw.contains("CartesianProduct"), raw.take(2000))
  }

  test("q77: IVF-PQ candidates come from a cell equi-join, never the whole corpus") {
    // the coarse index must turn the scan into an equi-join on cell_id —
    // no nested loop over the corpus, no corpus-keyed exchange
    val p = plan("q77_ann_ivfpq")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("hashpartitioning(neighbor_id"), p.take(2000))
    assert(p.contains("ObjectHashAggregate"), p.take(2000))
    assert(p.toLowerCase.contains("partial_topkagg"), p.take(2000))
  }

  test("q78: the corpus card is pure partial-combined aggregation, no rank window") {
    val p = plan("q78_corpus_card")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q76: surprisal aggregates partial-combine; no window, no cartesian") {
    val p = plan("q76_doc_surprisal")
    assert(p.contains("partial_sum"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q40/q41/q46: per-query top-k is a bounded partial aggregate, not a global window") {
    // The heap aggregate must partial-aggregate map-side (ObjectHashAggregate
    // with a partial topkagg) so the exchange carries ≤margin rows per
    // (partition, query) instead of |Q| x |corpus| scored rows.
    for (q <- Seq("q40_knn_brute", "q41_ann_lsh", "q46_ann_ivf")) {
      val p = plan(q)
      assert(p.contains("ObjectHashAggregate"), q)
      assert(p.toLowerCase.contains("partial_topkagg"), q)
    }
  }

  test("q85: semantic dedup pairs come from the bucket equi-join; verdict is one aggregate") {
    val p = plan("q85_semdedup")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("partial_min") || p.contains("partial_count"),
      p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
  }

  test("q86: chunking is pure map-side — no exchange except the output sort") {
    // split -> start sequence -> explode -> slice must pipeline in one
    // stage; any hashpartitioning exchange means the windowing shuffled
    val p = plan("q86_doc_chunk")
    assert(!p.contains("Exchange hashpartitioning"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q87/q88: LM scoring partial-combines; no global window over the corpus") {
    for (q <- Seq("q87_bigram_surprisal", "q88_dsir_resample")) {
      val p = plan(q)
      assert(p.contains("partial_sum") || p.contains("partial_count"), q)
      assert(!p.contains("CartesianProduct"), q)
    }
    // q88's final selection is a bounded TakeOrdered, not a global sort
    // feeding a window over the whole corpus
    val p88 = plan("q88_dsir_resample")
    assert(p88.contains("TakeOrderedAndProject"), p88.take(2000))
  }

  test("q89: hard negatives — corpus scans once into the bounded heap") {
    val p = plan("q89_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin")) // tiny query set x corpus
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.toLowerCase.contains("partial_topkagg"), p.take(2000))
  }

  test("q91: classifier scoring is a pure projection against weight literals") {
    // training happens in driver-side aggregate collects before this plan
    // exists; the returned scoring query must be map-side only
    val p = plan("q91_quality_classifier")
    assert(!p.contains("Exchange hashpartitioning"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q94: semantic decontamination broadcasts the eval set, no window") {
    val p = plan("q94_semantic_decontaminate")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
  }

  test("q93: mixture thresholds broadcast; the corpus never windows") {
    val p = plan("q93_temperature_mix")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    assert(!p.contains("Exchange SinglePartition") ||
      p.contains("partial_"), p.take(2000))
  }

  test("q92: chunk retrieval ends in the bounded heap, no cartesian") {
    val p = plan("q92_chunk_retrieval")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.toLowerCase.contains("partial_topkagg"), p.take(2000))
  }

  test("q90: bloom probe is a map-side filter ahead of the verify join") {
    val p = plan("q90_decontaminate_bloom")
    // BloomFilterMightContain prints as its prettyName `might_contain`
    assert(p.toLowerCase.contains("might_contain"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q100-q103: event analytics never single-partition or cartesian") {
    for (q <- Seq("q100_event_context", "q101_funnel", "q102_retention",
        "q103_attribution")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(1500)}")
      // a single-partition exchange is legitimate only after a map-side
      // partial aggregate (scalar totals like the funnel's stage counts);
      // a corpus-global window/sort would surface without one
      assert(!p.contains("Exchange SinglePartition") || p.contains("partial_"),
        s"$q: ${p.take(1500)}")
    }
    // the funnel is pure keyed aggregation — no window operator at all
    assert(!plan("q101_funnel").contains("Window"))
    // attribution's one window partitions by the join key, never globally
    val p103 = plan("q103_attribution")
    assert(p103.contains("Window"), p103.take(1500))
  }

  test("q95: shard manifest is one partial-combined aggregation, no window") {
    val p = plan("q95_shard_plan")
    assert(!p.contains("Window"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("partial_"), p.take(2000)) // map-side combine ran
    // manifest reads only the three needed columns
    assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string," +
      "n_chars:bigint>"), p.take(3000))
  }

  test("q97: per-source cap is the bounded heap — no per-domain window") {
    val p = plan("q97_source_cap")
    assert(!p.contains("Window"), p.take(2000))
    assert(p.toLowerCase.contains("partial_topkagg"), p.take(2000))
  }

  test("q98: CDC chunking shuffles only for the digest dup-count window") {
    val p = plan("q98_cdc_chunks")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // exactly one hash exchange (on digest); the chunker itself is
    // map-side HOFs over the scan
    assert("Exchange hashpartitioning\\(digest".r.findAllIn(p).size == 1,
      p.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      p.take(3000))
  }

  test("q112: Gopher rules are one map-side projection — no shuffle before the sort") {
    // every rule is integer arithmetic over the scan; the only exchange
    // allowed is the final orderBy's range partitioning
    val p = plan("q112_gopher_rules")
    assert(!p.contains("Exchange hashpartitioning"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
  }

  test("q113: URL dedup shuffles once, on the canonical key, partial-combined") {
    val p = plan("q113_url_dedup")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert("Exchange hashpartitioning\\(canonical_url".r.findAllIn(p)
      .size == 1, p.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      p.take(3000))
    // canonicalization happens below the partial aggregate (map-side)
    assert(p.contains("partial_min") || p.contains("HashAggregate"),
      p.take(2000))
  }

  test("q115: snapshot diff joins 16-byte hashes, never document bodies") {
    // md5 is computed below each side's exchange, so the full-outer
    // sort-merge shuffles (id, hash) pairs only
    val p = plan("q115_snapshot_diff")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("FullOuter"), p.take(2000))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      p.take(3000))
  }

  test("q116: whitening aggregates once, stats broadcast back over the element stream") {
    val p = plan("q116_emb_whiten")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // the only hash exchange is the per-dimension stats aggregate
    assert("Exchange hashpartitioning\\(pos".r.findAllIn(p).size == 1,
      p.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      p.take(3000))
  }

  test("q117: token drift shuffles (token, counts) once; ln-term is a projection") {
    val p = plan("q117_token_drift")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      p.take(2000))
    // the count table is checkpointed in the production query (it feeds
    // the totals action AND the output), which hides its exchange; audit
    // the single token shuffle over every action the operator runs
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val raw = ranPlans(graft.operators.TextAnalysis.tokenDrift(docs,
      org.apache.spark.sql.functions.col("source") === "src0", minCount = 1L))
    assert("Exchange hashpartitioning\\(token".r.findAllIn(raw).size == 1,
      raw.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(raw).size == 1,
      raw.take(3000))
    assert(!raw.contains("SortMergeJoin") &&
      !raw.contains("BroadcastHashJoin"), raw.take(2000))
  }

  test("q114: audio near-dup candidates come from the block equi-join, no cartesian") {
    // decode + envelope hash are mapPartitions projections; the pair
    // search must be the banded equi-join on block keys with the native
    // Hamming verify on candidates only — q81's plan shape, audio domain
    val p = plan("q114_audio_neardup")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("blockkey"), p.take(2000))
  }

  test("q119: the salt reaches the join exchange — hot keys spread across reducers") {
    val p = plan("q119_salted_join")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the join must key on (user_id, __salt), not user_id alone — that
    // compound key IS the skew mitigation. At fixture scale the exploded
    // dim broadcasts (so the compound key shows in the BHJ keys); at real
    // scale the same compound key becomes the SMJ exchange key
    assert("(BroadcastHashJoin|SortMergeJoin) \\[user_id[^\\]]*__salt"
      .r.findAllIn(p).nonEmpty, p.take(3000))
  }

  test("q120: domain stats shuffle on the domain key only — parsing rides the scan") {
    val p = plan("q120_domain_stats")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      p.take(2000))
    // every hash exchange keys on domain (the count-distinct two-phase
    // plan may add one domain+canonical exchange, never a wider one)
    val ex = "Exchange hashpartitioning\\(domain".r.findAllIn(p).size
    assert(ex >= 1 &&
      ex == "Exchange hashpartitioning".r.findAllIn(p).size, p.take(3000))
  }

  test("q121: winsorized mean — fences broadcast back, values clip map-side") {
    val p = plan("q121_winsorized_mean")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("Exchange SinglePartition"), p.take(2000))
  }

  test("q122: temporal split is JOIN-FREE — one partial-combined " +
      "(user, split) corpus exchange, everything above rides the " +
      "bounded-per-user table") {
    // round 9 removed the r8 forced broadcast of the user-presence
    // table (entity-scale at 100 TB) by deriving the verdict from the
    // per-(user, split) counts instead of re-joining the corpus
    val p = plan("q122_temporal_split")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    assert(!p.contains("Join"), p.take(2000)) // no join of any kind
    assert(p.contains("partial_count"), p.take(2000))
  }

  test("q118: video near-dup candidates come from the block equi-join, no cartesian") {
    val p = plan("q118_video_neardup")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("blockkey"), p.take(2000))
  }

  test("q123: KMV sketch — shingles/md5 ride the scan, ONE partial-combined exchange") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // sketch path (what touches the corpus): exactly one hash exchange on
    // the slice key, with a map-side partial KMinStringsAgg below it
    val ps = graft.operators.Overlap
      .kmvSketch(docs, 256)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(ps).size == 1, ps.take(3000))
    assert(ps.contains("partial_kminstringsagg"), ps.take(3000))
    // full query over every action it runs (the checkpoint that pins
    // the sketch hides it from the result's plan): the pairwise stage
    // touches only the tiny sketch rows — no sort-merge join anywhere,
    // corpus never joins
    val pq = ranPlans(graft.operators.Overlap
      .sliceOverlap(docs, 256)
      .orderBy(col("slice_a"), col("slice_b")))
    assert(!pq.contains("SortMergeJoin"), pq.take(3000))
    assert(!pq.contains("CartesianProduct"), pq.take(3000))
  }

  test("q124: markov lag window partitions on user_id; no global window") {
    val p = plan("q124_markov_chain")
    // the only windows: lead() partitioned by user_id (entity-bounded)
    // and the row-total over the tiny (prev_type) count table — never a
    // SinglePartition window over the event stream
    assert(p.contains("Window"), p.take(2000))
    assert(!p.contains("SinglePartition"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q125: PMI — bigrams form map-side, marginals join as equi-joins") {
    import org.apache.spark.sql.functions.col
    // audit every action the operator runs: the checkpoint hides the
    // bigram-count subplan from the result's plan. zip_with rides the
    // scan projection (no token-position self-join); every join is an
    // equi-join on w1/w2.
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = ranPlans(graft.operators.TextAnalysis
      .pmiCollocations(docs, 5L)
      .orderBy(col("w1"), col("w2")))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("zip_with"), p.take(3000))
  }

  test("q127: z-order interleave rides the scan; one shard-stats exchange") {
    val p = plan("q127_zorder_layout")
    // pure shift/mask arithmetic in a projection (no UDF, no join, no
    // generate); the only hash exchange is the shard-stats aggregate
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
    assert(!p.contains("Generate"), p.take(3000))
    assert(p.contains("HashAggregate"), p.take(3000))
  }

  test("q129: orphan checks are anti-joins; small parents broadcast") {
    val p = plan("q129_integrity_audit")
    assert(p.contains("LeftAnti"), p.take(3000))
    // nation-parent edges must broadcast (tiny dim); the only
    // nested-loop joins are the 1-row scalar-aggregate crossJoins
    assert("BroadcastHashJoin.*LeftAnti".r.findAllIn(p).nonEmpty, p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q130: k-anonymity — corpus shuffles once on the tuple key, no join") {
    val p = plan("q130_k_anonymity")
    assert(!p.contains("Join"), p.take(3000))
    // tuple count + per-type rollup: two hash exchanges max, no window
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("q131: MAD passes broadcast the per-type stats back; no window, no cartesian") {
    val p = plan("q131_mad_outliers")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q132: path mining — one user-partitioned sort serves both leads") {
    val p = plan("q132_event_paths")
    // both lead() columns ride ONE window over (user_id; ts, event_id):
    // exactly one user-keyed exchange, no SinglePartition window
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      p.take(3000))
    assert(!p.contains("SinglePartition"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("q133: HTML extraction is a pure projection riding the scan") {
    val p = plan("q133_html_extract")
    assert(!p.contains("Join"), p.take(3000))
    assert(!p.contains("Exchange hashpartitioning"), p.take(3000))
    assert(!p.contains("Generate"), p.take(3000))
  }

  test("q134: shrinkage — one domain exchange, global mean broadcast") {
    val p = plan("q134_domain_prior")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1, p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("q135: group top-k runs on the bounded heap, not a window sort") {
    val p = plan("q135_group_topk")
    assert(!p.contains("Window"), p.take(3000))
    assert(p.contains("partial_topkagg"), p.take(3000))
  }

  test("q136: one user-keyed sort serves the whole window zoo") {
    val p = plan("q136_window_zoo")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      p.take(3000))
    assert(!p.contains("SinglePartition"), p.take(3000))
  }

  test("q137: multiset set-ops plan without cartesian products") {
    val p = plan("q137_setops_all")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("q138: BM25 — df and corpus stats broadcast; top-N is a TakeOrdered") {
    val p = plan("q138_bm25")
    // df join-back and the 1-row stats attach as broadcasts, never a
    // shuffle join; the top-N is a bounded TakeOrdered, not a global sort
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1, p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("CartesianProduct"), p.take(3000)) // the 1-row stats attach
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("q139: sparse cosine pairs form via the term equi-join, no cartesian") {
    val p = plan("q139_sparse_cosine")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("q140: fusion inputs stay top-k lists; no corpus-wide window join") {
    val p = plan("q140_rrf_fusion")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the dense retriever's bounded heap does the corpus-side top-k
    assert(p.contains("partial_topkagg"), p.take(3000))
  }

  test("q141: edit-join candidates form on the segment equi-join") {
    val p = plan("q141_edit_join")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("q142: outlier gate broadcasts centroid + fence; corpus never self-joins") {
    val p = plan("q142_emb_outliers")
    // per-dim centroid attaches as a broadcast; the 1-row fence as a
    // broadcast nested loop — never a corpus-by-corpus join
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("q143: weighted sample rides the bounded heap, not a group window") {
    val p = plan("q143_weighted_sample")
    assert(!p.contains("Window"), p.take(3000))
    assert(p.contains("partial_topkagg"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("q145: triangle census — data joins are equi-joins, no cartesian") {
    val p = plan("q145_triangles")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the only nested-loop join is the 1-row x 1-row scalar cross of the
    // two summary aggregates (the q142 pattern); wedge + closing joins
    // must be keyed
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      p.take(3000))
    assert(p.contains("SortMergeJoin [b1") ||
      p.contains("ShuffledHashJoin [b1"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("q146/q149: time-series windows are key-partitioned, never global") {
    for (q <- Seq("q146_gapfill", "q149_scd2")) {
      val p = plan(q)
      // a window without partitioning would collapse the corpus to one
      // task — the cliff this family is designed around
      assert(!p.contains("Window [") ||
        !p.contains("windowspecdefinition()"), q)
      assert(!p.contains("SinglePartition"), q + "\n" + p.take(3000))
    }
  }

  test("q147/q148: experiment + profile are pure aggregation plans — no joins") {
    for (q <- Seq("q147_ab_test", "q148_profile")) {
      val p = plan(q)
      assert(!p.contains("Join"), q + "\n" + p.take(3000))
      assert(!p.contains("CartesianProduct"), q)
    }
    // the profile's exact multi-distinct compiles to ONE scan + Expand
    val pr = plan("q148_profile")
    assert(pr.contains("Expand"), pr.take(3000))
    assert("Scan parquet".r.findAllIn(pr).size == 1, pr.take(3000))
  }

  test("q150: containment pairs form on the shingle equi-join, df cap broadcast") {
    val p = plan("q150_containment")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q151: silhouette — distances map-side vs one broadcast row; corpus never shuffle-joins") {
    val p = plan("q151_silhouette")
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("q152: histogram — one scan; deciles read off a value histogram " +
    "(grid-bounded joins only), no percentile aggregate") {
    // r13 rewrite: the exact-percentile aggregate buffered a value-count
    // map per task and merged it in ONE final task (invariant to input
    // parallelism); the deciles now interpolate off a partial-combined
    // (col, value) histogram — bit-identical boundaries (FanOutSpec
    // differential + oracle pin). The joins below are 27-grid-row
    // lookups against the histogram, not row-scale joins.
    // the corpus subplan sits behind the cum-histogram checkpoint, so
    // the executed plan shows the checkpoint scan; the pins that remain
    // visible: grid lookups only (no cartesian), percentile gone
    val p = plan("q152_histogram")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("percentile"), p.take(3000))
  }

  test("q153: k-core peels with keyed joins only") {
    val p = plan("q153_kcore")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("q154: label propagation — keyed joins, node-partitioned vote window") {
    val p = plan("q154_label_prop")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("SinglePartition, ENSURE_REQUIREMENTS"),
      p.take(3000))
  }

  test("q155: c-TF-IDF — one corpus exchange, vocab-sized ranking") {
    // audited over every action the operator runs, so the checkpoint
    // does not hide the corpus subplan
    import org.apache.spark.sql.functions.col
    val p = ranPlans(graft.operators.TextAnalysis
      .cTfIdf(spark.read.parquet(s"$dir/documents.parquet"), topK = 5)
      .orderBy(col("class"), col("rk")))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the only nested-loop join is the 1-row avg-mass broadcast
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      p.take(3000))
  }

  test("q156: PSI — slices bucket map-side; everything after is buckets-sized") {
    val p = plan("q156_psi_drift")
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("q157/q158: time-series monitors — keyed pair join / broadcast profile") {
    for (q <- Seq("q157_theilsen", "q158_seasonal")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q + "\n" + p.take(3000))
      assert(!p.contains("BroadcastNestedLoopJoin"), q)
      assert(!p.contains("Window"), q)
    }
    assert(plan("q158_seasonal").contains("BroadcastHashJoin"))
  }

  test("q159/q160: cusum + active users — keyed windows, no pair joins") {
    val p9 = plan("q159_cusum")
    assert(!p9.contains("CartesianProduct") && !p9.contains("SortMergeJoin"),
      p9.take(3000))
    // profile joins back as a broadcast; the windows are key-partitioned
    assert(p9.contains("BroadcastHashJoin"))
    assert(!p9.contains("Window [") ||
      !p9.contains("windowspecdefinition()"), "global window")
    val p0 = plan("q160_active_users")
    assert(!p0.contains("CartesianProduct"))
    assert(!p0.contains("Window"), "active users must not use a window")
  }

  test("q161/q163: wedge and pair joins are keyed equi-joins, dims broadcast") {
    for (q <- Seq("q161_linkpred", "q163_basket_lift")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q)
      // the only nested-loop is the 1-row scalar broadcast (q163's N)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
        || p.contains("BroadcastHashJoin"), q)
    }
    assert(plan("q163_basket_lift").contains("BroadcastHashJoin"))
  }

  test("q162/q164: AUC bins and RFM fences — corpus never self-joins") {
    val p2 = plan("q162_auc")
    assert(!p2.contains("CartesianProduct")
      && !p2.contains("SortMergeJoin") && !p2.contains("BroadcastHashJoin"),
      "AUC is aggregation-only\n" + p2.take(2000))
    val p4 = plan("q164_rfm")
    assert(!p4.contains("CartesianProduct")
      && !p4.contains("SortMergeJoin"), p4.take(2000))
    assert(!p4.contains("Window"), "fences assign map-side, not by ntile")
  }

  test("q165/q167/q170: kappa, gini, benford — corpus aggregates, no SMJ") {
    for (q <- Seq("q165_kappa", "q167_gini", "q170_benford")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q)
      assert(!p.contains("SortMergeJoin"), q + ": bounded tables only")
    }
  }

  test("q168/q169: KM + STL — key-partitioned corpus exchange, seasonal broadcast") {
    val p8 = plan("q168_km_retention")
    assert(!p8.contains("CartesianProduct")
      && !p8.contains("SortMergeJoin"), p8.take(2000))
    val p9 = plan("q169_stl")
    assert(!p9.contains("CartesianProduct"), p9.take(2000))
    // the seasonal profile (key x 24) joins back as a broadcast
    assert(p9.contains("BroadcastHashJoin"))
    assert(!p9.contains("SortMergeJoin"))
  }

  test("q171/q173: BFS rounds and merge are keyed joins/aggregates only") {
    for (q <- Seq("q171_bfs_hops", "q173_merge_upsert")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q)
      assert(!p.contains("BroadcastNestedLoopJoin"), q)
    }
    // the merge winner is a partial-combined max_by, never a window sort
    assert(!plan("q173_merge_upsert").contains("Window"))
  }

  test("q172: the bloom probe filters the fact side BELOW the join") {
    val p = plan("q172_bloom_join")
    assert(p.contains("might_contain"), p.take(3000))
    assert(!p.contains("CartesianProduct"))
    // the pruned fact stream must reach the join through the bloom
    // Filter, not the other way around: the Filter sits under the join
    val joinIdx = p.indexOf("Join")
    val probeIdx = p.indexOf("might_contain")
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      "probe should appear below (after) the join node in the plan tree")
  }

  test("q174-q177: PPR rounds keyed; histogram stats never sort the corpus") {
    for (q <- Seq("q174_ppr", "q175_weighted_median", "q176_contingency",
        "q177_pct_rank")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q)
      assert(!p.contains("SortMergeJoin"), q + ": bounded/broadcast only")
    }
    // the contingency marginals join back as broadcasts
    assert(plan("q176_contingency").contains("BroadcastHashJoin"))
  }

  test("q180-q183: vocab/zipf/burstiness/scorecard — bounded-table tails") {
    for (q <- Seq("q180_vocab_growth", "q181_zipf", "q182_burstiness",
        "q183_scorecard")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q)
      assert(!p.contains("SortMergeJoin"), q)
    }
    // the percentile-rank table joins back as a broadcast
    assert(plan("q183_scorecard").contains("BroadcastHashJoin"))
  }

  test("q184-q186: RAKE keys on the doc id; FD/corr are pure aggregates") {
    val p4 = plan("q184_rake")
    assert(!p4.contains("CartesianProduct"), p4.take(2000))
    val p5 = plan("q185_fd_audit")
    assert(!p5.contains("CartesianProduct")
      && !p5.contains("SortMergeJoin")
      && !p5.contains("BroadcastHashJoin"), "FD audit joins nothing")
    val p6 = plan("q186_corr_matrix")
    assert(!p6.contains("Exchange hashpartitioning"),
      "one global aggregate, no keyed shuffle\n" + p6.take(2000))
  }

  test("q187/q188: forward as-of rides one user shuffle; fisher one cell exchange") {
    val p7 = plan("q187_conv_lag")
    assert(!p7.contains("CartesianProduct")
      && !p7.contains("BroadcastNestedLoopJoin"),
      "the next-purchase match must not be an inequality join\n"
        + p7.take(2000))
    val p8 = plan("q188_fisher")
    assert(!p8.contains("CartesianProduct")
      && !p8.contains("SortMergeJoin"), p8.take(2000))
    assert(p8.contains("BroadcastHashJoin"))
  }

  test("q189/q190: eval rollups broadcast; dup matrix keeps the band equi-join") {
    val p9 = plan("q189_langid_eval")
    assert(!p9.contains("CartesianProduct")
      && !p9.contains("SortMergeJoin"), p9.take(2000))
    assert(p9.contains("BroadcastHashJoin"))
    val p0 = plan("q190_dup_matrix")
    assert(!p0.contains("CartesianProduct"), "pairs must form on band keys")
    assert(p0.contains("BroadcastHashJoin"), "id->source maps broadcast")
  }

  test("q191: session rollup — one user exchange, no joins") {
    val p = plan("q191_session_stats")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"),
      p.take(2000))
    assert(!p.contains("Window [count"), "sessions number per user only")
  }

  test("q178/q179: frontier grid and reference set join as broadcasts") {
    for (q <- Seq("q178_pareto", "q179_novelty")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q)
      assert(!p.contains("SortMergeJoin"),
        q + ": dominance/novelty must not pair-join the corpus")
      assert(p.contains("BroadcastHashJoin"), q)
    }
  }

  test("q192: NB scoring joins on the token key; no window, no cartesian") {
    val p = plan("q192_nb_langid")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("Window"), "argmax is a CASE chain, never a window")
  }

  test("q193/q194: readability rides the scan; diversity has no joins " +
    "beyond the group-key merge") {
    val p3 = plan("q193_readability")
    assert(!p3.contains("Join") && !p3.contains("Window"), p3.take(2000))
    val p4 = plan("q194_lex_diversity")
    assert(!p4.contains("CartesianProduct") && !p4.contains("Window"),
      p4.take(2000))
  }

  test("q195/q197: privacy audits are aggregation-only — no join, " +
    "no window") {
    for (q <- Seq("q195_dp_release", "q197_l_diversity")) {
      val p = plan(q)
      assert(!p.contains("Join") && !p.contains("Window"),
        q + "\n" + p.take(2000))
    }
  }

  test("q196: EWMA joins only on the calendar-bounded (key, hour) key") {
    val p = plan("q196_ewma_hourly")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("Window"),
      "the recurrence must be the fan-out sum, not a prefix window")
  }

  test("q200: fertility is a map-side tokenize + one lang aggregate") {
    val p = plan("q200_tokenizer_fertility")
    assert(!p.contains("Join") && !p.contains("Window"), p.take(2000))
  }

  test("q201: prefix-filter candidates form on a shingle equi-join — " +
    "no cartesian, no window") {
    val p = plan("q201_setjoin_exact")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("Window"),
      "rarity order is array_sort over (df, s), never a rank window")
  }

  test("q202: weighted relaxation rounds keep keyed equi-joins only") {
    val p = plan("q202_weighted_paths")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("q204/q205/q206: PRF retrieval, Apriori and the cardinality " +
    "audit never form a row-scale cross product") {
    for (q <- Seq("q204_rm3_retrieval", "q205_freq_triples")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q + "\n" + p.take(2000))
    }
    val p6 = plan("q206_join_card")
    // the only cross joins combine 1-row aggregate frames
    assert(!p6.contains("CartesianProduct"), p6.take(2000))
    assert(!p6.contains("SortMergeJoin")
      || p6.contains("BroadcastHashJoin"), p6.take(2000))
  }

  test("q207/q209: neighborhood sketch and recall certification stay " +
    "on keyed joins") {
    for (q <- Seq("q207_neighborhood_fn", "q209_lsh_recall_cert")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q + "\n" + p.take(2000))
    }
  }

  test("q210/q211/q212: incremental card, trending and attribution " +
    "avoid windows and row-scale cross products") {
    for (q <- Seq("q210_card_incremental", "q211_trending_terms")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("Window"),
        q + "\n" + p.take(2000))
    }
    val p2 = plan("q212_multitouch_attribution")
    assert(!p2.contains("CartesianProduct")
      && !p2.contains("BroadcastNestedLoopJoin"),
      "the touch-purchase pairing must ride the bin equi-join\n"
        + p2.take(2000))
  }

  test("q213: budget selection's prefix sum is bucket-partitioned, " +
    "never a single-partition window") {
    val p = plan("q213_budget_select")
    assert(p.contains("Window"), "the within-bucket cumsum must exist")
    assert(p.contains("], [bucket#"),
      "the prefix-sum window must partition by bucket\n" + p.take(3000))
    assert(!p.contains("SinglePartition"),
      "the q66 two-phase contract\n" + p.take(3000))
    assert(!p.contains("CartesianProduct"))
  }

  test("q215/q216/q217: sketch joins broadcast; OLS is one aggregate; " +
    "the KS walk never sorts or shuffle-joins the corpus") {
    // q215: the merged sketch (depth*width rows) reaches the estimate
    // join as a broadcast; nothing sort-merge-joins
    val p215 = plan("q215_cms_mergeable")
    assert(p215.contains("BroadcastHashJoin"), p215.take(2000))
    assert(!p215.contains("CartesianProduct")
      && !p215.contains("SortMergeJoin"), p215.take(2000))
    // q216: regression-per-group is a pure partial-combined aggregate —
    // no join of any kind, no window
    val p216 = plan("q216_group_ols")
    assert(!p216.contains("Join") && !p216.contains("Window"),
      p216.take(2000))
    assert(p216.contains("partial"), "map-side combine\n" + p216.take(2000))
    // q217: the CDF window and argmax ride the bounded histogram (post-
    // checkpoint), and the corpus reaches it through one aggregate
    val p217 = plan("q217_ks_drift")
    assert(!p217.contains("CartesianProduct")
      && !p217.contains("SortMergeJoin"), p217.take(2000))
  }

  test("q218/q219: density labels broadcast back to the stream; the " +
    "partition audit never shuffles the corpus") {
    // q218: the dense-cell label table reaches the per-point join as a
    // broadcast; the 8-neighbor adjacency is an equi-join, not a cross
    val p218 = plan("q218_grid_density")
    assert(p218.contains("BroadcastHashJoin"), p218.take(2000))
    assert(!p218.contains("CartesianProduct")
      && !p218.contains("SortMergeJoin"), p218.take(2000))
    // q219: one key aggregate; the totals join back broadcast
    val p219 = plan("q219_partition_audit")
    assert(!p219.contains("CartesianProduct")
      && !p219.contains("SortMergeJoin"), p219.take(2000))
  }

  test("q220: the coefficient table scores the stream as a broadcast") {
    val p = plan("q220_residual_outliers")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct")
      && !p.contains("SortMergeJoin"), p.take(2000))
    assert(!p.contains("Window"), "no per-row window in the scoring path")
  }

  test("q221: the per-segment CDF walk partitions by group — no global " +
    "sort, argmax joins back broadcast") {
    val p = plan("q221_ks_by_segment")
    assert(p.contains("Window"), "the CDF window must exist")
    assert(!p.contains("SinglePartition"),
      "partitioned by group, never a global window\n" + p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct")
      && !p.contains("SortMergeJoin"), p.take(2000))
  }

  test("q222: the batch-mean cells join as a broadcast; no window, no " +
    "cartesian") {
    val p = plan("q222_embedding_drift")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct")
      && !p.contains("SortMergeJoin") && !p.contains("Window"),
      p.take(2000))
  }

  test("q223: everything after the journey aggregate is broadcast over " +
    "the bounded set table — no window, no cartesian") {
    val p = plan("q223_shapley_attribution")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct")
      && !p.contains("SortMergeJoin") && !p.contains("Window"),
      p.take(2000))
  }

  test("q224: winnowing pair candidates form on a fingerprint equi-join " +
    "— never all pairs, no per-doc window") {
    val p = plan("q224_winnowing_pairs")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin")
      && !p.contains("Window"), p.take(3000))
  }

  test("q226/q227: the bounded community/IV rollups join back broadcast " +
    "(node-scale label joins may SMJ); WOE has no window") {
    val p6 = plan("q226_modularity")
    assert(!p6.contains("CartesianProduct"), p6.take(3000))
    // the per-community intra/degree rollup join must be broadcast
    assert(p6.contains("BroadcastHashJoin"), p6.take(3000))
    val p7 = plan("q227_woe_iv")
    assert(!p7.contains("CartesianProduct")
      && !p7.contains("SortMergeJoin") && !p7.contains("Window"),
      p7.take(3000))
  }

  test("q231: the category table broadcasts back; map-side encode, " +
    "no window, no shuffle join") {
    val p = plan("q231_target_encoding")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct")
      && !p.contains("SortMergeJoin") && !p.contains("Window"),
      p.take(2000))
  }

  test("q240/q241/q242/q243: causal readouts are one corpus aggregate " +
    "plus broadcast scalars — no shuffle join, no window, no cartesian") {
    for (q <- Seq("q240_cuped", "q241_did", "q242_cem",
        "q243_jackknife")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct")
        && !p.contains("SortMergeJoin") && !p.contains("Window"),
        s"$q:\n" + p.take(3000))
    }
  }

  test("q244/q246: BH ranks and the isotonic minimax run on bounded " +
    "tables (window/BNLJ allowed there); never a shuffle join or " +
    "cartesian") {
    for (q <- Seq("q244_fdr_bh", "q246_isotonic")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct")
        && !p.contains("SortMergeJoin"), s"$q:\n" + p.take(3000))
    }
  }

  test("q245/q247: order statistics and ranks ride grid-bounded " +
    "histograms — windows partition by type, models join back " +
    "broadcast, no shuffle join") {
    for (q <- Seq("q245_conformal", "q247_spearman")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q:\n" + p.take(3000))
      assert(!p.contains("CartesianProduct")
        && !p.contains("SortMergeJoin"), s"$q:\n" + p.take(3000))
      // the CDF/rank windows must be keyed by event_type, never global
      // (a global window would demand an Exchange SinglePartition)
      assert(p.contains("Window") && !p.contains("SinglePartition"),
        s"$q windows must partition by event_type:\n" + p.take(3000))
    }
  }

  test("q248: HITS score tables broadcast every round — the edge table " +
    "never shuffle-joins") {
    // hits checkpoints each contribution table (the 2^(2·iters)
    // plan-explosion fix), which hides the round plans from the query's
    // executed plan — audit every action the operator runs, the round
    // checkpoints included
    import org.apache.spark.sql.functions._
    val edges = spark.read
      .parquet("/root/testdata/sf0.001/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(spark.read
          .parquet("/root/testdata/sf0.001/lineitem.parquet")
          .select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst"))
      .distinct()
    val p = ranPlans(graft.operators.Graph.hits(edges, iters = 2))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct")
      && !p.contains("SortMergeJoin"), p.take(3000))
  }

  test("q249/q250/q251: EMD grids, JL signs and lag tables join " +
    "broadcast; no cartesian anywhere") {
    for (q <- Seq("q249_t_closeness", "q250_jl_distortion",
        "q251_acf")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q:\n" + p.take(3000))
      assert(!p.contains("CartesianProduct"), s"$q:\n" + p.take(3000))
    }
  }

  test("q252/q253/q254: linkage pairs form on the blocked equi-join; " +
    "EM/changepoint/SPRT tails ride bounded tables, no cartesian") {
    for (q <- Seq("q252_fellegi_sunter", "q253_changepoint",
        "q254_msprt")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n" + p.take(3000))
    }
    // the mSPRT monitor is one rollup + bounded windows: no join at all
    val p4 = plan("q254_msprt")
    assert(!p4.contains("SortMergeJoin"), p4.take(3000))
  }

  test("q255/q256/q257: mixture step, SAX and DP release are one " +
    "corpus exchange plus bounded tails; no cartesian") {
    for (q <- Seq("q255_doremi", "q256_sax_motifs", "q257_dp_mean")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n" + p.take(3000))
    }
    // the DP release is a single conditional aggregate: no join at all
    val p7 = plan("q257_dp_mean")
    assert(!p7.contains("SortMergeJoin")
      && !p7.contains("BroadcastHashJoin"), p7.take(3000))
  }

  test("q258/q259/q260: tail index rides the grid histogram with " +
    "broadcast thresholds; MDE is one aggregate; patterns use an " +
    "entity window — no cartesian, no shuffle join") {
    val p8 = plan("q258_hill_tail")
    assert(p8.contains("BroadcastHashJoin")
      && !p8.contains("CartesianProduct")
      && !p8.contains("SortMergeJoin"), p8.take(3000))
    val p9 = plan("q259_power_mde")
    assert(!p9.contains("CartesianProduct")
      && !p9.contains("SortMergeJoin")
      && !p9.contains("BroadcastHashJoin"), p9.take(3000))
    val p0 = plan("q260_seq_patterns")
    assert(!p0.contains("CartesianProduct")
      && !p0.contains("SortMergeJoin")
      && !p0.contains("SinglePartition"), p0.take(3000))
  }

  test("q261/q262/q263: trend pairs ride the bounded days table; " +
    "McNemar is one aggregate; LOF's per-point kdist/lrd joins are " +
    "UNHINTED equi-joins (round-10 de-hint: the frames are SF-linear, " +
    "AQE picks the strategy) — no cartesian anywhere") {
    val p1 = plan("q261_mann_kendall")
    assert(!p1.contains("CartesianProduct")
      && !p1.contains("SortMergeJoin"), p1.take(3000))
    val p2 = plan("q262_mcnemar")
    assert(!p2.contains("CartesianProduct")
      && !p2.contains("SortMergeJoin")
      && !p2.contains("BroadcastHashJoin"), p2.take(3000))
    // the kNN/kdist/lrd attach joins must stay keyed equi-joins —
    // broadcast or shuffle is AQE's call now that the hints are gone
    val p3 = plan("q263_lof")
    assert(!p3.contains("CartesianProduct")
      && !p3.contains("BroadcastNestedLoopJoin"), p3.take(3000))
    assert(p3.contains("BroadcastHashJoin") || p3.contains("SortMergeJoin")
      || p3.contains("ShuffledHashJoin"), p3.take(3000))
  }

  test("q264/q265: coalition values ride the 16-row mask histogram; " +
    "the KS p-value walk partitions by type — no cartesian, no " +
    "shuffle join") {
    val p4 = plan("q264_data_shapley")
    assert(!p4.contains("CartesianProduct")
      && !p4.contains("SortMergeJoin"), p4.take(3000))
    val p5 = plan("q265_ks_pvalue")
    assert(!p5.contains("CartesianProduct")
      && !p5.contains("SortMergeJoin")
      && !p5.contains("SinglePartition"), p5.take(3000))
  }

  test("q266-q269: rank tests ride grid histograms and the GD/Newton " +
    "loops ride bounded tables — no cartesian, no shuffle join") {
    val p1 = plan("q266_mann_whitney")
    assert(!p1.contains("CartesianProduct")
      && !p1.contains("SortMergeJoin")
      && !p1.contains("SinglePartition"), p1.take(3000))
    // q267's global window runs over the bounded pooled cents grid
    // (the q177 contract), so SinglePartition there is accepted
    val p2 = plan("q267_kruskal_wallis")
    assert(!p2.contains("CartesianProduct")
      && !p2.contains("SortMergeJoin")
      && p2.contains("BroadcastHashJoin"), p2.take(3000))
    val p3 = plan("q268_quality_logreg")
    assert(!p3.contains("CartesianProduct")
      && !p3.contains("SortMergeJoin"), p3.take(3000))
    val p4 = plan("q269_cox_purchase")
    assert(!p4.contains("CartesianProduct")
      && !p4.contains("SortMergeJoin"), p4.take(3000))
  }

  test("q270-q272: item-CF pairs come only from the within-basket " +
    "equi-join with broadcast margins; uplift and IPF ride bounded " +
    "tables — no cartesian") {
    // q270's basket self-join is a legitimate corpus shuffle join on
    // the order key; the margin joins must stay broadcast
    val p1 = plan("q270_item_cf")
    assert(!p1.contains("CartesianProduct")
      && p1.contains("BroadcastHashJoin")
      && !p1.contains("SinglePartition"), p1.take(3000))
    val p2 = plan("q271_uplift_qini")
    assert(!p2.contains("CartesianProduct")
      && !p2.contains("SortMergeJoin"), p2.take(3000))
    val p3 = plan("q272_ipf_raking")
    assert(!p3.contains("CartesianProduct")
      && !p3.contains("SortMergeJoin"), p3.take(3000))
  }

  test("q273/q274: betweenness shuffles only edge-keyed state; the " +
    "backtest rides the bounded daily table — no cartesian") {
    val p1 = plan("q273_betweenness")
    assert(!p1.contains("CartesianProduct"), p1.take(3000))
    val p2 = plan("q274_forecast_backtest")
    assert(!p2.contains("CartesianProduct")
      && !p2.contains("SortMergeJoin"), p2.take(3000))
  }

  test("q275/q276: the signed-rank walk rides the difference " +
    "histogram; IPW joins the customer dim broadcast and fits on the " +
    "bounded cell table — no cartesian, no shuffle join") {
    val p1 = plan("q275_wilcoxon_signed")
    assert(!p1.contains("CartesianProduct")
      && !p1.contains("SortMergeJoin"), p1.take(3000))
    // the orders⋈customer broadcast join sits above the feats
    // checkpoint, so the audited (post-checkpoint) plan shows only the
    // bounded-table scoring aggregate
    val p2 = plan("q276_ipw_ate")
    assert(!p2.contains("CartesianProduct")
      && !p2.contains("SortMergeJoin"), p2.take(3000))
  }

  test("q285/q288/q290: BT's MM loop is broadcast algebra on the " +
    "checkpointed pair table; the hash audit and RBO never form a " +
    "cartesian or shuffle join") {
    // q285's audited (post-checkpoint) plan is the final strength join:
    // broadcast only — the corpus exchange happened below the checkpoint
    val p1 = plan("q285_bradley_terry")
    assert(!p1.contains("CartesianProduct")
      && !p1.contains("SortMergeJoin"), p1.take(3000))
    assert(p1.contains("BroadcastHashJoin"), p1.take(3000))
    val p2 = plan("q288_feature_hash_audit")
    assert(!p2.contains("CartesianProduct")
      && !p2.contains("SortMergeJoin"), p2.take(3000))
    // q290 inherits the rankers' plans (their 1-row scalar cross joins
    // surface as BNLJ and the doc-length LEFT join may SMJ) — the RBO
    // layer itself must add only broadcast joins and no cartesian
    val p3 = plan("q290_rbo_rankers")
    assert(!p3.contains("CartesianProduct"), p3.take(3000))
    assert(p3.contains("BroadcastHashJoin"), p3.take(3000))
    // below the checkpoints too: every plan the three queries run
    for (q <- Seq("q285_bradley_terry", "q288_feature_hash_audit",
        "q290_rbo_rankers")) {
      val ran = ranPlans(q)
      assert(!ran.contains("CartesianProduct"), s"$q: ${ran.take(3000)}")
    }
  }

  test("q287/q289: min-k windows partition on doc_id (no global " +
    "window); the greedy's audited plan is coverage algebra over the " +
    "checkpointed sim matrix — no cartesian") {
    val p1 = plan("q287_mink_membership")
    assert(!p1.contains("CartesianProduct"), p1.take(3000))
    assert(p1.contains("windowspecdefinition")
      && !p1.contains("Exchange SinglePartition"), p1.take(3000))
    // q289's only global window is the k-row (bounded) objective sum —
    // everything corpus-scale sits below the sim-matrix checkpoint
    val p2 = plan("q289_facility_location")
    assert(!p2.contains("CartesianProduct"), p2.take(3000))
    val ran = ranPlans("q289_facility_location")
    assert(!ran.contains("CartesianProduct"), ran.take(3000))
  }

  test("q286: NN-descent's audited plan joins the truth by id keys " +
    "only — no cartesian; the graph rounds live below checkpoints") {
    val p = plan("q286_nn_descent")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    val ran = ranPlans("q286_nn_descent")
    assert(!ran.contains("CartesianProduct"), ran.take(3000))
  }

  test("q291/q292/q293: CF-eval and posting-gap windows partition on " +
    "their entities (no global window); ARI is broadcast algebra on " +
    "the contingency checkpoint — no cartesian anywhere") {
    // q291 ends in a 1-row summary: its SinglePartition exchange is the
    // partial-combined scalar aggregate (fine), so pin windows instead —
    // every row_number must partition on an entity key
    val p1 = plan("q291_cf_eval")
    assert(!p1.contains("CartesianProduct"), p1.take(3000))
    assert(!p1.contains("windowspecdefinition(specifiedwindowframe"),
      p1.take(3000)) // no partition-less window spec
    val p2 = plan("q292_index_bits")
    assert(!p2.contains("CartesianProduct")
      && !p2.contains("Exchange SinglePartition"), p2.take(3000))
    val p3 = plan("q293_cluster_stability")
    assert(!p3.contains("CartesianProduct"), p3.take(3000))
    // the plans below the checkpoints, not only above them (q292 pins
    // nothing, so its plan above is all it runs)
    for (q <- Seq("q291_cf_eval", "q293_cluster_stability")) {
      val ran = ranPlans(q)
      assert(!ran.contains("CartesianProduct"), s"$q: ${ran.take(3000)}")
    }
    // q294 unions three pair generators, each its own equi-join plan —
    // nothing in the composition may introduce a cartesian
    val p4 = plan("q294_dedup_agreement")
    assert(!p4.contains("CartesianProduct")
      && !p4.contains("BroadcastNestedLoopJoin"), p4.take(3000))
  }

  test("q295/q296: the graph insert and the merkle tree stay keyed " +
    "equi-joins and bucket aggregates — no cartesian, no window") {
    val p1 = plan("q295_nn_graph_append")
    assert(!p1.contains("CartesianProduct"), p1.take(3000))
    val p2 = plan("q296_merkle_antientropy")
    assert(!p2.contains("CartesianProduct"), p2.take(3000))
    assert(!p2.contains("Window"), p2.take(3000))
  }

  test("q297: the corpus pays one value-histogram exchange; the DP is " +
    "bounded-table algebra above the checkpoints") {
    val p = plan("q297_voptimal_hist")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    val ran = ranPlans("q297_voptimal_hist")
    assert(!ran.contains("CartesianProduct"), ran.take(3000))
  }

  test("q305: the distributed-merge path adds one shard-histogram " +
    "exchange; both DP paths stay bounded-table algebra — no cartesian; " +
    "the only SMJ is the k-row full-outer bucket compare (full outer " +
    "cannot broadcast)") {
    val p = plan("q305_voptimal_merge")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    val smjs = "SortMergeJoin".r.findAllIn(p).size
    assert(smjs <= 1, s"$smjs SMJs: ${p.take(3000)}")
    if (smjs == 1)
      assert(p.contains("FullOuter"),
        "the one allowed SMJ must be the bounded bucket compare: " +
          p.take(3000))
  }

  test("q306: the lossy grid merge is bounded synopsis algebra — the " +
    "only cartesian is the 3-threshold x interval audit product and the " +
    "only SMJ joins the 3 audit rows on t_ref") {
    val p = plan("q306_grid_merge_audit")
    assert("CartesianProduct".r.findAllIn(p).size <= 1, p.take(3000))
    val smjLines = p.linesIterator.filter(_.contains("SortMergeJoin"))
      .toSeq
    assert(smjLines.size <= 1, smjLines.mkString("\n"))
    smjLines.foreach(l => assert(l.contains("t_ref"),
      s"unexpected SMJ (must be the bounded audit join): $l"))
  }

  test("q307: the leakage-safe split audit is pair-graph algebra — no " +
    "cartesian, no global window, and straddle counts ride id-keyed " +
    "equi-joins of the bounded pair set") {
    val p = plan("q307_leakage_safe_split")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the only nested-loop joins are the two 1-row straddle-count
    // attaches (crossJoin of a broadcast scalar aggregate — the repo's
    // bounded idiom); anything else nested-loop would be a real product
    val bnlj = p.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.size <= 2 && bnlj.forall(_.contains("Cross")),
      bnlj.mkString("\n") + "\n" + p.take(2000))
    // the split assignment is a map-side projection over an id-keyed
    // attach; no per-cluster window anywhere
    assert(!p.contains("Window"), p.take(3000))
    // q308 reads the same assignment per stratum: two partial-combined
    // aggregates and a single 1-row overall-share attach
    val p8 = plan("q308_split_stratification")
    assert(!p8.contains("CartesianProduct"), p8.take(3000))
    val bnlj8 = p8.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj8.size <= 1 && bnlj8.forall(_.contains("Cross")),
      bnlj8.mkString("\n"))
    assert(!p8.contains("Window"), p8.take(3000))
    assert(p8.contains("partial_count") || p8.contains("partial_sum"),
      p8.take(3000))
  }

  test("q309: the heavy-hitter merge ships k+1 numbers per shard — the " +
    "rank window partitions by shard, the only nested-loop join is the " +
    "bounded top10 x shards bracket attach") {
    val p = plan("q309_heavyhitter_merge")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    val bnlj = p.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.size <= 1 && bnlj.forall(_.contains("Cross")),
      bnlj.mkString("\n"))
    assert(p.contains("hashpartitioning(shard"), p.take(3000))
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      p.take(3000))
  }

  test("q298/q299: the synopsis transform and the selectivity audit " +
    "ride bounded tables; the only corpus work is the shared histogram " +
    "and the exact-count aggregate") {
    val p1 = plan("q298_wavelet_synopsis")
    assert(!p1.contains("CartesianProduct")
      && !p1.contains("SortMergeJoin"), p1.take(3000))
    val p2 = plan("q299_hist_selectivity")
    assert(!p2.contains("CartesianProduct")
      && !p2.contains("SortMergeJoin"), p2.take(3000))
  }

  test("q301/q302: the dup-graph census and the config sweep add only " +
    "bounded joins over checkpointed bases — no cartesian; the sweep's " +
    "config grid broadcasts") {
    val p1 = plan("q301_dup_transitivity")
    assert(!p1.contains("CartesianProduct"), p1.take(3000))
    val p2 = plan("q302_bm25_sweep")
    assert(!p2.contains("CartesianProduct")
      && !p2.contains("SortMergeJoin"), p2.take(3000))
    assert(p2.contains("BroadcastHashJoin"), p2.take(3000))
  }

  test("q300: the whole funnel is one conditional aggregate over " +
    "unioned stage plans — no cartesian, no re-pass per stage") {
    val p = plan("q300_pipeline_funnel")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // one flags aggregate feeds all seven stage rows (the union reads
    // the checkpointed 1-row aggregate, not the corpus, per stage)
    assert(p.contains("Union"), p.take(3000))
    val ran = ranPlans("q300_pipeline_funnel")
    assert(!ran.contains("CartesianProduct"), ran.take(3000))
  }

  test("q303: both models re-score the one checkpointed eval-bigram " +
    "table via token-keyed joins — no cartesian") {
    val p = plan("q303_curation_ablation")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    val ran = ranPlans("q303_curation_ablation")
    assert(!ran.contains("CartesianProduct"), ran.take(3000))
  }

  test("q304: CWS model equi-joins into the tf stream UNHINTED (vocab " +
    "grows by Heaps' law — AQE picks the strategy by real size); band " +
    "candidates are an equi-join, arg-min is an aggregate (no window, " +
    "no cartesian)") {
    val p = plan("q304_weighted_neardup")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    // the (term)-keyed model join must be a hash/sort-merge equi-join
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000)) // struct-min aggregate
  }

  test("q205: the triple verify is transaction-trimmed — broadcast " +
    "semi-joins prune baskets and the pair stream BEFORE the three-way " +
    "self-join (no raw |basket|^3 enumeration)") {
    val p = plan("q205_freq_triples")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // three LeftSemi stages since the r13 basket rewrite: the candidate
    // closure's (b,c) prune, the basket item trim against frequent-pair
    // items, and the final candidate filter. The fourth trim of the
    // round-11 shape — the (i1,i2) frequent-pair prune of the basket
    // PAIR SELF-JOIN's output — moved with its producer: the (bk,i1,i2)
    // base now comes from the bounded basket-aggregation explode
    // (collect_list per basket, <=21 index pairs map-side) and still
    // semi-joins fp before i3 ever joins, so the enumeration base stays
    // (frequent pairs present in the basket) x (candidate items).
    val semis = "LeftSemi".r.findAllIn(p).size
    assert(semis >= 3, s"expected >=3 LeftSemi trims, got $semis:\n" +
      p.take(3000))
    // the pair base is the basket aggregation, not an items-join
    assert(p.contains("collect_list"), p.take(3000))
  }

  test("q310/q311: the sweep prices every theta from ONE pair table " +
    "(the only nested loops are the literal theta grid / 1-row scalar " +
    "attaches); the recipe is one exchange, no window") {
    val p1 = plan("q310_dedup_threshold_sweep")
    assert(!p1.contains("CartesianProduct"), p1.take(3000))
    // pair generation appears once: one banded equi-join + one verify
    // re-attach pair — a per-theta re-generation would multiply these
    assert(!p1.contains("Window"), p1.take(3000))
    val p2 = plan("q311_data_recipe")
    assert(!p2.contains("CartesianProduct"), p2.take(3000))
    assert(!p2.contains("Window"), p2.take(3000))
    assert(!p2.contains("SortMergeJoin"), p2.take(3000))
  }

  test("q313/q314: the multimodal resize/frame-sample pipelines are " +
    "map-side — no join, no window, no aggregate exchange") {
    for (q <- Seq("q313_image_thumbnails", "q314_video_frame_sample")) {
      val p = plan(q)
      assert(!p.contains("Join"), q + ": " + p.take(2000))
      assert(!p.contains("Window"), q + ": " + p.take(2000))
      assert(!p.contains("HashAggregate"), q + ": " + p.take(2000))
    }
  }

  test("q312: the kept-id trim is an unhinted semi join; keep-best " +
    "stays window-free (aggregate argmax), no cartesian") {
    val p = plan("q312_recipe_after_dedup")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("LeftSemi"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("q315: the blocklist is a plan literal — no join of any kind, " +
    "no window; the only exchange is the (source, pattern) aggregate") {
    val p = plan("q315_blocklist_scan")
    assert(!p.contains("Join"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
    // fixed fan-out generate + partial-combined aggregate: exactly one
    // shuffle, keyed by the bounded (source, pattern) domain
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      p.take(3000))
  }

  test("q316/q317: the encoding audit is map-side predicates + one " +
    "source-keyed aggregate; the curriculum's stage x tier range join " +
    "is broadcast nested-loop over tier-count-sized frames — no " +
    "cartesian, no shuffle join, no window anywhere") {
    val p1 = plan("q316_encoding_audit")
    assert(!p1.contains("Join"), p1.take(3000))
    assert(!p1.contains("Window"), p1.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(p1).size == 1,
      p1.take(3000))
    val p2 = plan("q317_curriculum_plan")
    assert(!p2.contains("CartesianProduct"), p2.take(3000))
    assert(!p2.contains("SortMergeJoin"), p2.take(3000))
    assert(!p2.contains("Window"), p2.take(3000))
    assert(p2.contains("BroadcastNestedLoopJoin"), p2.take(3000))
  }

  test("q318: the entropy gate is one native-expression pass + one " +
    "source-keyed aggregate — no join, no window") {
    val p = plan("q318_entropy_gate")
    assert(!p.contains("Join"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      p.take(3000))
  }

  test("q319: the L-grid crosses as a broadcast literal; partial " +
    "aggregation collapses before the single grid-keyed exchange — " +
    "no shuffle join, no window") {
    val p = plan("q319_seqlen_sweep")
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      p.take(3000))
  }

  test("q320: the transliteration normalization is map-side string " +
    "algebra in front of the standard banded pipeline — band " +
    "candidates stay an equi-join, no cartesian, no forced broadcast " +
    "of the signature stream") {
    val p = plan("q320_translit_neardup")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    // the self-join on bandkey is a keyed equi-join (SMJ or shuffled
    // hash under AQE — never a nested loop)
    assert(p.contains("bandkey"), p.take(3000))
  }

  test("q321: the span scrub's n-gram window partitions on the " +
    "DOCUMENT (no global window); heavy-gram marking is a semi " +
    "equi-join; coverage fan-out is fixed — no cartesian anywhere") {
    val p = plan("q321_span_scrub")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("windowspecdefinition")
      && !p.contains("Exchange SinglePartition"), p.take(3000))
  }

  test("q322: the fertility bracket is two group-keyed aggregates + " +
    "one lang-keyed join of lang-bounded frames — no cartesian, no " +
    "window; the streaming face shares the same bracket") {
    val p = plan("q322_fertility_drift")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("q323: the 3375-pattern dictionary is STILL a plan literal — " +
    "no join of any kind, no window, one (source, pattern)-keyed " +
    "exchange; the automaton pays one walk per doc regardless of " +
    "dictionary size") {
    val p = plan("q323_dict_blocklist")
    assert(!p.contains("Join"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      p.take(3000))
  }

  test("q324: the prefix counts collapse BEFORE the per-group rank " +
    "window (partitioned by source, never global); totals attach via " +
    "a keyed join — no cartesian") {
    val p = plan("q324_template_prefixes")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("windowspecdefinition")
      && !p.contains("Exchange SinglePartition"), p.take(3000))
  }

  test("q325: the content funnel is ONE corpus scan — every gate " +
    "(token count, encoding detectors, native entropy, the blocklist " +
    "automaton) is a conditional-sum column of a single aggregate; no " +
    "join, no window") {
    val p = plan("q325_content_funnel")
    assert(!p.contains("Join"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
    assert("documents\\.parquet".r.findAllIn(p).size == 1,
      "the funnel must not re-scan the corpus per stage: " + p.take(3000))
  }

  test("q326: the temperature sweep pays ONE corpus scan; the token " +
    "total and per-T normalizers are window sums over the POST-" +
    "AGGREGATE |sources| x |grid| frame (bounded — a branch per scalar " +
    "would re-scan the corpus per reference), the grid is a broadcast " +
    "literal cross — no cartesian, no shuffle join") {
    val p = plan("q326_temperature_mix")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert("documents\\.parquet".r.findAllIn(p).size == 1,
      "everything after (source, toks) is algebra: " + p.take(3000))
  }

  test("entity-scale broadcast guard over ALL queries: no forced " +
    "broadcast() hint over a frame that grows with the corpus (the one " +
    "plan class that fails a 100x scale-up — a FORCED hint bypasses " +
    "Spark's size check and OOMs instead of falling back, while " +
    "unhinted AQE still broadcasts genuinely small sides)") {
    import org.apache.spark.sql.catalyst.plans.logical._
    // a hint subtree is BOUNDED-BY-CONSTRUCTION iff its row count cannot
    // grow with the corpus: a grouping-free (scalar) aggregate, an
    // explicit limit, a literal/local relation, a join/union of bounded
    // inputs, or a scan of a fixed-cardinality catalog table (TPC-H
    // nation=25 / region=5 are constant at every SF). Additionally:
    //   - a GROUPED aggregate over a bounded input is bounded (its row
    //     count is at most the input's) — but grouping an entity key
    //     (user_id, doc_id, term) out of the CORPUS is exactly the class
    //     that OOMed forced broadcasts at scale, and stays rejected;
    //   - a semi/anti join is bounded iff its LEFT side is (the output
    //     never exceeds the left);
    //   - a subtree stamped `bounded_<why>` by Hints.boundedBroadcast is
    //     an explicit human adjudication that construction guarantees
    //     boundedness in a way this structural walker cannot see. Every
    //     tag's argument is registered once in the Hints.boundedBroadcast
    //     scaladoc glossary (operators/Hints.scala) and every stamp is
    //     greppable — the review surface is the glossary + the sites.
    // the ONE walker, shared with the GuardSweep dump tooling so the
    // enforcement and the adjudication dump can never drift
    def bounded(p: LogicalPlan): Boolean = GuardSweep.bounded(p)
    // the registered tag set — the Hints.boundedBroadcast glossary; a
    // stamp with an unregistered tag fails the guard, so the glossary
    // can never silently drift from the call sites
    val registeredTags = Set(
      "query_set_contract", "eval_set_contract", "query_term_set",
      "topk_capped",
      "event_type_domain", "label_domain", "lang_domain",
      "category_domain", "category_domain_contract",
      "group_domain_contract", "ctx_domain", "arm_domain",
      "series_key_domain", "fold_domain", "fold_buckets",
      "value_grid", "time_grid", "batch_dim_grid", "vector_dim_domain",
      "grid_cells",
      "grid_g_rows", "calibration_bins", "sketch_cells", "probe_points",
      "replicate_set", "subset_masks", "channel_subsets", "per_shard_rows",
      "bt_item_panel", "marker_panel", "single_literal_group",
      "cluster_domain_payload")
    val unknownTags = scala.collection.mutable.Set[String]()
    val failures = scala.collection.mutable.Buffer[String]()
    for ((q, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val analyzed = fn(spark, dir).queryExecution.analyzed
      analyzed.foreach {
        case s: SubqueryAlias if s.alias.startsWith("bounded_")
            && !registeredTags.contains(s.alias.stripPrefix("bounded_")) =>
          unknownTags += s"$q: ${s.alias}"
        case _ => ()
      }
      val offending = analyzed.collect {
        // only BROADCAST-strategy hints can OOM at scale; a merge/
        // shuffle-hash hint over a corpus frame shuffles and is fine
        case h: ResolvedHint
            if h.hints.strategy.contains(
                org.apache.spark.sql.catalyst.plans.logical.BROADCAST)
              && !bounded(h.child) => h.child
      }
      if (offending.nonEmpty) {
        failures += q
        // full subtrees per offender to stderr — the aggregate assert
        // message gets truncated by the runner when the list is long
        System.err.println(s"[guard] $q carries a forced broadcast " +
          "over an unbounded frame:\n" +
          offending.map(_.toString.take(400)).mkString("\n---\n"))
      }
    }
    assert(failures.isEmpty,
      s"${failures.size} queries fail the guard: " +
        failures.mkString(", "))
    assert(unknownTags.isEmpty,
      "stamps with tags missing from the Hints glossary: " +
        unknownTags.toSeq.sorted.mkString(", "))
  }
}
