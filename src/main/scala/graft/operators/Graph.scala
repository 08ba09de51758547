package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph centrality for corpus curation: PageRank as iterated
  * DataFrame aggregation. A pretraining pipeline uses link-graph centrality
  * as a document quality prior (the original web-scale use of the
  * algorithm); here it is the same edge-set-only shuffle discipline as
  * [[Dedup.nearDupClustersWithRounds]] — per iteration one equi-join of
  * edges to the current rank table, one partial-combined sum keyed on the
  * destination, one left join back; the corpus/edge set never widens, and
  * lineage is cut per iteration via the [[Materializer]].
  *
  * Numeric portability (the oracle must land on identical bits): each
  * edge's contribution rank/degree is a per-row DOUBLE division (IEEE,
  * same on every engine given the same inputs), accumulated as
  * DECIMAL(38,20) so partial-aggregation ORDER cannot flip a bit, and each
  * iteration's rank is re-quantized with round(., 12) — so iteration k+1's
  * inputs are bit-identical across engines by induction. Ranks are
  * UNNORMALIZED (init 1, teleport 0.15, total mass N): no 1/N division
  * whose rounding would have to be replicated.
  */
object Graph {

  /** PageRank over a directed edge list (src, dst) in which EVERY node has
    * out-degree >= 1 (pass a symmetrized edge set for undirected graphs —
    * that also removes dangling-node mass loss, exactly how the
    * link-graph-as-quality-prior pipelines run it). The edge set must
    * already be distinct: a duplicated edge double-counts its
    * contribution, and no dedup shuffle runs here (both query callers
    * union the two directions of a distinct edge base whose arms cannot
    * collide, so their edges are distinct by construction).
    * Returns (node, rank) for every node, unnormalized (sum of ranks ≈
    * node count), damping 0.85. Fixed iteration count — centrality
    * priors want a deterministic, replayable result, not a convergence
    * race. */
  def pageRank(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1)
    val damping = 0.85
    // materialize the edge set BEFORE it fans out to degree + join: both
    // consumers would otherwise re-run the caller's (possibly expensive)
    // edge-building plan — the q84 double-reference lesson
    val e = Materializer.Local(edges.select(col("src"), col("dst")))
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
    // degree is loop-invariant: attach it to the edge set ONCE, so each
    // iteration pays one equi-join instead of two (at 100 TB the edge
    // table is the big operand — halving its joins halves the loop's
    // shuffle volume)
    val ed = Materializer.Local(e.join(deg, Seq("src")))
    // every node has outdegree >= 1, so `deg` IS the node table.
    // The node table is LOOP-INVARIANT: materialized once, it serves as
    // every round's left-join base, so `ranks` is referenced exactly
    // ONCE per round (in the contribution join) — which is what makes
    // the checkpoint cadence below safe (r14)
    val nodes = Materializer.Local(
      ed.select(col("src").as("node")).distinct())
    var ranks = nodes.withColumn("r", lit(1.0))
    // the rank table broadcasts and the EDGE TABLE NEVER SHUFFLES: the
    // node set is dimension-scale (an entity graph — customers x
    // suppliers, domains x hosts), so contributions partial-combine
    // map-side on top of the edge scan and each iteration moves only
    // (node, partial-sum) rows
    var i = 0
    while (i < iters) {
      val contribs = ed
        .join(broadcast(ranks.withColumnRenamed("node", "src")), Seq("src"))
        .select(col("dst").as("node"),
          (col("r") / col("d")).cast("decimal(38,20)").as("contrib"))
        .groupBy(col("node"))
        .agg(sum(col("contrib")).as("c"))
      val next = nodes
        .join(contribs, Seq("node"), "left")
        .select(col("node"),
          round(lit(1.0 - damping) + lit(damping) *
            coalesce(col("c"), lit(0)).cast("double"), 12).as("r"))
      i += 1
      // checkpoint every 2nd round (and the last): a skipped round's
      // lineage is recomputed exactly once inside the next checkpoint
      // (ranks has a single consumer per round), so the per-round job
      // count halves at unchanged total compute — the sf0.1 floor was
      // scheduling, not data (r14, measured)
      ranks = if (i % 2 == 0 || i == iters) Materializer.Local(next) else next
    }
    ranks.select(col("node"), col("r").as("rank"))
  }

  /** Triangle census of an undirected graph — the structural statistic
    * curation pipelines read off co-occurrence graphs (co-purchase,
    * co-citation, doc-link): triangle count and global clustering
    * coefficient `3·triangles / wedges` say whether the graph is
    * community-shaped or noise-shaped. Returns ONE row
    * (n_nodes, n_edges, n_wedges, n_triangles, global_cc).
    *
    * Scale shape (Suri & Vassilvitskii 2011, node-iterator++): each edge
    * is oriented from its lower-(degree, id) endpoint to the higher, so
    * every node's OUT-degree is O(√m) regardless of hub size — the wedge
    * self-join `a→b1, a→b2` cannot explode on a celebrity node the way
    * the naive neighbor join does. Each triangle forms exactly once (its
    * corners meet in one orientation order), confirmed by one equi-join
    * of wedges against oriented edges; every shuffle carries 2-3 node
    * ids. Wedge totals come from the tiny degree table, never from
    * materialized wedges.
    *
    * Input: any (src, dst) edge list; self-loops dropped, duplicate /
    * reversed edges collapsed. */
  def triangleStats(edges: DataFrame): DataFrame = {
    val e = Materializer.Local(edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
    val deg = Materializer.Local(
      e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("d")))
    // orient low-(degree, id) -> high-(degree, id); struct compare gives
    // the lexicographic (d, n) total order
    val du = deg.select(col("n").as("u"), struct(col("d"), col("n")).as("ku"))
    val dv = deg.select(col("n").as("v"), struct(col("d"), col("n")).as("kv"))
    val oriented = Materializer.Local(e.join(du, Seq("u")).join(dv, Seq("v"))
      .select(
        when(col("ku") < col("kv"), col("u")).otherwise(col("v")).as("a"),
        when(col("ku") < col("kv"), col("v")).otherwise(col("u")).as("b"),
        when(col("ku") < col("kv"), col("kv")).otherwise(col("ku"))
          .as("kb")))
    // wedges once each (kb1 < kb2); the closing edge b1-b2 must itself be
    // oriented b1->b2 (both orders agree), so the check is one equi-join
    val w1 = oriented.select(col("a"), col("b").as("b1"), col("kb").as("k1"))
    val w2 = oriented.select(col("a"), col("b").as("b2"), col("kb").as("k2"))
    val tri = w1.join(w2, Seq("a")).filter(col("k1") < col("k2"))
      .join(oriented.select(col("a").as("b1"), col("b").as("b2")),
        Seq("b1", "b2"))
      .agg(count(lit(1)).as("n_triangles"))
    // integer-exact: d*(d-1) is even per node, so `div` loses nothing
    val sums = deg.agg(count(lit(1)).as("n_nodes"),
      expr("sum(d) div 2").as("n_edges"),
      expr("sum(d * (d - 1) div 2)").as("n_wedges"))
    sums.crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        round(lit(3.0) * col("n_triangles").cast("double") /
          col("n_wedges").cast("double"), 6).as("global_cc"))
  }

  /** k-core peeling (Seidman 1983): `rounds` rounds of "drop every node
    * with degree < k, with its edges" over an undirected graph — the
    * dense-subgraph extractor curation uses to isolate template-spam /
    * link-farm cliques that survive triangle- or component-level
    * screens. Returns the surviving (node, core_deg) with the node's
    * degree inside the surviving subgraph.
    *
    * The round count is an EXPLICIT parameter (not a convergence race):
    * a replay or another engine runs the identical peel sequence, and a
    * caller wanting the true k-core picks rounds ≥ the peel depth
    * (degeneracy ordering peels in O(span) rounds; each round is one
    * degree aggregate + two keyed semi-joins, edge-set-only shuffles,
    * lineage cut per round via [[Materializer]]). */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1)
    var e = Materializer.Local(edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
    var i = 0
    while (i < rounds) {
      val deg = e.select(col("u").as("n"))
        .unionAll(e.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= k).select(col("n"))
      e = Materializer.Local(
        e.join(keep.withColumnRenamed("n", "u"), Seq("u"))
          .join(keep.withColumnRenamed("n", "v"), Seq("v"))
          .select(col("u"), col("v")))
      i += 1
    }
    e.select(col("u").as("node")).unionAll(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("core_deg"))
  }

  /** Semi-supervised label propagation (Zhu & Ghahramani 2002 in its
    * majority-vote form): seed labels spread over an undirected graph
    * for `rounds` rounds — how curation back-fills metadata (brand,
    * topic, quality tier) onto unlabeled corpus members from their
    * graph neighborhoods. Deterministic by construction: seeds are
    * immutable, an unlabeled node takes the MODE of its neighbors'
    * current labels (ties broken by smallest label; nodes with no
    * labeled neighbor keep their state), and the round count is an
    * explicit parameter — a replay or another engine produces the
    * identical labeling.
    *
    * Scale shape: per round ONE edge-keyed join of the label table, one
    * (node, label) partial-combined count, one node-partitioned
    * row_number over the per-node candidate labels (bounded by a node's
    * distinct neighbor labels, never corpus-wide), one left join back.
    * Edge set symmetrized + deduped once up front; lineage cut per
    * round. Returns (node, label) for nodes labeled after `rounds`. */
  def labelPropagation(edges: DataFrame, seeds: DataFrame, rounds: Int)
      : DataFrame = {
    require(rounds >= 1)
    import org.apache.spark.sql.expressions.Window
    val e0 = edges.select(col("src"), col("dst"))
    val sym = Materializer.Local(
      e0.unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
        .filter(col("src") =!= col("dst")).distinct())
    val nodes = sym.select(col("src").as("node")).distinct()
    var lab = Materializer.Local(nodes
      .join(seeds.select(col("node"), col("label").as("seed")),
        Seq("node"), "left")
      .select(col("node"), col("seed"), col("seed").as("lab")))
    var i = 0
    while (i < rounds) {
      val cnt = sym
        .join(lab.select(col("node").as("src"), col("lab")), Seq("src"))
        .filter(col("lab").isNotNull)
        .groupBy(col("dst").as("node"), col("lab"))
        .agg(count(lit(1)).as("c"))
      val win = cnt.withColumn("rk", row_number().over(
          Window.partitionBy(col("node"))
            .orderBy(col("c").desc, col("lab").asc)))
        .filter(col("rk") === 1)
        .select(col("node"), col("lab").as("wlab"))
      lab = Materializer.Local(lab.join(win, Seq("node"), "left")
        .select(col("node"), col("seed"),
          when(col("seed").isNotNull, col("seed"))
            .otherwise(coalesce(col("wlab"), col("lab"))).as("lab")))
      i += 1
    }
    lab.filter(col("lab").isNotNull)
      .select(col("node"), col("lab").as("label"))
  }

  /** Adamic–Adar link prediction (Adamic & Adar 2003): score every
    * NON-edge pair that shares at least one neighbor by
    * `Σ_w 1/ln(deg(w))` over the common neighbors w — rare shared
    * neighbors count more than hubs. The classic
    * recommend-what's-missing signal over co-occurrence graphs
    * (co-purchase, co-citation, entity graphs). Returns the top
    * `topN` candidate pairs (u, v, score), u < v, existing edges
    * excluded.
    *
    * Scale shape: candidates form ONLY through wedges — a self-join of
    * the adjacency list on the center node, so pairs with no common
    * neighbor never exist. Per-center fanout is quadratic in degree;
    * `maxDegree` caps it by dropping hub CENTERS (the df-cap lever of
    * q139/q150: a 10⁶-degree hub contributes ~0 weight per wedge yet
    * 10¹² wedges — dropping it changes scores by < 1/ln(10⁶) and
    * bounds the join). Per-wedge weights round(9) accumulate in
    * DECIMAL(38,9) so partial-agg order can't flip a bit; final score
    * round(6); ln is one IEEE op order. Existing edges leave via one
    * anti-join; topN rides TakeOrdered (score desc, u, v) — no global
    * sort. */
  def adamicAdar(edges: DataFrame, maxDegree: Int, topN: Int): DataFrame = {
    require(maxDegree >= 2 && topN >= 1)
    val e = Materializer.Local(edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
    val adj = e.select(col("u").as("w"), col("v").as("nb"))
      .unionAll(e.select(col("v").as("w"), col("u").as("nb")))
    val deg = adj.groupBy(col("w")).agg(count(lit(1)).as("d"))
    // a center needs >= 2 neighbors to form a wedge, so ln(d) > 0
    val centers = Materializer.Local(adj
      .join(deg.filter(col("d") <= maxDegree && col("d") >= 2),
        Seq("w"))
      .select(col("w"), col("nb"),
        round(lit(1.0) / log(col("d").cast("double")), 9)
          .cast("decimal(38,9)").as("wt")))
    val a = centers.select(col("w"), col("nb").as("u"), col("wt"))
    val b = centers.select(col("w"), col("nb").as("v"))
    val scored = a.join(b, Seq("w")).filter(col("u") < col("v"))
      .groupBy(col("u"), col("v"))
      .agg(round(sum(col("wt")).cast("double"), 6).as("score"))
      .join(e, Seq("u", "v"), "left_anti")
    scored.orderBy(col("score").desc, col("u"), col("v")).limit(topN)
  }

  /** Personalized PageRank (the topic-sensitive variant, Haveliwala
    * 2002): teleport mass flows ONLY to the seed set, so rank measures
    * proximity to the seeds rather than global centrality — the
    * related-entity / recommendation score read off co-occurrence
    * graphs. Same contract as [[pageRank]]: distinct symmetrized input
    * with out-degree >= 1 everywhere, fixed iterations, unnormalized
    * ranks (seeds init 1, others 0; teleport `1 − damping` per seed,
    * damping 0.85);
    * identical numeric-portability discipline (per-edge double
    * division, DECIMAL(38,20) accumulation, round(., 12) per
    * iteration) so the oracle's unrolled replay lands on the same
    * bits. Returns (node, rank) for every node. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           iters: Int): DataFrame = {
    require(iters >= 1)
    val damping = 0.85
    val e = Materializer.Local(edges.select(col("src"), col("dst")))
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val ed = Materializer.Local(e.join(deg, Seq("src")))
    // node table with the seed indicator attached once (loop-invariant)
    val nodes = Materializer.Local(ed.select(col("src").as("node")).distinct()
      .join(seeds.select(col("node")).distinct()
        .withColumn("s", lit(1)), Seq("node"), "left")
      .select(col("node"), coalesce(col("s"), lit(0)).as("seed")))
    var ranks: DataFrame =
      nodes.select(col("node"), col("seed").cast("double").as("r"))
    // entity graphs (dimension-scale node sets): broadcast the rank
    // table each round so the EDGE TABLE NEVER SHUFFLES — the q107 trade
    var i = 0
    while (i < iters) {
      val contribs = ed
        .join(broadcast(ranks.withColumnRenamed("node", "src")),
          Seq("src"))
        .select(col("dst").as("node"),
          (col("r") / col("d")).cast("decimal(38,20)").as("contrib"))
        .groupBy(col("node"))
        .agg(sum(col("contrib")).as("c"))
      val next = nodes
        .join(contribs, Seq("node"), "left")
        .select(col("node"),
          round(lit(1.0 - damping) * col("seed").cast("double")
            + lit(damping) * coalesce(col("c"), lit(0)).cast("double"),
            12).as("r"))
      i += 1
      // same checkpoint cadence as [[pageRank]] (ranks has one consumer
      // per round — `nodes` is the loop-invariant join base)
      ranks = if (i % 2 == 0 || i == iters) Materializer.Local(next) else next
    }
    ranks.select(col("node"), col("r").as("rank"))
  }

  /** Multi-source BFS: minimum hop distance from a seed set, out to
    * `maxHops` — the neighborhood-expansion primitive behind "everything
    * within 2 links of a known-spam domain" blocklists and
    * related-entity candidate pools. Returns (node, hops) for every
    * node reached within `maxHops` (seeds at 0); unreached nodes are
    * absent.
    *
    * Scale shape: per round ONE edge-keyed equi-join of the current
    * distance table against the symmetrized edge set and one
    * partial-combined min — the [[pageRank]] shuffle discipline; the
    * edge set never widens and lineage is cut per round. An explicit
    * round count, not a convergence race: a replay runs the identical
    * sequence (the [[kCore]] contract). Joining the FULL distance table
    * (not a frontier delta) keeps each round idempotent and
    * oracle-replayable; with min-combine the re-derived closer labels
    * collapse for free. */
  def bfsHops(edges: DataFrame, seeds: DataFrame)
      : DataFrame = {
    val maxHops = 3
    require(maxHops >= 1)
    val e0 = edges.select(col("src"), col("dst"))
    val sym = Materializer.Local(
      e0.unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
        .filter(col("src") =!= col("dst")).distinct())
    var dist = Materializer.Local(seeds.select(col("node")).distinct()
      .withColumn("hops", lit(0)))
    // entity graphs: broadcast the (node, hops) table so the edge set
    // never shuffles in the expansion join
    var i = 0
    while (i < maxHops) {
      val frontier = sym
        .join(broadcast(dist.withColumnRenamed("node", "src")), Seq("src"))
        .select(col("dst").as("node"), (col("hops") + lit(1)).as("hops"))
      dist = Materializer.Local(dist.unionAll(frontier)
        .groupBy(col("node")).agg(min(col("hops")).as("hops")))
      i += 1
    }
    dist
  }

  /** Bellman–Ford weighted shortest paths from a seed set, EXPLICIT
    * round count — the cost-aware sibling of [[bfsHops]] ("cheapest way
    * to reach each entity within k relaxations": trust propagation,
    * routing cost, related-entity scoring where edge strength matters).
    * `edges` carries (src, dst, cost); costs must be non-negative LONGS
    * (integer min-plus arithmetic is exact and engine-portable — derive
    * integer costs like `1000000 div support` rather than float
    * weights). Parallel edges collapse to their min cost; the graph is
    * treated as undirected.
    *
    * Scale shape: per round ONE edge-keyed equi-join + one
    * partial-combined min (the bfsHops/pageRank shuffle discipline),
    * lineage cut per round; the distance table broadcasts, so the edge
    * set never shuffles (dimension-scale node sets). A fixed `rounds`
    * makes the run replayable (the kCore contract) — rounds = k bounds
    * path length, the usual operational semantics ("within 3 links"). */
  /** Per-node neighborhood function — exact 1-ball and 2-ball sizes
    * plus a MERGEABLE Datasketches-HLL estimate of the 2-ball, gated
    * within tolerance (the HyperBall shape, Boldi & Vigna 2013: a
    * node's r-ball sketch is the union of its neighbors' (r−1)-ball
    * sketches — union is the only operation, so the whole computation
    * partial-combines and the per-node state is one lgK-bounded sketch
    * instead of a member set). The "blast radius" profile behind
    * blocklist sizing and influence triage.
    *
    * At 100 TB only the sketch path runs (per round: one edge-keyed
    * join + one union-aggregate exchange); the EXACT ball-2 membership
    * distinct here exists for the correctness gate (the q126 contract:
    * estimates are engine-specific, so the hash-checked columns are the
    * exact counts + a boolean pinning the estimate within
    * 3·rsd(lgK), lgK = 12). Returns (node, n1, n2, within_tol). */
  def neighborhoodFunction(edges: DataFrame): DataFrame = {
    val lgK = 12
    val e0 = edges.select(col("src"), col("dst"))
    val sym = Materializer.Local(
      e0.unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
        .filter(col("src") =!= col("dst")).distinct())
    val m1 = Materializer.Local(
      sym.select(col("src").as("node"), col("dst").as("member"))
        .unionAll(sym.select(col("src").as("node"),
          col("src").as("member")).distinct()))
    val ball1 = Materializer.Local(m1.groupBy(col("node"))
      .agg(count(lit(1)).as("n1"),
        hll_sketch_agg(col("member"), lgK).as("sk1")))
    val contrib = sym.select(col("src").as("node"), col("dst").as("nb"))
      .join(ball1.select(col("node").as("nb"), col("sk1")), Seq("nb"))
      .select(col("node"), col("sk1"))
      .unionAll(ball1.select(col("node"), col("sk1")))
    val est2 = contrib.groupBy(col("node"))
      .agg(hll_sketch_estimate(
        hll_union_agg(col("sk1"), allowDifferentLgConfigK = false))
        .as("est2"))
    val m2 = m1.unionAll(
        sym.join(m1.select(col("node").as("dst"), col("member")),
          Seq("dst"))
          .select(col("src").as("node"), col("member")))
      .distinct()
    val ball2 = m2.groupBy(col("node")).agg(count(lit(1)).as("n2"))
    val tol = 3.0 * 1.04 / math.sqrt((1 << lgK).toDouble)
    ball1.select(col("node"), col("n1"))
      .join(ball2, Seq("node"))
      .join(est2, Seq("node"))
      .select(col("node"), col("n1"), col("n2"),
        (abs(col("est2") - col("n2")).cast("double")
          <= greatest(lit(1.0), col("n2") * lit(tol))).as("within_tol"))
      .orderBy(col("node"))
  }

  def weightedShortestPaths(edges: DataFrame, seeds: DataFrame,
                            rounds: Int): DataFrame = {
    require(rounds >= 1)
    val e0 = edges.select(col("src"), col("dst"), col("cost").cast("long"))
    val sym = Materializer.Local(
      e0.unionAll(e0.select(col("dst").as("src"), col("src").as("dst"),
          col("cost")))
        .filter(col("src") =!= col("dst"))
        .groupBy(col("src"), col("dst")).agg(min(col("cost")).as("cost")))
    var dist = Materializer.Local(seeds.select(col("node")).distinct()
      .withColumn("cost", lit(0L)))
    var i = 0
    while (i < rounds) {
      val frontier = sym
        .join(broadcast(dist.select(col("node").as("src"),
          col("cost").as("dc"))), Seq("src"))
        .select(col("dst").as("node"), (col("dc") + col("cost")).as("cost"))
      dist = Materializer.Local(dist.unionAll(frontier)
        .groupBy(col("node")).agg(min(col("cost")).as("cost")))
      i += 1
    }
    dist
  }

  /** Degree assortativity coefficient (Newman 2002): the Pearson
    * correlation of end-point degrees over the symmetrized edge list —
    * positive = hubs link hubs (social/citation shape), negative = hubs
    * link leaves (star/spam shape). Because the symmetrized ends make x
    * and y exchangeable, r collapses to `(n·Σxy − (Σx)²)/(n·Σx² − (Σx)²)`
    * — exact integers (lifted through DECIMAL(38,0) so partial-agg order
    * is irrelevant) until ONE pinned double division, no sqrt at all.
    *
    * Scale shape: one edge pass for degrees, two keyed joins to attach
    * end degrees, one partial-combined aggregate. 1-row output. */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val e = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val deg = e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).cast("long").as("d"))
    val ends = e
      .join(deg.select(col("node").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("d").as("dv")), Seq("v"))
    val sym = ends.select(col("du").as("x"), col("dv").as("y"))
      .unionAll(ends.select(col("dv").as("x"), col("du").as("y")))
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    sym.agg(count(lit(1)).cast("long").as("n_ends"),
        sum(dec(col("x"))).as("sx"),
        sum(dec(col("x") * col("x"))).as("sxx"),
        sum(dec(col("x") * col("y"))).as("sxy"))
      .select((col("n_ends") / lit(2L)).cast("long").as("n_edges"),
        round(col("sx").cast("double") / col("n_ends").cast("double"), 6)
          .as("mean_end_degree"),
        when(col("n_ends").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double")
            === lit(0.0), lit(null).cast("double"))
          .otherwise(
            round((col("n_ends").cast("double") * col("sxy").cast("double")
                - col("sx").cast("double") * col("sx").cast("double"))
              / (col("n_ends").cast("double") * col("sxx").cast("double")
                - col("sx").cast("double") * col("sx").cast("double")), 6))
          .as("assortativity"))
  }

  /** Newman modularity per community (Newman & Girvan 2004): for each
    * community c over an undirected simple graph,
    * `Q_c = e_c/m - (d_c/2m)^2` — intra-edge share minus the share a
    * degree-preserving random rewiring would produce. The standard
    * "are these communities real structure or just density" gate over
    * any partition this engine emits ([[labelPropagation]] communities,
    * [[Dedup.nearDupClusters]] cluster labels).
    *
    * Scale shape: `m` and the degree table come from one pass over the
    * canonical edge set; intra-edge counting is two keyed equi-joins of
    * edges to the (node, label) table — the edge set never widens and
    * nothing is quadratic in community size. The per-community output is
    * partition-sized. Only nodes present in `labels` contribute rows;
    * `m` counts ALL edges, so contributions are comparable across
    * partial labelings. Exact integer counts; the one double expression
    * has a pinned op order + round(6) so the oracle replays bit-exact.
    *
    * `edges`: (src, dst) — canonicalized and deduplicated here.
    * `labels`: (node, label).
    */
  def modularityByCommunity(edges: DataFrame, labels: DataFrame)
      : DataFrame = {
    val e = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val mRow = e.agg(count(lit(1)).cast("long").as("m"))
    val deg = e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).cast("long").as("d"))
    val com = labels.join(deg, Seq("node"))
      .groupBy(col("label"))
      .agg(count(lit(1)).cast("long").as("n_nodes"),
        sum(col("d")).cast("long").as("degree_sum"))
    val intra = e
      .join(labels.select(col("node").as("u"), col("label").as("la")),
        Seq("u"))
      .join(labels.select(col("node").as("v"), col("label").as("lb")),
        Seq("v"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("label"))
      .agg(count(lit(1)).cast("long").as("intra_edges"))
    // per-community rollups unhinted: community count is O(labels) and
    // can approach O(nodes) on a fragmented graph — both sides key on
    // the label, AQE broadcasts when the community set is genuinely small
    com.join(intra, Seq("label"), "left")
      .crossJoin(broadcast(mRow))
      .withColumn("ie", coalesce(col("intra_edges"), lit(0L)).cast("long"))
      .select(col("label").as("community"), col("n_nodes"),
        col("ie").as("intra_edges"), col("degree_sum"),
        round(col("ie").cast("double") / col("m").cast("double")
          - (col("degree_sum").cast("double")
              / (col("m") * lit(2L)).cast("double"))
            * (col("degree_sum").cast("double")
              / (col("m") * lit(2L)).cast("double")), 6)
          .as("contribution"))
  }

  /** HITS hubs & authorities (Kleinberg, JACM 1999) over a directed
    * edge list: auth(v) = Σ_{u→v} hub(u), hub(u) = Σ_{u→v} auth(v),
    * L1-normalized each half-step so scores are a distribution —
    * the two-sided centrality for BIPARTITE behavior graphs
    * (customers↔suppliers, queries↔documents) where PageRank's single
    * score conflates "links a lot" with "is linked a lot". Fixed
    * iteration count for a deterministic, replayable result.
    *
    * Per half-step: one equi-join of edges to the current score table,
    * one partial-combined DECIMAL(38,20) sum (aggregation order can't
    * flip a bit), one scalar L1 norm broadcast back, scores
    * re-quantized round(12) — the [[pageRank]] bit-pinning contract,
    * so an unrolled SQL replay lands on identical bits by induction.
    * Score tables are node-scale (dimension-scale on entity graphs even
    * at 100 TB) and broadcast; the edge table never shuffles. Returns
    * (node, score, role∈{hub,authority}); every src gets a hub score,
    * every dst an authority score. */
  def hits(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "hits needs at least one iteration")
    val e = Materializer.Local(edges.select(col("src"), col("dst")))
    var hubs = e.select(col("src").as("node")).distinct()
      .withColumn("h", lit(1.0))
    var auths: DataFrame = null
    for (_ <- 1 to iters) {
      // each contribution table is referenced TWICE (its norm scalar and
      // the renormalized scores) and feeds the next half-step: without a
      // checkpoint the lazy plan doubles per half-step — 2^(2·iters)
      // re-executions of the whole chain (measured: q248 at 87 s for a
      // sub-second workload before this cut)
      val araw = Materializer.Local(
        e.join(broadcast(hubs), col("src") === col("node"))
          .groupBy(col("dst"))
          .agg(sum(col("h").cast("decimal(38,20)")).as("c")))
      val an = araw.agg(sum(col("c")).as("s"))
      auths = araw.crossJoin(broadcast(an))
        .select(col("dst").as("node"),
          round(col("c").cast("double") / col("s").cast("double"), 12)
            .as("a"))
      val hraw = Materializer.Local(
        e.join(broadcast(auths), col("dst") === col("node"))
          .groupBy(col("src"))
          .agg(sum(col("a").cast("decimal(38,20)")).as("c")))
      val hn = hraw.agg(sum(col("c")).as("s"))
      hubs = hraw.crossJoin(broadcast(hn))
        .select(col("src").as("node"),
          round(col("c").cast("double") / col("s").cast("double"), 12)
            .as("h"))
    }
    hubs.select(col("node"), col("h").as("score"),
        lit("hub").as("role"))
      .unionByName(auths.select(col("node"), col("a").as("score"),
        lit("authority").as("role")))
      .orderBy(col("role"), col("node"))
  }

  /** Sampled-source betweenness centrality (Brandes 2001; pivot
    * sampling per Brandes & Pich 2007) over an UNDIRECTED edge list,
    * depth-bounded: all sampled sources run SIMULTANEOUSLY — the BFS
    * state is keyed (seed, node), so k sources cost the same number of
    * shuffle rounds as one. Forward pass: per depth, one edge-keyed
    * join + one partial-combined sum builds shortest-path counts σ
    * (exact longs) and a left-anti against the visited set keeps the
    * frontier minimal. Backward pass (deepest layer first): the
    * dependency δ(v) = Σ_{w∈succ(v)} σ_v/σ_w · (1+δ(w)) accumulates
    * per layer with round(9)-pinned DECIMAL sums (order-independent,
    * so an unrolled SQL replay is bit-identical), and the reported
    * score is the per-node sum of dependencies over all sampled
    * sources (unnormalized — the Brandes-Pich estimator up to the
    * constant n/k). Paths longer than `maxDepth` are ignored —
    * distance-bounded betweenness, the standard large-graph variant.
    *
    * Output: (node, bc) for every non-seed node with bc > 0, bc
    * round(6), ordered by node. Scale shape: every join is edge- or
    * state-keyed (never all-pairs); state is (k · reachable-nodes)
    * rows; lineage cut per layer via the [[Materializer]]. */
  def betweennessSampled(edges: DataFrame, seeds: DataFrame,
                         maxDepth: Int): DataFrame = {
    require(maxDepth >= 1)
    val e0 = edges.select(col("src"), col("dst"))
    val sym = Materializer.Local(
      e0.unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
        .filter(col("src") =!= col("dst")).distinct())
    var level = Materializer.Local(seeds.select(col("node")).distinct()
      .select(col("node").as("seed"), col("node"),
        lit(0).as("hops"), lit(1L).as("sigma")))
    var visited = level
    val layers = scala.collection.mutable.ArrayBuffer(level)
    for (h <- 1 to maxDepth) {
      val next = Materializer.Local(level
        .join(sym.withColumnRenamed("src", "node"), Seq("node"))
        .groupBy(col("seed"), col("dst").as("node"))
        .agg(sum(col("sigma")).as("sigma"))
        .join(visited.select(col("seed"), col("node")),
          Seq("seed", "node"), "left_anti")
        .withColumn("hops", lit(h)))
      visited = Materializer.Local(visited.select(col("seed"), col("node"))
        .unionByName(next.select(col("seed"), col("node"))))
      layers += next
      level = next
    }
    // backward accumulation: δ of the deepest layer is 0; each shallower
    // layer sums the pinned per-successor contributions
    def pin(c: org.apache.spark.sql.Column) =
      round(c, 9).cast("decimal(29,9)")
    var delta = Materializer.Local(layers(maxDepth)
      .select(col("seed"), col("node"), col("sigma"),
        lit(0.0).as("d")))
    var acc = delta
    for (h <- (maxDepth - 1) to 0 by -1) {
      val contrib = delta
        .join(sym.withColumnRenamed("src", "node"), Seq("node"))
        .select(col("seed"), col("dst").as("node"),
          col("sigma").as("sw"), col("d").as("dw"))
      val cur = Materializer.Local(layers(h)
        .join(contrib, Seq("seed", "node"), "left")
        .groupBy(col("seed"), col("node"), col("sigma"))
        .agg(sum(pin(col("sigma").cast("double")
          / col("sw").cast("double") * (lit(1.0) + col("dw"))))
          .as("dsum"))
        .select(col("seed"), col("node"), col("sigma"),
          round(coalesce(col("dsum").cast("double"), lit(0.0)), 9)
            .as("d")))
      acc = Materializer.Local(acc.unionByName(cur))
      delta = cur
    }
    acc.filter(col("seed") =!= col("node"))
      .groupBy(col("node"))
      .agg(sum(pin(col("d"))).as("bc"))
      .filter(col("bc") > 0)
      .select(col("node"), round(col("bc").cast("double"), 6).as("bc"))
      .orderBy(col("node"))
  }
}
