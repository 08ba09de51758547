package graft
package registry

import org.apache.spark.sql.functions._

import SparkHelpers._
import SqlHelpers._

/** The suite's graph analytics over the co-purchase and pair graphs
  * (operators.Graph, Baskets). */
private[graft] object GraphQueries {

  val specs: Seq[QuerySpec] = Seq(

    QuerySpec("q107_pagerank", ((s, dir) => {
      // link-graph centrality as a quality prior (the original web-scale
      // PageRank use): customers and suppliers are nodes, a purchase is
      // an (undirected -> symmetrized) edge; 5 fixed iterations of
      // Graph.pageRank. Per iteration: contributions are per-edge DOUBLE
      // divisions accumulated in DECIMAL(38,20) (aggregation order can't
      // flip a bit), ranks re-quantized with round(.,12) — so the DuckDB
      // oracle's unrolled 5-CTE replay (the q91 pattern) lands on
      // identical bits.
      // NOT materialized (r13 measured): the two symmetrization arms are
      // identical subtrees up to the projection, so runtime exchange
      // reuse already covers the join+distinct; a localCheckpoint here
      // measured +0.8 s of pure write cost (unlike q273/q293, whose
      // consumers' differing filters defeat reuse)
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("c"),
          concat(lit("s"), col("l_suppkey")).as("p"))
        .distinct()
      val edges = base.select(col("c").as("src"), col("p").as("dst"))
        .unionByName(base.select(col("p").as("src"), col("c").as("dst")))
      // this is an ENTITY graph — the node set is customers + suppliers
      // (dimension-scale even at 100 TB), so the rank table broadcasts
      // and the big edge table never shuffles. pageRank needs distinct
      // edges: `base` is distinct and the two union arms cannot collide
      // (prefixes differ)
      operators.Graph.pageRank(edges, iters = 5)
        .orderBy(col("node"))
    }),
      // the q91 pattern: DuckDB RE-RUNS all 5 PageRank iterations through an
      // unrolled MATERIALIZED CTE chain and must land on identical bits —
      // per-edge double division, DECIMAL(38,20) contribution sums,
      // round(.,12) re-quantization each iteration
      {
      val iter = (k: Int) =>
        s"""r$k AS MATERIALIZED (
           |  SELECT n.node,
           |    round(CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE)
           |      * CAST(COALESCE(s.c, 0) AS DOUBLE), 12) AS r
           |  FROM r${k - 1} n LEFT JOIN (
           |    SELECT e.dst AS node,
           |      SUM(CAST(r.r / d.d AS DECIMAL(38,20))) AS c
           |    FROM edges e
           |    JOIN r${k - 1} r ON r.node = e.src
           |    JOIN deg d ON d.src = e.src
           |    GROUP BY e.dst) s ON s.node = n.node)""".stripMargin
      s"""WITH base AS MATERIALIZED (
         |  SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS p
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |edges AS MATERIALIZED (
         |  SELECT c AS src, p AS dst FROM base
         |  UNION ALL SELECT p AS src, c AS dst FROM base),
         |deg AS MATERIALIZED (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
         |r0 AS MATERIALIZED (
         |  SELECT src AS node, CAST(1.0 AS DOUBLE) AS r FROM deg),
         |${(1 to 5).map(iter).mkString(",\n")}
         |SELECT node, r AS rank FROM r5 ORDER BY node""".stripMargin
    }),

    QuerySpec("q145_triangles", ((s, dir) => {
      // triangle census of the co-purchase part graph (parts appearing
      // together in >= 2 orders — the support gate that keeps random
      // co-occurrence out of the edge set): count + global clustering
      // coefficient via degree-ordered orientation (node-iterator++), so
      // no hub node can explode the wedge join. The oracle counts the
      // same triangles with the orientation-free id-ordered 3-way join.
      val li = t(s, dir, "lineitem")
      val edges = copurchaseEdges(li)
      operators.Graph.triangleStats(edges)
    }),
      """WITH e AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), deg AS (
        |  SELECT n, count(*) AS d
        |  FROM (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e)
        |  GROUP BY 1
        |), tri AS (
        |  SELECT count(*) AS t
        |  FROM e e1 JOIN e e2 ON e1.v = e2.u
        |    JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v
        |), s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |    CAST(SUM(d) // 2 AS BIGINT) AS n_edges,
        |    CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges
        |  FROM deg
        |)
        |SELECT n_nodes, n_edges, n_wedges,
        |  CAST(t AS BIGINT) AS n_triangles,
        |  round(3.0 * CAST(t AS DOUBLE) / CAST(n_wedges AS DOUBLE), 6)
        |    AS global_cc
        |FROM s, tri""".stripMargin),

    QuerySpec("q153_kcore", ((s, dir) => {
      // 3-core of the support>=2 co-purchase graph after 10 explicit
      // peel rounds (fixpoint at this sf by the duckdb probe; the round
      // count is a deterministic parameter, not a convergence race) —
      // the dense-subgraph extractor that isolates clique-ish structure
      // the q145 census only counts.
      val li = t(s, dir, "lineitem")
      val edges = copurchaseEdges(li)
      operators.Graph.kCore(edges, k = 3, rounds = 10)
        .orderBy(col("node"))
    }),
      kcoreSql(k = 3, rounds = 10)),

    QuerySpec("q154_label_prop", ((s, dir) => {
      // semi-supervised label propagation: 20% of parts carry their
      // brand as a seed; 3 majority-vote rounds spread labels over the
      // support>=2 co-purchase graph (min-label tie-break, immutable
      // seeds) — metadata back-fill from graph neighborhoods, fully
      // deterministic and replayable.
      val li = t(s, dir, "lineitem")
      val edges = copurchaseEdges(li)
      val seeds = t(s, dir, "part")
        .filter(col("p_partkey") % 5 === 0)
        .select(col("p_partkey").as("node"), col("p_brand").as("label"))
      operators.Graph.labelPropagation(edges, seeds, rounds = 3)
        .orderBy(col("node"))
    }),
      labelPropSql(rounds = 3)),

    QuerySpec("q161_linkpred", ((s, dir) => {
      // Adamic-Adar link prediction over the support>=2 co-purchase
      // part graph (q145's edge set): non-edges scored by
      // sum 1/ln(deg) over common neighbors; candidates form only
      // through wedges, hub centers capped (maxDegree).
      val li = t(s, dir, "lineitem")
      val edges = copurchaseEdges(li)
      operators.Graph.adamicAdar(edges, maxDegree = 64, topN = 100)
    }),
      """WITH e AS MATERIALIZED (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), adj AS MATERIALIZED (
        |  SELECT u AS w, v AS nb FROM e
        |  UNION ALL SELECT v, u FROM e
        |), deg AS (
        |  SELECT w, count(*) AS d FROM adj GROUP BY 1
        |), centers AS MATERIALIZED (
        |  SELECT adj.w, adj.nb,
        |    CAST(round(1.0 / ln(CAST(d AS DOUBLE)), 9)
        |      AS DECIMAL(38,9)) AS wt
        |  FROM adj JOIN deg USING (w)
        |  WHERE d <= 64 AND d >= 2
        |), scored AS (
        |  SELECT a.nb AS u, b.nb AS v,
        |    round(CAST(sum(a.wt) AS DOUBLE), 6) AS score
        |  FROM centers a JOIN centers b
        |    ON a.w = b.w AND a.nb < b.nb
        |  GROUP BY 1, 2
        |)
        |SELECT s.u, s.v, s.score FROM scored s
        |LEFT JOIN e ON e.u = s.u AND e.v = s.v
        |WHERE e.u IS NULL
        |ORDER BY s.score DESC, s.u, s.v LIMIT 100""".stripMargin),

    QuerySpec("q171_bfs_hops", ((s, dir) => {
      // multi-source BFS over the support>=2 co-purchase graph: min hop
      // distance from the seed parts (key % 101 == 0) out to 3 hops —
      // the "everything within k links of a known-bad node" expansion.
      // Per round one edge-keyed join + one partial-combined min.
      val li = t(s, dir, "lineitem")
      val edges = copurchaseEdges(li)
      val nodes = edges.select(col("src").as("node"))
        .unionAll(edges.select(col("dst").as("node"))).distinct()
      // part graph: the distance table is dimension-scale -> broadcast
      operators.Graph.bfsHops(edges,
          nodes.filter(col("node") % 101 === 0))
        .orderBy(col("node"))
    }),
      bfsSql(3)),

    QuerySpec("q174_ppr", ((s, dir) => {
      // personalized PageRank on q107's customer-supplier graph:
      // teleport only to the seed customers (key % 131 == 0), so rank
      // reads as proximity-to-seeds — the related-entity score. Same
      // DECIMAL(38,20)/round(12) bit discipline as q107; the oracle
      // replays 5 unrolled rounds.
      // not materialized — runtime exchange reuse covers the identical
      // union arms (see the q107 measured note)
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("c"),
          concat(lit("s"), col("l_suppkey")).as("p"))
        .distinct()
      val edges = base.select(col("c").as("src"), col("p").as("dst"))
        .unionAll(base.select(col("p").as("src"), col("c").as("dst")))
      val seeds = t(s, dir, "customer")
        .filter(col("c_custkey") % 131 === 0)
        .select(concat(lit("c"), col("c_custkey")).as("node"))
      // entity graph (customers + suppliers): ranks broadcast, edges
      // never shuffle; base is distinct and the union arms can't
      // collide (prefixes differ), so the edges are distinct
      operators.Graph.personalizedPageRank(edges, seeds, iters = 5)
        .orderBy(col("node"))
    }),
      {
      val iter = (k: Int) =>
        s"""r$k AS MATERIALIZED (
           |  SELECT n.node,
           |    round(CAST(0.15 AS DOUBLE) * CAST(n.seed AS DOUBLE)
           |      + CAST(0.85 AS DOUBLE)
           |      * CAST(COALESCE(s.c, 0) AS DOUBLE), 12) AS r
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS node,
           |      SUM(CAST(r.r / d.d AS DECIMAL(38,20))) AS c
           |    FROM edges e
           |    JOIN r${k - 1} r ON r.node = e.src
           |    JOIN deg d ON d.src = e.src
           |    GROUP BY e.dst) s ON s.node = n.node)""".stripMargin
      s"""WITH base AS MATERIALIZED (
         |  SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS p
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |edges AS MATERIALIZED (
         |  SELECT c AS src, p AS dst FROM base
         |  UNION ALL SELECT p AS src, c AS dst FROM base),
         |deg AS MATERIALIZED (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
         |nodes AS MATERIALIZED (
         |  SELECT src AS node,
         |    CASE WHEN src IN (SELECT 'c' || c_custkey FROM customer
         |      WHERE c_custkey % 131 = 0) THEN 1 ELSE 0 END AS seed
         |  FROM deg),
         |r0 AS MATERIALIZED (
         |  SELECT node, CAST(seed AS DOUBLE) AS r FROM nodes),
         |${(1 to 5).map(iter).mkString(",\n")}
         |SELECT node, r AS rank FROM r5 ORDER BY node""".stripMargin
    }),

    QuerySpec("q202_weighted_paths", ((s, dir) => {
      // Bellman-Ford cheapest-cost reach from the seed parts over the
      // co-purchase graph, 3 relaxation rounds; edge cost = 1000000 div
      // support (strong ties are cheap) — the cost-aware sibling of
      // q171's hop BFS, all integer min-plus arithmetic.
      val edges = copurchasePairCounts(t(s, dir, "lineitem"))
        .filter(col("cm") >= 2)
        .select(col("pa").as("src"), col("pb").as("dst"),
          floor(lit(1000000L) / col("cm")).cast("long").as("cost"))
      val nodes = edges.select(col("src").as("node"))
        .unionAll(edges.select(col("dst").as("node"))).distinct()
      operators.Graph.weightedShortestPaths(edges,
          nodes.filter(col("node") % 101 === 0), rounds = 3)
        .orderBy(col("node"))
    }),
      wspSql(3)),

    QuerySpec("q207_neighborhood_fn", ((s, dir) => {
      // per-node 1-/2-ball sizes over the co-purchase graph with a
      // mergeable HLL 2-ball estimate gated within 3·rsd (the HyperBall
      // shape: a node's r-ball sketch is the UNION of its neighbors'
      // (r−1)-ball sketches — at 100 TB only the sketch path runs; the
      // exact distinct here exists for the q126-style gate).
      val li = t(s, dir, "lineitem")
      val edges = copurchaseEdges(li)
      operators.Graph.neighborhoodFunction(edges)
    }),
      // exact ball sizes; the sketch estimate is engine-specific, so the
      // hash-checked column is the q19/q126 gate boolean (oracle: TRUE)
      """WITH e0 AS MATERIALIZED (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), sym AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT u AS src, v AS dst FROM e0
        |    UNION ALL SELECT v, u FROM e0)
        |  WHERE src <> dst
        |), m1 AS MATERIALIZED (
        |  SELECT src AS node, dst AS member FROM sym
        |  UNION ALL SELECT DISTINCT src, src FROM sym
        |), b1 AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS n1 FROM m1 GROUP BY 1
        |), m2 AS (
        |  SELECT DISTINCT node, member FROM (
        |    SELECT node, member FROM m1
        |    UNION ALL
        |    SELECT s.src AS node, m.member
        |    FROM sym s JOIN m1 m ON m.node = s.dst)
        |), b2 AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS n2 FROM m2 GROUP BY 1
        |)
        |SELECT b1.node, b1.n1, b2.n2, TRUE AS within_tol
        |FROM b1 JOIN b2 USING (node) ORDER BY node""".stripMargin),

    QuerySpec("q226_modularity", ((s, dir) => {
      // community-quality gate over q154's label-prop communities on the
      // support>=2 co-purchase graph: Newman per-community modularity —
      // is each brand community denser than a degree-preserving random
      // rewiring would make it? Edge-set-only algebra: one edge pass for
      // m/degrees, two keyed joins for intra-edges, a 1-row broadcast
      // for m; contributions are exact-integer until one pinned double.
      val li = t(s, dir, "lineitem")
      val edges = copurchaseEdges(li)
      val seeds = t(s, dir, "part")
        .filter(col("p_partkey") % 5 === 0)
        .select(col("p_partkey").as("node"), col("p_brand").as("label"))
      val labels = operators.Graph.labelPropagation(edges, seeds,
        rounds = 3)
      operators.Graph.modularityByCommunity(edges, labels)
        .orderBy(col("community"))
    }),
      // replays q154's label-prop chain, then the modularity algebra over
      // the same canonical edge set (e0 is already u<v, deduped)
      (labelPropBodySql(rounds = 3) + """,
      |labs AS MATERIALIZED (
      |  SELECT node, lab AS label FROM l3 WHERE lab IS NOT NULL
      |), mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0
      |), deg AS (
      |  SELECT n AS node, CAST(count(*) AS BIGINT) AS d
      |  FROM (SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0)
      |  GROUP BY 1
      |), com AS (
      |  SELECT label, CAST(count(*) AS BIGINT) AS n_nodes,
      |    CAST(sum(d) AS BIGINT) AS degree_sum
      |  FROM labs JOIN deg USING (node) GROUP BY 1
      |), intra AS (
      |  SELECT la.label, CAST(count(*) AS BIGINT) AS ie
      |  FROM e0 e JOIN labs la ON e.u = la.node
      |  JOIN labs lb ON e.v = lb.node
      |  WHERE la.label = lb.label GROUP BY 1
      |)
      |SELECT c.label AS community, c.n_nodes,
      |  CAST(coalesce(i.ie, 0) AS BIGINT) AS intra_edges, c.degree_sum,
      |  round(CAST(coalesce(i.ie, 0) AS DOUBLE) / CAST(m.m AS DOUBLE)
      |    - (CAST(c.degree_sum AS DOUBLE) / CAST(m.m * 2 AS DOUBLE))
      |      * (CAST(c.degree_sum AS DOUBLE) / CAST(m.m * 2 AS DOUBLE)),
      |    6) AS contribution
      |FROM com c LEFT JOIN intra i USING (label), mm m
      |ORDER BY community""".stripMargin)),

    QuerySpec("q236_assortativity", ((s, dir) => {
      // degree assortativity of the support>=2 co-purchase graph
      // (Newman 2002): do hub parts co-purchase with other hubs
      // (assortative, community shape) or with leaves (disassortative,
      // star/spam shape)? Exchangeable symmetrized ends collapse r to
      // one variance ratio — exact integer sums, one division, no sqrt.
      val li = t(s, dir, "lineitem")
      val edges = copurchaseEdges(li)
      operators.Graph.degreeAssortativity(edges)
    }),
      """WITH e0 AS MATERIALIZED (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), deg AS (
        |  SELECT n AS node, CAST(count(*) AS BIGINT) AS d
        |  FROM (SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0)
        |  GROUP BY 1
        |), ends AS (
        |  SELECT du.d AS du, dv.d AS dv
        |  FROM e0 JOIN deg du ON e0.u = du.node
        |  JOIN deg dv ON e0.v = dv.node
        |), sym AS (
        |  SELECT du AS x, dv AS y FROM ends
        |  UNION ALL SELECT dv, du FROM ends
        |), agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_ends,
        |    SUM(CAST(x AS DECIMAL(38,0))) AS sx,
        |    SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx,
        |    SUM(CAST(x * y AS DECIMAL(38,0))) AS sxy
        |  FROM sym
        |)
        |SELECT CAST(n_ends // 2 AS BIGINT) AS n_edges,
        |  round(CAST(sx AS DOUBLE) / CAST(n_ends AS DOUBLE), 6)
        |    AS mean_end_degree,
        |  CASE WHEN CAST(n_ends AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0 THEN NULL
        |    ELSE round((CAST(n_ends AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      / (CAST(n_ends AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) END
        |    AS assortativity
        |FROM agg""".stripMargin),

    QuerySpec("q248_hits", ((s, dir) => {
      // HITS hubs & authorities (Kleinberg 1999) on the DIRECTED
      // customer→supplier purchase graph — the two-sided centrality a
      // bipartite behavior graph wants, where q107's PageRank conflates
      // "buys from many" with "sells to many": customers score as hubs,
      // suppliers as authorities, 4 fixed mutually-recursive rounds.
      // Per half-step one edge equi-join against the broadcast score
      // table + one DECIMAL(38,20) partial-combined sum + one scalar L1
      // norm — the edge table never shuffles (q107's entity-graph
      // contract).
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
        .distinct()
      operators.Graph.hits(base, iters = 4)
    }),
      {
      val iter = (k: Int) =>
        s"""ar$k AS MATERIALIZED (
           |  SELECT e.dst, SUM(CAST(h.h AS DECIMAL(38,20))) AS c
           |  FROM edges e JOIN h${k - 1} h ON h.node = e.src
           |  GROUP BY 1),
           |an$k AS (SELECT SUM(c) AS s FROM ar$k),
           |av$k AS MATERIALIZED (
           |  SELECT dst AS node,
           |    round(CAST(c AS DOUBLE) / CAST(s AS DOUBLE), 12) AS a
           |  FROM ar$k, an$k),
           |hr$k AS MATERIALIZED (
           |  SELECT e.src, SUM(CAST(a.a AS DECIMAL(38,20))) AS c
           |  FROM edges e JOIN av$k a ON a.node = e.dst
           |  GROUP BY 1),
           |hn$k AS (SELECT SUM(c) AS s FROM hr$k),
           |h$k AS MATERIALIZED (
           |  SELECT src AS node,
           |    round(CAST(c AS DOUBLE) / CAST(s AS DOUBLE), 12) AS h
           |  FROM hr$k, hn$k)""".stripMargin
      s"""WITH edges AS MATERIALIZED (
         |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |h0 AS (SELECT DISTINCT src AS node, CAST(1.0 AS DOUBLE) AS h
         |  FROM edges),
         |${(1 to 4).map(iter).mkString(",\n")}
         |SELECT node, h AS score, 'hub' AS role FROM h4
         |UNION ALL
         |SELECT node, a AS score, 'authority' AS role FROM av4
         |ORDER BY role, node""".stripMargin
    }),

    QuerySpec("q270_item_cf", ((s, dir) => {
      // item-item collaborative filtering (Sarwar et al., WWW 2001;
      // the Amazon item-to-item shape, Linden et al. 2003): top-5
      // nearest items by co-occurrence cosine over order baskets —
      // the "users who bought X also bought" neighbor lists a
      // retrieval or recommendation pipeline precomputes offline.
      // Candidate pairs come ONLY from the within-basket self-join
      // (bounded basket width keeps pairs ≈ orders·w², never
      // items²); item margins broadcast back; the per-item top-k is
      // a window partitioned by item — never a global sort. co≥2
      // prunes the accidental-pair tail before the shuffle.
      import org.apache.spark.sql.expressions.Window
      val li = t(s, dir, "lineitem")
      // materialized: referenced by the margin aggregate AND the pair
      // build; pairs via the basket-aggregation shape (one exchange)
      // instead of the ok-keyed self-join — identical pair supports
      val baskets = operators.Materializer.Local(
        li.select(col("l_orderkey").as("ok"),
          col("l_partkey").as("pk")).distinct())
      val n = baskets.groupBy(col("pk")).agg(count(lit(1)).as("cnt"))
      val pairs = basketPairCounts(baskets)
        .select(col("pa").as("pk"), col("pb").as("pk2"),
          col("cm").as("co"))
        .filter(col("co") >= 2)
      val sym = pairs
        .select(col("pk").as("a"), col("pk2").as("b"), col("co"))
        .unionByName(pairs
          .select(col("pk2").as("a"), col("pk").as("b"), col("co")))
      // margins join unhinted: n is one row per part (SF-linear), so a
      // forced broadcast is the 100x-scale OOM class — both sides key on
      // the part id, and AQE still broadcasts when n is genuinely small.
      // JOIN ORDER is b-margin FIRST, a-margin LAST: the unhinted joins
      // are shuffle joins, and ending on the a-key leaves the pair
      // stream hash-partitioned by a — exactly the rank window's
      // partitioning — so the window reuses the join exchange instead
      // of adding a fourth shuffle of the pair stream
      val scored = sym
        .join(n.select(col("pk").as("b"),
          col("cnt").as("nb")), Seq("b"))
        .join(n.select(col("pk").as("a"),
          col("cnt").as("na")), Seq("a"))
        .select(col("a"), col("b"), col("co"),
          round(col("co").cast("double") /
            sqrt(col("na").cast("double") * col("nb").cast("double")),
            9).as("cos"))
      val w = Window.partitionBy(col("a"))
        .orderBy(col("cos").desc, col("b").asc)
      scored.withColumn("rk", row_number().over(w).cast("int"))
        .filter(col("rk") <= 5)
        .select(col("a").as("item"), col("b").as("neighbor"),
          col("co"), round(col("cos"), 6).as("cosine"), col("rk"))
        .orderBy(col("item"), col("rk"))
    }),
      """WITH baskets AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem
        |), nc AS (
        |  SELECT pk, CAST(count(*) AS BIGINT) AS cnt
        |  FROM baskets GROUP BY 1
        |), pairs AS (
        |  SELECT a.pk, b.pk2, CAST(count(*) AS BIGINT) AS co
        |  FROM baskets a
        |  JOIN (SELECT ok, pk AS pk2 FROM baskets) b USING (ok)
        |  WHERE a.pk < b.pk2
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), sym AS (
        |  SELECT pk AS a, pk2 AS b, co FROM pairs
        |  UNION ALL
        |  SELECT pk2 AS a, pk AS b, co FROM pairs
        |), scored AS (
        |  SELECT a, b, co,
        |    round(CAST(co AS DOUBLE) / sqrt(CAST(na.cnt AS DOUBLE)
        |      * CAST(nb.cnt AS DOUBLE)), 9) AS cs
        |  FROM sym JOIN nc na ON na.pk = a JOIN nc nb ON nb.pk = b
        |)
        |SELECT a AS item, b AS neighbor, co, round(cs, 6) AS cosine, rk
        |FROM (SELECT *, CAST(row_number() OVER (PARTITION BY a
        |    ORDER BY cs DESC, b) AS INTEGER) AS rk FROM scored)
        |WHERE rk <= 5 ORDER BY item, rk""".stripMargin),

    QuerySpec("q273_betweenness", ((s, dir) => {
      // sampled-source betweenness centrality over the support>=2
      // co-purchase graph (Brandes 2001 / Brandes-Pich 2007 pivots):
      // which items sit ON the shortest paths between others — the
      // bridge/broker score that PageRank (q107), HITS (q248) and
      // k-core (q153) all miss, and the classic "cut vertex" signal
      // for catalog or knowledge-graph curation. Pivots are a FIXED
      // budget (Brandes-Pich's actual knob): the K=16 lowest nodes by
      // md5 hash-rank — a deterministic uniform sample whose COUNT
      // does not grow with the corpus, so total work stays ~K x edges
      // (linear in the corpus) at every SF; K is the per-deployment
      // accuracy knob you raise on a bigger cluster. (The earlier
      // node%251 rule made the pivot count — and total work — grow
      // with the node count: ~nodes x edges, a 45x jump on 10x data,
      // 214 s = 27% of the round-10 sf1 budget. With the fixed budget
      // the sf1 bench runs FULL-SIZE — the tier slice existed only to
      // contain that superlinearity.) All pivots BFS simultaneously
      // (state keyed (seed,node)), depth-bounded at 4 — see
      // Graph.betweennessSampled for the per-layer shuffle shape.
      // materialized ONCE: both the pivot selection and the BFS body
      // reference `edges`, and an uncached subtree re-executes the
      // lineitem self-join + support aggregate per reference; results
      // identical — the materializer only pins the already-deterministic
      // edge set
      val edges = operators.Materializer.Local(
        copurchaseEdges(t(s, dir, "lineitem")))
      operators.Graph.betweennessSampled(edges,
        betweennessPivots(edges), maxDepth = 4)
    }),
      betweennessSql(4, 16)),

    QuerySpec("q293_cluster_stability", ((s, dir) => {
      // community stability audit: q154's label-prop communities
      // recomputed on two md5-disjoint EDGE halves of the co-purchase
      // graph, agreement scored by Adjusted Rand Index (Hubert &
      // Arabie 1985) over nodes labeled in both halves — the "are
      // these clusters real structure or sampling noise" gate that
      // complements q226's modularity (strength) with robustness.
      // Doubled pair counts keep the ARI algebra exact-integer until
      // one pinned double expression; the contingency table is
      // bounded at |labels|².
      // materialized ONCE: each half's labelPropagation otherwise
      // re-executes the full co-purchase pair build + support aggregate
      // (the query's dominant cost) behind its filter — pinning the
      // edge set halves that work; results identical
      val edges = operators.Materializer.Local(
        copurchasePairCounts(t(s, dir, "lineitem"))
          .filter(col("cm") >= 2)
          .select(col("pa").as("src"), col("pb").as("dst"),
            (substring(md5(concat(lit("ari|"),
              col("pa").cast("string"), lit("|"),
              col("pb").cast("string"))), 1, 1) < lit("8")).as("half_a")))
      val seeds = t(s, dir, "part")
        .filter(col("p_partkey") % 5 === 0)
        .select(col("p_partkey").as("node"), col("p_brand").as("label"))
      val la = operators.Graph.labelPropagation(
        edges.filter(col("half_a")).select(col("src"), col("dst")),
        seeds, rounds = 3)
      val lb2 = operators.Graph.labelPropagation(
        edges.filter(!col("half_a")).select(col("src"), col("dst")),
        seeds, rounds = 3)
      val both = la.select(col("node"), col("label").as("la"))
        .join(lb2.select(col("node"), col("label").as("lb")),
          Seq("node"))
      operators.Stats.adjustedRandIndex(both)
    }),
      {
      // two full label-prop chains (the q154/q226 replay) on
      // md5-disjoint edge halves, then exact-integer ARI algebra
      def chain(sfx: String, cond: String): String = {
        val sb = new StringBuilder
        sb ++= s"""e$sfx AS MATERIALIZED (
           |  SELECT a.l_partkey AS u, b.l_partkey AS v
           |  FROM lineitem a JOIN lineitem b
           |    ON a.l_orderkey = b.l_orderkey
           |    AND a.l_partkey < b.l_partkey
           |  GROUP BY 1, 2
           |  HAVING count(*) >= 2 AND $cond
           |),
           |sym$sfx AS MATERIALIZED (
           |  SELECT DISTINCT src, dst FROM (
           |    SELECT u AS src, v AS dst FROM e$sfx
           |    UNION ALL SELECT v, u FROM e$sfx)
           |  WHERE src <> dst
           |),
           |l${sfx}0 AS MATERIALIZED (
           |  SELECT n.node, s.seed, s.seed AS lab
           |  FROM (SELECT DISTINCT src AS node FROM sym$sfx) n
           |  LEFT JOIN seeds s USING (node)
           |)""".stripMargin
        for (i <- 0 until 3) {
          sb ++= s""",
             |c$sfx${i + 1} AS (
             |  SELECT s.dst AS node, l.lab, count(*) AS c
             |  FROM sym$sfx s JOIN l$sfx$i l ON s.src = l.node
             |  WHERE l.lab IS NOT NULL GROUP BY 1, 2
             |),
             |w$sfx${i + 1} AS (
             |  SELECT node, lab FROM (
             |    SELECT node, lab, row_number() OVER (
             |      PARTITION BY node ORDER BY c DESC, lab) AS rk
             |    FROM c$sfx${i + 1})
             |  WHERE rk = 1
             |),
             |l$sfx${i + 1} AS MATERIALIZED (
             |  SELECT l.node, l.seed,
             |    CASE WHEN l.seed IS NOT NULL THEN l.seed
             |         ELSE coalesce(w.lab, l.lab) END AS lab
             |  FROM l$sfx$i l LEFT JOIN w$sfx${i + 1} w USING (node)
             |)""".stripMargin
        }
        sb.toString
      }
      def cond(op: String) =
        s"substr(md5('ari|' || CAST(u AS VARCHAR) || '|' || " +
          s"CAST(v AS VARCHAR)), 1, 1) $op '8'"
      val e = s"""CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE)
         |      / CAST(n * (n - 1) AS DOUBLE)""".stripMargin
      s"""WITH seeds AS (
         |  SELECT p_partkey AS node, p_brand AS seed FROM part
         |  WHERE p_partkey % 5 = 0
         |), ${chain("a", cond("<"))}, ${chain("b", cond(">="))},
         |bth AS (
         |  SELECT a.node, a.lab AS la, b.lab AS lb
         |  FROM la3 a JOIN lb3 b USING (node)
         |  WHERE a.lab IS NOT NULL AND b.lab IS NOT NULL
         |), ct AS MATERIALIZED (
         |  SELECT la, lb, CAST(count(*) AS BIGINT) AS nij
         |  FROM bth GROUP BY 1, 2
         |), sij AS (
         |  SELECT CAST(SUM(nij * (nij - 1)) AS BIGINT) AS tij,
         |    CAST(SUM(nij) AS BIGINT) AS n FROM ct
         |), sca AS (
         |  SELECT CAST(SUM(ai * (ai - 1)) AS BIGINT) AS ta,
         |    CAST(count(*) AS BIGINT) AS ka
         |  FROM (SELECT la, CAST(SUM(nij) AS BIGINT) AS ai
         |        FROM ct GROUP BY 1)
         |), scb AS (
         |  SELECT CAST(SUM(bj * (bj - 1)) AS BIGINT) AS tb,
         |    CAST(count(*) AS BIGINT) AS kb
         |  FROM (SELECT lb, CAST(SUM(nij) AS BIGINT) AS bj
         |        FROM ct GROUP BY 1)
         |)
         |SELECT n AS n_common, ka AS clusters_a, kb AS clusters_b,
         |  CASE WHEN (CAST(ta AS DOUBLE) + CAST(tb AS DOUBLE)) / 2.0
         |      - $e = 0.0 THEN 1.0
         |    ELSE round((CAST(tij AS DOUBLE) - $e)
         |      / ((CAST(ta AS DOUBLE) + CAST(tb AS DOUBLE)) / 2.0
         |        - $e), 6) END AS ari
         |FROM sij, sca, scb""".stripMargin
    })
  )
}
