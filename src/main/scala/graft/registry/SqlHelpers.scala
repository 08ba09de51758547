package graft
package registry

import graft.operators.TextAnalysis

/** DuckDB SQL builders shared by the oracle texts. */
private[graft] object SqlHelpers {

  /** DuckDB token-list fragment matching TextAnalysis.tokens. */
  val toksSql =
    "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')"

  /** DuckDB decimal-exact cosine fragments matching Similarity.cosineExact
    * (validated by q40). `dotSql(a,b)` etc. are column expressions. */
  def dotSql(a: String, b: String) =
    s"""list_sum(list_transform(list_zip($a, $b),
       |      z -> CAST(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)
       |        AS DECIMAL(38,20))))""".stripMargin
  def normSql(a: String) =
    s"""list_sum(list_transform($a,
       |      x -> CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
       |        AS DECIMAL(38,20))))""".stripMargin
  val cosSql =
    """CASE WHEN nq = 0 OR nc = 0 THEN 0.0
      |      ELSE CAST(dot AS DOUBLE)
      |        / (sqrt(CAST(nq AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE)))
      |      END""".stripMargin

  /** DuckDB hyperplane-LSH bucket CTEs matching
    * functions.HyperplaneLsh (md5-derived components, sign-bit bucket).
    * Emits CTE definitions `comp`, `elems`, `dots`, `buckets`. */
  def bucketCtes(planes: Int) =
    s"""comp AS (
       |  SELECT p.range AS p, j.range AS j,
       |    list_sum([CAST(round(pow(16, 7 - i)) AS BIGINT) *
       |      (strpos('0123456789abcdef',
       |        substr(md5('plane|' || p.range || '|' || j.range),
       |          i + 1, 1)) - 1)
       |      for i in range(0, 8)]) / 4294967296.0 * 2.0 - 1.0 AS c
       |  FROM range(0, $planes) p, range(0, 64) j
       |), elems AS (
       |  SELECT vec_id, unnest(embedding) AS v,
       |    generate_subscripts(embedding, 1) - 1 AS j
       |  FROM embeddings
       |), dots0 AS (
       |  SELECT e.vec_id, c.p, SUM(CAST(e.v AS DOUBLE) * c.c) AS dot
       |  FROM elems e JOIN comp c ON c.j = e.j GROUP BY 1, 2
       |), buckets AS (
       |  SELECT vec_id, CAST(SUM(CASE WHEN dot >= 0
       |    THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM dots0 GROUP BY 1
       |)""".stripMargin

  val stopwordsSql = TextAnalysis.langProfiles.flatMap(_._2)
    .distinct.sorted.map(w => s"'$w'").mkString("[", ", ", "]")

  /** Unrolled full-batch-GD CTE chain for q91 (w0..w{iters}): each step
    * is one decimal-accumulated gradient aggregate replaying
    * QualityClassifier.trainLogReg's arithmetic op-for-op, so the oracle
    * RE-TRAINS the classifier and must land on identical weights. */
  def q91Ctes(iters: Int, eta: Double): String = {
    val enSql = TextAnalysis.langProfiles.toMap.apply("en")
      .map(w => s"'$w'").mkString("[", ", ", "]")
    val feats =
      s"""f0 AS (
         |  SELECT doc_id,
         |    1.0 AS x0,
         |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS x1,
         |    CASE WHEN length(text) = 0 THEN 0.0
         |      ELSE CAST(length(regexp_replace(text,
         |          '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE)
         |        / CAST(length(text) AS DOUBLE) END AS x2,
         |    CASE WHEN len(tk) = 0 THEN 0.0
         |      ELSE CAST(len(list_filter(tk,
         |          t -> list_contains($stopwordsSql, lower(t)))) AS DOUBLE)
         |        / CAST(len(tk) AS DOUBLE) END AS x3,
         |    CASE WHEN len(tk) = 0 THEN 0.0
         |      ELSE CAST(len(list_filter(tk,
         |          t -> list_contains($enSql, lower(t)))) AS DOUBLE)
         |        / CAST(len(tk) AS DOUBLE) END AS x4
         |  FROM (SELECT doc_id, text, $toksSql AS tk FROM documents)
         |), feats AS MATERIALIZED (
         |  SELECT *, CASE WHEN round(x1 * (1.0 - x2) * (0.5 + x3 / 2.0),
         |    6) >= 0.3 THEN 1.0 ELSE 0.0 END AS y
         |  FROM f0
         |), nr AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM feats),
         |w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3,
         |  0.0 AS w4)""".stripMargin
    // one CTE per GD step, referencing the previous level exactly ONCE
    // (a separate gradient CTE would reference w{i-1} twice and DuckDB
    // inlines multiply-referenced CTEs — exponential planning by level);
    // GROUP BY the single weight row lets the update mix the gradient
    // aggregates with the carried weights, and MATERIALIZED pins each
    // level to one evaluation
    val steps = (1 to iters).map { i =>
      val dotW = (0 to 4).map(j => s"w.w$j * f.x$j").mkString(" + ")
      val ws = (0 to 4).map(j =>
        s"""w.w$j - $eta * (CAST(SUM(CAST(f.x$j
           |      * (1.0 / (1.0 + exp(-($dotW))) - f.y)
           |      AS DECIMAL(38,6))) AS DOUBLE) / MAX(nr.n)) AS w$j"""
          .stripMargin).mkString(",\n    ")
      s"""w$i AS MATERIALIZED (
         |  SELECT $ws
         |  FROM feats f CROSS JOIN w${i - 1} w CROSS JOIN nr
         |  GROUP BY w.w0, w.w1, w.w2, w.w3, w.w4)""".stripMargin
    }.mkString(",\n")
    feats + ",\n" + steps
  }

  /** DuckDB replay of [[operators.Graph.betweennessSampled]] over the
    * support>=2 co-purchase graph with the fixed K=16 md5 hash-rank
    * pivot budget (see [[betweennessPivots]]): unrolled forward layers
    * (σ as exact BIGINT sums, left-anti visited set) then unrolled
    * backward dependency layers with the same round(9)-pinned DECIMAL
    * accumulation. */
  def betweennessSql(depth: Int, pivotK: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH e0 AS MATERIALIZED (
              |  SELECT a.l_partkey AS u, b.l_partkey AS v
              |  FROM lineitem a JOIN lineitem b
              |    ON a.l_orderkey = b.l_orderkey
              |    AND a.l_partkey < b.l_partkey
              |  GROUP BY 1, 2 HAVING count(*) >= 2
              |),
              |sym AS MATERIALIZED (
              |  SELECT DISTINCT src, dst FROM (
              |    SELECT u AS src, v AS dst FROM e0
              |    UNION ALL SELECT v, u FROM e0)
              |  WHERE src <> dst
              |),
              |pivots AS MATERIALIZED (
              |  SELECT node FROM (SELECT DISTINCT src AS node FROM sym) n
              |  ORDER BY md5(CAST(node AS VARCHAR)), node LIMIT $pivotK
              |),
              |l0 AS MATERIALIZED (
              |  SELECT node AS seed, node, CAST(1 AS BIGINT) AS sigma
              |  FROM pivots
              |),
              |v0 AS (SELECT seed, node FROM l0)""".stripMargin
    for (h <- 1 to depth)
      sb ++= s""",
               |l$h AS MATERIALIZED (
               |  SELECT g.seed, g.node, g.sigma FROM (
               |    SELECT p.seed, e.dst AS node,
               |      CAST(sum(p.sigma) AS BIGINT) AS sigma
               |    FROM l${h - 1} p JOIN sym e ON e.src = p.node
               |    GROUP BY 1, 2) g
               |  WHERE NOT EXISTS (SELECT 1 FROM v${h - 1} x
               |    WHERE x.seed = g.seed AND x.node = g.node)
               |),
               |v$h AS (SELECT seed, node FROM v${h - 1}
               |  UNION ALL SELECT seed, node FROM l$h)""".stripMargin
    sb ++= s""",
              |b$depth AS (SELECT seed, node, sigma,
              |  CAST(0.0 AS DOUBLE) AS d FROM l$depth)""".stripMargin
    for (h <- (depth - 1) to 0 by -1)
      sb ++= s""",
               |b$h AS MATERIALIZED (
               |  SELECT l.seed, l.node, l.sigma,
               |    round(coalesce(CAST(sum(CAST(round(
               |      CAST(l.sigma AS DOUBLE) / CAST(c.sw AS DOUBLE)
               |      * (1.0 + c.dw), 9) AS DECIMAL(29,9))) AS DOUBLE),
               |      0.0), 9) AS d
               |  FROM l$h l LEFT JOIN (
               |    SELECT p.seed, e.dst AS node, p.sigma AS sw,
               |      p.d AS dw
               |    FROM b${h + 1} p JOIN sym e ON e.src = p.node) c
               |    ON c.seed = l.seed AND c.node = l.node
               |  GROUP BY 1, 2, 3
               |)""".stripMargin
    val accs = (0 to depth).map(h => s"SELECT seed, node, d FROM b$h")
      .mkString("\n    UNION ALL ")
    sb ++= s"""
              |SELECT node,
              |  round(CAST(sum(CAST(round(d, 9) AS DECIMAL(29,9)))
              |    AS DOUBLE), 6) AS bc
              |FROM ($accs) WHERE seed <> node
              |GROUP BY 1
              |HAVING sum(CAST(round(d, 9) AS DECIMAL(29,9))) > 0
              |ORDER BY node""".stripMargin
    sb.toString
  }

  /** DuckDB replay of [[operators.Graph.bfsHops]] over the support>=2
    * co-purchase graph, seeds = nodes with key % 101 == 0: `rounds`
    * unrolled min-union rounds (MATERIALIZED — the [[labelPropSql]]
    * inlining-blowup guard). */
  /** Direct-path corpus-card SQL (q78) — also the oracle for q210's
    * incremental/merged computation, which must reproduce it exactly. */
  lazy val corpusCardSql: String =
    s"""WITH base AS (
       |  SELECT source, lang,
       |    CAST(len($toksSql) AS BIGINT) AS toks,
       |    round(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
       |      * (1.0 - CASE WHEN length(text) = 0 THEN 0.0
       |          ELSE CAST(length(regexp_replace(text,
       |              '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE)
       |            / CAST(length(text) AS DOUBLE) END)
       |      * (0.5 + (CASE WHEN len($toksSql) = 0 THEN 0.0
       |          ELSE CAST(len(list_filter($toksSql,
       |              t -> list_contains($stopwordsSql, lower(t))))
       |              AS DOUBLE)
       |            / CAST(len($toksSql) AS DOUBLE) END) / 2.0), 6) AS q
       |  FROM documents
       |), bysrc AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(toks) AS BIGINT) AS n_tokens,
       |    round(CAST(SUM(CAST(q AS DECIMAL(38,6))) AS DOUBLE)
       |      / COUNT(*), 6) AS mean_quality
       |  FROM base GROUP BY source
       |), lc AS (
       |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM base GROUP BY source, lang
       |), mx AS (SELECT source, MAX(n) AS mxn FROM lc GROUP BY source),
       |top AS (
       |  SELECT l.source, MIN(l.lang) AS top_lang,
       |    CAST(MAX(l.n) AS BIGINT) AS top_lang_n
       |  FROM lc l JOIN mx USING (source) WHERE l.n = mxn
       |  GROUP BY l.source
       |)
       |SELECT b.source, b.n_docs, b.n_tokens, b.mean_quality,
       |  t2.top_lang, t2.top_lang_n
       |FROM bysrc b JOIN top t2 USING (source)
       |ORDER BY b.source""".stripMargin

  /** DuckDB replay of the [[operators.NaiveBayes]] training + scoring
    * chain (labels = the fixture's langs ascending): CTEs `base` →
    * `pred(actual, predicted)` with train membership given by
    * `trainPred`. q192 appends the confusion rollup; q203 wraps one
    * chain per fold. */
  def nbChainSql(trainPred: String): String = {
    val langs = Seq("de", "en", "es", "fr", "zh")
    val cntCols = langs.zipWithIndex.map { case (l, i) =>
      s"sum(CASE WHEN actual = '$l' THEN 1 ELSE 0 END) AS c_$i"
    }.mkString(",\n    ")
    val sCols = langs.indices.map { i =>
      s"sum(CAST(round(ln(CAST(c.c_$i + 1 AS DOUBLE)), 9) AS DECIMAL(38,9))) AS s_$i"
    }.mkString(",\n    ")
    val scoreCols = langs.zipWithIndex.map { case (l, i) =>
      s"""round((SELECT lnprior FROM consts WHERE actual = '$l')
         |      - CAST(len(te.tk) AS DOUBLE)
         |        * (SELECT lnden FROM consts WHERE actual = '$l')
         |      + coalesce(CAST(s_$i AS DOUBLE), 0.0), 6) AS score_$i""".stripMargin
    }.mkString(",\n    ")
    val predCase = langs.zipWithIndex.init.map { case (l, i) =>
      s"WHEN score_$i = g THEN '$l'"
    }.mkString("CASE ", " ", s" ELSE '${langs.last}' END")
    s"""WITH base AS MATERIALIZED (
       |  SELECT doc_id, lang AS actual,
       |    list_filter(regexp_split_to_array(lower(text), '\\s+'),
       |      x -> x <> '') AS tk,
       |    $trainPred AS is_train
       |  FROM documents
       |), tr AS (SELECT * FROM base WHERE is_train
       |), stats AS MATERIALIZED (
       |  SELECT actual, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len(tk)) AS BIGINT) AS n_toks
       |  FROM tr GROUP BY 1
       |), cnt AS MATERIALIZED (
       |  SELECT token,
       |    $cntCols
       |  FROM (SELECT actual, unnest(tk) AS token FROM tr)
       |  GROUP BY 1
       |), consts AS MATERIALIZED (
       |  SELECT s.actual,
       |    round(ln(CAST(s.n_docs AS DOUBLE))
       |      - ln(CAST(t.n AS DOUBLE)), 9) AS lnprior,
       |    round(ln(CAST(s.n_toks + v.v AS DOUBLE)), 9) AS lnden
       |  FROM stats s,
       |    (SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM stats) t,
       |    (SELECT count(*) AS v FROM cnt) v
       |), contrib AS MATERIALIZED (
       |  SELECT b.doc_id,
       |    $sCols
       |  FROM (SELECT doc_id, unnest(tk) AS token
       |        FROM base WHERE NOT is_train) b
       |  JOIN cnt c USING (token) GROUP BY 1
       |), scored AS (
       |  SELECT te.actual,
       |    $scoreCols
       |  FROM (SELECT * FROM base WHERE NOT is_train) te
       |  LEFT JOIN contrib ON contrib.doc_id = te.doc_id
       |), pred AS (
       |  SELECT actual, $predCase AS predicted
       |  FROM (SELECT *, greatest(${langs.indices
                .map(i => s"score_$i").mkString(", ")}) AS g
       |        FROM scored)
       |)""".stripMargin
  }

  /** DuckDB replay of [[operators.Graph.weightedShortestPaths]] over the
    * support>=2 co-purchase graph with cost = 1000000 // support, seeds
    * = nodes with key % 101 == 0: unrolled min-plus relaxation rounds
    * (all BIGINT arithmetic). */
  def wspSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH e0 AS MATERIALIZED (
             |  SELECT a.l_partkey AS u, b.l_partkey AS v,
             |    1000000 // count(*) AS cost
             |  FROM lineitem a JOIN lineitem b
             |    ON a.l_orderkey = b.l_orderkey
             |    AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING count(*) >= 2
             |),
             |sym AS MATERIALIZED (
             |  SELECT src, dst, CAST(min(cost) AS BIGINT) AS cost FROM (
             |    SELECT u AS src, v AS dst, cost FROM e0
             |    UNION ALL SELECT v, u, cost FROM e0)
             |  GROUP BY 1, 2
             |),
             |d0 AS MATERIALIZED (
             |  SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS cost
             |  FROM sym WHERE src % 101 = 0
             |)""".stripMargin
    for (i <- 1 to rounds)
      sb ++= s""",
               |d$i AS MATERIALIZED (
               |  SELECT node, min(cost) AS cost FROM (
               |    SELECT node, cost FROM d${i - 1}
               |    UNION ALL
               |    SELECT s.dst AS node, d.cost + s.cost AS cost
               |    FROM sym s JOIN d${i - 1} d ON s.src = d.node)
               |  GROUP BY 1
               |)""".stripMargin
    sb ++= s"""
              |SELECT node, cost
              |FROM d$rounds ORDER BY node""".stripMargin
    sb.toString
  }

  def bfsSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH e0 AS MATERIALIZED (
             |  SELECT a.l_partkey AS u, b.l_partkey AS v
             |  FROM lineitem a JOIN lineitem b
             |    ON a.l_orderkey = b.l_orderkey
             |    AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING count(*) >= 2
             |),
             |sym AS MATERIALIZED (
             |  SELECT DISTINCT src, dst FROM (
             |    SELECT u AS src, v AS dst FROM e0
             |    UNION ALL SELECT v, u FROM e0)
             |),
             |d0 AS MATERIALIZED (
             |  SELECT DISTINCT src AS node, 0 AS hops
             |  FROM sym WHERE src % 101 = 0
             |)""".stripMargin
    for (i <- 1 to rounds)
      sb ++= s""",
               |d$i AS MATERIALIZED (
               |  SELECT node, min(hops) AS hops FROM (
               |    SELECT node, hops FROM d${i - 1}
               |    UNION ALL
               |    SELECT s.dst AS node, d.hops + 1 AS hops
               |    FROM sym s JOIN d${i - 1} d ON s.src = d.node)
               |  GROUP BY 1
               |)""".stripMargin
    sb ++= s"""
              |SELECT node, CAST(hops AS INT) AS hops
              |FROM d$rounds ORDER BY node""".stripMargin
    sb.toString
  }

  /** DuckDB replay of [[operators.Graph.labelPropagation]] over the
    * support>=2 co-purchase graph with 20%-of-parts brand seeds:
    * `rounds` unrolled majority-vote rounds (MATERIALIZED — the same
    * inlining-blowup guard as [[kcoreSql]]). */
  def labelPropBodySql(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH e0 AS MATERIALIZED (
             |  SELECT a.l_partkey AS u, b.l_partkey AS v
             |  FROM lineitem a JOIN lineitem b
             |    ON a.l_orderkey = b.l_orderkey
             |    AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING count(*) >= 2
             |),
             |sym AS MATERIALIZED (
             |  SELECT DISTINCT src, dst FROM (
             |    SELECT u AS src, v AS dst FROM e0
             |    UNION ALL SELECT v, u FROM e0)
             |  WHERE src <> dst
             |),
             |seeds AS (
             |  SELECT p_partkey AS node, p_brand AS seed FROM part
             |  WHERE p_partkey % 5 = 0
             |),
             |l0 AS MATERIALIZED (
             |  SELECT n.node, s.seed, s.seed AS lab
             |  FROM (SELECT DISTINCT src AS node FROM sym) n
             |  LEFT JOIN seeds s USING (node)
             |)""".stripMargin
    for (i <- 0 until rounds) {
      sb ++= s""",
                |c${i + 1} AS (
                |  SELECT s.dst AS node, l.lab, count(*) AS c
                |  FROM sym s JOIN l$i l ON s.src = l.node
                |  WHERE l.lab IS NOT NULL GROUP BY 1, 2
                |),
                |w${i + 1} AS (
                |  SELECT node, lab FROM (
                |    SELECT node, lab, row_number() OVER (
                |      PARTITION BY node ORDER BY c DESC, lab) AS rk
                |    FROM c${i + 1})
                |  WHERE rk = 1
                |),
                |l${i + 1} AS MATERIALIZED (
                |  SELECT l.node, l.seed,
                |    CASE WHEN l.seed IS NOT NULL THEN l.seed
                |         ELSE coalesce(w.lab, l.lab) END AS lab
                |  FROM l$i l LEFT JOIN w${i + 1} w USING (node)
                |)""".stripMargin
    }
    sb.toString
  }

  def labelPropSql(rounds: Int): String =
    labelPropBodySql(rounds) + s"""
       |SELECT node, lab AS label FROM l$rounds
       |WHERE lab IS NOT NULL ORDER BY node""".stripMargin

  /** DuckDB replay of [[operators.Graph.kCore]] over the support>=2
    * co-purchase part graph: `rounds` unrolled peel rounds (degree CTE,
    * keep-set, two keyed semi-joins), exactly the operator's sequence. */
  def kcoreSql(k: Int, rounds: Int): String = {
    // AS MATERIALIZED: each CTE is referenced several times per round;
    // inlining would re-expand the whole prefix per reference
    // (exponential in `rounds`)
    val sb = new StringBuilder
    sb ++= """WITH e0 AS MATERIALIZED (
             |  SELECT a.l_partkey AS u, b.l_partkey AS v
             |  FROM lineitem a JOIN lineitem b
             |    ON a.l_orderkey = b.l_orderkey
             |    AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING count(*) >= 2
             |)""".stripMargin
    for (i <- 0 until rounds) {
      sb ++= s""",
                |d$i AS (
                |  SELECT n, count(*) AS d
                |  FROM (SELECT u AS n FROM e$i UNION ALL
                |        SELECT v AS n FROM e$i)
                |  GROUP BY 1
                |),
                |k$i AS MATERIALIZED (SELECT n FROM d$i WHERE d >= $k),
                |e${i + 1} AS MATERIALIZED (
                |  SELECT u, v FROM e$i
                |  JOIN k$i ku ON e$i.u = ku.n
                |  JOIN k$i kv ON e$i.v = kv.n
                |)""".stripMargin
    }
    sb ++= s"""
              |SELECT node, CAST(count(*) AS BIGINT) AS core_deg
              |FROM (SELECT u AS node FROM e$rounds UNION ALL
              |      SELECT v AS node FROM e$rounds)
              |GROUP BY 1 ORDER BY node""".stripMargin
    sb.toString
  }

  /** DuckDB BM25 (Lucene k1=1.2/b=0.75 formulation) over `documents` for a
    * literal term list — the exact algebra of [[operators.Retrieval.bm25]]
    * (same op order; ln ulps absorbed by round(6)). */
  /** Shared keep-best dedup CTE chain ending in `lab` (doc_id,
    * cluster_id, q) and `best` (cluster_id, n_members, best_q) —
    * the exact q75 replay (all-pairs Jaccard >= 0.5 ground truth,
    * transitive closure, quality argmax); q75 selects the kept row
    * per cluster, q312 re-plans the token recipe over the kept
    * corpus. */
  lazy val keepBestLabSql: String =
    s"""WITH RECURSIVE tk AS (
         |  SELECT doc_id,
         |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')
         |      AS raw
         |  FROM documents
         |), sh AS (
         |  SELECT doc_id,
         |    list_distinct(CASE WHEN len(raw) < 3
         |      THEN [array_to_string(raw, ' ')]
         |      ELSE [array_to_string(raw[i+1:i+3], ' ')
         |            for i in range(0, len(raw) - 2)] END) AS shingles
         |  FROM tk
         |), prs AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
         |      / CAST(len(list_distinct(list_concat(a.shingles, b.shingles)))
         |          AS DOUBLE) >= 0.5
         |), edges AS (
         |  SELECT a_id AS s, b_id AS d FROM prs
         |  UNION SELECT b_id, a_id FROM prs
         |), reach(s, d) AS (
         |  SELECT s, d FROM edges
         |  UNION
         |  SELECT r.s, e.d FROM reach r JOIN edges e ON e.s = r.d
         |), clu AS (
         |  SELECT s AS doc_id, least(s, min(d)) AS cl
         |  FROM reach GROUP BY s
         |), qual AS (
         |  SELECT d.doc_id, round(
         |    least(CAST(length(d.text) AS DOUBLE) / 500.0, 1.0)
         |    * (1.0 - CASE WHEN length(d.text) = 0 THEN 0.0
         |        ELSE CAST(length(regexp_replace(d.text,
         |            '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE)
         |          / CAST(length(d.text) AS DOUBLE) END)
         |    * (0.5 + (CASE WHEN len(t.raw) = 0 THEN 0.0
         |        ELSE CAST(len(list_filter(t.raw,
         |            t2 -> list_contains($stopwordsSql, lower(t2)))) AS DOUBLE)
         |          / CAST(len(t.raw) AS DOUBLE) END) / 2.0), 6) AS q
         |  FROM documents d JOIN tk t USING (doc_id)
         |), lab AS (
         |  SELECT d.doc_id, COALESCE(c.cl, d.doc_id) AS cluster_id, qu.q
         |  FROM documents d LEFT JOIN clu c USING (doc_id)
         |  JOIN qual qu USING (doc_id)
         |), best AS (
         |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
         |    MAX(q) AS best_q
         |  FROM lab GROUP BY cluster_id
         |)""".stripMargin

  /** Shared md5-MinHash banded-pair CTE chain ending in `verified`
    * (a_id, b_id, sim) — the exact replay of minhashLshPairs(fast=false)
    * BEFORE any threshold filter; q37 selects at 0.5, q310 sweeps a
    * threshold grid over the same stream, q320 runs it over a
    * normalized relation instead of the raw table. */
  lazy val minhashVerifiedCte: String =
    minhashVerifiedCteFrom("documents")

  /** [[minhashVerifiedCte]] parameterized on the (doc_id, text) source
    * relation. */
  def minhashVerifiedCteFrom(rel: String): String =
    s"""WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS raw
        |  FROM $rel
        |), sh AS (
        |  SELECT doc_id, raw,
        |    CASE WHEN len(raw) < 3 THEN [array_to_string(raw, ' ')]
        |      ELSE [array_to_string(raw[i+1:i+3], ' ')
        |            for i in range(0, len(raw) - 2)] END AS shingles
        |  FROM tk
        |), sig AS (
        |  SELECT doc_id, raw, shingles,
        |    [list_min([md5(CAST(i AS VARCHAR) || '|' || s) for s in shingles])
        |     for i in range(0, 16)] AS mh
        |  FROM sh
        |), banded AS (
        |  SELECT doc_id, raw, shingles,
        |    unnest([CAST(b AS VARCHAR) || '_'
        |            || array_to_string(mh[b*4+1:b*4+4], '|')
        |            for b in range(0, 4)]) AS bandkey
        |  FROM sig
        |), pairs AS (
        |  SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id,
        |    l.shingles AS a_sh, r.shingles AS b_sh
        |  FROM banded l JOIN banded r ON l.bandkey = r.bandkey
        |  WHERE l.doc_id < r.doc_id
        |), verified AS (
        |  SELECT a_id, b_id,
        |    round(CASE WHEN len(list_distinct(list_concat(a_sh, b_sh))) = 0
        |      THEN 0.0
        |      ELSE CAST(len(list_intersect(list_distinct(a_sh),
        |            list_distinct(b_sh))) AS DOUBLE)
        |        / CAST(len(list_distinct(list_concat(a_sh, b_sh))) AS DOUBLE)
        |      END, 6) AS sim
        |  FROM pairs)""".stripMargin

  lazy val minhashPairsSql: String =
    minhashVerifiedCte +
      """
        |SELECT a_id, b_id, sim FROM verified WHERE sim >= 0.5
        |ORDER BY a_id, b_id""".stripMargin

  lazy val dedupSweepSql: String =
    minhashVerifiedCte +
      """, thr AS (
        |  SELECT CAST(unnest([0.3, 0.4, 0.5, 0.6, 0.7, 0.8]) AS DOUBLE)
        |    AS theta
        |), hit AS (
        |  SELECT thr.theta, v.a_id, v.b_id, v.sim
        |  FROM verified v JOIN thr ON v.sim >= thr.theta
        |), perpair AS (
        |  SELECT theta, COUNT(*) AS n_pairs,
        |    round(CAST(SUM(CAST(sim AS DECIMAL(38,6))) AS DOUBLE)
        |      / COUNT(*), 6) AS mean_sim
        |  FROM hit GROUP BY theta
        |), perdoc AS (
        |  SELECT theta, COUNT(DISTINCT d) AS n_docs
        |  FROM (SELECT theta, unnest([a_id, b_id]) AS d FROM hit)
        |  GROUP BY theta)
        |SELECT thr.theta,
        |  CAST(COALESCE(perpair.n_pairs, 0) AS BIGINT) AS n_pairs,
        |  CAST(COALESCE(perdoc.n_docs, 0) AS BIGINT) AS n_docs,
        |  perpair.mean_sim
        |FROM thr LEFT JOIN perpair USING (theta)
        |LEFT JOIN perdoc USING (theta)
        |ORDER BY theta""".stripMargin

  lazy val simhashPairsSql: String =
    """WITH tk AS (
        |  SELECT doc_id,
        |    list_transform(list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> x <> ''), t -> md5(t)) AS hashes
        |  FROM documents
        |), sig AS (
        |  SELECT doc_id,
        |  array_to_string([
        |    substr('0123456789abcdef', 1 + list_sum([
        |      CASE WHEN list_sum([
        |        CASE WHEN ((strpos('0123456789abcdef',
        |            substr(h, jj + 1, 1)) - 1) >> b) & 1 = 1
        |          THEN 1 ELSE -1 END
        |        for h in hashes]) > 0 THEN (1 << b) ELSE 0 END
        |      for b in range(0, 4)])::INT, 1)
        |    for jj in range(0, 16)], '') AS simhash
        |  FROM tk
        |), pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(list_sum([bit_count(xor(
        |      strpos('0123456789abcdef', substr(a.simhash, i + 1, 1)) - 1,
        |      strpos('0123456789abcdef', substr(b.simhash, i + 1, 1)) - 1))
        |      for i in range(0, 16)]) AS BIGINT) AS hamming
        |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |)
        |SELECT a_id, b_id, hamming FROM pairs WHERE hamming <= 3
        |ORDER BY a_id, b_id""".stripMargin

  lazy val winnowingPairsSql: String =
    """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')
        |      AS raw
        |  FROM documents
        |), hsl AS (
        |  SELECT doc_id, CASE WHEN len(raw) < 4
        |    THEN [substr(md5(array_to_string(raw, ' ')), 1, 8)]
        |    ELSE [substr(md5(array_to_string(raw[j+1:j+4], ' ')), 1, 8)
        |          for j in range(0, len(raw) - 3)] END AS hs
        |  FROM tk
        |), ex AS (
        |  SELECT doc_id, unnest(range(0, len(hs))) AS j, len(hs) AS m,
        |    hs
        |  FROM hsl
        |), ex2 AS (
        |  SELECT doc_id, j, m, hs[CAST(j + 1 AS INT)] AS h FROM ex
        |), wm AS (
        |  SELECT doc_id, j AS i, m,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY j
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
        |  FROM ex2
        |), starts AS (SELECT * FROM wm WHERE i <= greatest(m - 4, 0)
        |), sel AS (
        |  SELECT s.doc_id, s.i, max(e.j) AS p
        |  FROM starts s JOIN ex2 e ON e.doc_id = s.doc_id
        |    AND e.j >= s.i AND e.j <= s.i + 3 AND e.h = s.wmin
        |  GROUP BY 1, 2
        |), fpd AS (
        |  SELECT DISTINCT e.doc_id, e.h
        |  FROM (SELECT DISTINCT doc_id, p FROM sel) q
        |  JOIN ex2 e ON e.doc_id = q.doc_id AND e.j = q.p
        |), keep AS (SELECT h FROM fpd GROUP BY h HAVING count(*) <= 100
        |), f2 AS (SELECT doc_id, h FROM fpd JOIN keep USING (h)
        |), nf AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM f2 GROUP BY 1
        |), pr AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM f2 a JOIN f2 b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |)
        |SELECT doc_a, doc_b, n_shared, na.n AS n_a, nb.n AS n_b,
        |  round(CAST(n_shared AS DOUBLE)
        |    / CAST(least(na.n, nb.n) AS DOUBLE), 6) AS containment
        |FROM pr JOIN nf na ON na.doc_id = pr.doc_a
        |JOIN nf nb ON nb.doc_id = pr.doc_b
        |ORDER BY doc_a, doc_b""".stripMargin

  /** Shared q300/q303 oracle prefix: the funnel survivorship chain
    * flags0..cum (c1..c7 per doc), with the q37/q68/q32/q31 replays
    * substituted in. Usable as the head of a WITH clause. */
  lazy val funnelCumSql: String = {
    val conds = Seq(
      "TRUE",
      "f_gates",
      "f_gates AND f.doc_id = keep",
      "f_gates AND f.doc_id = keep AND b_id IS NULL",
      "f_gates AND f.doc_id = keep AND b_id IS NULL" +
        " AND f.doc_id >= 10 AND coalesce(n_overlap, 0) = 0",
      "f_gates AND f.doc_id = keep AND b_id IS NULL" +
        " AND f.doc_id >= 10 AND coalesce(n_overlap, 0) = 0" +
        " AND lang_pred = 'en'",
      "f_gates AND f.doc_id = keep AND b_id IS NULL" +
        " AND f.doc_id >= 10 AND coalesce(n_overlap, 0) = 0" +
        " AND lang_pred = 'en' AND quality >= 0.3")
    val cumCols = conds.zipWithIndex
      .map { case (c, i) => s"    $c AS c${i + 1}" }.mkString(",\n")
    s"""flags0 AS (
       |  SELECT doc_id,
       |    length(text) >= 200
       |      AND (CASE WHEN length(text) > 0
       |        THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
       |            * 10
       |          >= length(text) * 6
       |        ELSE false END)
       |      AND len($toksSql) >= 30 AS f_gates,
       |    CAST(len($toksSql) AS BIGINT) AS ntk,
       |    md5(text) AS k
       |  FROM documents
       |), wk AS (
       |  SELECT md5(text) AS k, MIN(doc_id) AS keep
       |  FROM documents GROUP BY 1
       |), nd AS (SELECT DISTINCT b_id FROM (@MH@)),
       |dc AS (SELECT doc_id, n_overlap FROM (@DECON@)),
       |lg AS (SELECT doc_id, lang_pred FROM (@LANG@)),
       |qs AS (SELECT doc_id, quality FROM (@QUAL@)),
       |cum AS MATERIALIZED (
       |  SELECT f.doc_id, ntk,
       |$cumCols
       |  FROM flags0 f JOIN wk USING (k)
       |  LEFT JOIN nd ON f.doc_id = nd.b_id
       |  LEFT JOIN dc USING (doc_id)
       |  JOIN lg USING (doc_id) JOIN qs USING (doc_id)
       |)""".stripMargin
      .replace("@MH@", minhashPairsSql)
      .replace("@DECON@", deconSql)
      .replace("@LANG@", langIdSql)
      .replace("@QUAL@", docQualitySql)
  }

  lazy val docQualitySql: String =
    s"""WITH base AS (
         |  SELECT doc_id, text, $toksSql AS tk FROM documents
         |), stats AS (
         |  SELECT doc_id, text, len(tk) AS n_words,
         |    CASE WHEN len(tk) = 0 THEN 0.0
         |      ELSE CAST(list_sum(list_transform(tk, t -> length(t))) AS DOUBLE)
         |        / CAST(len(tk) AS DOUBLE) END AS mean_word_len,
         |    CASE WHEN len(tk) = 0 THEN 0.0
         |      ELSE CAST(len(list_filter(tk,
         |          t -> list_contains($stopwordsSql, lower(t)))) AS DOUBLE)
         |        / CAST(len(tk) AS DOUBLE) END AS stopword_ratio,
         |    CASE WHEN length(text) = 0 THEN 0.0
         |      ELSE CAST(length(regexp_replace(text,
         |          '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE)
         |        / CAST(length(text) AS DOUBLE) END AS punct_ratio
         |  FROM base)
         |SELECT doc_id, n_words, round(mean_word_len, 6) AS mean_word_len,
         |  round(stopword_ratio, 6) AS stopword_ratio,
         |  round(punct_ratio, 6) AS punct_ratio,
         |  round(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
         |    * (1.0 - punct_ratio) * (0.5 + stopword_ratio / 2.0), 6) AS quality
         |FROM stats ORDER BY doc_id""".stripMargin

  lazy val langIdSql: String = {
      val profiles = TextAnalysis.langProfiles
      val scoreCols = profiles.map { case (lang, words) =>
        val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter(tk, t -> list_contains($lst, lower(t)))) AS s_$lang"
      }.mkString(",\n    ")
      s"""WITH base AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |scored AS (SELECT doc_id,
         |    $scoreCols
         |  FROM base)
         |SELECT doc_id,
         |  CASE WHEN s_de = 0 AND s_en = 0 AND s_es = 0 AND s_fr = 0 THEN 'und'
         |    WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
         |    WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
         |    WHEN s_es >= s_fr THEN 'es'
         |    ELSE 'fr' END AS lang_pred
         |FROM scored ORDER BY doc_id""".stripMargin
    }

  lazy val deconSql: String =
    """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE
        |      WHEN len(list_filter(regexp_split_to_array(text, '\s+'),
        |        x -> x <> '')) < 5
        |      THEN [array_to_string(list_filter(
        |        regexp_split_to_array(text, '\s+'), x -> x <> ''), ' ')]
        |      ELSE [array_to_string(list_filter(
        |          regexp_split_to_array(text, '\s+'), x -> x <> '')[i+1:i+5],
        |          ' ')
        |        for i in range(0, len(list_filter(
        |          regexp_split_to_array(text, '\s+'), x -> x <> '')) - 4)]
        |      END) AS shingles
        |  FROM documents
        |), ev AS (
        |  SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id < 10
        |), corpus AS (
        |  SELECT doc_id, unnest(shingles) AS s FROM sh WHERE doc_id >= 10)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
        |FROM corpus JOIN ev USING (s)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** DuckDB CTE chain for the V-optimal DP over `dense$sfx`: dense
    * prefix sums -> SSE table -> 4 unrolled argmin rounds -> backtrack
    * -> `bounds$sfx` (bucket, seg_lo, seg_hi). Follows [[gridCtes]].
    * Every table name carries `sfx` so two constructions (q305: direct
    * vs distributed-merge) coexist in one statement. */
  def dpCtes(sfx: String): String = {
    val dpRounds = (2 to 4).map { j =>
      val prev = s"b${j - 1}$sfx"
      s"""b$j$sfx AS MATERIALIZED (
         |  SELECT i, cost, argm FROM (
         |    SELECT s.b AS i, $prev.i AS argm,
         |      round($prev.cost + s.sse, 9) AS cost,
         |      row_number() OVER (PARTITION BY s.b
         |        ORDER BY round($prev.cost + s.sse, 9), $prev.i)
         |        AS rk
         |    FROM $prev JOIN sse$sfx s ON s.a = $prev.i + 1)
         |  WHERE rk = 1
         |)""".stripMargin
    }.mkString(", ")
    s"""pre$sfx AS MATERIALIZED (
       |  SELECT t, CAST(SUM(f) OVER (ORDER BY t
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p,
       |    CAST(SUM(f * f) OVER (ORDER BY t
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p2
       |  FROM dense$sfx
       |  UNION ALL SELECT 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
       |), sse$sfx AS MATERIALIZED (
       |  SELECT lo.t + 1 AS a, hi.t AS b,
       |    round(CAST(hi.p2 - lo.p2 AS DOUBLE)
       |      - CAST(hi.p - lo.p AS DOUBLE)
       |        * CAST(hi.p - lo.p AS DOUBLE)
       |        / CAST(hi.t - lo.t AS DOUBLE), 9) AS sse
       |  FROM pre$sfx hi JOIN pre$sfx lo ON lo.t < hi.t WHERE hi.t >= 1
       |), b1$sfx AS MATERIALIZED (
       |  SELECT b AS i, sse AS cost, 0 AS argm FROM sse$sfx WHERE a = 1
       |), $dpRounds,
       |m3$sfx AS (SELECT argm AS m FROM b4$sfx WHERE i = 32),
       |m2$sfx AS (SELECT b3$sfx.argm AS m FROM b3$sfx, m3$sfx
       |  WHERE b3$sfx.i = m3$sfx.m),
       |m1$sfx AS (SELECT b2$sfx.argm AS m FROM b2$sfx, m2$sfx
       |  WHERE b2$sfx.i = m2$sfx.m),
       |bounds$sfx AS (
       |  SELECT 1 AS bucket, 1 AS seg_lo, m1$sfx.m AS seg_hi FROM m1$sfx
       |  UNION ALL SELECT 2, m1$sfx.m + 1, m2$sfx.m FROM m1$sfx, m2$sfx
       |  UNION ALL SELECT 3, m2$sfx.m + 1, m3$sfx.m FROM m2$sfx, m3$sfx
       |  UNION ALL SELECT 4, m3$sfx.m + 1, 32 FROM m3$sfx
       |)""".stripMargin
  }

  /** Shared DuckDB CTE chain for the V-optimal DP (q297/q299) with
    * unsuffixed table names. Follows `orderGridCtes`. */
  lazy val vOptDpCtes: String = dpCtes("")

  /** Equi-rank grid chain from `hist$sfx` (v, c) — plus the shared `ts`
    * tally — to `dense$sfx` (t = 1..32, f): the DuckDB twin of
    * [[operators.Stats.equiRankGridFreqs]], suffixed like [[dpCtes]]. */
  def gridCtes(sfx: String): String =
    s"""cum$sfx AS MATERIALIZED (
       |  SELECT v, c, CAST(SUM(c) OVER (ORDER BY v
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM hist$sfx
       |), tot$sfx AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM hist$sfx),
       |grid$sfx AS MATERIALIZED (
       |  SELECT t, MIN(v) AS gv FROM ts, tot$sfx, cum$sfx
       |  WHERE cum >= (t * n + 31) // 32 GROUP BY 1
       |), seg$sfx AS (
       |  SELECT v, c, MIN(t) AS t FROM hist$sfx JOIN grid$sfx ON v <= gv
       |  GROUP BY 1, 2
       |), freqs$sfx AS (SELECT t, CAST(SUM(c) AS BIGINT) AS f
       |  FROM seg$sfx GROUP BY 1),
       |dense$sfx AS (
       |  SELECT ts.t, coalesce(f, 0) AS f FROM ts
       |  LEFT JOIN freqs$sfx USING (t)
       |)""".stripMargin

  /** Shared DuckDB CTE prefix for the q297/q298/q299 synopsis family:
    * order totals in cents -> value histogram -> 32-point equi-rank
    * grid -> dense (t = 1..32, f) frequency sequence. */
  lazy val orderGridCtes: String =
    """vals AS (
      |  SELECT CAST(o_totalprice * 100 AS BIGINT) AS v FROM orders
      |), hist AS MATERIALIZED (
      |  SELECT v, CAST(count(*) AS BIGINT) AS c FROM vals GROUP BY 1
      |), ts AS (SELECT unnest(range(1, 33)) AS t),
      |""".stripMargin + gridCtes("")

  /** DuckDB replay of [[operators.Similarity.nnDescentGraph]]
    * (bucketTarget=16, the operator default q286/q295 use) plus the
    * q40-style exact-truth recall readout
    * for vec_id < 30: md5-bucket init, `rounds` unrolled
    * neighbors-of-neighbors expansions, each cut to top-k by the
    * decimal-exact cosine. The oracle skips the Spark side's
    * double-kernel PRUNE (its k+margin margin makes the two rankings
    * identical — the q40 two-phase contract) and ranks every candidate
    * exactly. */
  def nnDescentSql(k: Int, rounds: Int, spaces: Int,
                           bucketTarget: Int, kTruth: Int): String = {
    def topk(cand: String, out: String): String =
      s"""$out AS MATERIALIZED (
         |  SELECT v, u, sim, rk FROM (
         |    SELECT v, u, sim,
         |      CAST(row_number() OVER (PARTITION BY v
         |        ORDER BY sim DESC, u) AS INT) AS rk
         |    FROM (
         |      SELECT v, u, round($cosSql, 6) AS sim FROM (
         |        SELECT v, u,
         |          ${dotSql("qv", "cv")} AS dot,
         |          ${normSql("qv")} AS nq,
         |          ${normSql("cv")} AS nc
         |        FROM (
         |          SELECT c.v, c.u, pq.pvec AS qv, pc.pvec AS cv
         |          FROM $cand c JOIN pts pq ON c.v = pq.pid
         |            JOIN pts pc ON c.u = pc.pid))))
         |  WHERE rk <= $k
         |)""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      val prev = s"e${r - 1}"
      s"""und$r AS (
         |  SELECT DISTINCT v, u FROM (
         |    SELECT v, u FROM $prev
         |    UNION ALL SELECT u AS v, v AS u FROM $prev)
         |), cand$r AS (
         |  SELECT DISTINCT v, u FROM (
         |    SELECT a.v, c.u FROM und$r a JOIN und$r c ON a.u = c.v
         |    WHERE c.u <> a.v
         |    UNION ALL SELECT v, u FROM $prev)
         |), ${topk(s"cand$r", s"e$r")}""".stripMargin
    }.mkString(", ")
    val wbCtes = (0 until spaces).map { r =>
      s"""wb$r AS MATERIALIZED (
         |  SELECT pid, (list_sum([CAST(round(pow(16, 7 - i)) AS BIGINT) *
         |      (strpos('0123456789abcdef',
         |        substr(md5('nnd$r|' || CAST(pid AS VARCHAR)), i + 1, 1))
         |        - 1)
         |      for i in range(0, 8)]) % b) AS bk
         |  FROM pts, nb
         |)""".stripMargin
    }.mkString(", ")
    val initUnion = (0 until spaces).map { r =>
      s"""    SELECT a.pid AS v, c.pid AS u
         |    FROM wb$r a JOIN wb$r c ON a.bk = c.bk AND a.pid <> c.pid"""
        .stripMargin
    }.mkString("\n    UNION ALL\n")
    s"""WITH pts AS MATERIALIZED (
       |  SELECT vec_id AS pid, embedding AS pvec FROM embeddings
       |), nb AS (
       |  SELECT greatest(CAST(ceil(CAST(COUNT(*) AS DOUBLE)
       |    / $bucketTarget.0) AS BIGINT), 1) AS b FROM pts
       |), $wbCtes, cand0 AS (
       |  SELECT DISTINCT v, u FROM (
       |$initUnion)
       |), ${topk("cand0", "e0")}, $roundCtes,
       |q AS (
       |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |  WHERE vec_id < 30
       |), tp AS (
       |  SELECT qid, cid,
       |    ${dotSql("qv", "cv")} AS dot,
       |    ${normSql("qv")} AS nq,
       |    ${normSql("cv")} AS nc
       |  FROM q, (SELECT vec_id AS cid, embedding AS cv
       |           FROM embeddings) c
       |  WHERE qid <> cid
       |), truth AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT qid AS query_id, cid AS neighbor_id,
       |      CAST(row_number() OVER (PARTITION BY qid
       |        ORDER BY round($cosSql, 6) DESC, cid) AS INT) AS rk
       |    FROM tp)
       |  WHERE rk <= $kTruth
       |)
       |SELECT t.query_id, CAST(COUNT(e.v) AS BIGINT) AS found,
       |  round(CAST(COUNT(e.v) AS DOUBLE) / $kTruth.0, 6) AS recall
       |FROM truth t LEFT JOIN e$rounds e
       |  ON e.v = t.query_id AND e.u = t.neighbor_id
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** DuckDB replay of [[operators.Similarity.nnGraphInsert]] over the
    * persisted q295 base graph (base = vec_id >= 50 rebuilt from
    * scratch — equal to the on-disk artifact by construction) plus the
    * insert expansion for vec_id < 50 and the exact-truth recall
    * readout. Bucket geometry (nb.b) comes from the BASE count, exactly
    * as the operator replays the stored index's layout. */
  def nnInsertSql(k: Int, rounds: Int, spaces: Int,
                          bucketTarget: Int, kTruth: Int): String = {
    def topk(cand: String, out: String, qSrc: String,
             cSrc: String): String =
      s"""$out AS MATERIALIZED (
         |  SELECT v, u, sim, rk FROM (
         |    SELECT v, u, sim,
         |      CAST(row_number() OVER (PARTITION BY v
         |        ORDER BY sim DESC, u) AS INT) AS rk
         |    FROM (
         |      SELECT v, u, round($cosSql, 6) AS sim FROM (
         |        SELECT v, u,
         |          ${dotSql("qv", "cv")} AS dot,
         |          ${normSql("qv")} AS nq,
         |          ${normSql("cv")} AS nc
         |        FROM (
         |          SELECT c.v, c.u, pq.pvec AS qv, pc.pvec AS cv
         |          FROM $cand c JOIN $qSrc pq ON c.v = pq.pid
         |            JOIN $cSrc pc ON c.u = pc.pid))))
         |  WHERE rk <= $k
         |)""".stripMargin
    def wbCte(name: String, src: String, r: Int): String =
      s"""$name AS MATERIALIZED (
         |  SELECT pid, (list_sum([CAST(round(pow(16, 7 - i)) AS BIGINT) *
         |      (strpos('0123456789abcdef',
         |        substr(md5('nnd$r|' || CAST(pid AS VARCHAR)), i + 1, 1))
         |        - 1)
         |      for i in range(0, 8)]) % b) AS bk
         |  FROM $src, nb
         |)""".stripMargin
    val wbCtes = (0 until spaces)
      .map(r => wbCte(s"wb$r", "pts", r)).mkString(", ")
    val nwbCtes = (0 until spaces)
      .map(r => wbCte(s"nwb$r", "npts", r)).mkString(", ")
    val initUnion = (0 until spaces).map { r =>
      s"""    SELECT a.pid AS v, c.pid AS u
         |    FROM wb$r a JOIN wb$r c ON a.bk = c.bk AND a.pid <> c.pid"""
        .stripMargin
    }.mkString("\n    UNION ALL\n")
    val insUnion = (0 until spaces).map { r =>
      s"""    SELECT n.pid AS v, c.pid AS u
         |    FROM nwb$r n JOIN wb$r c ON n.bk = c.bk""".stripMargin
    }.mkString("\n    UNION ALL\n")
    val roundCtes = (1 to rounds).map { r =>
      val prev = s"e${r - 1}"
      s"""und$r AS (
         |  SELECT DISTINCT v, u FROM (
         |    SELECT v, u FROM $prev
         |    UNION ALL SELECT u AS v, v AS u FROM $prev)
         |), cand$r AS (
         |  SELECT DISTINCT v, u FROM (
         |    SELECT a.v, c.u FROM und$r a JOIN und$r c ON a.u = c.v
         |    WHERE c.u <> a.v
         |    UNION ALL SELECT v, u FROM $prev)
         |), ${topk(s"cand$r", s"e$r", "pts", "pts")}""".stripMargin
    }.mkString(", ")
    s"""WITH pts AS MATERIALIZED (
       |  SELECT vec_id AS pid, embedding AS pvec FROM embeddings
       |  WHERE vec_id >= 50
       |), nb AS (
       |  SELECT greatest(CAST(ceil(CAST(COUNT(*) AS DOUBLE)
       |    / $bucketTarget.0) AS BIGINT), 1) AS b FROM pts
       |), npts AS MATERIALIZED (
       |  SELECT vec_id AS pid, embedding AS pvec FROM embeddings
       |  WHERE vec_id < 50
       |), $wbCtes, $nwbCtes, cand0 AS (
       |  SELECT DISTINCT v, u FROM (
       |$initUnion)
       |), ${topk("cand0", "e0", "pts", "pts")}, $roundCtes,
       |ic0 AS (
       |  SELECT DISTINCT v, u FROM (
       |$insUnion)
       |), hop AS (
       |  SELECT DISTINCT i.v, e.u FROM ic0 i JOIN e$rounds e
       |  ON i.u = e.v
       |), icand AS (
       |  SELECT DISTINCT v, u FROM (
       |    SELECT v, u FROM ic0 UNION ALL SELECT v, u FROM hop)
       |), ${topk("icand", "ins", "npts", "pts")},
       |tp AS (
       |  SELECT n.pid AS qid, c.pid AS cid,
       |    ${dotSql("qv", "cv")} AS dot,
       |    ${normSql("qv")} AS nq,
       |    ${normSql("cv")} AS nc
       |  FROM (SELECT pid, pvec AS qv FROM npts) n,
       |    (SELECT pid, pvec AS cv FROM pts) c
       |  WHERE n.pid <> c.pid
       |), truth AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT qid AS query_id, cid AS neighbor_id,
       |      CAST(row_number() OVER (PARTITION BY qid
       |        ORDER BY round($cosSql, 6) DESC, cid) AS INT) AS rk
       |    FROM tp)
       |  WHERE rk <= $kTruth
       |)
       |SELECT t.query_id, CAST(COUNT(i.v) AS BIGINT) AS found,
       |  round(CAST(COUNT(i.v) AS DOUBLE) / $kTruth.0, 6) AS recall
       |FROM truth t LEFT JOIN ins i
       |  ON i.v = t.query_id AND i.u = t.neighbor_id
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** DuckDB replay of [[operators.Retrieval.queryLikelihood]] (Dirichlet
    * mu=100): `termsValues` is the VALUES list for the query-term table,
    * e.g. "('spark'), ('join'), ('window')". Nestable as a subquery. */
  def qlmSql(termsValues: String, topN: Int): String =
    s"""WITH dl AS MATERIALIZED (
       |  SELECT doc_id, len($toksSql) AS dl FROM documents
       |), tot AS (SELECT CAST(SUM(dl) AS BIGINT) AS tt FROM dl),
       |q(t) AS (VALUES $termsValues),
       |tfm AS (
       |  SELECT doc_id, t, CAST(COUNT(*) AS DOUBLE) AS tf
       |  FROM (SELECT doc_id, unnest($toksSql) AS t FROM documents)
       |  WHERE t IN (SELECT t FROM q) GROUP BY 1, 2
       |), cfp AS MATERIALIZED (
       |  SELECT t, round(CAST(CAST(COUNT(*) AS BIGINT) AS DOUBLE)
       |    / CAST(tt AS DOUBLE), 12) AS pw
       |  FROM (SELECT doc_id, unnest($toksSql) AS t FROM documents),
       |    tot
       |  WHERE t IN (SELECT t FROM q) GROUP BY t, tt
       |), cs AS (
       |  SELECT SUM(CAST(round(ln(100.0 * pw), 9) AS DECIMAL(38,9)))
       |      AS c0,
       |    CAST(COUNT(*) AS INTEGER) AS nq
       |  FROM cfp
       |), adj AS (
       |  SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_match,
       |    SUM(CAST(round(ln(tf + 100.0 * pw) - ln(100.0 * pw), 9)
       |      AS DECIMAL(38,9))) AS adj
       |  FROM tfm JOIN cfp USING (t) GROUP BY 1
       |), scored AS (
       |  SELECT dl.doc_id, coalesce(n_match, 0) AS n_match,
       |    round(CAST(c0 AS DOUBLE)
       |      + CAST(coalesce(adj, CAST(0 AS DECIMAL(38,9)))
       |          AS DOUBLE)
       |      - CAST(nq AS DOUBLE) * ln(CAST(dl AS DOUBLE) + 100.0),
       |      6) AS score
       |  FROM dl LEFT JOIN adj USING (doc_id), cs
       |)
       |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id)
       |    AS INTEGER) AS rk, doc_id, n_match, score
       |FROM scored ORDER BY score DESC, doc_id LIMIT $topN""".stripMargin

  def bm25Sql(termsInList: String, topN: Int): String =
    s"""WITH dl AS (
       |  SELECT doc_id,
       |    len(list_filter(regexp_split_to_array(text, '\\s+'),
       |      x -> x <> '')) AS dl
       |  FROM documents
       |), stats AS (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
       |    CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
       |  FROM dl
       |), tf AS (
       |  SELECT doc_id, t, CAST(COUNT(*) AS DOUBLE) AS tf
       |  FROM (
       |    SELECT doc_id,
       |      unnest(list_filter(regexp_split_to_array(text, '\\s+'),
       |        x -> x <> '')) AS t
       |    FROM documents)
       |  WHERE t IN ($termsInList)
       |  GROUP BY 1, 2
       |), df AS (
       |  SELECT t, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1
       |), scored AS (
       |  SELECT tf.doc_id,
       |    ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
       |      * (tf * 2.2 / (tf + 1.2
       |        * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / avgdl))) AS s
       |  FROM tf JOIN df USING (t) JOIN dl USING (doc_id) CROSS JOIN stats
       |), agg AS (
       |  SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_terms,
       |    round(CAST(SUM(CAST(s AS DECIMAL(38,6))) AS DOUBLE), 6) AS score
       |  FROM scored GROUP BY 1
       |)
       |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id)
       |    AS INTEGER) AS rk,
       |  doc_id, n_terms, score
       |FROM agg ORDER BY score DESC, doc_id LIMIT $topN""".stripMargin
}
