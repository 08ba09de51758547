package graft
package registry

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{Sampling, TextAnalysis}

import SparkHelpers._
import SqlHelpers._

/** The suite's statistical estimators, tests, synopses and sampling
  * (operators.Stats, Sampling). */
private[graft] object StatsQueries {

  val specs: Seq[QuerySpec] = Seq(

    QuerySpec("q88_dsir_resample", ((s, dir) => {
      // DSIR data selection: 100 docs that look most like the src0 slice
      // under unigram importance weights + deterministic hash-Gumbel
      // resampling (Xie et al. 2023; no rand(), engine-portable)
      val docs = t(s, dir, "documents")
      operators.Sampling.dsirResample(docs,
          docs.filter(col("source") === "src0"),
          n = 100)
        .select(col("rk"), col("id").as("doc_id"), col("logw"), col("score"))
        .orderBy(col("rk"))
    }),
      s"""WITH base AS (
         |  SELECT doc_id, $toksSql AS tk FROM documents
         |), tf AS (
         |  SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(tk) AS t FROM base)
         |  GROUP BY doc_id, t
         |), raw AS (SELECT t, SUM(tf) AS c_raw FROM tf GROUP BY t),
         |tgt AS (
         |  SELECT t, SUM(tf) AS c_tgt FROM tf
         |  JOIN documents USING (doc_id) WHERE source = 'src0' GROUP BY t
         |), sc AS (
         |  SELECT (SELECT CAST(SUM(c_raw) AS DOUBLE) FROM raw) AS n_raw,
         |    (SELECT CAST(COUNT(*) AS DOUBLE) FROM raw) AS v_raw,
         |    (SELECT CAST(COALESCE(SUM(c_tgt), 0) AS DOUBLE) FROM tgt)
         |      AS n_tgt,
         |    (SELECT CAST(COUNT(*) AS DOUBLE) FROM tgt) AS v_tgt
         |), lr AS (
         |  SELECT r.t,
         |    ln((CAST(COALESCE(g.c_tgt, 0) AS DOUBLE) + 0.5)
         |        / (n_tgt + 0.5 * v_tgt))
         |      - ln((CAST(r.c_raw AS DOUBLE) + 0.5) / (n_raw + 0.5 * v_raw))
         |      AS lratio
         |  FROM raw r LEFT JOIN tgt g USING (t), sc
         |), lw AS (
         |  SELECT doc_id,
         |    round(CAST(SUM(CAST(CAST(tf AS DOUBLE) * lratio
         |      AS DECIMAL(38,6))) AS DOUBLE), 6) AS logw
         |  FROM tf JOIN lr USING (t) GROUP BY doc_id
         |), su AS (
         |  SELECT doc_id, logw,
         |    round(logw - ln(-ln(
         |      (CAST(list_sum([CAST(round(pow(16, 7 - i)) AS BIGINT) *
         |        (strpos('0123456789abcdef',
         |          substr(md5(CAST(doc_id AS VARCHAR)), i + 1, 1)) - 1)
         |        for i in range(0, 8)]) AS DOUBLE) + 1.0) / 4294967297.0)), 6)
         |      AS score
         |  FROM lw)
         |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
         |    AS rk,
         |  doc_id, logw, score
         |FROM su ORDER BY score DESC, doc_id LIMIT 100""".stripMargin),

    QuerySpec("q74_doc_stratified", ((s, dir) => {
      // exact-count per-language sample (the "same-size eval slice per
      // language" ask): two-phase candidate trim, so only ~margin*n rows
      // per group ever reach the rank window — the naive per-group window
      // is the skew cliff at 100 TB (one language can be half the corpus)
      graft.operators.Sampling.stratifiedSample(
          t(s, dir, "documents"), n = 20)
        .select(col("lang"), col("doc_id"), col("rk"))
        .orderBy(col("lang"), col("rk"))
    }),
      """SELECT lang, doc_id, CAST(rk AS INT) AS rk FROM (
        |  SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
        |    ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id)
        |    AS rk
        |  FROM documents)
        |WHERE rk <= 20 ORDER BY lang, rk""".stripMargin),

    QuerySpec("q97_source_cap", ((s, dir) => {
      // RefinedWeb-style per-domain cap with quality priority: at most 50
      // docs per source, keeping the HIGHEST-quality ones (q31's portable
      // score). The bounded TopKAgg heap makes this a partial-combined
      // aggregation — never a corpus-wide per-domain window (one domain
      // can be half of 100 TB; the heap exchange is ≤50 rows per
      // partition-group regardless).
      operators.Sampling.cappedByScore(t(s, dir, "documents"), TextAnalysis.qualityScore, n = 50)
        .select(col("source"), col("doc_id"), col("score"), col("rk"))
        .orderBy(col("source"), col("rk"))
    }),
      s"""WITH stats AS (
         |  SELECT doc_id, source,
         |    CASE WHEN length(text) = 0 THEN 0.0
         |      ELSE CAST(length(regexp_replace(text,
         |          '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE)
         |        / CAST(length(text) AS DOUBLE) END AS punct_ratio,
         |    CASE WHEN len(tk) = 0 THEN 0.0
         |      ELSE CAST(len(list_filter(tk,
         |          t -> list_contains($stopwordsSql, lower(t)))) AS DOUBLE)
         |        / CAST(len(tk) AS DOUBLE) END AS stopword_ratio,
         |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score
         |  FROM (SELECT doc_id, source, text, $toksSql AS tk
         |        FROM documents)
         |), q AS (
         |  SELECT doc_id, source,
         |    round(len_score * (1.0 - punct_ratio)
         |      * (0.5 + stopword_ratio / 2.0), 6) AS score
         |  FROM stats
         |), r AS (
         |  SELECT source, doc_id, score,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY score DESC, doc_id) AS INT) AS rk
         |  FROM q)
         |SELECT source, doc_id, score, rk FROM r
         |WHERE rk <= 50 ORDER BY source, rk""".stripMargin),

    QuerySpec("q110_filter_funnel", ((s, dir) => {
      // C4/RefinedWeb-style cleaning-funnel report: per-stage survivor and
      // drop counts for the cascade blocklist → lang → length → quality.
      // ONE corpus scan (each stage is a conditional-sum column of a single
      // partial-combined aggregate), not one count job per stage.
      Sampling.filterFunnel(t(s, dir, "documents"), Seq(
        "blocklist" -> !col("source").isin("src17", "src18", "src19"),
        "lang_en" -> (col("lang") === "en"),
        "min_len" -> (col("n_chars") >= 200),
        "quality" -> (TextAnalysis.qualityScore >= 0.3)))
        .orderBy(col("stage_id"))
    }),
      s"""WITH stats AS (
         |  SELECT doc_id, source, lang, n_chars,
         |    CASE WHEN length(text) = 0 THEN 0.0
         |      ELSE CAST(length(regexp_replace(text,
         |          '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE)
         |        / CAST(length(text) AS DOUBLE) END AS punct_ratio,
         |    CASE WHEN len(tk) = 0 THEN 0.0
         |      ELSE CAST(len(list_filter(tk,
         |          t -> list_contains($stopwordsSql, lower(t)))) AS DOUBLE)
         |        / CAST(len(tk) AS DOUBLE) END AS stopword_ratio,
         |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score
         |  FROM (SELECT doc_id, source, lang, n_chars, text, $toksSql AS tk
         |        FROM documents)
         |), b AS (
         |  SELECT source NOT IN ('src17', 'src18', 'src19') AS b1,
         |    lang = 'en' AS b2, n_chars >= 200 AS b3,
         |    round(len_score * (1.0 - punct_ratio)
         |      * (0.5 + stopword_ratio / 2.0), 6) >= 0.3 AS b4
         |  FROM stats
         |), c AS (
         |  SELECT count(*) AS s0,
         |    count(*) FILTER (b1) AS s1,
         |    count(*) FILTER (b1 AND b2) AS s2,
         |    count(*) FILTER (b1 AND b2 AND b3) AS s3,
         |    count(*) FILTER (b1 AND b2 AND b3 AND b4) AS s4
         |  FROM b
         |)
         |SELECT * FROM (
         |  SELECT 0 AS stage_id, 'total' AS stage, s0 AS surviving,
         |    CAST(0 AS BIGINT) AS dropped FROM c
         |  UNION ALL SELECT 1, 'blocklist', s1, s0 - s1 FROM c
         |  UNION ALL SELECT 2, 'lang_en', s2, s1 - s2 FROM c
         |  UNION ALL SELECT 3, 'min_len', s3, s2 - s3 FROM c
         |  UNION ALL SELECT 4, 'quality', s4, s3 - s4 FROM c)
         |ORDER BY stage_id""".stripMargin),

    QuerySpec("q143_weighted_sample", ((s, dir) => {
      // weighted sampling WITHOUT replacement (Efraimidis–Spirakis
      // A-ES, Gumbel-key form): 25 docs per language, length-weighted,
      // fully deterministic (md5-derived uniforms — a retry or another
      // engine draws the identical sample). The per-group top-n rides
      // the bounded TopKAgg heap, so a language holding half the corpus
      // still can't funnel one task. Complements q74 (uniform exact-n)
      // and q88 (global importance resample).
      Sampling.weightedSample(t(s, dir, "documents"),
          col("n_chars").cast("double"), n = 25)
        .orderBy(col("lang"), col("rk"))
    }),
      """WITH sc AS (
        |  SELECT lang, doc_id,
        |    round(ln(CAST(n_chars AS DOUBLE)) - ln(-ln(
        |      (CAST(list_sum([CAST(round(pow(16, 7 - i)) AS BIGINT) *
        |        (strpos('0123456789abcdef',
        |          substr(md5(CAST(doc_id AS VARCHAR)), i + 1, 1)) - 1)
        |        for i in range(0, 8)]) AS DOUBLE) + 1.0) / 4294967297.0)),
        |      6) AS score
        |  FROM documents
        |)
        |SELECT lang, doc_id, score, CAST(rk AS INTEGER) AS rk FROM (
        |  SELECT lang, doc_id, score,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY score DESC, doc_id ASC) AS rk
        |  FROM sc)
        |WHERE rk <= 25 ORDER BY lang, rk""".stripMargin),

    QuerySpec("q147_ab_test", ((s, dir) => {
      // two-proportion z-test over a deterministic 50/50 user split (the
      // q63 md5 idiom — no rand(), a retry or another engine assigns the
      // identical arms): does arm A's high-value-purchase conversion
      // (a purchase with value >= 200 — every user purchases SOMETHING,
      // so raw purchase saturates at 100%) differ from arm B's? One
      // user-keyed aggregate then one global conditional aggregate —
      // the readout an experimentation pipeline publishes.
      val ev = t(s, dir, "events")
      val units = ev.groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase"
            && col("value") >= 200, 1).otherwise(0))
          .as("converted"))
        .withColumn("arm",
          when(substring(md5(col("user_id").cast("string")), 1, 1) < "8",
            lit("A")).otherwise(lit("B")))
      operators.Stats.abZTest(units)
    }),
      """WITH units AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' AND value >= 200
        |      THEN 1 ELSE 0 END) AS converted,
        |    CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
        |      THEN 'A' ELSE 'B' END AS arm
        |  FROM events GROUP BY 1
        |), a AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_a,
        |    CAST(SUM(CASE WHEN arm <> 'A' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b,
        |    CAST(SUM(CASE WHEN arm = 'A' THEN converted ELSE 0 END)
        |      AS BIGINT) AS conv_a,
        |    CAST(SUM(CASE WHEN arm <> 'A' THEN converted ELSE 0 END)
        |      AS BIGINT) AS conv_b
        |  FROM units
        |)
        |SELECT n_a, n_b, conv_a, conv_b,
        |  round(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS p_a,
        |  round(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS p_b,
        |  round((CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |      - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |    / sqrt(CAST(conv_a + conv_b AS DOUBLE)
        |        / CAST(n_a + n_b AS DOUBLE)
        |      * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
        |        / CAST(n_a + n_b AS DOUBLE))
        |      * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))),
        |    6) AS z
        |FROM a""".stripMargin),

    QuerySpec("q148_profile", ((s, dir) => {
      // one-pass per-column data profile of `orders` (null counts, EXACT
      // distincts via a single Expand scan, native-order min/max rendered
      // portably) — the pre-publish data-quality card of §2's warehouse
      // loads.
      operators.Stats.columnProfile(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority"),
        (name, c) => name match {
          case "o_orderdate" => date_format(c, "yyyy-MM-dd HH:mm:ss")
          case "o_totalprice" =>
            round(c, 2).cast("decimal(18,2)").cast("string")
          case _ => c.cast("string")
        })
    }),
      """SELECT * FROM (
        |  SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
        |    CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_null,
        |    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
        |    CAST(min(o_orderkey) AS VARCHAR) AS min_s,
        |    CAST(max(o_orderkey) AS VARCHAR) AS max_s
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', count(*),
        |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT),
        |    CAST(count(DISTINCT o_custkey) AS BIGINT),
        |    CAST(min(o_custkey) AS VARCHAR),
        |    CAST(max(o_custkey) AS VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', count(*),
        |    CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT),
        |    CAST(count(DISTINCT o_orderstatus) AS BIGINT),
        |    min(o_orderstatus), max(o_orderstatus)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_totalprice', count(*),
        |    CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT),
        |    CAST(count(DISTINCT o_totalprice) AS BIGINT),
        |    CAST(CAST(round(min(o_totalprice), 2) AS DECIMAL(18,2))
        |      AS VARCHAR),
        |    CAST(CAST(round(max(o_totalprice), 2) AS DECIMAL(18,2))
        |      AS VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderdate', count(*),
        |    CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT),
        |    CAST(count(DISTINCT o_orderdate) AS BIGINT),
        |    strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S'),
        |    strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S')
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', count(*),
        |    CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT),
        |    CAST(count(DISTINCT o_orderpriority) AS BIGINT),
        |    min(o_orderpriority), max(o_orderpriority)
        |  FROM orders
        |) ORDER BY col_name""".stripMargin),

    QuerySpec("q152_histogram", ((s, dir) => {
      // equi-depth histogram boundaries (exact interior deciles) for the
      // three numeric lineitem measures, all in ONE scan — the
      // distribution card that turns q148's min/max profile into
      // something a skew/pricing analysis can read.
      operators.Stats.equiDepthHistogram(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount"))
    }),
      """WITH a AS (
        |  SELECT
        |    quantile_cont(l_quantity,
        |      [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS q1,
        |    quantile_cont(l_extendedprice,
        |      [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS q2,
        |    quantile_cont(l_discount,
        |      [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS q3
        |  FROM lineitem
        |)
        |SELECT col_name, pct, boundary FROM (
        |  SELECT 'l_quantity' AS col_name, CAST(10 * i AS INT) AS pct,
        |    round(q1[i], 6) AS boundary
        |  FROM a, range(1, 10) t(i)
        |  UNION ALL
        |  SELECT 'l_extendedprice', CAST(10 * i AS INT), round(q2[i], 6)
        |  FROM a, range(1, 10) t(i)
        |  UNION ALL
        |  SELECT 'l_discount', CAST(10 * i AS INT), round(q3[i], 6)
        |  FROM a, range(1, 10) t(i)
        |) ORDER BY col_name, pct""".stripMargin),

    QuerySpec("q156_psi_drift", ((s, dir) => {
      // PSI drift of the event value distribution, first half of the
      // month (reference) vs the rest (current): reference-decile bins
      // broadcast, slices bucketed map-side, add-one smoothing — the
      // model-monitoring readout between corpus snapshots.
      val ev = t(s, dir, "events")
      val cutoff = lit(java.sql.Timestamp.valueOf("2024-01-16 00:00:00"))
      operators.Stats.psiDrift(
        ev.filter(col("ts") < cutoff),
        ev.filter(col("ts") >= cutoff))
    }),
      """WITH ref AS (
        |  SELECT value FROM events
        |  WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
        |), cur AS (
        |  SELECT value FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
        |), bs AS (
        |  SELECT list_transform(quantile_cont(value,
        |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
        |    b -> round(b, 6)) AS bs
        |  FROM ref
        |), rb AS (
        |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_ref
        |  FROM (SELECT list_sum(list_transform(bs,
        |          b -> CASE WHEN value > b THEN 1 ELSE 0 END)) AS bucket
        |        FROM ref CROSS JOIN bs)
        |  GROUP BY 1
        |), cb AS (
        |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_cur
        |  FROM (SELECT list_sum(list_transform(bs,
        |          b -> CASE WHEN value > b THEN 1 ELSE 0 END)) AS bucket
        |        FROM cur CROSS JOIN bs)
        |  GROUP BY 1
        |), spine AS (
        |  SELECT i AS bucket FROM range(0, 10) t(i)
        |), per AS (
        |  SELECT bucket, coalesce(n_ref, 0) AS n_ref,
        |    coalesce(n_cur, 0) AS n_cur
        |  FROM spine LEFT JOIN rb USING (bucket)
        |  LEFT JOIN cb USING (bucket)
        |), tot AS (
        |  SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM per
        |), sc AS (
        |  SELECT bucket, n_ref, n_cur,
        |    round(CAST(n_ref + 1 AS DOUBLE)
        |      / CAST(t_ref + 10 AS DOUBLE), 9) AS p_ref,
        |    round(CAST(n_cur + 1 AS DOUBLE)
        |      / CAST(t_cur + 10 AS DOUBLE), 9) AS p_cur
        |  FROM per CROSS JOIN tot
        |), sc2 AS (
        |  SELECT bucket, n_ref, n_cur, p_ref, p_cur,
        |    round((p_cur - p_ref) * ln(p_cur / p_ref), 9) AS contrib
        |  FROM sc
        |), psi AS (
        |  SELECT round(CAST(SUM(CAST(contrib AS DECIMAL(38,9)))
        |    AS DOUBLE), 6) AS psi
        |  FROM sc2
        |)
        |SELECT CAST(bucket AS INT) AS bucket, n_ref, n_cur,
        |  p_ref, p_cur, contrib, psi
        |FROM sc2 CROSS JOIN psi ORDER BY bucket""".stripMargin),

    QuerySpec("q162_auc", ((s, dir) => {
      // rank-sum (Mann-Whitney) ROC AUC of a per-vector score against
      // a binary label — the threshold-free gate readout: score = the
      // vector's first component, positive = even cluster label. Bins
      // partial-combine; the prefix window rides the bounded bin table.
      val emb = t(s, dir, "embeddings")
      operators.Stats.aucRankSum(
        emb.select(element_at(col("embedding"), 1).as("score"),
          (col("label") % 2 === 0).as("pos")))
    }),
      """WITH b AS (
        |  SELECT round(CAST(embedding[1] AS DOUBLE), 6) AS s,
        |    sum(CASE WHEN label % 2 = 0 THEN 1 ELSE 0 END) AS np,
        |    sum(CASE WHEN label % 2 = 0 THEN 0 ELSE 1 END) AS nn
        |  FROM embeddings GROUP BY 1
        |), w AS (
        |  SELECT np, nn,
        |    coalesce(sum(nn) OVER (ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS below
        |  FROM b
        |)
        |SELECT CAST(sum(np) AS BIGINT) AS n_pos,
        |  CAST(sum(nn) AS BIGINT) AS n_neg,
        |  round(CAST(sum(2 * np * below + np * nn) AS DOUBLE)
        |    / (2.0 * CAST(sum(np) AS DOUBLE) * CAST(sum(nn) AS DOUBLE)),
        |    6) AS auc
        |FROM w""".stripMargin),

    QuerySpec("q163_basket_lift", ((s, dir) => {
      // pairwise association rules over order baskets: support /
      // directional confidence / lift, minCount >= 3, top 100 by lift.
      // Pair fanout is basket-size-bounded; item counts broadcast.
      operators.Stats.associationLift(t(s, dir, "lineitem"), minCount = 3, topN = 100)
    }),
      """WITH bi AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |  FROM lineitem
        |), nb AS (
        |  SELECT count(DISTINCT bk) AS n_baskets FROM bi
        |), items AS (
        |  SELECT it, count(*) AS n_item FROM bi GROUP BY 1
        |), pairs AS (
        |  SELECT a.it AS item_a, b.it AS item_b,
        |    CAST(count(*) AS BIGINT) AS n_ab
        |  FROM bi a JOIN bi b ON a.bk = b.bk AND a.it < b.it
        |  GROUP BY 1, 2 HAVING count(*) >= 3
        |)
        |SELECT item_a, item_b, n_ab,
        |  round(CAST(n_ab AS DOUBLE) / CAST(n_baskets AS DOUBLE), 6)
        |    AS support,
        |  round(CAST(n_ab AS DOUBLE) / CAST(ia.n_item AS DOUBLE), 6)
        |    AS conf_ab,
        |  round(CAST(n_ab AS DOUBLE) / CAST(ib.n_item AS DOUBLE), 6)
        |    AS conf_ba,
        |  round(CAST(n_baskets AS DOUBLE) * CAST(n_ab AS DOUBLE)
        |    / (CAST(ia.n_item AS DOUBLE) * CAST(ib.n_item AS DOUBLE)), 6)
        |    AS lift
        |FROM pairs
        |JOIN items ia ON ia.it = item_a
        |JOIN items ib ON ib.it = item_b, nb
        |ORDER BY lift DESC, item_a, item_b LIMIT 100""".stripMargin),

    QuerySpec("q164_rfm", ((s, dir) => {
      // RFM lifecycle segmentation: per-customer recency / frequency /
      // monetary scored 1-5 against exact population quintile fences
      // (broadcast, assigned map-side), rolled up to segment cells.
      operators.Stats.rfmSegments(t(s, dir, "orders"))
    }),
      """WITH per AS MATERIALIZED (
        |  SELECT o_custkey AS cust, max(o_orderdate) AS last_d,
        |    CAST(count(*) AS BIGINT) AS f,
        |    sum(CAST(o_totalprice AS DECIMAL(38,6))) AS m
        |  FROM orders GROUP BY 1
        |), rfm AS MATERIALIZED (
        |  SELECT cust,
        |    CAST(date_diff('day', CAST(last_d AS DATE),
        |      CAST((SELECT max(last_d) FROM per) AS DATE)) AS BIGINT)
        |      AS r,
        |    f, CAST(m AS DOUBLE) AS md, m
        |  FROM per
        |), fen AS (
        |  SELECT
        |    round(quantile_cont(CAST(r AS DOUBLE), 0.2), 6) AS r1,
        |    round(quantile_cont(CAST(r AS DOUBLE), 0.4), 6) AS r2,
        |    round(quantile_cont(CAST(r AS DOUBLE), 0.6), 6) AS r3,
        |    round(quantile_cont(CAST(r AS DOUBLE), 0.8), 6) AS r4,
        |    round(quantile_cont(CAST(f AS DOUBLE), 0.2), 6) AS f1,
        |    round(quantile_cont(CAST(f AS DOUBLE), 0.4), 6) AS f2,
        |    round(quantile_cont(CAST(f AS DOUBLE), 0.6), 6) AS f3,
        |    round(quantile_cont(CAST(f AS DOUBLE), 0.8), 6) AS f4,
        |    round(quantile_cont(md, 0.2), 6) AS m1,
        |    round(quantile_cont(md, 0.4), 6) AS m2,
        |    round(quantile_cont(md, 0.6), 6) AS m3,
        |    round(quantile_cont(md, 0.8), 6) AS m4
        |  FROM rfm
        |), scoredc AS (
        |  SELECT
        |    CAST(6 - (1
        |      + (CASE WHEN CAST(r AS DOUBLE) > r1 THEN 1 ELSE 0 END)
        |      + (CASE WHEN CAST(r AS DOUBLE) > r2 THEN 1 ELSE 0 END)
        |      + (CASE WHEN CAST(r AS DOUBLE) > r3 THEN 1 ELSE 0 END)
        |      + (CASE WHEN CAST(r AS DOUBLE) > r4 THEN 1 ELSE 0 END))
        |      AS INT) AS r_score,
        |    CAST(1
        |      + (CASE WHEN CAST(f AS DOUBLE) > f1 THEN 1 ELSE 0 END)
        |      + (CASE WHEN CAST(f AS DOUBLE) > f2 THEN 1 ELSE 0 END)
        |      + (CASE WHEN CAST(f AS DOUBLE) > f3 THEN 1 ELSE 0 END)
        |      + (CASE WHEN CAST(f AS DOUBLE) > f4 THEN 1 ELSE 0 END)
        |      AS INT) AS f_score,
        |    CAST(1
        |      + (CASE WHEN md > m1 THEN 1 ELSE 0 END)
        |      + (CASE WHEN md > m2 THEN 1 ELSE 0 END)
        |      + (CASE WHEN md > m3 THEN 1 ELSE 0 END)
        |      + (CASE WHEN md > m4 THEN 1 ELSE 0 END)
        |      AS INT) AS m_score,
        |    m
        |  FROM rfm, fen
        |)
        |SELECT r_score, f_score, m_score,
        |  CAST(count(*) AS BIGINT) AS n_customers,
        |  round(CAST(sum(m) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        |    AS avg_m
        |FROM scoredc GROUP BY 1, 2, 3
        |ORDER BY r_score, f_score, m_score""".stripMargin),

    QuerySpec("q167_gini", ((s, dir) => {
      // Gini concentration of corpus mass over per-doc length: the
      // inequality monitor ("is half the corpus one source's boiler-
      // plate?"). Exact integer trapezoid over the bounded length
      // histogram.
      operators.Stats.giniConcentration(t(s, dir, "documents"))
    }),
      """WITH hist AS (
        |  SELECT CAST(n_chars AS BIGINT) AS v, count(*) AS c
        |  FROM documents GROUP BY 1
        |), h2 AS (
        |  SELECT v, c, c * v AS m,
        |    coalesce(sum(c * v) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS mb
        |  FROM hist
        |)
        |SELECT CAST(sum(c) AS BIGINT) AS n,
        |  CAST(sum(m) AS BIGINT) AS total_mass,
        |  round(1.0 - CAST(sum(CAST(c AS DECIMAL(19,0))
        |      * CAST(2 * mb + m AS DECIMAL(19,0))) AS DOUBLE)
        |    / (CAST(sum(c) AS DOUBLE) * CAST(sum(m) AS DOUBLE)), 6)
        |    AS gini
        |FROM h2""".stripMargin),

    QuerySpec("q170_benford", ((s, dir) => {
      // Benford first-digit audit of order totals: observed leading-
      // digit shares vs log10(1 + 1/d) with the chi-square statistic —
      // the fabricated-data smoke test. Digit extraction rides the
      // scan via the DECIMAL string rendering (no log10 boundary ulp).
      operators.Stats.benfordAudit(t(s, dir, "orders"))
    }),
      """WITH obs AS (
        |  SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2))
        |      AS VARCHAR), 1, 1) AS INT) AS digit,
        |    CAST(count(*) AS BIGINT) AS n_obs
        |  FROM orders WHERE o_totalprice >= 1 GROUP BY 1
        |), tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM obs),
        |sc AS MATERIALIZED (
        |  SELECT digit, n_obs,
        |    round(CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE), 9)
        |      AS share,
        |    round(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0), 9)
        |      AS expected,
        |    n
        |  FROM obs, tot
        |), sc2 AS MATERIALIZED (
        |  SELECT *,
        |    round((share - expected) * (share - expected) / expected
        |      * CAST(n AS DOUBLE), 9) AS contrib
        |  FROM sc
        |), ch AS (
        |  SELECT round(CAST(sum(CAST(contrib AS DECIMAL(38,9)))
        |    AS DOUBLE), 6) AS chi2
        |  FROM sc2
        |)
        |SELECT digit, n_obs, share, expected, contrib, chi2
        |FROM sc2, ch ORDER BY digit""".stripMargin),

    QuerySpec("q175_weighted_median", ((s, dir) => {
      // mass-weighted quartiles of doc length per source: "half this
      // source's BYTES sit in docs shorter than X" — integer-exact
      // (100·cumw >= p·W), no interpolation; the histogram bounds
      // every post-shuffle step.
      operators.Stats.weightedQuantiles(t(s, dir, "documents"),
          "n_chars", "n_chars", Seq(25, 50, 75))
        .orderBy(col("key"), col("pct"))
    }),
      """WITH hist AS MATERIALIZED (
        |  SELECT source AS key, CAST(n_chars AS BIGINT) AS v,
        |    CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS wv
        |  FROM documents GROUP BY 1, 2
        |), cum AS (
        |  SELECT key, v,
        |    sum(wv) OVER (PARTITION BY key ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |    sum(wv) OVER (PARTITION BY key) AS tw
        |  FROM hist
        |), pts AS (
        |  SELECT key, v, cw, tw, p.pct
        |  FROM cum, (SELECT unnest([25, 50, 75]) AS pct) p
        |)
        |SELECT key, CAST(pct AS INT) AS pct,
        |  CAST(min(v) AS BIGINT) AS value
        |FROM pts WHERE 100 * cw >= pct * tw
        |GROUP BY 1, 2 ORDER BY key, pct""".stripMargin),

    QuerySpec("q176_contingency", ((s, dir) => {
      // chi-square independence + mutual information between event type
      // and hour-of-day in ONE contingency pass: the dependence probe
      // ("is type just a proxy for time?") behind leakage audits.
      val ev = t(s, dir, "events")
      operators.Stats.contingencyStats(
        ev.select(col("event_type").as("a"),
          hour(col("ts")).cast("int").as("b")))
    }),
      """WITH ct AS MATERIALIZED (
        |  SELECT event_type AS a, CAST(CAST(hour(ts) AS INT) AS VARCHAR)
        |      AS b,
        |    count(*) AS c
        |  FROM events GROUP BY 1, 2
        |), tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM ct),
        |ma AS (SELECT a, CAST(sum(c) AS BIGINT) AS ra FROM ct GROUP BY 1),
        |mb AS (SELECT b, CAST(sum(c) AS BIGINT) AS cb FROM ct GROUP BY 1),
        |dofs AS (
        |  SELECT CAST(((SELECT count(*) FROM ma) - 1)
        |    * ((SELECT count(*) FROM mb) - 1) AS BIGINT) AS dof
        |), cells AS MATERIALIZED (
        |  SELECT
        |    round((CAST(c AS DOUBLE) - e) * (CAST(c AS DOUBLE) - e) / e,
        |      9) AS chi_t,
        |    round(e, 9) AS e_t,
        |    round((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |      * ln(CAST(CAST(c AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))
        |          AS DOUBLE)
        |        / CAST(CAST(ra AS DECIMAL(19,0)) * CAST(cb AS DECIMAL(19,0))
        |          AS DOUBLE)), 9) AS mi_t
        |  FROM (
        |    SELECT ct.c, ma.ra, mb.cb, tot.n,
        |      CAST(CAST(ma.ra AS DECIMAL(19,0))
        |          * CAST(mb.cb AS DECIMAL(19,0)) AS DOUBLE)
        |        / CAST(tot.n AS DOUBLE) AS e
        |    FROM ct JOIN ma USING (a) JOIN mb USING (b), tot)
        |), sums AS (
        |  SELECT
        |    CAST(sum(CAST(chi_t AS DECIMAL(38,9))) AS DOUBLE) AS chi_o,
        |    CAST(sum(CAST(e_t AS DECIMAL(38,9))) AS DOUBLE) AS e_o,
        |    round(CAST(sum(CAST(mi_t AS DECIMAL(38,9))) AS DOUBLE), 6)
        |      AS mi
        |  FROM cells
        |)
        |SELECT n, dof,
        |  round(chi_o + (CAST(n AS DOUBLE) - e_o), 6) AS chi2, mi
        |FROM tot, dofs, sums""".stripMargin),

    QuerySpec("q177_pct_rank", ((s, dir) => {
      // percentile-rank (midrank) normalization of doc length over the
      // bounded value histogram — the scale-free transform for blending
      // heterogeneous quality signals; the corpus never sorts globally.
      operators.Stats.percentileRanks(t(s, dir, "documents"))
        .orderBy(col("v"))
    }),
      """WITH hist AS (
        |  SELECT CAST(n_chars AS BIGINT) AS v,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1
        |), w AS (
        |  SELECT v, c,
        |    coalesce(sum(c) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS below,
        |    (SELECT sum(c) FROM hist) AS n
        |  FROM hist
        |)
        |SELECT v, c,
        |  round((CAST(below AS DOUBLE) + 0.5 * CAST(c AS DOUBLE))
        |    / CAST(n AS DOUBLE), 6) AS pct_rank
        |FROM w ORDER BY v""".stripMargin),

    QuerySpec("q185_fd_audit", ((s, dir) => {
      // functional-dependency audit over the order lines: does the
      // order determine its supplier / part its supplier? The
      // schema-contract probe before trusting a column as a join key.
      operators.Stats.fdAudit(t(s, dir, "lineitem"),
        Seq("l_orderkey" -> "l_suppkey", "l_partkey" -> "l_suppkey",
          "l_orderkey" -> "l_shipdate"))
    }),
      """WITH r1 AS (
        |  SELECT 'l_orderkey->l_suppkey' AS fd,
        |    CAST(count(*) AS BIGINT) AS n_keys,
        |    CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS bad_keys,
        |    CAST(sum(CASE WHEN nd > 1 THEN nr ELSE 0 END) AS BIGINT)
        |      AS bad_rows
        |  FROM (SELECT l_orderkey, count(*) AS nr,
        |          count(DISTINCT l_suppkey) AS nd
        |        FROM lineitem GROUP BY 1)
        |), r2 AS (
        |  SELECT 'l_partkey->l_suppkey' AS fd,
        |    CAST(count(*) AS BIGINT) AS n_keys,
        |    CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS bad_keys,
        |    CAST(sum(CASE WHEN nd > 1 THEN nr ELSE 0 END) AS BIGINT)
        |      AS bad_rows
        |  FROM (SELECT l_partkey, count(*) AS nr,
        |          count(DISTINCT l_suppkey) AS nd
        |        FROM lineitem GROUP BY 1)
        |), r3 AS (
        |  SELECT 'l_orderkey->l_shipdate' AS fd,
        |    CAST(count(*) AS BIGINT) AS n_keys,
        |    CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS bad_keys,
        |    CAST(sum(CASE WHEN nd > 1 THEN nr ELSE 0 END) AS BIGINT)
        |      AS bad_rows
        |  FROM (SELECT l_orderkey, count(*) AS nr,
        |          count(DISTINCT l_shipdate) AS nd
        |        FROM lineitem GROUP BY 1)
        |)
        |SELECT * FROM r1 UNION ALL SELECT * FROM r2
        |UNION ALL SELECT * FROM r3
        |ORDER BY fd""".stripMargin),

    QuerySpec("q186_corr_matrix", ((s, dir) => {
      // exact Pearson correlation matrix over the lineitem measures in
      // ONE pass: DECIMAL-lifted sums, pinned double algebra per pair.
      operators.Stats.correlationMatrix(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    }),
      {
      val cs = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      def d(c: String) = s"CAST($c AS DECIMAL(19,6))"
      val sums =
        (cs.map(c => s"sum(${d(c)}) AS s_$c") ++
          cs.map(c => s"sum(${d(c)} * ${d(c)}) AS ss_$c") ++
          cs.combinations(2).map { case Seq(a, b) =>
            s"sum(${d(a)} * ${d(b)}) AS sp_${a}__$b"
          }).mkString(",\n    ")
      val pairs = cs.combinations(2).map { case Seq(a, b) =>
        s"""SELECT '$a' AS col_a, '$b' AS col_b,
           |  round((CAST(n AS DOUBLE) * CAST(sp_${a}__$b AS DOUBLE)
           |      - CAST(s_$a AS DOUBLE) * CAST(s_$b AS DOUBLE))
           |    / sqrt((CAST(n AS DOUBLE) * CAST(ss_$a AS DOUBLE)
           |        - CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE))
           |      * (CAST(n AS DOUBLE) * CAST(ss_$b AS DOUBLE)
           |        - CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE))), 6)
           |    AS r
           |  FROM one""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH one AS MATERIALIZED (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    $sums
         |  FROM lineitem
         |)
         |$pairs
         |ORDER BY col_a, col_b""".stripMargin
    }),

    QuerySpec("q195_dp_release", ((s, dir) => {
      // ε-DP histogram release (ε=1, Laplace 1/ε, sensitivity 1): the
      // per-type event counts as a privacy-preserving publication. The
      // noise draw is the deterministic salted-md5 inverse-CDF (q143's
      // uniform idiom) so retries, replays and the oracle draw the
      // identical noise; only the noisy column is released.
      operators.Stats.dpNoisyCounts(t(s, dir, "events"))
    }),
      """WITH cnt AS (
        |  SELECT event_type AS grp, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1
        |), uu AS (
        |  SELECT grp, n,
        |    (CAST(list_sum([CAST(round(pow(16, 7 - i)) AS BIGINT) *
        |      (strpos('0123456789abcdef',
        |        substr(md5('dp|' || grp), i + 1, 1)) - 1)
        |      for i in range(0, 8)]) AS DOUBLE) + 0.5) / 4294967296.0 AS u
        |  FROM cnt
        |)
        |SELECT grp,
        |  round(n + round(-1.0 * sign(u - 0.5)
        |    * ln(1.0 - 2.0 * abs(u - 0.5)), 9), 6) AS released_n
        |FROM uu ORDER BY grp""".stripMargin),

    QuerySpec("q197_l_diversity", ((s, dir) => {
      // l-diversity audit (l=3) over q130's quasi-identifier tuples with
      // user_id as the sensitive attribute: a k-anonymous tuple still
      // leaks if nearly all its rows belong to one user. Same one-tuple-
      // exchange shape as q130; exact distincts (approx_count_distinct
      // is the documented 100 TB substitution).
      operators.Stats.lDiversityAudit(
        t(s, dir, "events")
          .select(col("event_type"), hour(col("ts")).as("hb"),
            floor(col("value") / 10.0).cast("long").as("vb"),
            col("user_id")),
        Seq("event_type", "hb", "vb"))
    }),
      """WITH tup AS (
        |  SELECT event_type,
        |    CAST(extract(hour FROM ts) AS INTEGER) AS hb,
        |    CAST(floor(value / 10.0) AS BIGINT) AS vb,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS ndist
        |  FROM events GROUP BY 1, 2, 3
        |)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_tuples,
        |  CAST(sum(CASE WHEN ndist < 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_low_div_tuples,
        |  CAST(sum(CASE WHEN ndist < 3 THEN n ELSE 0 END) AS BIGINT)
        |    AS n_risky_rows,
        |  min(ndist) AS min_diversity
        |FROM tup GROUP BY 1 ORDER BY event_type""".stripMargin),

    QuerySpec("q205_freq_triples", ((s, dir) => {
      // Apriori level-3: frequent co-purchase triples via the candidate
      // prune (a triple is only counted if all three sub-pairs are
      // frequent) — the step beyond q163's pairwise rules; support
      // verified exactly on the basket join restricted to candidates.
      operators.Stats.frequentTriples(
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey")), topN = 50)
    }),
      """WITH bi AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |  FROM lineitem
        |), fp AS MATERIALIZED (
        |  SELECT a.it AS i1, b.it AS i2
        |  FROM bi a JOIN bi b ON a.bk = b.bk AND a.it < b.it
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), cand AS MATERIALIZED (
        |  SELECT p.i1, p.i2, q.i2 AS i3
        |  FROM fp p JOIN fp q ON p.i1 = q.i1 AND p.i2 < q.i2
        |  WHERE EXISTS (SELECT 1 FROM fp c
        |                WHERE c.i1 = p.i2 AND c.i2 = q.i2)
        |), sup AS (
        |  SELECT a.it AS i1, b.it AS i2, c.it AS i3,
        |    CAST(count(*) AS BIGINT) AS support
        |  FROM bi a
        |  JOIN bi b ON a.bk = b.bk AND a.it < b.it
        |  JOIN bi c ON a.bk = c.bk AND b.it < c.it
        |  JOIN cand ON cand.i1 = a.it AND cand.i2 = b.it
        |    AND cand.i3 = c.it
        |  GROUP BY 1, 2, 3 HAVING count(*) >= 2
        |)
        |SELECT i1, i2, i3, support FROM sup
        |ORDER BY support DESC, i1, i2, i3 LIMIT 50""".stripMargin),

    QuerySpec("q206_join_card", ((s, dir) => {
      // join-cardinality estimation audit over two FK edges of the star
      // schema: the textbook uniformity estimate n_a*n_b/max(d_a,d_b)
      // vs the EXACT join size from the key-count product sum (no join
      // of row-scale tables ever runs) — the skew diagnostic behind
      // every cost-based plan choice.
      val li = t(s, dir, "lineitem")
      operators.Stats.joinCardinalityAudit(li, "l_orderkey",
          t(s, dir, "orders"), "o_orderkey", "lineitem->orders")
        .unionAll(operators.Stats.joinCardinalityAudit(li, "l_partkey",
          t(s, dir, "part"), "p_partkey", "lineitem->part"))
        .orderBy(col("edge"))
    }),
      {
      def edge(lk: String, rt: String, rk: String, label: String) = {
        val lt = "lineitem"
        s"""SELECT '$label' AS edge,
           |  (SELECT CAST(count(*) AS BIGINT) FROM $lt) AS n_l,
           |  (SELECT CAST(count(DISTINCT $lk) AS BIGINT) FROM $lt) AS d_l,
           |  (SELECT CAST(count(*) AS BIGINT) FROM $rt) AS n_r,
           |  (SELECT CAST(count(DISTINCT $rk) AS BIGINT) FROM $rt) AS d_r,
           |  round(CAST((SELECT count(*) FROM $lt) AS DOUBLE)
           |      * CAST((SELECT count(*) FROM $rt) AS DOUBLE)
           |    / CAST(greatest(
           |        (SELECT count(DISTINCT $lk) FROM $lt),
           |        (SELECT count(DISTINCT $rk) FROM $rt)) AS DOUBLE), 6)
           |    AS est,
           |  (SELECT CAST(coalesce(sum(cl * cr), 0) AS BIGINT) FROM
           |    (SELECT $lk AS k, count(*) AS cl FROM $lt GROUP BY 1) l
           |    JOIN
           |    (SELECT $rk AS k, count(*) AS cr FROM $rt GROUP BY 1) r
           |    ON l.k = r.k) AS n_join""".stripMargin
      }
      s"""WITH base AS (
         |${edge("l_orderkey", "orders", "o_orderkey",
                "lineitem->orders")}
         |UNION ALL
         |${edge("l_partkey", "part", "p_partkey",
                "lineitem->part")}
         |)
         |SELECT edge, n_l, d_l, n_r, d_r, est, n_join,
         |  CASE WHEN n_join = 0 THEN CAST(0.0 AS DOUBLE)
         |    ELSE round(est / CAST(n_join AS DOUBLE), 6) END AS ratio
         |FROM base ORDER BY edge""".stripMargin
    }),

    QuerySpec("q215_cms_mergeable", ((s, dir) => {
      // mergeable Count-Min frequency sketches — the third incremental
      // sketch next to q126 (HLL: distincts) and q123 (KMV: overlap):
      // each ingest batch (doc_id parity) builds a depth×width count
      // matrix; corpus-wide point estimates read the cell-wise SUM of
      // batch sketches, so old batches are never rescanned. Unlike
      // q106's binary-sketch gate, the md5-derived bucket hashes make
      // the estimate itself engine-portable: the hash-checked output
      // carries the actual OVERCOUNT per heavy token (width 32 is
      // deliberately small so collisions are real at this vocab and the
      // est >= exact invariant is exercised, not vacuous).
      val toks = t(s, dir, "documents")
        .select((col("doc_id") % 2).as("batch"),
          explode(operators.TextAnalysis.tokens(col("text"))).as("token"))
      operators.Stats.cmsHeavyHitters(toks,
        depth = 3, width = 32, minShare = 0.002)
    }),
      {
      // CMS bucket of token under depth hash i: first 8 md5 hex digits
      // of "i|token" as an integer, % width — mirrors Stats.cmsHeavyHitters
      def bkt = {
        val tok = "token"
        s"""list_sum([CAST(round(pow(16, 7 - j)) AS BIGINT) *
           |      (strpos('0123456789abcdef',
           |        substr(md5(CAST(i AS VARCHAR) || '|' || $tok),
           |          j + 1, 1)) - 1)
           |      for j in range(0, 8)]) % 32""".stripMargin
      }
      s"""WITH tk AS (
         |  SELECT doc_id % 2 AS batch,
         |    unnest(list_filter(regexp_split_to_array(text, '\\s+'),
         |      x -> x <> '')) AS token
         |  FROM documents
         |), tc AS MATERIALIZED (
         |  SELECT batch, token, COUNT(*) AS c FROM tk GROUP BY 1, 2
         |), cells AS (
         |  SELECT batch, i AS depth,
         |    ${bkt} AS bucket, c
         |  FROM tc CROSS JOIN range(0, 3) t(i)
         |), sk AS MATERIALIZED (
         |  SELECT depth, bucket, CAST(SUM(c) AS BIGINT) AS cell
         |  FROM cells GROUP BY 1, 2
         |), tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM tc),
         |cand AS (
         |  SELECT token, CAST(SUM(c) AS BIGINT) AS exact_cnt
         |  FROM tc GROUP BY 1
         |), cd AS (
         |  SELECT token, exact_cnt, i AS depth,
         |    ${bkt} AS bucket
         |  FROM cand CROSS JOIN range(0, 3) t(i)
         |), est AS (
         |  SELECT cd.token, MAX(cd.exact_cnt) AS exact_cnt,
         |    MIN(sk.cell) AS cms_est
         |  FROM cd JOIN sk ON sk.depth = cd.depth AND sk.bucket = cd.bucket
         |  GROUP BY cd.token
         |)
         |SELECT token, exact_cnt, cms_est,
         |  CAST(cms_est - exact_cnt AS BIGINT) AS overcount
         |FROM est, tot
         |WHERE CAST(cms_est AS DOUBLE) >= 0.002 * CAST(n_total AS DOUBLE)
         |ORDER BY cms_est DESC, token""".stripMargin
    }),

    QuerySpec("q216_group_ols", ((s, dir) =>
      // per-segment OLS from sufficient statistics: price-on-quantity
      // slope/intercept/R² per return flag in ONE partial-combined
      // aggregate — regression-per-group as pure algebra (no per-group
      // iteration or model state; q186's decimal-exact sum discipline,
      // one pinned double op order, round(6)).
      operators.Stats.groupOls(t(s, dir, "lineitem"), "l_returnflag",
        "l_quantity", "l_extendedprice")),
      """WITH one AS (
        |  SELECT l_returnflag AS grp, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(l_quantity AS DECIMAL(19,6))) AS sx,
        |    SUM(CAST(l_extendedprice AS DECIMAL(19,6))) AS sy,
        |    SUM(CAST(l_quantity AS DECIMAL(19,6))
        |      * CAST(l_quantity AS DECIMAL(19,6))) AS sxx,
        |    SUM(CAST(l_extendedprice AS DECIMAL(19,6))
        |      * CAST(l_extendedprice AS DECIMAL(19,6))) AS syy,
        |    SUM(CAST(l_quantity AS DECIMAL(19,6))
        |      * CAST(l_extendedprice AS DECIMAL(19,6))) AS sxy
        |  FROM lineitem GROUP BY 1
        |), v AS (
        |  SELECT grp, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varx,
        |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vary,
        |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov
        |  FROM one
        |)
        |SELECT grp, n,
        |  CASE WHEN varx = 0 THEN NULL
        |    ELSE round(cov / varx, 6) END AS slope,
        |  CASE WHEN varx = 0 THEN NULL
        |    ELSE round((syd - (cov / varx) * sxd) / nd, 6) END AS intercept,
        |  CASE WHEN varx = 0 OR vary = 0 THEN NULL
        |    ELSE round(cov * cov / (varx * vary), 6) END AS r2
        |FROM v ORDER BY grp""".stripMargin),

    QuerySpec("q217_ks_drift", ((s, dir) => {
      // exact two-sample Kolmogorov–Smirnov drift gate on the event
      // value distribution, first half of the month vs the rest — the
      // bin-free companion to q156's PSI (same split): values discretize
      // map-side to cent-scaled longs, both samples partial-combine to
      // ONE distinct-value histogram, and the CDF walk + argmax ride
      // that bounded table (the q177 contract).
      val ev = t(s, dir, "events")
      val cutoff = lit(java.sql.Timestamp.valueOf("2024-01-16 00:00:00"))
      val scaled = ev.select(
        floor(col("value") * lit(100)).cast("long").as("sv"), col("ts"))
      operators.Stats.ksDrift(
        scaled.filter(col("ts") < cutoff).select(col("sv")),
        scaled.filter(col("ts") >= cutoff).select(col("sv")))
    }),
      """WITH e AS (
        |  SELECT CAST(floor(value * 100) AS BIGINT) AS v,
        |    CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        |      THEN 1 ELSE 0 END AS is_ref
        |  FROM events
        |), h AS MATERIALIZED (
        |  SELECT v, CAST(SUM(is_ref) AS BIGINT) AS ca,
        |    CAST(SUM(1 - is_ref) AS BIGINT) AS cb
        |  FROM e GROUP BY 1
        |), t AS (
        |  SELECT CAST(SUM(ca) AS BIGINT) AS n_ref,
        |    CAST(SUM(cb) AS BIGINT) AS n_cur FROM h
        |), d AS MATERIALIZED (
        |  SELECT v, n_ref, n_cur,
        |    round(abs(
        |      CAST(SUM(ca) OVER (ORDER BY v) AS DOUBLE)
        |        / CAST(n_ref AS DOUBLE)
        |      - CAST(SUM(cb) OVER (ORDER BY v) AS DOUBLE)
        |        / CAST(n_cur AS DOUBLE)), 9) AS dd
        |  FROM h, t
        |), m AS (SELECT MAX(dd) AS ks FROM d)
        |SELECT n_ref, n_cur, ks, CAST(MIN(v) AS BIGINT) AS ks_at
        |FROM d, m WHERE d.dd = m.ks
        |GROUP BY 1, 2, 3""".stripMargin),

    QuerySpec("q220_residual_outliers", ((s, dir) => {
      // regression-residual anomaly gate: per source, fit
      // n_chars ~ tokens (R² ≈ 0.99 on this corpus) from q216's
      // sufficient statistics and flag docs breaking their source's
      // trend by > 2·RMSE — formatting anomalies (minified/duplicated
      // whitespace, binary-ish payloads) found as one aggregate + one
      // broadcast scoring join; no model state, no second fit pass.
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
        operators.TextAnalysis.tokenCount(col("text")).cast("long")
          .as("toks"),
        col("n_chars"))
      operators.Stats.olsResidualOutliers(d, keepCols = Seq("doc_id"))
        .orderBy(col("doc_id"))
    }),
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |    CAST(len($toksSql) AS BIGINT) AS toks, n_chars
         |  FROM documents
         |), one AS (
         |  SELECT source AS grp, CAST(COUNT(*) AS BIGINT) AS n,
         |    SUM(CAST(toks AS DECIMAL(19,6))) AS sx,
         |    SUM(CAST(n_chars AS DECIMAL(19,6))) AS sy,
         |    SUM(CAST(toks AS DECIMAL(19,6))
         |      * CAST(toks AS DECIMAL(19,6))) AS sxx,
         |    SUM(CAST(n_chars AS DECIMAL(19,6))
         |      * CAST(n_chars AS DECIMAL(19,6))) AS syy,
         |    SUM(CAST(toks AS DECIMAL(19,6))
         |      * CAST(n_chars AS DECIMAL(19,6))) AS sxy
         |  FROM d GROUP BY 1
         |), v AS (
         |  SELECT grp, CAST(n AS DOUBLE) AS nd,
         |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
         |    CAST(syy AS DOUBLE) AS syyd, CAST(sxy AS DOUBLE) AS sxyd,
         |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varx,
         |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov
         |  FROM one
         |), c AS (
         |  SELECT grp, cov / varx AS b,
         |    (syd - (cov / varx) * sxd) / nd AS a,
         |    sqrt(greatest(0.0,
         |      (syyd - ((syd - (cov / varx) * sxd) / nd) * syd
         |        - (cov / varx) * sxyd) / nd)) AS rmse
         |  FROM v WHERE varx <> 0
         |), scored AS (
         |  SELECT d.doc_id, d.source AS grp, d.toks, d.n_chars,
         |    CAST(d.n_chars AS DOUBLE) - (c.a + c.b * CAST(d.toks AS DOUBLE))
         |      AS resid, c.rmse
         |  FROM d JOIN c ON c.grp = d.source
         |  WHERE c.rmse > 0
         |)
         |SELECT doc_id, grp, toks, n_chars, round(resid, 6) AS resid,
         |  round(abs(resid) / rmse, 6) AS z
         |FROM scored WHERE abs(resid) > 2.0 * rmse
         |ORDER BY doc_id""".stripMargin),

    QuerySpec("q221_ks_by_segment", ((s, dir) => {
      // q217's KS drift per SEGMENT: one statistic per event type
      // between the month's first half and the rest — the monitor
      // readout that names which segment's value distribution moved.
      // Same single histogram exchange, but the CDF walk is a window
      // PARTITIONED BY the group (parallel across segments, no global
      // sort); the per-group argmax joins back as a broadcast.
      val ev = t(s, dir, "events")
      val cutoff = lit(java.sql.Timestamp.valueOf("2024-01-16 00:00:00"))
      val scaled = ev.select(col("event_type"),
        floor(col("value") * lit(100)).cast("long").as("sv"), col("ts"))
      operators.Stats.ksDriftByGroup(
        scaled.filter(col("ts") < cutoff)
          .select(col("event_type"), col("sv")),
        scaled.filter(col("ts") >= cutoff)
          .select(col("event_type"), col("sv")))
    }),
      """WITH e AS (
        |  SELECT event_type AS g, CAST(floor(value * 100) AS BIGINT) AS v,
        |    CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        |      THEN 1 ELSE 0 END AS is_ref
        |  FROM events
        |), h AS MATERIALIZED (
        |  SELECT g, v, CAST(SUM(is_ref) AS BIGINT) AS ca,
        |    CAST(SUM(1 - is_ref) AS BIGINT) AS cb
        |  FROM e GROUP BY 1, 2
        |), d AS MATERIALIZED (
        |  SELECT g, v,
        |    CAST(SUM(ca) OVER (PARTITION BY g) AS BIGINT) AS n_ref,
        |    CAST(SUM(cb) OVER (PARTITION BY g) AS BIGINT) AS n_cur,
        |    round(abs(
        |      CAST(SUM(ca) OVER (PARTITION BY g ORDER BY v) AS DOUBLE)
        |        / CAST(SUM(ca) OVER (PARTITION BY g) AS DOUBLE)
        |      - CAST(SUM(cb) OVER (PARTITION BY g ORDER BY v) AS DOUBLE)
        |        / CAST(SUM(cb) OVER (PARTITION BY g) AS DOUBLE)), 9) AS dd
        |  FROM h
        |), df AS (
        |  SELECT * FROM d WHERE n_ref > 0 AND n_cur > 0
        |), m AS (SELECT g, MAX(dd) AS ks FROM df GROUP BY 1)
        |SELECT df.g, n_ref, n_cur, ks, CAST(MIN(v) AS BIGINT) AS ks_at
        |FROM df JOIN m ON m.g = df.g AND df.dd = m.ks
        |GROUP BY 1, 2, 3, 4
        |ORDER BY df.g""".stripMargin),

    QuerySpec("q223_shapley_attribution", ((s, dir) => {
      // exact Shapley-value channel attribution (the data-driven
      // attribution model): journeys = user-days, channels = the four
      // non-purchase event types, v(S) = observed conversion rate of
      // exact-set-S journeys. ONE corpus aggregate collapses events to
      // the <=2^4-row journey-set table; the subset game is a driver
      // constant + two broadcast lookups — nothing after the first
      // exchange scales with data. Completes the attribution family:
      // q103 last-touch, q212 time-decay, HERE the cooperative-game
      // credit.
      val ev = t(s, dir, "events")
      val j = ev.groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(concat_ws(",", array_sort(collect_set(
            when(col("event_type") =!= "purchase", col("event_type")))))
            .as("set_key"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("conv"))
      // touchless journeys (purchase-only days) are excluded: they exist
      // only BECAUSE they converted, so v(empty) would be a
      // selection-biased 1.0 baseline dragging every marginal negative;
      // with them out, v(empty)=0 — the standard simplified-game default
      val js = j.filter(col("set_key") =!= "")
        .groupBy(col("set_key"))
        .agg(count(lit(1)).as("n"), sum(col("conv")).as("conv"))
      operators.Stats.shapleyAttribution(js,
        Seq("click", "error", "signup", "view"))
    }),
      // the subset/weight constant table is emitted by the SAME
      // enumeration the Spark side joins against (Stats.shapleySubsets)
      {
      val values = operators.Stats
        .shapleySubsets(Seq("click", "error", "signup", "view"))
        .map { case (ch, sk, tk, w) => s"('$ch', '$sk', '$tk', $w)" }
        .mkString(",\n  ")
      s"""WITH j AS (
         |  SELECT user_id, CAST(ts AS DATE) AS day,
         |    coalesce(array_to_string(list_sort(list_distinct(
         |      list(event_type) FILTER (WHERE event_type <> 'purchase'))),
         |      ','), '') AS set_key,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS conv
         |  FROM events GROUP BY 1, 2
         |), js AS (
         |  SELECT set_key, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(conv) AS BIGINT) AS c
         |  FROM j WHERE set_key <> '' GROUP BY 1
         |), sub(channel, s_key, t_key, w_num) AS (VALUES
         |  $values
         |), sv AS (
         |  SELECT channel, w_num, s.n AS ns, s.c AS cs, t.n AS nt,
         |    t.c AS ct
         |  FROM sub LEFT JOIN js s ON s.set_key = sub.s_key
         |  LEFT JOIN js t ON t.set_key = sub.t_key
         |), terms AS (
         |  SELECT channel, coalesce(ns, 0) AS nsz, coalesce(cs, 0) AS csz,
         |    CAST(round((CAST(w_num AS DOUBLE) *
         |      ((CASE WHEN ns IS NULL THEN 0.0
         |         ELSE CAST(cs AS DOUBLE) / CAST(ns AS DOUBLE) END)
         |       - (CASE WHEN nt IS NULL THEN 0.0
         |         ELSE CAST(ct AS DOUBLE) / CAST(nt AS DOUBLE) END)))
         |      / 24.0, 9) AS DECIMAL(38,9)) AS term
         |  FROM sv
         |)
         |SELECT channel, CAST(sum(nsz) AS BIGINT) AS n_journeys,
         |  CAST(sum(csz) AS BIGINT) AS n_conversions,
         |  round(CAST(sum(term) AS DOUBLE), 6) AS shapley
         |FROM terms GROUP BY 1 ORDER BY channel""".stripMargin
    }),

    QuerySpec("q230_quantile_norm", ((s, dir) =>
      // cross-source batch-effect removal: every source's n_chars
      // distribution is mapped onto the POOLED distribution (quantile
      // normalization) so downstream length features compare content,
      // not ingest formatting. Two histogram exchanges + one bounded
      // window walk on exact-integer quantile keys — the corpus never
      // sorts globally and no float rank exists anywhere.
      operators.Stats.quantileNormalize(t(s, dir, "documents"))),
      // identical merged-CDF walk: exact-integer quantile keys, pooled
      // rows first on ties, carry-min of pooled values
      """WITH h AS (
        |  SELECT source AS g, n_chars AS v, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2
        |), src AS (
        |  SELECT g, v, c,
        |    sum(c) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY g) AS n_g
        |  FROM h
        |), hp AS (
        |  SELECT n_chars AS pv, CAST(count(*) AS BIGINT) AS pc
        |  FROM documents GROUP BY 1
        |), pool AS (
        |  SELECT pv,
        |    sum(pc) OVER (ORDER BY pv
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pcum,
        |    (SELECT sum(pc) FROM hp) AS n_pool
        |  FROM hp
        |), rep AS (
        |  SELECT g2.g, 0 AS tag, pcum * g2.n_g AS ukey, pv,
        |    CAST(NULL AS BIGINT) AS v, CAST(NULL AS BIGINT) AS c
        |  FROM pool, (SELECT DISTINCT g, n_g FROM src) g2
        |  UNION ALL
        |  SELECT g, 1, cum * (SELECT n_pool FROM pool LIMIT 1), NULL,
        |    v, c
        |  FROM src
        |), walk AS (
        |  SELECT g, tag, v, c,
        |    min(CASE WHEN tag = 0 THEN pv END) OVER (PARTITION BY g
        |      ORDER BY ukey DESC, tag ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS qnorm_v
        |  FROM rep
        |)
        |SELECT g AS source, v, c AS n_rows, qnorm_v
        |FROM walk WHERE tag = 1 ORDER BY source, v""".stripMargin),

    QuerySpec("q231_target_encoding", ((s, dir) =>
      // leakage-free categorical feature for the quality/routing models:
      // source -> leave-one-out smoothed mean doc length (m=10 toward
      // the global prior). One dimension-scale aggregate broadcasts
      // back; the encode is map-side; exact-integer cross products until
      // one pinned division.
      operators.Stats.targetEncodeLoo(t(s, dir, "documents"), m = 10L)
        .select(col("doc_id"), col("source"), col("y"), col("loo_enc"))
        .orderBy(col("doc_id"))),
      """WITH g AS (
        |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1
        |), t AS (
        |  SELECT CAST(sum(n_chars) AS BIGINT) AS ts,
        |    CAST(count(*) AS BIGINT) AS tn
        |  FROM documents
        |)
        |SELECT doc_id, d.source, n_chars AS y,
        |  round(CAST((g.s - d.n_chars) * t.tn + 10 * t.ts AS DOUBLE)
        |    / CAST((g.n - 1 + 10) * t.tn AS DOUBLE), 6) AS loo_enc
        |FROM documents d JOIN g USING (source), t
        |ORDER BY doc_id""".stripMargin),

    QuerySpec("q233_simpson_audit", ((s, dir) => {
      // Simpson's-paradox audit: per-segment value~hour OLS slope vs the
      // pooled slope, flagging segments whose trend REVERSES under
      // aggregation — the classic warning that a pooled dashboard metric
      // is confounded by segment mix. Two runs of q216's
      // sufficient-statistics aggregate (no iteration), pooled row joins
      // back as a 1-row broadcast; sign tests compare the round(6)
      // slopes both engines agree on bit-exactly.
      val ev = t(s, dir, "events").select(col("event_type"),
        hour(col("ts")).cast("long").as("x"),
        floor(col("value") * 100).cast("long").as("y"))
      val per = operators.Stats.groupOls(ev, "event_type", "x", "y")
        .select(col("grp"), col("n"), col("slope").as("slope_seg"))
      val pooled = operators.Stats
        .groupOls(ev.withColumn("all", lit("all")), "all", "x", "y")
        .select(col("slope").as("slope_pool"))
      per.crossJoin(operators.Hints.boundedBroadcast(pooled, "single_literal_group"))
        .select(col("grp").as("segment"), col("n"),
          col("slope_seg"), col("slope_pool"),
          (col("slope_seg") * col("slope_pool") < 0).as("sign_flip"),
          round(col("slope_seg") - col("slope_pool"), 6)
            .as("slope_delta"))
        .orderBy(col("segment"))
    }),
      """WITH e AS (
        |  SELECT event_type, CAST(hour(ts) AS BIGINT) AS x,
        |    CAST(floor(value * 100) AS BIGINT) AS y
        |  FROM events
        |), one AS (
        |  SELECT event_type AS grp, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(x AS DECIMAL(19,6))) AS sx,
        |    SUM(CAST(y AS DECIMAL(19,6))) AS sy,
        |    SUM(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6)))
        |      AS sxx,
        |    SUM(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6)))
        |      AS sxy
        |  FROM e GROUP BY 1
        |), seg AS (
        |  SELECT grp, n,
        |    round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
        |      AS slope_seg
        |  FROM one
        |), onep AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(x AS DECIMAL(19,6))) AS sx,
        |    SUM(CAST(y AS DECIMAL(19,6))) AS sy,
        |    SUM(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6)))
        |      AS sxx,
        |    SUM(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6)))
        |      AS sxy
        |  FROM e
        |), pool AS (
        |  SELECT round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
        |      AS slope_pool
        |  FROM onep
        |)
        |SELECT grp AS segment, n, slope_seg, slope_pool,
        |  (slope_seg * slope_pool < 0) AS sign_flip,
        |  round(slope_seg - slope_pool, 6) AS slope_delta
        |FROM seg, pool ORDER BY segment""".stripMargin),

    QuerySpec("q240_cuped", ((s, dir) => {
      // CUPED variance reduction (Deng et al., WSDM 2013) on the q147
      // experiment: per-user pre-period spend (first half of the time
      // range) is the covariate for post-period spend — the adjustment
      // every experimentation platform applies before reading a revenue
      // metric, because it shrinks variance without touching the mean
      // difference. The time midpoint is one scalar aggregate broadcast
      // back (epoch-microsecond integer math — nothing float crosses
      // engines); units form in ONE conditional user-keyed aggregate;
      // Stats.cuped does the rest from decimal sufficient sums.
      val ev = t(s, dir, "events")
      val b = ev.agg(min(unix_micros(col("ts"))).as("mn"),
          max(unix_micros(col("ts"))).as("mx"))
        .select(expr("(mn + mx) DIV 2").as("mid"))
      val units = ev.crossJoin(broadcast(b))
        .groupBy(col("user_id"))
        .agg(
          coalesce(sum(when(unix_micros(col("ts")) < col("mid"),
              col("value").cast("decimal(19,6)"))),
            lit(0).cast("decimal(19,6)")).cast("double").as("x"),
          coalesce(sum(when(unix_micros(col("ts")) >= col("mid"),
              col("value").cast("decimal(19,6)"))),
            lit(0).cast("decimal(19,6)")).cast("double").as("y"))
        .withColumn("arm",
          when(substring(md5(col("user_id").cast("string")), 1, 1) < "8",
            lit("A")).otherwise(lit("B")))
      operators.Stats.cuped(units)
    }),
      """WITH b AS (
        |  SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid
        |  FROM events
        |), units AS (
        |  SELECT user_id,
        |    CAST(coalesce(sum(CASE WHEN epoch_us(ts) < mid
        |        THEN CAST(value AS DECIMAL(19,6)) END),
        |      CAST(0 AS DECIMAL(19,6))) AS DOUBLE) AS x,
        |    CAST(coalesce(sum(CASE WHEN epoch_us(ts) >= mid
        |        THEN CAST(value AS DECIMAL(19,6)) END),
        |      CAST(0 AS DECIMAL(19,6))) AS DOUBLE) AS y
        |  FROM events, b GROUP BY user_id
        |), u2 AS (
        |  SELECT x, y,
        |    CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
        |      THEN 'A' ELSE 'B' END AS arm
        |  FROM units
        |), pa AS (
        |  SELECT arm, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(x AS DECIMAL(19,6))) AS sx,
        |    sum(CAST(y AS DECIMAL(19,6))) AS sy,
        |    sum(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6)))
        |      AS sxx,
        |    sum(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6)))
        |      AS syy,
        |    sum(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6)))
        |      AS sxy
        |  FROM u2 GROUP BY 1
        |), g AS (
        |  SELECT CAST(sum(n) AS DOUBLE) AS gn,
        |    CAST(sum(sx) AS DOUBLE) AS gsx,
        |    CAST(sum(sy) AS DOUBLE) AS gsy,
        |    CAST(sum(sxx) AS DOUBLE) AS gsxx,
        |    CAST(sum(sxy) AS DOUBLE) AS gsxy
        |  FROM pa
        |), k AS (
        |  SELECT arm, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        |    CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd,
        |    CAST(sxy AS DOUBLE) AS sxyd,
        |    (gn * gsxy - gsx * gsy) / (gn * gsxx - gsx * gsx) AS theta,
        |    gsx / gn AS xbar
        |  FROM pa, g
        |), r AS (
        |  SELECT arm, n, theta, xbar,
        |    syd / nd AS mean_y, sxd / nd AS mean_x,
        |    (nd * syyd - syd * syd) / (nd * (nd - 1.0)) AS var_y,
        |    (nd * sxxd - sxd * sxd) / (nd * (nd - 1.0)) AS var_x,
        |    (nd * sxyd - sxd * syd) / (nd * (nd - 1.0)) AS cov_xy
        |  FROM k
        |)
        |SELECT arm, n, round(mean_y, 6) AS mean_y,
        |  round(mean_y - theta * (mean_x - xbar), 6) AS mean_cuped,
        |  round(var_y, 6) AS var_y,
        |  round(var_y - 2.0 * theta * cov_xy + theta * theta * var_x, 6)
        |    AS var_cuped,
        |  round(theta, 6) AS theta,
        |  round(1.0 - (var_y - 2.0 * theta * cov_xy
        |      + theta * theta * var_x) / var_y, 6) AS var_reduction
        |FROM r ORDER BY arm""".stripMargin),

    QuerySpec("q243_jackknife", ((s, dir) => {
      // delete-a-bucket jackknife CI for average order value — the
      // ratio-of-sums metric (Σ purchase revenue / Σ purchases) whose
      // naive per-row SE is wrong because users contribute correlated
      // rows to both sides; 32 md5 buckets at USER grain keep each
      // user's rows together (the clustering the jackknife exists to
      // respect). One purchase-filtered user rollup, then
      // Stats.jackknifeRatio runs entirely on the 32-row bucket table.
      val units = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(sum(col("value").cast("decimal(19,6)")).as("rev"),
          count(lit(1)).as("cnt"))
      operators.Stats.jackknifeRatio(units, b = 32)
    }),
      """WITH units AS (
        |  SELECT user_id, sum(CAST(value AS DECIMAL(19,6))) AS rev,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1
        |), per AS (
        |  SELECT list_sum([CAST(round(pow(16, 7 - i)) AS BIGINT) *
        |      (strpos('0123456789abcdef',
        |        substr(md5(CAST(user_id AS VARCHAR)), i + 1, 1)) - 1)
        |      for i in range(0, 8)]) % 32 AS bucket,
        |    sum(CAST(rev AS DECIMAL(19,6))) AS nv,
        |    sum(CAST(cnt AS DECIMAL(19,6))) AS dv
        |  FROM units GROUP BY 1
        |), tot AS (
        |  SELECT sum(nv) AS tn, sum(dv) AS td,
        |    CAST(count(*) AS BIGINT) AS nb
        |  FROM per
        |), loo AS (
        |  SELECT nb, tn, td,
        |    CAST(round(CAST(tn - nv AS DOUBLE)
        |        / CAST(td - dv AS DOUBLE), 9) AS DECIMAL(38,9)) AS loo
        |  FROM per, tot
        |), m AS (
        |  SELECT nb, tn, td, sum(loo) AS sl FROM loo GROUP BY 1, 2, 3
        |), sq AS (
        |  SELECT l.nb, l.tn, l.td,
        |    sum(CAST(round((CAST(l.loo AS DOUBLE)
        |          - CAST(m.sl AS DOUBLE) / CAST(l.nb AS DOUBLE))
        |        * (CAST(l.loo AS DOUBLE)
        |          - CAST(m.sl AS DOUBLE) / CAST(l.nb AS DOUBLE)), 12)
        |      AS DECIMAL(38,12))) AS sq
        |  FROM loo l JOIN m ON m.nb = l.nb GROUP BY 1, 2, 3
        |)
        |SELECT CAST(nb AS BIGINT) AS b,
        |  round(CAST(tn AS DOUBLE) / CAST(td AS DOUBLE), 6) AS theta,
        |  round(sqrt(((CAST(nb AS DOUBLE) - 1.0) / CAST(nb AS DOUBLE))
        |    * CAST(sq AS DOUBLE)), 6) AS se_jack,
        |  round(CAST(tn AS DOUBLE) / CAST(td AS DOUBLE)
        |    - 1.96 * sqrt(((CAST(nb AS DOUBLE) - 1.0)
        |        / CAST(nb AS DOUBLE)) * CAST(sq AS DOUBLE)), 6)
        |    AS ci_lo,
        |  round(CAST(tn AS DOUBLE) / CAST(td AS DOUBLE)
        |    + 1.96 * sqrt(((CAST(nb AS DOUBLE) - 1.0)
        |        / CAST(nb AS DOUBLE)) * CAST(sq AS DOUBLE)), 6)
        |    AS ci_hi
        |FROM sq""".stripMargin),

    QuerySpec("q246_isotonic", ((s, dir) => {
      // isotonic calibration curve (Ayer et al. 1955 minimax ≡ PAV) of
      // the "longer documents are likelier English" signal: 20 length
      // bins, monotone non-decreasing fit — the shape-constrained
      // calibration a ranking/quality pipeline applies when it knows
      // the direction of an effect but not its form. The corpus pays
      // one bin-keyed aggregate; Stats.isotonicCalibration runs the
      // B² minimax entirely on the bounded 20-row bin table.
      val docs = t(s, dir, "documents")
      val bins = docs.select(
          expr("CAST(least(n_chars DIV 50, 19) AS BIGINT)").as("bin"),
          (col("lang") === "en").cast("long").as("y"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
      operators.Stats.isotonicCalibration(bins)
    }),
      """WITH bins AS (
        |  SELECT CAST(least(n_chars // 50, 19) AS BIGINT) AS b,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS p
        |  FROM documents GROUP BY 1
        |), pre AS (
        |  SELECT b, n, p,
        |    sum(n) OVER (ORDER BY b) AS cn,
        |    sum(p) OVER (ORDER BY b) AS cp
        |  FROM bins
        |), segs AS (
        |  SELECT i.b AS i, round(CAST(j.cp - (i.cp - i.p) AS DOUBLE)
        |      / CAST(j.cn - (i.cn - i.n) AS DOUBLE), 9) AS avg
        |  FROM pre i JOIN pre j ON i.b <= j.b
        |), mins AS (SELECT i, min(avg) AS mi FROM segs GROUP BY 1
        |), iso AS (
        |  SELECT p2.b, max(m.mi) AS iso_raw
        |  FROM pre p2 JOIN mins m ON m.i <= p2.b GROUP BY 1
        |)
        |SELECT pre.b AS bin, pre.n, pre.p AS pos,
        |  round(CAST(pre.p AS DOUBLE) / CAST(pre.n AS DOUBLE), 6)
        |    AS rate,
        |  round(iso_raw, 6) AS iso
        |FROM pre JOIN iso USING (b) ORDER BY bin""".stripMargin),

    QuerySpec("q252_fellegi_sunter", ((s, dir) => {
      // Fellegi–Sunter probabilistic record linkage (1969) with the
      // Winkler EM fit, unsupervised: same-customer order pairs
      // (the blocking join — linkage never goes all-pairs) reduce to a
      // 3-bit agreement pattern (priority, status, price-within-10%),
      // and 5 EM rounds on the 8-row pattern table estimate match
      // prevalence and per-field m/u rates — the weights a dedup/MDM
      // pipeline thresholds when no labeled matches exist. The corpus
      // pays one blocked self-join + one pattern count; EM is bounded.
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("ck"), col("o_orderpriority").as("pr"),
        col("o_orderstatus").as("st"), col("o_totalprice").as("tp"))
      val pat = o.join(o.select(col("k").as("k2"), col("ck").as("ck2"),
            col("pr").as("pr2"), col("st").as("st2"),
            col("tp").as("tp2")),
          col("ck") === col("ck2") && col("k") < col("k2"))
        .select((col("pr") === col("pr2")).as("same_priority"),
          (col("st") === col("st2")).as("same_status"),
          (abs(col("tp") - col("tp2"))
            < lit(0.1) * greatest(col("tp"), col("tp2")))
            .as("close_price"))
        .groupBy(col("same_priority"), col("same_status"),
          col("close_price"))
        .agg(count(lit(1)).as("n"))
      operators.Stats.fellegiSunterEm(pat,
        Seq("same_priority", "same_status", "close_price"))
    }),
      {
      val bits = 0 until 3
      def prod(pref: String) = bits.map(i =>
        s"(CASE WHEN b$i THEN $pref$i ELSE 1.0 - $pref$i END)")
        .mkString(" * ")
      val nw = "CAST(n AS DECIMAL(18,0)) * CAST(w AS DECIMAL(14,12))"
      val nnw =
        "CAST(n AS DECIMAL(18,0)) * CAST(1.0 - w AS DECIMAL(14,12))"
      val iter = (k: Int) => {
        val mStep = bits.map { i =>
          s"""    round(CAST(sum(CASE WHEN b$i THEN $nw
             |      ELSE CAST(0 AS DECIMAL(33,12)) END) AS DOUBLE)
             |      / CAST(sum($nw) AS DOUBLE), 12) AS m$i,
             |    round(CAST(sum(CASE WHEN b$i THEN $nnw
             |      ELSE CAST(0 AS DECIMAL(33,12)) END) AS DOUBLE)
             |      / CAST(sum(CAST(n AS DECIMAL(18,0)))
             |        - sum($nw) AS DOUBLE), 12) AS u$i""".stripMargin
        }.mkString(",\n")
        s"""w$k AS (
           |  SELECT pat.*, round(p * (${prod("m")})
           |    / (p * (${prod("m")}) + (1.0 - p) * (${prod("u")})), 12)
           |    AS w
           |  FROM pat, s${k - 1}
           |), s$k AS (
           |  SELECT round(CAST(sum($nw) AS DOUBLE)
           |      / CAST(sum(CAST(n AS DECIMAL(18,0))) AS DOUBLE), 12)
           |      AS p,
           |$mStep
           |  FROM w$k
           |)""".stripMargin
      }
      s"""WITH pat AS MATERIALIZED (
         |  SELECT a.o_orderpriority = b.o_orderpriority AS b0,
         |    a.o_orderstatus = b.o_orderstatus AS b1,
         |    abs(a.o_totalprice - b.o_totalprice)
         |      < 0.1 * greatest(a.o_totalprice, b.o_totalprice) AS b2,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM orders a JOIN orders b ON a.o_custkey = b.o_custkey
         |    AND a.o_orderkey < b.o_orderkey
         |  GROUP BY 1, 2, 3
         |), s0 AS (SELECT 0.1 AS p, 0.9 AS m0, 0.1 AS u0, 0.9 AS m1,
         |  0.1 AS u1, 0.9 AS m2, 0.1 AS u2),
         |${(1 to 5).map(iter).mkString(",\n")}
         |SELECT b0, b1, b2, n, round(p, 6) AS p_match,
         |  round(p * (${prod("m")}) / (p * (${prod("m")})
         |    + (1.0 - p) * (${prod("u")})), 6) AS w,
         |  round(ln((${prod("m")}) / (${prod("u")})), 6) AS llr
         |FROM pat, s5 ORDER BY b0, b1, b2""".stripMargin
    }),

    QuerySpec("q268_quality_logreg", ((s, dir) => {
      // corpus quality classifier trained IN the engine: full-batch
      // gradient-descent logistic regression (the GPT-3 §2.2 /
      // CCNet-style shape — heuristic label, cheap features, corpus-
      // scale scoring) predicting lang='en' from two layout features
      // (log chars, chars-per-token), both z-scored. The corpus pays
      // ONE exchange to build the bounded feature-grid histogram;
      // moments, standardization and every GD round are algebra on
      // that table via Stats.logisticGdHist — 10 rounds cost zero
      // extra corpus passes, the property that makes iterative
      // training viable at 100 TB.
      val docs = t(s, dir, "documents")
      val ntok = greatest(
        operators.TextAnalysis.tokenCount(col("text")).cast("long"),
        lit(1L))
      val hist = operators.Materializer.Local(docs.select(
          round(log(col("n_chars").cast("double") + 1.0), 2).as("u"),
          round(col("n_chars").cast("double") / ntok.cast("double"), 1)
            .as("v"),
          (col("lang") === "en").as("y"))
        .groupBy(col("u"), col("v"), col("y"))
        .agg(count(lit(1)).as("n")))
      def pin6(c: Column) = round(c, 6).cast("decimal(29,6)")
      val mom = hist.agg(sum(col("n")).as("nt"),
        sum(pin6(col("u") * col("n"))).as("su"),
        sum(pin6(col("u") * col("u") * col("n"))).as("suu"),
        sum(pin6(col("v") * col("n"))).as("sv"),
        sum(pin6(col("v") * col("v") * col("n"))).as("svv"))
      val nD = col("nt").cast("double")
      val mu = col("su").cast("double") / nD
      val mv = col("sv").cast("double") / nD
      val sdu = sqrt(col("suu").cast("double") / nD - mu * mu)
      val sdv = sqrt(col("svv").cast("double") / nD - mv * mv)
      val feats = hist.crossJoin(broadcast(mom))
        .select(round((col("u") - mu) / sdu, 6).as("x1"),
          round((col("v") - mv) / sdv, 6).as("x2"),
          col("y"), col("n"))
      operators.Stats.logisticGdHist(feats, Seq("x1", "x2"), "y", rounds = 10)
    }),
      {
      val prob = "1.0 / (1.0 + exp(-(w0 + w1 * x1 + w2 * x2)))"
      val yd = "(CASE WHEN y THEN 1.0 ELSE 0.0 END)"
      val resid = s"CAST(n AS DOUBLE) * ($yd - $prob)"
      def gsum(e: String) =
        s"CAST(sum(CAST(round($e, 9) AS DECIMAL(29,9))) AS DOUBLE)"
      val iter = (k: Int) =>
        s"""g$k AS (
           |  SELECT ${gsum(resid)} AS g0,
           |    ${gsum(s"$resid * x1")} AS g1,
           |    ${gsum(s"$resid * x2")} AS g2
           |  FROM feats, s${k - 1}
           |), s$k AS (
           |  SELECT round(w0 + 2.0 * g0 / CAST(nt AS DOUBLE), 12) AS w0,
           |    round(w1 + 2.0 * g1 / CAST(nt AS DOUBLE), 12) AS w1,
           |    round(w2 + 2.0 * g2 / CAST(nt AS DOUBLE), 12) AS w2
           |  FROM g$k, s${k - 1}, momc
           |)""".stripMargin
      s"""WITH tk AS (
         |  SELECT n_chars, lang,
         |    greatest(CAST(len($toksSql) AS BIGINT), 1) AS ntok
         |  FROM documents
         |), hist AS MATERIALIZED (
         |  SELECT round(ln(CAST(n_chars AS DOUBLE) + 1.0), 2) AS u,
         |    round(CAST(n_chars AS DOUBLE) / CAST(ntok AS DOUBLE), 1)
         |      AS v,
         |    lang = 'en' AS y, CAST(count(*) AS BIGINT) AS n
         |  FROM tk GROUP BY 1, 2, 3
         |), mom AS (
         |  SELECT CAST(sum(n) AS BIGINT) AS nt,
         |    sum(CAST(round(u * n, 6) AS DECIMAL(29,6))) AS su,
         |    sum(CAST(round(u * u * n, 6) AS DECIMAL(29,6))) AS suu,
         |    sum(CAST(round(v * n, 6) AS DECIMAL(29,6))) AS sv,
         |    sum(CAST(round(v * v * n, 6) AS DECIMAL(29,6))) AS svv
         |  FROM hist
         |), momc AS (
         |  SELECT nt,
         |    CAST(su AS DOUBLE) / CAST(nt AS DOUBLE) AS mu,
         |    CAST(sv AS DOUBLE) / CAST(nt AS DOUBLE) AS mv,
         |    sqrt(CAST(suu AS DOUBLE) / CAST(nt AS DOUBLE)
         |      - (CAST(su AS DOUBLE) / CAST(nt AS DOUBLE))
         |        * (CAST(su AS DOUBLE) / CAST(nt AS DOUBLE))) AS sdu,
         |    sqrt(CAST(svv AS DOUBLE) / CAST(nt AS DOUBLE)
         |      - (CAST(sv AS DOUBLE) / CAST(nt AS DOUBLE))
         |        * (CAST(sv AS DOUBLE) / CAST(nt AS DOUBLE))) AS sdv
         |  FROM mom
         |), feats AS MATERIALIZED (
         |  SELECT round((u - mu) / sdu, 6) AS x1,
         |    round((v - mv) / sdv, 6) AS x2, y, n
         |  FROM hist, momc
         |), s0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0,
         |  CAST(0.0 AS DOUBLE) AS w1, CAST(0.0 AS DOUBLE) AS w2),
         |${(1 to 10).map(iter).mkString(",\n")},
         |acc AS (
         |  SELECT CAST(sum(n) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN ($prob >= 0.5) = y THEN n ELSE 0 END)
         |      AS BIGINT) AS n_correct,
         |    CAST(sum(CAST(round(CAST(n AS DOUBLE)
         |      * (-($yd * ln($prob) + (1.0 - $yd)
         |        * ln(1.0 - $prob))), 9) AS DECIMAL(29,9)))
         |      AS DOUBLE) AS nll
         |  FROM feats, s10
         |)
         |SELECT n, round(w0, 6) AS w0, round(w1, 6) AS w1,
         |  round(w2, 6) AS w2,
         |  round(CAST(n_correct AS DOUBLE) / CAST(n AS DOUBLE), 6)
         |    AS accuracy,
         |  round(nll / CAST(n AS DOUBLE), 6) AS log_loss
         |FROM acc, s10""".stripMargin
    }),

    QuerySpec("q269_cox_purchase", ((s, dir) => {
      // Cox proportional-hazards time-to-conversion model (Cox 1972,
      // Breslow ties): does signing up on day one change the hazard
      // of a first purchase? Subjects are users from their first
      // active day; event = first purchase within a fixed 5-day
      // follow-up window, administratively censored at day 5
      // otherwise — the standard fixed-horizon design, so the
      // censoring path is genuinely exercised. Covariate = signup on
      // the origin day (pure min-algebra — no argmin tie-break, so
      // every engine derives the same cohort). This is the REGRESSION
      // complement of q168's Kaplan–Meier curves: one β with a
      // standard error instead of two curves to eyeball. One
      // user-keyed corpus rollup; risk sets, Newton rounds and the
      // Wald test all ride the bounded duration grid in
      // Stats.coxNewtonBinary.
      val ev = t(s, dir, "events")
      val day = expr("unix_micros(ts) DIV 86400000000")
      val byUser = ev.groupBy(col("user_id")).agg(
        min(day).as("d0"),
        min(when(col("event_type") === "purchase", day)).as("dp"),
        min(when(col("event_type") === "signup", day)).as("ds"))
      val death = col("dp").isNotNull && col("dp") - col("d0") <= 5
      val subj = byUser.select(
        when(death, col("dp") - col("d0")).otherwise(lit(5L)).as("t"),
        coalesce(col("ds") === col("d0"), lit(false)).as("x"),
        death.as("death"))
      val hist = subj.groupBy(col("t"), col("x")).agg(
        sum(when(col("death"), 1L).otherwise(0L)).as("deaths"),
        count(lit(1)).as("total"))
      operators.Stats.coxNewtonBinary(hist)
    }),
      {
      val mu = "CAST(n1r AS DOUBLE) * exp(beta) / (CAST(n0r AS DOUBLE)" +
        " + CAST(n1r AS DOUBLE) * exp(beta))"
      def pinSum(e: String) =
        s"CAST(sum(CAST(round($e, 9) AS DECIMAL(29,9))) AS DOUBLE)"
      val iter = (k: Int) =>
        s"""i$k AS (
           |  SELECT ${pinSum(s"CAST(d1 AS DOUBLE) - CAST(d AS DOUBLE) * $mu")} AS g,
           |    ${pinSum(s"CAST(d AS DOUBLE) * $mu * (1.0 - $mu)")} AS info
           |  FROM et, s${k - 1}
           |), s$k AS (
           |  SELECT round(beta + g / info, 12) AS beta
           |  FROM i$k, s${k - 1}
           |)""".stripMargin
      s"""WITH byu AS (
         |  SELECT user_id,
         |    min(epoch_us(ts) // 86400000000) AS d0,
         |    min(CASE WHEN event_type = 'purchase'
         |      THEN epoch_us(ts) // 86400000000 END) AS dp,
         |    min(CASE WHEN event_type = 'signup'
         |      THEN epoch_us(ts) // 86400000000 END) AS ds
         |  FROM events GROUP BY 1
         |), subj AS (
         |  SELECT CASE WHEN dp IS NOT NULL AND dp - d0 <= 5
         |      THEN dp - d0 ELSE 5 END AS t,
         |    coalesce(ds = d0, false) AS x,
         |    dp IS NOT NULL AND dp - d0 <= 5 AS death
         |  FROM byu
         |), hist AS MATERIALIZED (
         |  SELECT t, x,
         |    CAST(sum(CASE WHEN death THEN 1 ELSE 0 END) AS BIGINT)
         |      AS d,
         |    CAST(count(*) AS BIGINT) AS tot
         |  FROM subj GROUP BY 1, 2
         |), grid AS (
         |  SELECT ts0.t, xs.x, coalesce(h.d, 0) AS d,
         |    coalesce(h.tot, 0) AS tot
         |  FROM (SELECT DISTINCT t FROM hist) ts0
         |  CROSS JOIN (SELECT unnest([false, true]) AS x) xs
         |  LEFT JOIN hist h ON h.t = ts0.t AND h.x = xs.x
         |), risk AS (
         |  SELECT t, x, d, tot,
         |    sum(tot) OVER (PARTITION BY x ORDER BY t DESC) AS atrisk
         |  FROM grid
         |), et AS MATERIALIZED (
         |  SELECT t, CAST(sum(d) AS BIGINT) AS d,
         |    CAST(sum(CASE WHEN x THEN d ELSE 0 END) AS BIGINT) AS d1,
         |    CAST(sum(CASE WHEN x THEN atrisk ELSE 0 END) AS BIGINT)
         |      AS n1r,
         |    CAST(sum(CASE WHEN NOT x THEN atrisk ELSE 0 END)
         |      AS BIGINT) AS n0r
         |  FROM risk GROUP BY 1 HAVING sum(d) > 0
         |), tots AS (
         |  SELECT CAST(sum(tot) AS BIGINT) AS n_subjects,
         |    CAST(sum(d) AS BIGINT) AS n_events
         |  FROM hist
         |), s0 AS (SELECT CAST(0.0 AS DOUBLE) AS beta),
         |${(1 to 4).map(iter).mkString(",\n")},
         |fin AS (
         |  SELECT ${pinSum(s"CAST(d AS DOUBLE) * $mu * (1.0 - $mu)")} AS info
         |  FROM et, s4
         |), pv0 AS (
         |  SELECT n_subjects, n_events, beta, info,
         |    abs(beta / (1.0 / sqrt(info))) AS az,
         |    1.0 / (1.0 + 0.2316419
         |      * abs(beta / (1.0 / sqrt(info)))) AS tt
         |  FROM fin, s4, tots
         |)
         |SELECT n_subjects, n_events, round(beta, 6) AS beta,
         |  round(exp(beta), 6) AS hazard_ratio,
         |  round(1.0 / sqrt(info), 6) AS se,
         |  round(beta / (1.0 / sqrt(info)), 6) AS z,
         |  round(2.0 * (0.3989422804014327 * exp(-0.5 * az * az))
         |    * (tt * (0.319381530 + tt * (-0.356563782
         |      + tt * (1.781477937 + tt * (-1.821255978
         |        + tt * 1.330274429))))), 9) AS p_value
         |FROM pv0""".stripMargin
    }),

    QuerySpec("q276_ipw_ate", ((s, dir) => {
      // inverse-propensity-weighted ATE with an IN-ENGINE logistic
      // propensity model (Rosenbaum & Rubin 1983; Hájek-normalized,
      // Horvitz-Thompson family): does urgent order priority shift
      // order value once customer balance and season are adjusted
      // for? The whole estimator rides ONE bounded histogram: the
      // corpus pays a single orders⋈customer join + rollup into
      // (balance-grid, month, treated) cells carrying counts AND
      // outcome sums; the propensity fit (Stats.logisticGdHist, 8
      // GD rounds), the cell-level p̂ scores, the [0.01,0.99]
      // trimming (Crump et al. 2009) and the weighted means are all
      // algebra on those cells — treatment modeling with zero extra
      // corpus passes. The md5-coin designs (q147/q271) randomize
      // and so never need this; IPW is the estimator for OBSERVED
      // treatments.
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      // customer is SF-linear: no forced broadcast — the join is
      // equi-keyed on custkey and AQE picks the strategy by real size
      val joined = o.join(c,
        col("o_custkey") === col("c_custkey"))
      val hist = operators.Materializer.Local(joined.select(
          round(col("c_acctbal") / 1000.0, 1).as("u"),
          month(col("o_orderdate")).cast("double").as("v"),
          col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("tr"),
          col("o_totalprice").cast("decimal(19,6)").as("y"))
        .groupBy(col("u"), col("v"), col("tr"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("sumy")))
      def pin6(cc: Column) = round(cc, 6).cast("decimal(29,6)")
      val mom = hist.agg(sum(col("n")).as("nt"),
        sum(pin6(col("u") * col("n"))).as("su"),
        sum(pin6(col("u") * col("u") * col("n"))).as("suu"),
        sum(pin6(col("v") * col("n"))).as("sv"),
        sum(pin6(col("v") * col("v") * col("n"))).as("svv"))
      val nD = col("nt").cast("double")
      val mu = col("su").cast("double") / nD
      val mv = col("sv").cast("double") / nD
      val sdu = sqrt(col("suu").cast("double") / nD - mu * mu)
      val sdv = sqrt(col("svv").cast("double") / nD - mv * mv)
      val feats = operators.Materializer.Local(
        hist.crossJoin(broadcast(mom))
          .select(round((col("u") - mu) / sdu, 6).as("x1"),
            round((col("v") - mv) / sdv, 6).as("x2"),
            col("tr"), col("n"), col("sumy")))
      val fit = operators.Stats.logisticGdHist(feats,
        Seq("x1", "x2"), "tr", rounds = 8)
      val phat = least(lit(0.99), greatest(lit(0.01),
        lit(1.0) / (lit(1.0) + exp(-(col("w0") + col("w1") * col("x1")
          + col("w2") * col("x2"))))))
      val scored = feats.crossJoin(broadcast(
        fit.select(col("w0"), col("w1"), col("w2"))))
      def pin9(cc: Column) = round(cc, 6).cast("decimal(29,6)")
      val sums = scored.agg(
        sum(col("n")).as("n"),
        sum(when(col("tr"), col("n")).otherwise(0L)).as("n_t"),
        sum(when(col("tr"), col("sumy"))
          .otherwise(lit(0).cast("decimal(29,6)"))).as("y_t_raw"),
        sum(when(!col("tr"), col("sumy"))
          .otherwise(lit(0).cast("decimal(29,6)"))).as("y_c_raw"),
        sum(when(col("tr"),
          pin9(col("sumy").cast("double") / phat))
          .otherwise(lit(0).cast("decimal(29,6)"))).as("wy_t"),
        sum(when(col("tr"), pin9(col("n").cast("double") / phat))
          .otherwise(lit(0).cast("decimal(29,6)"))).as("wn_t"),
        sum(when(!col("tr"),
          pin9(col("sumy").cast("double") / (lit(1.0) - phat)))
          .otherwise(lit(0).cast("decimal(29,6)"))).as("wy_c"),
        sum(when(!col("tr"),
          pin9(col("n").cast("double") / (lit(1.0) - phat)))
          .otherwise(lit(0).cast("decimal(29,6)"))).as("wn_c"),
        max(col("w0")).as("w0"), max(col("w1")).as("w1"),
        max(col("w2")).as("w2"))
      sums.select(col("n").cast("long").as("n"),
        col("n_t").cast("long").as("n_t"),
        col("w0"), col("w1"), col("w2"),
        round(col("y_t_raw").cast("double")
            / col("n_t").cast("double")
          - col("y_c_raw").cast("double")
            / (col("n") - col("n_t")).cast("double"), 6)
          .as("naive_diff"),
        round(col("wy_t").cast("double") / col("wn_t").cast("double")
          - col("wy_c").cast("double") / col("wn_c").cast("double"), 6)
          .as("ate_ipw"))
    }),
      {
      val prob = "1.0 / (1.0 + exp(-(w0 + w1 * x1 + w2 * x2)))"
      val yd = "(CASE WHEN tr THEN 1.0 ELSE 0.0 END)"
      val resid = s"CAST(n AS DOUBLE) * ($yd - $prob)"
      def gsum(e: String) =
        s"CAST(sum(CAST(round($e, 9) AS DECIMAL(29,9))) AS DOUBLE)"
      val iter = (k: Int) =>
        s"""g$k AS (
           |  SELECT ${gsum(resid)} AS g0,
           |    ${gsum(s"$resid * x1")} AS g1,
           |    ${gsum(s"$resid * x2")} AS g2
           |  FROM feats, s${k - 1}
           |), s$k AS (
           |  SELECT round(w0 + 2.0 * g0 / CAST(nt AS DOUBLE), 12) AS w0,
           |    round(w1 + 2.0 * g1 / CAST(nt AS DOUBLE), 12) AS w1,
           |    round(w2 + 2.0 * g2 / CAST(nt AS DOUBLE), 12) AS w2
           |  FROM g$k, s${k - 1}, momc
           |)""".stripMargin
      val phat = "least(0.99, greatest(0.01, 1.0 / (1.0 + " +
        "exp(-(fw0 + fw1 * x1 + fw2 * x2)))))"
      def pinW(e: String) = s"CAST(round($e, 6) AS DECIMAL(29,6))"
      s"""WITH hist AS MATERIALIZED (
         |  SELECT round(c_acctbal / 1000.0, 1) AS u,
         |    CAST(month(o_orderdate) AS DOUBLE) AS v,
         |    o_orderpriority IN ('1-URGENT', '2-HIGH') AS tr,
         |    CAST(count(*) AS BIGINT) AS n,
         |    sum(CAST(o_totalprice AS DECIMAL(19,6))) AS sumy
         |  FROM orders JOIN customer ON o_custkey = c_custkey
         |  GROUP BY 1, 2, 3
         |), mom AS (
         |  SELECT CAST(sum(n) AS BIGINT) AS nt,
         |    sum(CAST(round(u * n, 6) AS DECIMAL(29,6))) AS su,
         |    sum(CAST(round(u * u * n, 6) AS DECIMAL(29,6))) AS suu,
         |    sum(CAST(round(v * n, 6) AS DECIMAL(29,6))) AS sv,
         |    sum(CAST(round(v * v * n, 6) AS DECIMAL(29,6))) AS svv
         |  FROM hist
         |), momc AS (
         |  SELECT nt,
         |    CAST(su AS DOUBLE) / CAST(nt AS DOUBLE) AS mu,
         |    CAST(sv AS DOUBLE) / CAST(nt AS DOUBLE) AS mv,
         |    sqrt(CAST(suu AS DOUBLE) / CAST(nt AS DOUBLE)
         |      - (CAST(su AS DOUBLE) / CAST(nt AS DOUBLE))
         |        * (CAST(su AS DOUBLE) / CAST(nt AS DOUBLE))) AS sdu,
         |    sqrt(CAST(svv AS DOUBLE) / CAST(nt AS DOUBLE)
         |      - (CAST(sv AS DOUBLE) / CAST(nt AS DOUBLE))
         |        * (CAST(sv AS DOUBLE) / CAST(nt AS DOUBLE))) AS sdv
         |  FROM mom
         |), feats AS MATERIALIZED (
         |  SELECT round((u - mu) / sdu, 6) AS x1,
         |    round((v - mv) / sdv, 6) AS x2, tr, n, sumy
         |  FROM hist, momc
         |), s0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0,
         |  CAST(0.0 AS DOUBLE) AS w1, CAST(0.0 AS DOUBLE) AS w2),
         |${(1 to 8).map(iter).mkString(",\n")},
         |fitw AS (SELECT round(w0, 6) AS fw0, round(w1, 6) AS fw1,
         |  round(w2, 6) AS fw2 FROM s8),
         |sums AS (
         |  SELECT CAST(sum(n) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN tr THEN n ELSE 0 END) AS BIGINT)
         |      AS n_t,
         |    sum(CASE WHEN tr THEN sumy
         |      ELSE CAST(0 AS DECIMAL(29,6)) END) AS y_t_raw,
         |    sum(CASE WHEN NOT tr THEN sumy
         |      ELSE CAST(0 AS DECIMAL(29,6)) END) AS y_c_raw,
         |    sum(CASE WHEN tr
         |      THEN ${pinW(s"CAST(sumy AS DOUBLE) / $phat")}
         |      ELSE CAST(0 AS DECIMAL(29,6)) END) AS wy_t,
         |    sum(CASE WHEN tr
         |      THEN ${pinW(s"CAST(n AS DOUBLE) / $phat")}
         |      ELSE CAST(0 AS DECIMAL(29,6)) END) AS wn_t,
         |    sum(CASE WHEN NOT tr
         |      THEN ${pinW(s"CAST(sumy AS DOUBLE) / (1.0 - $phat)")}
         |      ELSE CAST(0 AS DECIMAL(29,6)) END) AS wy_c,
         |    sum(CASE WHEN NOT tr
         |      THEN ${pinW(s"CAST(n AS DOUBLE) / (1.0 - $phat)")}
         |      ELSE CAST(0 AS DECIMAL(29,6)) END) AS wn_c,
         |    max(fw0) AS w0, max(fw1) AS w1, max(fw2) AS w2
         |  FROM feats, fitw
         |)
         |SELECT n, n_t, w0, w1, w2,
         |  round(CAST(y_t_raw AS DOUBLE) / CAST(n_t AS DOUBLE)
         |    - CAST(y_c_raw AS DOUBLE) / CAST(n - n_t AS DOUBLE), 6)
         |    AS naive_diff,
         |  round(CAST(wy_t AS DOUBLE) / CAST(wn_t AS DOUBLE)
         |    - CAST(wy_c AS DOUBLE) / CAST(wn_c AS DOUBLE), 6)
         |    AS ate_ipw
         |FROM sums""".stripMargin
    }),

    QuerySpec("q277_poisson_bootstrap", ((s, dir) => {
      // Poisson-bootstrap standard error for revenue-per-order at
      // CUSTOMER grain (Chamandy, Muralidharan, Najmi & Naidu 2012 —
      // the bootstrap that actually runs at 100 TB): a multinomial
      // resample needs the global n before any row can draw its count,
      // but Binomial(n, 1/n) → Poisson(1), so each unit draws B=64
      // independent multiplicities map-side from the deterministic
      // md5-uniform (q195/q257 convention) — replayable, coordination-
      // free, one shuffle. The corpus pays ONE rollup to per-customer
      // (orders, revenue); the ×64 explode and the resample aggregate
      // ride that bounded unit table; resampling at the unit grain
      // keeps each customer's correlated orders together (the same
      // reason q243's jackknife buckets by user). Output: the point
      // estimate, bootstrap mean/SE, and the exact 2nd/63rd
      // order-statistic percentile CI.
      import org.apache.spark.sql.expressions.Window
      val o = t(s, dir, "orders")
      val units = operators.Materializer.Local(
        o.groupBy(col("o_custkey")).agg(
          count(lit(1)).as("n_ord"),
          sum(col("o_totalprice").cast("decimal(19,6)")).as("sumy")))
      val fullT = units.agg(count(lit(1)).as("n_units"),
        round(sum(col("sumy")).cast("double")
          / sum(col("n_ord")).cast("double"), 9).as("theta_hat"))
      val u = (conv(substring(md5(concat(lit("pb|"),
          col("o_custkey").cast("string"), lit("|"),
          col("b").cast("string"))), 1, 8), 16, 10).cast("double")
        + lit(0.5)) / lit(4294967296.0)
      val boot = operators.Materializer.Local(units
        .select(col("o_custkey"), col("n_ord"), col("sumy"),
          explode(sequence(lit(0), lit(63))).as("b"))
        .select(col("b"), operators.Stats.poissonWeight(u).as("w"),
          col("n_ord"), col("sumy"))
        .groupBy(col("b"))
        .agg(round(
          sum(col("w").cast("decimal(2,0)") * col("sumy"))
            .cast("double")
          / sum(col("w") * col("n_ord")).cast("double"), 9)
          .as("theta_b")))
      val ss = boot.agg(
        sum(round(col("theta_b"), 9).cast("decimal(29,9)")).as("st"),
        sum(round(col("theta_b") * col("theta_b"), 6)
          .cast("decimal(29,6)")).as("stt"))
      val ranked = boot.select(col("theta_b"), row_number()
        .over(Window.orderBy(col("theta_b"), col("b"))).as("rn"))
      val lo = ranked.filter(col("rn") === 2)
        .select(round(col("theta_b"), 6).as("ci_lo"))
      val hi = ranked.filter(col("rn") === 63)
        .select(round(col("theta_b"), 6).as("ci_hi"))
      fullT.crossJoin(broadcast(ss))
        .crossJoin(operators.Hints.boundedBroadcast(lo, "replicate_set"))
        .crossJoin(operators.Hints.boundedBroadcast(hi, "replicate_set"))
        .select(col("n_units"), lit(64).as("b_count"),
          col("theta_hat"),
          round(col("st").cast("double") / lit(64.0), 6)
            .as("boot_mean"),
          round(sqrt((col("stt").cast("double")
            - col("st").cast("double") * col("st").cast("double")
              / lit(64.0)) / lit(63.0)), 6).as("boot_se"),
          col("ci_lo"), col("ci_hi"))
    }),
      {
      // the Poisson(1) inverse-CDF CASE chain is generated from the
      // SAME threshold list the Spark side folds over
      val wCase = "CASE " + operators.Stats.poissonCdf1.zipWithIndex
        .map { case (t, k) => s"WHEN u < $t THEN $k" }
        .mkString(" ") + " ELSE 8 END"
      s"""WITH units AS MATERIALIZED (
         |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_ord,
         |    sum(CAST(o_totalprice AS DECIMAL(19,6))) AS sumy
         |  FROM orders GROUP BY 1
         |), full_t AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_units,
         |    round(CAST(sum(sumy) AS DOUBLE)
         |      / CAST(sum(n_ord) AS DOUBLE), 9) AS theta_hat
         |  FROM units
         |), drawn AS (
         |  SELECT b, n_ord, sumy,
         |    (CAST(list_sum([CAST(round(pow(16, 7 - i)) AS BIGINT) *
         |      (strpos('0123456789abcdef',
         |        substr(md5('pb|' || CAST(o_custkey AS VARCHAR) || '|'
         |          || CAST(b AS VARCHAR)), i + 1, 1)) - 1)
         |      for i in range(0, 8)]) AS DOUBLE) + 0.5) / 4294967296.0
         |      AS u
         |  FROM units, range(64) t(b)
         |), weighted AS (
         |  SELECT b, $wCase AS w, n_ord, sumy FROM drawn
         |), boot AS MATERIALIZED (
         |  SELECT b,
         |    round(CAST(sum(CAST(w AS DECIMAL(2,0)) * sumy) AS DOUBLE)
         |      / CAST(sum(w * n_ord) AS DOUBLE), 9) AS theta_b
         |  FROM weighted GROUP BY 1
         |), ss AS (
         |  SELECT sum(CAST(round(theta_b, 9) AS DECIMAL(29,9))) AS st,
         |    sum(CAST(round(theta_b * theta_b, 6) AS DECIMAL(29,6)))
         |      AS stt
         |  FROM boot
         |), ranked AS (
         |  SELECT theta_b, row_number() OVER (ORDER BY theta_b, b)
         |    AS rn
         |  FROM boot
         |)
         |SELECT n_units, 64 AS b_count, theta_hat,
         |  round(CAST(st AS DOUBLE) / 64.0, 6) AS boot_mean,
         |  round(sqrt((CAST(stt AS DOUBLE)
         |    - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / 64.0)
         |    / 63.0), 6) AS boot_se,
         |  (SELECT round(theta_b, 6) FROM ranked WHERE rn = 2)
         |    AS ci_lo,
         |  (SELECT round(theta_b, 6) FROM ranked WHERE rn = 63)
         |    AS ci_hi
         |FROM full_t, ss""".stripMargin
    }),

    QuerySpec("q279_aipw_ate", ((s, dir) => {
      // doubly-robust AIPW ATE (Robins, Rotnitzky & Zhao 1994; the
      // augmented estimator that stays consistent if EITHER the
      // propensity model or the outcome model is right): q276's
      // logistic propensity on (balance, season) PLUS per-arm linear
      // outcome models m₁/m₀ fit closed-form by Cramer's rule on the
      // 3×3 normal equations (Stats.ols2Beta) — ψ̂ = mean[m₁−m₀ +
      // T(Y−m₁)/ê − (1−T)(Y−m₀)/(1−ê)]. Everything after the single
      // orders⋈customer rollup is algebra on the SAME bounded
      // (balance-grid, month, arm) cell table q276 builds: the corpus
      // pays no extra pass for the second model — that is the point of
      // sufficient-statistic modeling at 100 TB.
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      // customer is SF-linear: no forced broadcast — the join is
      // equi-keyed on custkey and AQE picks the strategy by real size
      val joined = o.join(c,
        col("o_custkey") === col("c_custkey"))
      val hist = operators.Materializer.Local(joined.select(
          round(col("c_acctbal") / 1000.0, 1).as("u"),
          month(col("o_orderdate")).cast("double").as("v"),
          col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("tr"),
          col("o_totalprice").cast("decimal(19,6)").as("y"))
        .groupBy(col("u"), col("v"), col("tr"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("sumy")))
      def pin6(cc: Column) = round(cc, 6).cast("decimal(29,6)")
      val mom = hist.agg(sum(col("n")).as("nt"),
        sum(pin6(col("u") * col("n"))).as("su"),
        sum(pin6(col("u") * col("u") * col("n"))).as("suu"),
        sum(pin6(col("v") * col("n"))).as("sv"),
        sum(pin6(col("v") * col("v") * col("n"))).as("svv"))
      val nD = col("nt").cast("double")
      val mu = col("su").cast("double") / nD
      val mv = col("sv").cast("double") / nD
      val sdu = sqrt(col("suu").cast("double") / nD - mu * mu)
      val sdv = sqrt(col("svv").cast("double") / nD - mv * mv)
      val feats = operators.Materializer.Local(
        hist.crossJoin(broadcast(mom))
          .select(round((col("u") - mu) / sdu, 6).as("x1"),
            round((col("v") - mv) / sdv, 6).as("x2"),
            col("tr"), col("n"), col("sumy")))
      val fit = operators.Stats.logisticGdHist(feats,
        Seq("x1", "x2"), "tr", rounds = 8)
      val osums = feats.groupBy(col("tr")).agg(
        sum(col("n")).as("n"),
        sum(pin6(col("x1") * col("n"))).as("sx1"),
        sum(pin6(col("x2") * col("n"))).as("sx2"),
        sum(pin6(col("x1") * col("x1") * col("n"))).as("sx11"),
        sum(pin6(col("x1") * col("x2") * col("n"))).as("sx12"),
        sum(pin6(col("x2") * col("x2") * col("n"))).as("sx22"),
        sum(col("sumy")).as("sy"),
        sum(pin6(col("x1") * col("sumy").cast("double"))).as("sx1y"),
        sum(pin6(col("x2") * col("sumy").cast("double"))).as("sx2y"))
      val beta = operators.Stats.ols2Beta(osums)
      val bt = beta.filter(col("tr")).select(col("b0").as("b0_t"),
        col("b1").as("b1_t"), col("b2").as("b2_t"))
      val bc = beta.filter(!col("tr")).select(col("b0").as("b0_c"),
        col("b1").as("b1_c"), col("b2").as("b2_c"))
      val phat = least(lit(0.99), greatest(lit(0.01),
        lit(1.0) / (lit(1.0) + exp(-(col("w0") + col("w1") * col("x1")
          + col("w2") * col("x2"))))))
      val m1 = round(col("b0_t") + col("b1_t") * col("x1")
        + col("b2_t") * col("x2"), 6)
      val m0 = round(col("b0_c") + col("b1_c") * col("x1")
        + col("b2_c") * col("x2"), 6)
      val cells = feats
        .crossJoin(broadcast(
          fit.select(col("w0"), col("w1"), col("w2"))))
        .crossJoin(operators.Hints.boundedBroadcast(bt, "arm_domain"))
        .crossJoin(operators.Hints.boundedBroadcast(bc, "arm_domain"))
        .select(col("n"), col("sumy"), col("tr"), col("b0_t"),
          col("b0_c"), m1.as("m1"), m0.as("m0"), phat.as("e"))
      val comb = cells.agg(sum(col("n")).as("nn"),
        sum(when(col("tr"), col("n")).otherwise(0L)).as("n_t"),
        sum(round(col("n").cast("double") * (col("m1") - col("m0"))
          + when(col("tr"),
            (col("sumy").cast("double")
              - col("n").cast("double") * col("m1")) / col("e"))
            .otherwise(-(col("sumy").cast("double")
              - col("n").cast("double") * col("m0"))
              / (lit(1.0) - col("e"))), 6).cast("decimal(29,6)"))
          .as("psi"),
        max(col("b0_t")).as("b0_t"), max(col("b0_c")).as("b0_c"))
      comb.select(col("nn").cast("long").as("n"),
        col("n_t").cast("long").as("n_t"),
        col("b0_t"), col("b0_c"),
        round(col("psi").cast("double") / col("nn").cast("double"), 6)
          .as("ate_aipw"))
    }),
      {
      // shares q276's hist/mom/feats/GD-iteration prefix verbatim,
      // then adds the per-arm OLS outcome models (Cramer's rule — the
      // same term order as Stats.ols2Beta) and the AIPW combine
      val prob = "1.0 / (1.0 + exp(-(w0 + w1 * x1 + w2 * x2)))"
      val yd = "(CASE WHEN tr THEN 1.0 ELSE 0.0 END)"
      val resid = s"CAST(n AS DOUBLE) * ($yd - $prob)"
      def gsum(e: String) =
        s"CAST(sum(CAST(round($e, 9) AS DECIMAL(29,9))) AS DOUBLE)"
      val iter = (k: Int) =>
        s"""g$k AS (
           |  SELECT ${gsum(resid)} AS g0,
           |    ${gsum(s"$resid * x1")} AS g1,
           |    ${gsum(s"$resid * x2")} AS g2
           |  FROM feats, s${k - 1}
           |), s$k AS (
           |  SELECT round(w0 + 2.0 * g0 / CAST(nt AS DOUBLE), 12) AS w0,
           |    round(w1 + 2.0 * g1 / CAST(nt AS DOUBLE), 12) AS w1,
           |    round(w2 + 2.0 * g2 / CAST(nt AS DOUBLE), 12) AS w2
           |  FROM g$k, s${k - 1}, momc
           |)""".stripMargin
      val phat = "least(0.99, greatest(0.01, 1.0 / (1.0 + " +
        "exp(-(fw0 + fw1 * x1 + fw2 * x2)))))"
      def dd(c: String) = s"CAST($c AS DOUBLE)"
      def det3(a: Seq[String]): String = {
        val Seq(a11, a12, a13, a21, a22, a23, a31, a32, a33) =
          a.map(dd)
        s"($a11 * ($a22 * $a33 - $a23 * $a32) " +
          s"- $a12 * ($a21 * $a33 - $a23 * $a31) " +
          s"+ $a13 * ($a21 * $a32 - $a22 * $a31))"
      }
      val det = det3(Seq("n", "sx1", "sx2", "sx1", "sx11", "sx12",
        "sx2", "sx12", "sx22"))
      val b0 = det3(Seq("sy", "sx1", "sx2", "sx1y", "sx11", "sx12",
        "sx2y", "sx12", "sx22"))
      val b1 = det3(Seq("n", "sy", "sx2", "sx1", "sx1y", "sx12",
        "sx2", "sx2y", "sx22"))
      val b2 = det3(Seq("n", "sx1", "sy", "sx1", "sx11", "sx1y",
        "sx2", "sx12", "sx2y"))
      s"""WITH hist AS MATERIALIZED (
         |  SELECT round(c_acctbal / 1000.0, 1) AS u,
         |    CAST(month(o_orderdate) AS DOUBLE) AS v,
         |    o_orderpriority IN ('1-URGENT', '2-HIGH') AS tr,
         |    CAST(count(*) AS BIGINT) AS n,
         |    sum(CAST(o_totalprice AS DECIMAL(19,6))) AS sumy
         |  FROM orders JOIN customer ON o_custkey = c_custkey
         |  GROUP BY 1, 2, 3
         |), mom AS (
         |  SELECT CAST(sum(n) AS BIGINT) AS nt,
         |    sum(CAST(round(u * n, 6) AS DECIMAL(29,6))) AS su,
         |    sum(CAST(round(u * u * n, 6) AS DECIMAL(29,6))) AS suu,
         |    sum(CAST(round(v * n, 6) AS DECIMAL(29,6))) AS sv,
         |    sum(CAST(round(v * v * n, 6) AS DECIMAL(29,6))) AS svv
         |  FROM hist
         |), momc AS (
         |  SELECT nt,
         |    CAST(su AS DOUBLE) / CAST(nt AS DOUBLE) AS mu,
         |    CAST(sv AS DOUBLE) / CAST(nt AS DOUBLE) AS mv,
         |    sqrt(CAST(suu AS DOUBLE) / CAST(nt AS DOUBLE)
         |      - (CAST(su AS DOUBLE) / CAST(nt AS DOUBLE))
         |        * (CAST(su AS DOUBLE) / CAST(nt AS DOUBLE))) AS sdu,
         |    sqrt(CAST(svv AS DOUBLE) / CAST(nt AS DOUBLE)
         |      - (CAST(sv AS DOUBLE) / CAST(nt AS DOUBLE))
         |        * (CAST(sv AS DOUBLE) / CAST(nt AS DOUBLE))) AS sdv
         |  FROM mom
         |), feats AS MATERIALIZED (
         |  SELECT round((u - mu) / sdu, 6) AS x1,
         |    round((v - mv) / sdv, 6) AS x2, tr, n, sumy
         |  FROM hist, momc
         |), s0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0,
         |  CAST(0.0 AS DOUBLE) AS w1, CAST(0.0 AS DOUBLE) AS w2),
         |${(1 to 8).map(iter).mkString(",\n")},
         |fitw AS (SELECT round(w0, 6) AS fw0, round(w1, 6) AS fw1,
         |  round(w2, 6) AS fw2 FROM s8),
         |osums AS (
         |  SELECT tr, CAST(sum(n) AS BIGINT) AS n,
         |    sum(CAST(round(x1 * n, 6) AS DECIMAL(29,6))) AS sx1,
         |    sum(CAST(round(x2 * n, 6) AS DECIMAL(29,6))) AS sx2,
         |    sum(CAST(round(x1 * x1 * n, 6) AS DECIMAL(29,6)))
         |      AS sx11,
         |    sum(CAST(round(x1 * x2 * n, 6) AS DECIMAL(29,6)))
         |      AS sx12,
         |    sum(CAST(round(x2 * x2 * n, 6) AS DECIMAL(29,6)))
         |      AS sx22,
         |    sum(sumy) AS sy,
         |    sum(CAST(round(x1 * CAST(sumy AS DOUBLE), 6)
         |      AS DECIMAL(29,6))) AS sx1y,
         |    sum(CAST(round(x2 * CAST(sumy AS DOUBLE), 6)
         |      AS DECIMAL(29,6))) AS sx2y
         |  FROM feats GROUP BY 1
         |), beta AS (
         |  SELECT tr, round($b0 / $det, 9) AS b0,
         |    round($b1 / $det, 9) AS b1,
         |    round($b2 / $det, 9) AS b2
         |  FROM osums
         |), bt AS (SELECT b0 AS b0_t, b1 AS b1_t, b2 AS b2_t
         |  FROM beta WHERE tr),
         |bc AS (SELECT b0 AS b0_c, b1 AS b1_c, b2 AS b2_c
         |  FROM beta WHERE NOT tr),
         |cells AS (
         |  SELECT n, sumy, tr,
         |    round(b0_t + b1_t * x1 + b2_t * x2, 6) AS m1,
         |    round(b0_c + b1_c * x1 + b2_c * x2, 6) AS m0,
         |    $phat AS e, b0_t, b0_c
         |  FROM feats, fitw, bt, bc
         |), comb AS (
         |  SELECT CAST(sum(n) AS BIGINT) AS nn,
         |    CAST(sum(CASE WHEN tr THEN n ELSE 0 END) AS BIGINT)
         |      AS n_t,
         |    sum(CAST(round(CAST(n AS DOUBLE) * (m1 - m0)
         |      + CASE WHEN tr
         |        THEN (CAST(sumy AS DOUBLE)
         |          - CAST(n AS DOUBLE) * m1) / e
         |        ELSE -(CAST(sumy AS DOUBLE)
         |          - CAST(n AS DOUBLE) * m0) / (1.0 - e) END, 6)
         |      AS DECIMAL(29,6))) AS psi,
         |    max(b0_t) AS b0_t, max(b0_c) AS b0_c
         |  FROM cells
         |)
         |SELECT nn AS n, n_t, b0_t, b0_c,
         |  round(CAST(psi AS DOUBLE) / CAST(nn AS DOUBLE), 6)
         |    AS ate_aipw
         |FROM comb""".stripMargin
    }),

    QuerySpec("q285_bradley_terry", ((s, dir) => {
      // Bradley–Terry paired-comparison strengths (Bradley & Terry 1952)
      // fitted by Hunter's (2004) MM iterations — the model behind
      // pairwise preference data (RLHF reward datasets, ranker evals).
      // Comparisons: within each (user, day), every pair of event types
      // the user touched "plays"; the higher summed value wins (exact
      // DECIMAL compare, ties discarded). ONE corpus exchange to
      // (user, day, type) cells; the pair join runs inside
      // entity-bounded user-day groups (≤|types| rows each), and the MM
      // loop is pure broadcast algebra on the ≤|types|² pair table —
      // three rounds cost three ≤25-row joins at any corpus size. Each
      // MM term requantizes to DECIMAL(19,9) before its sum, so
      // partial-agg order can never flip a bit vs the oracle's unrolled
      // replay.
      val ev = t(s, dir, "events")
      val ud = ev.select(col("user_id"),
          date_trunc("day", col("ts")).as("d"),
          col("event_type"), col("value"))
        .groupBy(col("user_id"), col("d"), col("event_type"))
        .agg(sum(col("value").cast("decimal(19,6)")).as("sv"))
      val pa = ud.select(col("user_id"), col("d"),
        col("event_type").as("i"), col("sv").as("sva"))
      val pb = ud.select(col("user_id"), col("d"),
        col("event_type").as("j"), col("sv").as("svb"))
      val pair = pa.join(pb, Seq("user_id", "d"))
        .filter(col("i") < col("j") && col("sva") =!= col("svb"))
        .groupBy(col("i"), col("j"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("sva") > col("svb"), 1L).otherwise(0L)).as("wi"),
          sum(when(col("svb") > col("sva"), 1L).otherwise(0L)).as("wj"))
      operators.Stats.bradleyTerry(pair)
        .withColumnRenamed("i", "event_type")
        .orderBy(col("strength").desc, col("event_type"))
    }),
      {
      // unrolled 3-round Hunter-MM replay; each round's terms round(9)
      // to DECIMAL(19,9) before summing, exactly as the Spark loop
      val rounds = (1 to 3).map { r =>
        val prev = s"s${r - 1}"
        s"""d$r AS (
           |  SELECT sym.i,
           |    SUM(CAST(round(CAST(n AS DOUBLE) / (si.st + sj.st), 9)
           |      AS DECIMAL(19,9))) AS dn
           |  FROM sym JOIN $prev si ON sym.i = si.i
           |    JOIN $prev sj ON sym.j = sj.i
           |  GROUP BY 1
           |), r$r AS (
           |  SELECT d$r.i,
           |    round(CAST(wins AS DOUBLE) / CAST(dn AS DOUBLE), 9) AS sr
           |  FROM d$r JOIN wt ON d$r.i = wt.i
           |), t$r AS (
           |  SELECT SUM(CAST(sr AS DECIMAL(19,9))) AS tot FROM r$r
           |), s$r AS (
           |  SELECT i, round(sr * nt / CAST(tot AS DOUBLE), 9) AS st
           |  FROM r$r, t$r, ntc
           |)""".stripMargin
      }.mkString(", ")
      s"""WITH ud AS (
         |  SELECT user_id, date_trunc('day', ts) AS d, event_type,
         |    sum(CAST(value AS DECIMAL(19,6))) AS sv
         |  FROM events GROUP BY 1, 2, 3
         |), pair AS MATERIALIZED (
         |  SELECT a.event_type AS i, b.event_type AS j,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN a.sv > b.sv THEN 1 ELSE 0 END)
         |      AS BIGINT) AS wi,
         |    CAST(sum(CASE WHEN b.sv > a.sv THEN 1 ELSE 0 END)
         |      AS BIGINT) AS wj
         |  FROM ud a JOIN ud b ON a.user_id = b.user_id AND a.d = b.d
         |    AND a.event_type < b.event_type
         |  WHERE a.sv <> b.sv GROUP BY 1, 2
         |), sym AS MATERIALIZED (
         |  SELECT i, j, n, wi AS w FROM pair
         |  UNION ALL SELECT j, i, n, wj FROM pair
         |), wt AS MATERIALIZED (
         |  SELECT i, CAST(SUM(w) AS BIGINT) AS wins,
         |    CAST(SUM(n) AS BIGINT) AS comparisons
         |  FROM sym GROUP BY 1
         |), ntc AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nt FROM wt),
         |s0 AS (SELECT i, CAST(1.0 AS DOUBLE) AS st FROM wt),
         |$rounds
         |SELECT wt.i AS event_type, wins, comparisons,
         |  round(st, 6) AS strength
         |FROM wt JOIN s3 ON wt.i = s3.i
         |ORDER BY strength DESC, event_type""".stripMargin
    }),

    QuerySpec("q297_voptimal_hist", ((s, dir) => {
      // V-optimal histogram over order totals — the optimizer-ANALYZE
      // bucketing (Jagadish et al., VLDB 1998) that q152's equi-width
      // and q51's equi-depth approximate: value domain compresses to a
      // 32-point equi-rank grid (exact integer rank thresholds off the
      // cents histogram — the standard two-level construction), then
      // Stats.vOptimalDp partitions the grid frequency sequence into
      // k=4 buckets minimizing within-bucket SSE. The corpus pays one
      // value-histogram exchange; grid selection, the DP and the
      // backtrack are all bounded-table algebra.
      val (grid, freqs) = orderGridFreqs(s, dir)
      operators.Stats.vOptimalDp(freqs, g = 32, k = 4)
        .join(operators.Hints.boundedBroadcast(grid.select(col("t").as("seg_hi"),
          col("gv").as("v_hi")), "grid_g_rows"), Seq("seg_hi"))
        .select(col("bucket").cast("long").as("bucket"),
          col("seg_lo").cast("long").as("seg_lo"),
          col("seg_hi").cast("long").as("seg_hi"),
          col("v_hi"), col("n_rows"), col("sse"))
        .orderBy(col("bucket"))
    }),
      s"""WITH $orderGridCtes, $vOptDpCtes
         |SELECT CAST(bucket AS BIGINT) AS bucket,
         |  CAST(seg_lo AS BIGINT) AS seg_lo,
         |  CAST(seg_hi AS BIGINT) AS seg_hi,
         |  gv AS v_hi, CAST(ph.p - pl.p AS BIGINT) AS n_rows,
         |  round(s.sse, 6) AS sse
         |FROM bounds JOIN sse s ON s.a = seg_lo AND s.b = seg_hi
         |JOIN pre ph ON ph.t = seg_hi
         |JOIN pre pl ON pl.t = seg_lo - 1
         |JOIN grid ON grid.t = seg_hi
         |ORDER BY bucket""".stripMargin),

    QuerySpec("q305_voptimal_merge", ((s, dir) => {
      // distributed ANALYZE (q297's extension, the round-7 backlog
      // item): the corpus is row-sharded 4 ways (deterministic md5 on
      // the order key — the q95 idiom), each shard ships its EXACT
      // quantized value histogram (the mergeable synopsis: level-1
      // cents quantization bounds the per-shard state at the domain
      // size, never rows), the coordinator merges with one associative
      // Σc-by-v aggregation, and the 32-point equi-rank grid + k=4 SSE
      // DP re-run on the merged histogram (Stats.vOptimalMerged). The
      // output certifies bucket-for-bucket equality against the direct
      // single-pass construction — the property that makes per-shard
      // histograms the RIGHT distributed synopsis where merged
      // per-shard GRIDS would lose within-cell mass.
      val vals = t(s, dir, "orders").select(
        operators.Sharding.shardOf("o_orderkey", 4).as("shard"),
        (col("o_totalprice") * 100).cast("long").as("v"))
      // materialized: referenced by BOTH the merge path and (via the
      // exact Σc-by-v roll-up below) the direct path
      val shardHists = operators.Materializer.Local(
        vals.groupBy(col("shard"), col("v"))
          .agg(count(lit(1)).as("c")))
      val merged = operators.Stats.vOptimalMerged(shardHists, g = 32,
        k = 4)
      // the DIRECT construction's value histogram = the exact integer
      // Σc-by-v merge of the shard histograms (identical to a second
      // corpus scan + groupBy(v), which this replaces — one orders scan
      // for the whole query instead of two)
      val (grid, freqs) = operators.Stats.equiRankGridFreqs(
        shardHists.groupBy(col("v")).agg(sum(col("c")).as("c")), g = 32)
      val direct = operators.Stats.vOptimalDp(freqs, g = 32, k = 4)
        .join(operators.Hints.boundedBroadcast(grid.select(col("t").as("seg_hi"),
          col("gv").as("v_hi")), "grid_g_rows"), Seq("seg_hi"))
        .select(col("bucket"), col("seg_lo"), col("seg_hi"),
          col("v_hi"), col("n_rows"), col("sse"))
      direct
        .join(merged.select(col("bucket"),
          col("seg_lo").as("m_seg_lo"), col("seg_hi").as("m_seg_hi"),
          col("v_hi").as("m_v_hi"), col("n_rows").as("m_n_rows"),
          col("sse").as("m_sse")), Seq("bucket"), "full")
        .select(col("bucket").cast("long").as("bucket"),
          col("seg_lo").cast("long").as("seg_lo"),
          col("seg_hi").cast("long").as("seg_hi"),
          col("v_hi"), col("n_rows"), col("sse"),
          col("m_seg_lo").cast("long").as("m_seg_lo"),
          col("m_seg_hi").cast("long").as("m_seg_hi"),
          col("m_v_hi"), col("m_n_rows"), col("m_sse"),
          ((col("seg_lo") <=> col("m_seg_lo")) &&
            (col("seg_hi") <=> col("m_seg_hi")) &&
            (col("v_hi") <=> col("m_v_hi")) &&
            (col("n_rows") <=> col("m_n_rows")) &&
            (col("sse") <=> col("m_sse"))).as("merge_exact"))
        .orderBy(col("bucket"))
    }),
      s"""WITH $orderGridCtes, $vOptDpCtes,
         |svals AS (
         |  SELECT CAST(list_sum([CAST(round(pow(16, 7 - i)) AS BIGINT) *
         |      (strpos('0123456789abcdef',
         |        substr(md5(CAST(o_orderkey AS VARCHAR)), i + 1, 1)) - 1)
         |      for i in range(0, 8)]) AS BIGINT) % 4 AS shard,
         |    CAST(o_totalprice * 100 AS BIGINT) AS v
         |  FROM orders
         |), shard_hist AS MATERIALIZED (
         |  SELECT shard, v, CAST(count(*) AS BIGINT) AS c FROM svals
         |  GROUP BY 1, 2
         |), hist_m AS MATERIALIZED (
         |  SELECT v, CAST(SUM(c) AS BIGINT) AS c FROM shard_hist
         |  GROUP BY 1
         |), ${gridCtes("_m")}, ${dpCtes("_m")},
         |res AS (
         |  SELECT bucket, CAST(seg_lo AS BIGINT) AS seg_lo,
         |    CAST(seg_hi AS BIGINT) AS seg_hi, gv AS v_hi,
         |    CAST(ph.p - pl.p AS BIGINT) AS n_rows,
         |    round(s.sse, 6) AS sse
         |  FROM bounds JOIN sse s ON s.a = seg_lo AND s.b = seg_hi
         |  JOIN pre ph ON ph.t = seg_hi
         |  JOIN pre pl ON pl.t = seg_lo - 1
         |  JOIN grid ON grid.t = seg_hi
         |), res_m AS (
         |  SELECT bucket, CAST(seg_lo AS BIGINT) AS m_seg_lo,
         |    CAST(seg_hi AS BIGINT) AS m_seg_hi, gv AS m_v_hi,
         |    CAST(ph.p - pl.p AS BIGINT) AS m_n_rows,
         |    round(s.sse, 6) AS m_sse
         |  FROM bounds_m JOIN sse_m s ON s.a = seg_lo AND s.b = seg_hi
         |  JOIN pre_m ph ON ph.t = seg_hi
         |  JOIN pre_m pl ON pl.t = seg_lo - 1
         |  JOIN grid_m ON grid_m.t = seg_hi
         |)
         |SELECT CAST(bucket AS BIGINT) AS bucket, seg_lo, seg_hi, v_hi,
         |  n_rows, sse, m_seg_lo, m_seg_hi, m_v_hi, m_n_rows, m_sse,
         |  (seg_lo IS NOT DISTINCT FROM m_seg_lo
         |    AND seg_hi IS NOT DISTINCT FROM m_seg_hi
         |    AND v_hi IS NOT DISTINCT FROM m_v_hi
         |    AND n_rows IS NOT DISTINCT FROM m_n_rows
         |    AND sse IS NOT DISTINCT FROM m_sse) AS merge_exact
         |FROM res FULL JOIN res_m USING (bucket)
         |ORDER BY bucket""".stripMargin),

    QuerySpec("q306_grid_merge_audit", ((s, dir) => {
      // the LOSSY companion to q305: when even the quantized domain is
      // too wide to ship, each shard sends only its g-point equi-rank
      // grid (O(g) state) and the coordinator merges by uniform
      // within-cell interpolation over the union boundaries
      // (Stats.mergedGridIntervals). This query prices that loss: the
      // selectivity P(v > X) read off the merged synopsis vs the exact
      // corpus count, at the three mid-grid thresholds of the direct
      // construction (t = 8, 16, 24) — the q299-style consumer audit,
      // now for the distributed-merge estimator. The only corpus work
      // is the shard histogram and the audit's own exact count.
      val vals = t(s, dir, "orders").select(
        operators.Sharding.shardOf("o_orderkey", 4).as("shard"),
        (col("o_totalprice") * 100).cast("long").as("v"))
      // ONE corpus scan for the whole query: the shard histogram is
      // materialized once, and both the exact corpus histogram (Σc-by-v,
      // exact integer merge — identical to a fresh scan + groupBy(v))
      // and the direct-construction grid derive from it, replacing the
      // three separate orders scans this query used to pay
      val shardHists = operators.Materializer.Local(
        vals.groupBy(col("shard"), col("v"))
          .agg(count(lit(1)).as("c")))
      val iv = operators.Materializer.Local(
        operators.Stats.mergedGridIntervals(shardHists, 32))
      val hist = operators.Materializer.Local(
        shardHists.groupBy(col("v")).agg(sum(col("c")).as("c")))
      val (grid, _) = operators.Stats.equiRankGridFreqs(hist, g = 32)
      val thr3 = grid.filter(col("t").isin(8, 16, 24))
        .select(col("t").as("t_ref"), col("gv").as("x"))
      val nTot = hist.agg(sum(col("c")).as("n"))
      val exact = thr3.join(hist, col("v") > col("x"), "left")
        .groupBy(col("t_ref"), col("x"))
        .agg(coalesce(sum(col("c")), lit(0L)).as("egt"))
      // merged-side numerator: full intervals above X contribute their
      // whole mass, the one straddling interval contributes its uniform
      // slice — every term requantized round(9) -> DECIMAL(19,9) before
      // the sum (order-independent, oracle-replayable)
      val contrib = when(col("a") >= col("x"),
          col("mass").cast("decimal(19,9)"))
        .when(col("b") > col("x"),
          round(col("mass") * (col("b") - col("x")).cast("double")
            / (col("b") - col("a")).cast("double"), 9)
            .cast("decimal(19,9)"))
        .otherwise(lit(0).cast("decimal(19,9)"))
      val merged = thr3.crossJoin(iv)
        .groupBy(col("t_ref"), col("x"))
        .agg(sum(contrib).as("mgt"))
      val nm = iv.agg(sum(col("mass").cast("decimal(19,9)")).as("nmass"))
      exact.join(merged, Seq("t_ref", "x"))
        .crossJoin(broadcast(nTot)).crossJoin(broadcast(nm))
        .select(col("t_ref").cast("long").as("t_ref"),
          col("x").as("threshold_v"),
          round(col("egt").cast("double") / col("n").cast("double"), 6)
            .as("exact_gt_frac"),
          round(col("mgt").cast("double") / col("nmass").cast("double"),
            6).as("merged_gt_frac"),
          // degenerate-threshold guard: if the exact count above a
          // threshold is 0 (a corpus whose top grid cell collapses onto
          // the max value), relative error is undefined — emit NULL
          // instead of Infinity/NaN, which would break the JSON/hash
          // protocol. Safe-by-shape on TPC-H-like data, guarded anyway.
          when(col("egt") > 0,
            round(abs(col("mgt").cast("double")
                / col("nmass").cast("double")
              - col("egt").cast("double") / col("n").cast("double"))
              / (col("egt").cast("double") / col("n").cast("double")), 6))
            .as("rel_err"))
        .orderBy(col("t_ref"))
    }),
      s"""WITH $orderGridCtes,
         |svals AS (
         |  SELECT CAST(list_sum([CAST(round(pow(16, 7 - i)) AS BIGINT) *
         |      (strpos('0123456789abcdef',
         |        substr(md5(CAST(o_orderkey AS VARCHAR)), i + 1, 1)) - 1)
         |      for i in range(0, 8)]) AS BIGINT) % 4 AS shard,
         |    CAST(o_totalprice * 100 AS BIGINT) AS v
         |  FROM orders
         |), shist AS MATERIALIZED (
         |  SELECT shard, v, CAST(count(*) AS BIGINT) AS c FROM svals
         |  GROUP BY 1, 2
         |), scum AS MATERIALIZED (
         |  SELECT shard, v, c, CAST(SUM(c) OVER (PARTITION BY shard
         |    ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM shist
         |), stot AS (
         |  SELECT shard, CAST(SUM(c) AS BIGINT) AS n, MIN(v) - 1 AS fl
         |  FROM shist GROUP BY 1
         |), sgrid AS MATERIALIZED (
         |  SELECT st.shard, t, MIN(v) AS gv
         |  FROM ts, stot st, scum sc
         |  WHERE sc.shard = st.shard AND sc.cum >= (t * st.n + 31) // 32
         |  GROUP BY 1, 2
         |), cellsraw AS (
         |  SELECT g.shard,
         |    coalesce(lag(gv) OVER (PARTITION BY g.shard ORDER BY g.t),
         |      fl) AS lo,
         |    gv AS hi,
         |    cumhi - coalesce(lag(cumhi) OVER (PARTITION BY g.shard
         |      ORDER BY g.t), 0) AS f
         |  FROM (SELECT sg.shard, sg.t, sg.gv, sc.cum AS cumhi
         |        FROM sgrid sg JOIN scum sc
         |        ON sc.shard = sg.shard AND sc.v = sg.gv) g
         |  JOIN stot ON stot.shard = g.shard
         |), cells AS (SELECT * FROM cellsraw WHERE f > 0 AND hi > lo),
         |bnds AS (
         |  SELECT DISTINCT b FROM (
         |    SELECT lo AS b FROM cells
         |    UNION ALL SELECT hi FROM cells) u
         |), iv AS (
         |  SELECT a, b FROM (
         |    SELECT lag(b) OVER (ORDER BY b) AS a, b FROM bnds) q
         |  WHERE a IS NOT NULL
         |), contribs AS (
         |  SELECT a, b, CAST(round((CAST(f AS DOUBLE)
         |      * CAST(b - a AS DOUBLE)) / CAST(hi - lo AS DOUBLE), 9)
         |    AS DECIMAL(19,9)) AS m
         |  FROM cells JOIN iv ON a >= lo AND b <= hi
         |), masses AS MATERIALIZED (
         |  SELECT a, b, CAST(SUM(m) AS DOUBLE) AS mass FROM contribs
         |  GROUP BY 1, 2
         |), thr3 AS (SELECT t AS t_ref, gv AS x FROM grid
         |  WHERE t IN (8, 16, 24)),
         |ntot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM hist),
         |nm AS (SELECT CAST(SUM(CAST(mass AS DECIMAL(19,9))) AS DOUBLE)
         |  AS nmass FROM masses),
         |ex AS (
         |  SELECT t_ref, x, CAST(coalesce(SUM(c), 0) AS BIGINT) AS egt
         |  FROM thr3 LEFT JOIN hist ON v > x GROUP BY 1, 2
         |), mg AS (
         |  SELECT t_ref, x, CAST(SUM(
         |    CASE WHEN a >= x THEN CAST(mass AS DECIMAL(19,9))
         |      WHEN b > x THEN CAST(round((mass * CAST(b - x AS DOUBLE))
         |        / CAST(b - a AS DOUBLE), 9) AS DECIMAL(19,9))
         |      ELSE CAST(0 AS DECIMAL(19,9)) END) AS DOUBLE) AS mgt
         |  FROM thr3, masses GROUP BY 1, 2
         |)
         |SELECT CAST(t_ref AS BIGINT) AS t_ref, x AS threshold_v,
         |  round(CAST(egt AS DOUBLE) / CAST(n AS DOUBLE), 6)
         |    AS exact_gt_frac,
         |  round(mgt / nmass, 6) AS merged_gt_frac,
         |  CASE WHEN egt > 0 THEN
         |    round(abs(mgt / nmass - CAST(egt AS DOUBLE) / CAST(n AS DOUBLE))
         |      / (CAST(egt AS DOUBLE) / CAST(n AS DOUBLE)), 6)
         |  ELSE NULL END AS rel_err
         |FROM ex JOIN mg USING (t_ref, x), ntot, nm
         |ORDER BY t_ref""".stripMargin),

    QuerySpec("q311_data_recipe", ((s, dir) => {
      // token-budget mixture plan (the "data recipe"): per source, the
      // sampling rate / epoch count that hits a uniform target share of
      // a 2M-token budget, and the share actually achievable once
      // repeats cap at 4 epochs — the provisioning readout a
      // pretraining run is configured from, surfacing WHERE the recipe
      // falls short instead of silently over-repeating a small source.
      // Exact integer algebra (integer div/ceil/min); one
      // (source, Σtokens) exchange.
      operators.Sampling.mixturePlan(
        t(s, dir, "documents").select(col("source"),
          size(TextAnalysis.tokens(col("text"))).as("toks")), budget = 2000000L, maxEpochs = 4)
    }),
      """WITH per AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(len(list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> x <> ''))) AS BIGINT) AS tokens_avail
        |  FROM documents GROUP BY source
        |), g AS (SELECT COUNT(*) AS n_groups FROM per
        |), plan AS (
        |  SELECT source, n_docs, tokens_avail,
        |    CAST(2000000 // n_groups AS BIGINT) AS target_tokens
        |  FROM per CROSS JOIN g
        |), ep AS (
        |  -- tokens_avail = 0 (a source whose docs are all empty) takes
        |  -- mixturePlan's documented branch: rate NULL, 1 epoch,
        |  -- 0 capped tokens, share 0 — not a division by zero
        |  SELECT *, CASE WHEN tokens_avail > 0
        |      THEN LEAST((target_tokens + tokens_avail - 1)
        |        // tokens_avail, 4)
        |      ELSE 1 END AS epochs
        |  FROM plan)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, tokens_avail,
        |  target_tokens,
        |  CASE WHEN tokens_avail > 0
        |    THEN round(CAST(target_tokens AS DOUBLE)
        |      / CAST(tokens_avail AS DOUBLE), 6) END AS sampling_rate,
        |  CAST(epochs AS BIGINT) AS epochs,
        |  CAST(CASE WHEN tokens_avail > 0
        |    THEN LEAST(target_tokens, tokens_avail * epochs)
        |    ELSE 0 END AS BIGINT) AS capped_tokens,
        |  round(CAST(CASE WHEN tokens_avail > 0
        |    THEN LEAST(target_tokens, tokens_avail * epochs)
        |    ELSE 0 END AS DOUBLE) / 2000000.0, 6) AS achievable_share
        |FROM ep ORDER BY source""".stripMargin),

    QuerySpec("q326_temperature_mix", ((s, dir) => {
      // sampling-temperature sweep over the source mixture: natural
      // share, T-flattened sampled share, and the boost per source for
      // T in {1, 1/2, 1/4} — the table a pretraining run picks its
      // sampling temperature from. The grid is dyadic so p^T is a
      // sqrt chain (IEEE-correctly-rounded in EVERY engine; pow's last
      // ulp is libm-specific), and the per-T normalizer sums through
      // DECIMAL(38,20) — cross-engine bit-exact with no pow anywhere.
      // coalesce(text,'') matches the round's NULL-handling discipline
      // (fertilityPartials/entropyGate/blocklistScan): without it the
      // NULL-skip only holds under Spark 4's ANSI size(NULL)=NULL default
      operators.Sampling.temperatureMixture(
        t(s, dir, "documents"),
        TextAnalysis.tokenCount(coalesce(col("text"), lit(""))))
    }),
      // dyadic temperature grid: p^T via sqrt chains (IEEE-correctly-
      // rounded in both engines — deliberately NO pow, whose last ulp is
      // libm-specific); per-T normalizer summed through DECIMAL(38,20)
      s"""WITH base AS (
        |  SELECT source, CAST(SUM(len($toksSql)) AS BIGINT) AS toks
        |  FROM documents GROUP BY 1
        |), tot AS (
        |  SELECT CAST(SUM(toks) AS BIGINT) AS total_toks FROM base
        |), grid AS (
        |  SELECT k, CAST(t AS DOUBLE) AS t
        |  FROM (VALUES (0, 1.0), (1, 0.5), (2, 0.25)) g(k, t)
        |), pp AS (
        |  -- explicit zero branch: an all-empty corpus must take the
        |  -- same 0.0 path as the Spark side (0/0 would be NaN there
        |  -- and a NaN-to-DECIMAL cast error here)
        |  SELECT g.k, g.t, b.source, b.toks,
        |    CASE WHEN tt.total_toks > 0
        |      THEN CAST(b.toks AS DOUBLE) / CAST(tt.total_toks AS DOUBLE)
        |      ELSE 0.0 END AS p
        |  FROM base b CROSS JOIN tot tt CROSS JOIN grid g
        |), pw AS (
        |  SELECT k, t, source, toks, p,
        |    CASE k WHEN 0 THEN p WHEN 1 THEN sqrt(p)
        |      ELSE sqrt(sqrt(p)) END AS w
        |  FROM pp
        |), sw AS (
        |  SELECT k, CAST(SUM(CAST(w AS DECIMAL(38,20))) AS DOUBLE) AS sw
        |  FROM pw GROUP BY 1
        |), f AS (
        |  SELECT pw.t, pw.source, pw.toks,
        |    round(pw.p, 6) AS share_natural,
        |    CASE WHEN sw.sw > 0 THEN round(pw.w / sw.sw, 6)
        |      ELSE 0.0 END AS share_sampled
        |  FROM pw JOIN sw USING (k)
        |)
        |SELECT t, source, toks, share_natural, share_sampled,
        |  CASE WHEN share_natural > 0
        |    THEN round(share_sampled / share_natural, 6)
        |    ELSE 0.0 END AS boost
        |FROM f ORDER BY t DESC, source""".stripMargin),

    QuerySpec("q298_wavelet_synopsis", ((s, dir) => {
      // Haar-wavelet synopsis (Matias, Vitter & Wang, SIGMOD 1998) of
      // the same 32-point grid frequency sequence q297 buckets — the
      // OTHER classic DB synopsis: 5 unrolled pairwise levels build
      // the transform IN INTEGERS (detail D = left-sum − right-sum;
      // true coefficient d = D/2^lvl), the top-8 details by |d| are
      // kept (exact integer sort key |D|·2^(5−lvl)), and the dropped
      // energy — the synopsis's reconstruction SSE,
      // Σ D²·2^(5−lvl)/32 — stays exact until one final division.
      // The corpus pays the family's single histogram exchange; the
      // transform is bounded-table algebra.
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val (_, freqs) = orderGridFreqs(s, dir)
      val dense = (1 to 32).toDF("t")
        .join(freqs, Seq("t"), "left")
        .select(col("t").cast("long").as("t"),
          coalesce(col("f"), lit(0L)).as("x"))
      var lvlTab = operators.Materializer.Local(dense)
      var details: DataFrame = null
      for (j <- 1 to 5) {
        val agg = lvlTab
          .groupBy(floor((col("t") + lit(1)) / lit(2)).cast("long")
            .as("t"))
          .agg(sum(col("x")).as("x"),
            sum(when(pmod(col("t"), lit(2)) === 1, col("x"))
              .otherwise(-col("x"))).as("d"))
        val det = agg.select(lit(j).as("lvl"), col("t").as("pos"),
          col("d").as("dd"), lit(1L << (5 - j)).as("w"),
          lit(1L << j).as("den"))
        details = if (details == null) det else details.unionAll(det)
        lvlTab = operators.Materializer.Local(
          agg.select(col("t"), col("x")))
      }
      val wSel = Window.orderBy((abs(col("dd")) * col("w")).desc,
        col("lvl").asc, col("pos").asc)
      val ranked = operators.Materializer.Local(
        details.withColumn("rk", row_number().over(wSel).cast("long")))
      val dc = lvlTab.select(lit(0L).as("rk"), lit(0).as("lvl"),
        lit(1L).as("pos"),
        round(col("x").cast("double") / lit(32.0), 6).as("coef"))
      val kept = ranked.filter(col("rk") <= 8)
        .select(col("rk"), col("lvl"), col("pos"),
          round(col("dd").cast("double") / col("den").cast("double"), 6)
            .as("coef"))
      val sse = ranked.filter(col("rk") > 8)
        .agg(coalesce(sum(col("dd") * col("dd") * col("w")), lit(0L))
          .as("num"))
        .select(round(col("num").cast("double") / lit(32.0), 6)
          .as("dropped_sse"))
      dc.unionAll(kept).crossJoin(broadcast(sse)).orderBy(col("rk"))
    }),
      {
      val lvls = (1 to 5).map { j =>
        val src = if (j == 1) "l0" else s"lv${j - 1}"
        s"""lv$j AS MATERIALIZED (
           |  SELECT (t + 1) // 2 AS t, CAST(SUM(x) AS BIGINT) AS x,
           |    CAST(SUM(CASE WHEN t % 2 = 1 THEN x ELSE -x END)
           |      AS BIGINT) AS d
           |  FROM $src GROUP BY 1
           |)""".stripMargin
      }.mkString(", ")
      val dets = (1 to 5).map { j =>
        s"""  SELECT $j AS lvl, t AS pos, d AS dd,
           |    CAST(${1L << (5 - j)} AS BIGINT) AS w,
           |    CAST(${1L << j} AS BIGINT) AS den
           |  FROM lv$j""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""WITH $orderGridCtes,
         |l0 AS (SELECT t, f AS x FROM dense),
         |$lvls,
         |details AS (
         |$dets
         |), ranked AS MATERIALIZED (
         |  SELECT lvl, pos, dd, w, den,
         |    CAST(row_number() OVER (ORDER BY abs(dd) * w DESC,
         |      lvl, pos) AS BIGINT) AS rk
         |  FROM details
         |), dsse AS (
         |  SELECT round(CAST(coalesce(SUM(dd * dd * w), 0) AS DOUBLE)
         |    / 32.0, 6) AS dropped_sse
         |  FROM ranked WHERE rk > 8
         |), outp AS (
         |  SELECT CAST(0 AS BIGINT) AS rk, 0 AS lvl,
         |    CAST(1 AS BIGINT) AS pos,
         |    round(CAST(x AS DOUBLE) / 32.0, 6) AS coef
         |  FROM lv5
         |  UNION ALL
         |  SELECT rk, lvl, pos,
         |    round(CAST(dd AS DOUBLE) / CAST(den AS DOUBLE), 6)
         |  FROM ranked WHERE rk <= 8
         |)
         |SELECT rk, lvl, pos, coef, dropped_sse
         |FROM outp, dsse ORDER BY rk""".stripMargin
    }),

    QuerySpec("q299_hist_selectivity", ((s, dir) => {
      // selectivity estimation from the q297 V-optimal histogram vs
      // ground truth — the synopsis's actual consumer (Selinger et al.
      // 1979 meets Jagadish et al. 1998): P(v > X) by continuous
      // interpolation inside the bucket containing X, audited against
      // the exact count at three mid-grid thresholds. The histogram is
      // bounded and broadcasts; the only corpus-scale work is the
      // exact-count aggregate the audit itself requires.
      val (grid, freqs) = orderGridFreqs(s, dir)
      val buckets = operators.Stats.vOptimalDp(freqs, g = 32, k = 4)
      val gmin = t(s, dir, "orders")
        .select((col("o_totalprice") * 100).cast("long").as("v"))
        .agg(min(col("v")).as("gm"))
      val bkt = buckets
        .join(operators.Hints.boundedBroadcast(grid.select(col("t").as("seg_hi"),
          col("gv").as("hi")), "grid_g_rows"), Seq("seg_hi"))
        .join(operators.Hints.boundedBroadcast(grid.select((col("t") + 1).as("seg_lo"),
          col("gv").as("glo")), "grid_g_rows"), Seq("seg_lo"), "left")
        .crossJoin(broadcast(gmin))
        .select(col("bucket"), col("n_rows"), col("hi"),
          when(col("seg_lo") === 1, col("gm") - 1)
            .otherwise(col("glo")).as("lo"))
      import s.implicits._
      val thr = grid.select(col("t"), col("gv"))
        .join(Seq((8, 9), (16, 17), (24, 25)).toDF("ta", "tb"),
          col("t") === col("ta") || col("t") === col("tb"))
        .groupBy(col("ta"))
        .agg(floor(sum(col("gv")).cast("double") / lit(2.0)).cast("long")
          .as("x"))
        .select(col("x"))
      val raw = (col("hi") - col("x")).cast("double") /
        (col("hi") - col("lo")).cast("double")
      val fr = round(greatest(least(raw, lit(1.0)), lit(0.0)), 9)
      val est = bkt.crossJoin(operators.Hints.boundedBroadcast(thr, "probe_points"))
        .select(col("x"),
          round(col("n_rows").cast("double") * fr, 6)
            .cast("decimal(19,6)").as("contrib"))
        .groupBy(col("x")).agg(sum(col("contrib")).as("est"))
      val vals = t(s, dir, "orders")
        .select((col("o_totalprice") * 100).cast("long").as("v"))
      val act = vals.join(operators.Hints.boundedBroadcast(thr, "probe_points"),
        col("v") > col("x"))
        .groupBy(col("x")).agg(count(lit(1)).as("actual"))
      est.join(operators.Hints.boundedBroadcast(act, "probe_points"), Seq("x"))
        .select(col("x"),
          round(col("est").cast("double"), 6).as("est"),
          col("actual"),
          round((col("est").cast("double") - col("actual").cast("double"))
            / col("actual").cast("double"), 6).as("rel_err"))
        .orderBy(col("x"))
    }),
      s"""WITH $orderGridCtes, $vOptDpCtes,
         |gmin AS (SELECT MIN(v) AS gm FROM hist),
         |bkt AS (
         |  SELECT bounds.bucket, CAST(ph.p - pl.p AS BIGINT) AS n,
         |    ghi.gv AS hi,
         |    CASE WHEN seg_lo = 1 THEN gm - 1 ELSE glo.gv END AS lo
         |  FROM bounds
         |  JOIN pre ph ON ph.t = seg_hi
         |  JOIN pre pl ON pl.t = seg_lo - 1
         |  JOIN grid ghi ON ghi.t = seg_hi
         |  LEFT JOIN grid glo ON glo.t = seg_lo - 1, gmin
         |), thr AS (
         |  SELECT CAST(floor(CAST(a.gv + b.gv AS DOUBLE) / 2.0)
         |    AS BIGINT) AS x
         |  FROM grid a, grid b
         |  WHERE (a.t = 8 AND b.t = 9) OR (a.t = 16 AND b.t = 17)
         |    OR (a.t = 24 AND b.t = 25)
         |), est AS (
         |  SELECT x, SUM(CAST(round(CAST(n AS DOUBLE)
         |      * round(greatest(least(CAST(hi - x AS DOUBLE)
         |          / CAST(hi - lo AS DOUBLE), 1.0), 0.0), 9), 6)
         |    AS DECIMAL(19,6))) AS est
         |  FROM bkt, thr GROUP BY 1
         |), act AS (
         |  SELECT x, CAST(count(*) AS BIGINT) AS actual
         |  FROM vals, thr WHERE v > x GROUP BY 1
         |)
         |SELECT est.x, round(CAST(est AS DOUBLE), 6) AS est, actual,
         |  round((CAST(est AS DOUBLE) - CAST(actual AS DOUBLE))
         |    / CAST(actual AS DOUBLE), 6) AS rel_err
         |FROM est JOIN act USING (x) ORDER BY x""".stripMargin),

    QuerySpec("q289_facility_location", ((s, dir) => {
      // facility-location greedy data selection (Lin & Bilmes 2011):
      // 5 exemplar docs from a 30-doc hash-order candidate pool
      // maximizing total best-representative Jaccard coverage — the
      // submodular "small set that looks like the corpus" selection
      // (1-1/e of optimal). The n×30 sparse sim matrix forms once via a
      // broadcast shingle equi-join and checkpoints; each greedy round
      // is ONE marginal-gain aggregate + a 1-row broadcast coverage
      // update, exact DECIMAL end to end.
      operators.Sampling.facilityLocationSelect(t(s, dir, "documents"), nCand = 30, k = 5)
        .orderBy(col("rk"))
    }),
      {
      // unrolled 5-round greedy replay: each round re-derives marginal
      // gains from the checkpointed sim matrix and the coverage vector,
      // exactly as the Spark loop — all-DECIMAL, so bit-identical
      val rounds = (1 to 5).map { r =>
        val bp = s"b${r - 1}"
        s"""g$r AS (
           |  SELECT cid, SUM(sim - best) AS g
           |  FROM m JOIN $bp USING (did)
           |  WHERE sim > best GROUP BY 1
           |), p$r AS (
           |  SELECT cid, g FROM g$r ORDER BY g DESC, cid LIMIT 1
           |), b$r AS (
           |  SELECT did,
           |    greatest(best, coalesce(mp.sim, CAST(0 AS DECIMAL(19,9))))
           |      AS best
           |  FROM $bp LEFT JOIN
           |    (SELECT did, sim FROM m JOIN p$r USING (cid)) mp
           |    USING (did)
           |)""".stripMargin
      }.mkString(", ")
      val picksSql = (1 to 5).map(r =>
        s"  SELECT CAST($r AS INTEGER) AS rk, cid AS doc_id, g FROM p$r")
        .mkString("\n  UNION ALL\n")
      s"""WITH tk AS (
         |  SELECT doc_id,
         |    list_filter(regexp_split_to_array(text, '\\s+'),
         |      x -> x <> '') AS raw
         |  FROM documents
         |), sh0 AS MATERIALIZED (
         |  SELECT doc_id,
         |    list_distinct(CASE WHEN len(raw) < 3
         |      THEN [array_to_string(raw, ' ')]
         |      ELSE [array_to_string(raw[i+1:i+3], ' ')
         |            for i in range(0, len(raw) - 2)] END) AS sgs
         |  FROM tk
         |), cand AS MATERIALIZED (
         |  SELECT doc_id AS cid, sgs AS csgs FROM sh0
         |  ORDER BY md5('fl|' || CAST(doc_id AS VARCHAR)), doc_id
         |  LIMIT 30
         |), m AS MATERIALIZED (
         |  SELECT a.doc_id AS did, cand.cid,
         |    CAST(round(CAST(len(list_intersect(a.sgs, csgs)) AS DOUBLE)
         |        / CAST(len(a.sgs) + len(csgs)
         |          - len(list_intersect(a.sgs, csgs)) AS DOUBLE), 9)
         |      AS DECIMAL(19,9)) AS sim
         |  FROM sh0 a, cand
         |  WHERE len(list_intersect(a.sgs, csgs)) > 0
         |), b0 AS (
         |  SELECT DISTINCT did, CAST(0 AS DECIMAL(19,9)) AS best FROM m
         |), $rounds,
         |picks AS (
         |$picksSql
         |)
         |SELECT rk, doc_id, round(CAST(g AS DOUBLE), 6) AS gain,
         |  round(CAST(SUM(g) OVER (ORDER BY rk
         |    ROWS UNBOUNDED PRECEDING) AS DOUBLE), 6) AS objective
         |FROM picks ORDER BY rk""".stripMargin
    })
  )
}
