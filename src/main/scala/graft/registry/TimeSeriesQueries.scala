package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Dedup, Multimodal, Sampling, Sessionize, Similarity, TextAnalysis}
import graft.schema.ExportSchema

import SparkHelpers._
import SqlHelpers._

/** The suite's event-stream and time-series queries: sessionization, as-of
  * joins, gap-fill, seasonal and change detection (operators.TimeSeries,
  * Sessionize, AsOfJoin). */
private[graft] object TimeSeriesQueries {

  val specs: Seq[QuerySpec] = Seq(

    QuerySpec("q20_evt_hourly", ((s, dir) => {
      Sessionize.tumblingAgg(t(s, dir, "events"))
        .orderBy(col("window_start"), col("event_type"))
    }),
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    QuerySpec("q22_evt_sessionize", ((s, dir) => {
      Sessionize.sessionSummary(t(s, dir, "events"))
        .orderBy(col("user_id"), col("session_seq"))
    }),
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL THEN 1
        |         WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), numbered AS (
        |  SELECT user_id, ts, value,
        |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM flagged)
        |SELECT user_id, session_seq,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM numbered GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin),

    QuerySpec("q47_asof_join", ((s, dir) => {
      // point-in-time lookup: for each purchase, the user's latest click
      // at or before it (operators.AsOfJoin — union+window, no range join)
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"),
          col("value").as("click_value"))
      operators.AsOfJoin.asofJoin(purchases, clicks, "ts", "ts",
          Seq("click_id", "click_value"))
        .select(col("event_id"), col("user_id"), col("click_id"),
          col("click_value"))
        .orderBy(col("event_id"))
    }),
      """WITH purchases AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase'
        |), clicks AS (
        |  SELECT event_id AS click_id, user_id, ts, value AS click_value
        |  FROM events WHERE event_type = 'click'
        |)
        |SELECT p.event_id, p.user_id, c.click_id, c.click_value
        |FROM purchases p ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND c.ts <= p.ts
        |ORDER BY p.event_id""".stripMargin),

    QuerySpec("q103_attribution", ((s, dir) => {
      // last-touch attribution: every purchase credits the user's most
      // recent preceding non-purchase event (ties on ts broken by max
      // event_id — the asofJoin rightTieBreak, so the credit is
      // deterministic under retries). The as-of composition is ONE
      // shuffle on user_id + a per-user carry-forward window — never an
      // inequality join (which plans as a per-key cross product: a
      // power user's touch history x their purchases at 100 TB).
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val touches = ev.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("ts"),
          col("event_type").as("touch_type"), col("event_id"))
      operators.AsOfJoin.asofJoin(purchases, touches,
          "ts", "ts", Seq("touch_type"), rightTieBreak = Some("event_id"))
        .groupBy(coalesce(col("touch_type"), lit("none")).as("touch_type"))
        .agg(count(lit(1)).as("n_purchases"))
        .orderBy(col("touch_type"))
    }),
      // the oracle may use the inequality join + rank window (DuckDB is
      // single-node); the Spark side must match it with the one-shuffle
      // as-of carry-forward
      """WITH p AS (
        |  SELECT user_id, ts, event_id FROM events
        |  WHERE event_type = 'purchase'
        |), tch AS (
        |  SELECT user_id, ts, event_id, event_type FROM events
        |  WHERE event_type <> 'purchase'
        |), j AS (
        |  SELECT p.event_id AS pid, tch.event_type AS touch,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY tch.ts DESC, tch.event_id DESC) AS rn
        |  FROM p JOIN tch ON tch.user_id = p.user_id AND tch.ts <= p.ts
        |), best AS (SELECT pid, touch FROM j WHERE rn = 1)
        |SELECT COALESCE(best.touch, 'none') AS touch_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_purchases
        |FROM p LEFT JOIN best ON best.pid = p.event_id
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    QuerySpec("q146_gapfill", ((s, dir) => {
      // hourly event series per type, densified: a missing hour becomes
      // an explicit n=0 row with the linearly interpolated level — what
      // monitoring/forecast consumers need instead of silently absent
      // buckets. The spine explodes off a tiny per-key extent aggregate;
      // windows are per-type (calendar-bounded state).
      operators.TimeSeries.gapFillHourly(t(s, dir, "events"))
        .orderBy(col("key"), col("hour"))
    }),
      """WITH base AS (
        |  SELECT event_type AS key, date_trunc('hour', ts) AS hour,
        |    CAST(count(*) AS BIGINT) AS n,
        |    round(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
        |      / CAST(count(*) AS DOUBLE), 6) AS v
        |  FROM events GROUP BY 1, 2
        |), spine AS (
        |  SELECT key,
        |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
        |  FROM (SELECT key, min(hour) AS h0, max(hour) AS h1
        |        FROM base GROUP BY 1)
        |), j AS (
        |  SELECT s.key, s.hour, b.n, b.v
        |  FROM spine s LEFT JOIN base b USING (key, hour)
        |), w AS (
        |  SELECT key, hour, n, v,
        |    last_value(v IGNORE NULLS) OVER (PARTITION BY key
        |      ORDER BY hour
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN hour END IGNORE NULLS)
        |      OVER (PARTITION BY key ORDER BY hour
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
        |    first_value(v IGNORE NULLS) OVER (PARTITION BY key
        |      ORDER BY hour
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN hour END IGNORE NULLS)
        |      OVER (PARTITION BY key ORDER BY hour
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
        |  FROM j
        |)
        |SELECT key, hour, coalesce(n, 0) AS n,
        |  CASE WHEN v IS NOT NULL THEN v
        |    ELSE round(pv + (nv - pv) * (epoch(hour) - epoch(ph))
        |      / (epoch(nh) - epoch(ph)), 6) END AS level,
        |  (v IS NULL) AS filled
        |FROM w ORDER BY key, hour""".stripMargin),

    QuerySpec("q149_scd2", ((s, dir) => {
      // SCD2 history build from the event changelog: per user, the
      // event_type state stream collapses to validity intervals
      // (valid_from/valid_to/is_current/version) — the type-2 dimension
      // shape the reference's warehouse loads land. Entity-bounded
      // windows on one user-keyed exchange; ties broken by event_id so
      // replays are bit-identical.
      operators.TimeSeries.scd2History(t(s, dir, "events"))
        .orderBy(col("user_id"), col("version"))
    }),
      """WITH m AS (
        |  SELECT user_id, event_type AS state, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_state
        |  FROM events
        |), ch AS (
        |  SELECT user_id, state, ts AS valid_from, event_id
        |  FROM m WHERE prev_state IS NULL OR prev_state <> state
        |)
        |SELECT user_id, state, valid_from,
        |  lead(valid_from) OVER (PARTITION BY user_id
        |    ORDER BY valid_from, event_id) AS valid_to,
        |  (lead(valid_from) OVER (PARTITION BY user_id
        |    ORDER BY valid_from, event_id) IS NULL) AS is_current,
        |  CAST(row_number() OVER (PARTITION BY user_id
        |    ORDER BY valid_from, event_id) AS INT) AS version
        |FROM ch ORDER BY user_id, version""".stripMargin),

    QuerySpec("q157_theilsen", ((s, dir) => {
      // Theil–Sen robust ingest-volume trend per event type: median of
      // all pairwise hourly slopes (bursts can't fool it the way they
      // fool least squares). The pair set is quadratic in HOURS —
      // calendar-bounded, independent of corpus size.
      operators.TimeSeries.theilSenTrend(t(s, dir, "events"))
        .orderBy(col("key"))
    }),
      """WITH abs0 AS MATERIALIZED (
        |  SELECT key, xa, CAST(count(*) AS BIGINT) AS y
        |  FROM (SELECT event_type AS key,
        |          CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600
        |            AS xa
        |        FROM events)
        |  GROUP BY 1, 2
        |), base AS MATERIALIZED (
        |  SELECT a.key AS key, a.xa - m.x0 AS x, a.y AS y
        |  FROM abs0 a JOIN (SELECT key, min(xa) AS x0 FROM abs0
        |                    GROUP BY 1) m
        |    ON a.key = m.key
        |), slopes AS (
        |  SELECT a.key,
        |    round(CAST(b.y - a.y AS DOUBLE)
        |      / CAST(b.x - a.x AS DOUBLE), 9) AS m
        |  FROM base a JOIN base b ON a.key = b.key AND a.x < b.x
        |), sl AS (
        |  SELECT key, round(quantile_cont(m, 0.5), 6) AS slope
        |  FROM slopes GROUP BY 1
        |)
        |SELECT base.key AS key, CAST(count(*) AS BIGINT) AS n_hours,
        |  any_value(slope) AS slope,
        |  round(quantile_cont(y - slope * x, 0.5), 6) AS intercept
        |FROM base JOIN sl ON base.key = sl.key
        |GROUP BY 1 ORDER BY key""".stripMargin),

    QuerySpec("q158_seasonal", ((s, dir) => {
      // calendar-seasonal anomaly scan: each (type, hour-of-day) slot
      // learns its own mean/sigma from exact integer sums; hours beyond
      // 3 sigma OF THEIR SLOT are flagged — "is 3 AM traffic weird for
      // 3 AM". Profile is types x 24 rows, broadcast back.
      operators.TimeSeries.seasonalAnomalies(t(s, dir, "events"))
        .orderBy(col("key"), col("hour"))
    }),
      """WITH base AS MATERIALIZED (
        |  SELECT event_type AS key, date_trunc('hour', ts) AS hour,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |), b2 AS (
        |  SELECT key, hour, n, CAST(hour(hour) AS INT) AS hod FROM base
        |), prof AS (
        |  SELECT key, hod, count(*) AS cnt, sum(n) AS s,
        |    sum(n * n) AS ss
        |  FROM b2 GROUP BY 1, 2
        |), p2 AS (
        |  SELECT key, hod,
        |    round(CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE), 9) AS mean_n,
        |    round(sqrt((CAST(ss AS DOUBLE)
        |      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |        / CAST(cnt AS DOUBLE))
        |      / CAST(cnt AS DOUBLE)), 6) AS sd_n
        |  FROM prof
        |)
        |SELECT key, hour, n, hod, mean_n, sd_n,
        |  round((CAST(n AS DOUBLE) - mean_n) / sd_n, 6) AS zscore
        |FROM b2 JOIN p2 USING (key, hod)
        |WHERE sd_n > 0
        |  AND abs(CAST(n AS DOUBLE) - mean_n) > 3.0 * sd_n
        |ORDER BY key, hour""".stripMargin),

    QuerySpec("q159_cusum", ((s, dir) => {
      // CUSUM level-shift scan per event type: the sequential
      // max(0, S + z - k) recurrence, computed as a prefix-sum +
      // prefix-min window identity over EXACT decimals — catches
      // sustained drifts the per-hour 3-sigma gate (q158) never trips.
      operators.TimeSeries.cusumChangepoints(t(s, dir, "events"))
        .orderBy(col("key"), col("hour"))
    }),
      """WITH base AS MATERIALIZED (
        |  SELECT event_type AS key, date_trunc('hour', ts) AS hour,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |), prof AS (
        |  SELECT key, count(*) AS cnt, sum(n) AS s, sum(n * n) AS ss
        |  FROM base GROUP BY 1
        |), p2 AS (
        |  SELECT key,
        |    round(CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE), 9) AS mean_n,
        |    round(sqrt((CAST(ss AS DOUBLE)
        |      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |        / CAST(cnt AS DOUBLE))
        |      / CAST(cnt AS DOUBLE)), 6) AS sd_n
        |  FROM prof
        |), z AS (
        |  SELECT key, hour, n,
        |    CAST(round((CAST(n AS DOUBLE) - mean_n) / sd_n, 6)
        |      AS DECIMAL(38,6)) AS z
        |  FROM base JOIN p2 USING (key) WHERE sd_n > 0
        |), m AS (
        |  SELECT key, hour, n, z,
        |    sum(z - CAST(0.5 AS DECIMAL(38,6))) OVER w AS m_up,
        |    sum(-z - CAST(0.5 AS DECIMAL(38,6))) OVER w AS m_dn
        |  FROM z
        |  WINDOW w AS (PARTITION BY key ORDER BY hour
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), s AS (
        |  SELECT key, hour, n, z,
        |    m_up - least(min(m_up) OVER w, 0) AS s_plus,
        |    m_dn - least(min(m_dn) OVER w, 0) AS s_minus
        |  FROM m
        |  WINDOW w AS (PARTITION BY key ORDER BY hour
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT key, hour, n, round(CAST(z AS DOUBLE), 6) AS z,
        |  round(CAST(s_plus AS DOUBLE), 6) AS s_plus,
        |  round(CAST(s_minus AS DOUBLE), 6) AS s_minus,
        |  s_plus > 4.0 AS shift_up, s_minus > 4.0 AS shift_down
        |FROM s ORDER BY key, hour""".stripMargin),

    QuerySpec("q160_active_users", ((s, dir) => {
      // DAU / trailing-7-day WAU / stickiness per day: user-days fan
      // out map-side to the days they cover (bounded explode), then one
      // (user, day) distinct — no per-day rescan, no range self-join.
      operators.TimeSeries.activeUsers(t(s, dir, "events"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("dau"), col("wau"), col("stickiness"))
        .orderBy(col("day"))
    }),
      """WITH ud AS MATERIALIZED (
        |  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day
        |  FROM events
        |), dau AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1
        |), cov AS (
        |  SELECT DISTINCT u, day + CAST(g.i AS INT) AS day
        |  FROM ud, unnest(generate_series(0, 6)) AS g(i)
        |), wau AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS wau FROM cov GROUP BY 1
        |)
        |SELECT strftime(day, '%Y-%m-%d') AS day, dau, wau,
        |  round(CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE), 6)
        |    AS stickiness
        |FROM dau JOIN wau USING (day)
        |ORDER BY day""".stripMargin),

    QuerySpec("q168_km_retention", ((s, dir) => {
      // Kaplan-Meier retention over (user, event-type) engagement
      // streams: lifetime = days from first to last occurrence, units
      // still active in the final week are CENSORED (not churned) —
      // the right-censoring correction naive retention curves miss.
      val ev = t(s, dir, "events")
      operators.TimeSeries.kaplanMeierRetention(
        ev.select(concat_ws(":", col("user_id"), col("event_type"))
          .as("unit"), col("ts")))
        .orderBy(col("t_days"))
    }),
      """WITH per AS MATERIALIZED (
        |  SELECT user_id, event_type, CAST(min(ts) AS DATE) AS d0,
        |    CAST(max(ts) AS DATE) AS d1
        |  FROM events GROUP BY 1, 2
        |), lt0 AS (
        |  SELECT CAST(date_diff('day', d0, d1) AS BIGINT) AS t,
        |    date_diff('day', d1, (SELECT max(d1) FROM per)) < 7
        |      AS censored
        |  FROM per
        |), byt AS (
        |  SELECT t, CAST(count(*) AS BIGINT) AS n_t,
        |    CAST(sum(CASE WHEN NOT censored THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d_churn
        |  FROM lt0 GROUP BY 1
        |), risk AS (
        |  SELECT t, d_churn,
        |    CAST(sum(n_t) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
        |      AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk
        |  FROM byt
        |), f AS (
        |  SELECT t, n_risk, d_churn,
        |    CASE WHEN d_churn < n_risk THEN
        |      CAST(round(ln(1.0 - CAST(d_churn AS DOUBLE)
        |        / CAST(n_risk AS DOUBLE)), 9) AS DECIMAL(38,9))
        |    ELSE CAST(0 AS DECIMAL(38,9)) END AS lnf
        |  FROM risk WHERE d_churn > 0
        |)
        |SELECT t AS t_days, n_risk, d_churn,
        |  CASE WHEN d_churn = n_risk THEN 0.0
        |    ELSE round(exp(CAST(sum(lnf) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS DOUBLE)), 6) END AS survival
        |FROM f ORDER BY t_days""".stripMargin),

    QuerySpec("q169_stl", ((s, dir) => {
      // additive trend/seasonal/residual decomposition of the hourly
      // event series per type: centered 24h moving average, per-slot
      // seasonal means of the detrended series, residual remainder.
      operators.TimeSeries.stlDecompose(t(s, dir, "events"))
        .orderBy(col("key"), col("hour"))
    }),
      """WITH base AS MATERIALIZED (
        |  SELECT event_type AS key, date_trunc('hour', ts) AS hour,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |), wnd AS (
        |  SELECT key, hour, n,
        |    count(*) OVER w AS wn, sum(n) OVER w AS ws
        |  FROM base
        |  WINDOW w AS (PARTITION BY key ORDER BY hour
        |    ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)
        |), detr AS MATERIALIZED (
        |  SELECT key, hour, n,
        |    round(CAST(ws AS DOUBLE) / 24.0, 6) AS trend,
        |    CAST(hour(hour) AS INT) AS hod,
        |    CAST(n AS DOUBLE) - round(CAST(ws AS DOUBLE) / 24.0, 6)
        |      AS detr
        |  FROM wnd WHERE wn = 24
        |), seas AS (
        |  SELECT key, hod,
        |    round(CAST(sum(CAST(detr AS DECIMAL(38,6))) AS DOUBLE)
        |      / CAST(count(*) AS DOUBLE), 6) AS seasonal
        |  FROM detr GROUP BY 1, 2
        |)
        |SELECT d.key, d.hour, d.n, d.trend, se.seasonal,
        |  round(CAST(d.n AS DOUBLE) - d.trend - se.seasonal, 6) AS resid
        |FROM detr d JOIN seas se ON d.key = se.key AND d.hod = se.hod
        |ORDER BY d.key, d.hour""".stripMargin),

    QuerySpec("q182_burstiness", ((s, dir) => {
      // Goh-Barabasi burstiness of each user's inter-event gaps:
      // -1 metronome, 0 Poisson, ->1 bursts — the organic-vs-scheduler
      // behavioral fingerprint. One entity-keyed exchange.
      operators.TimeSeries.interEventBurstiness(t(s, dir, "events"))
        .orderBy(col("entity"))
    }),
      """WITH e AS (
        |  SELECT user_id AS entity, epoch_us(ts) // 1000000 AS es, ts
        |  FROM events
        |), g AS (
        |  SELECT entity,
        |    es - lag(es) OVER (PARTITION BY entity ORDER BY ts) AS g
        |  FROM e
        |), agg AS (
        |  SELECT entity, CAST(count(*) AS BIGINT) AS n_gaps,
        |    CAST(sum(g) AS BIGINT) AS s, CAST(sum(g * g) AS BIGINT) AS ss
        |  FROM g WHERE g IS NOT NULL GROUP BY 1
        |), m AS (
        |  SELECT entity, n_gaps,
        |    round(CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE), 3)
        |      AS mean_gap_s,
        |    CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mu,
        |    sqrt((CAST(ss AS DOUBLE)
        |      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |        / CAST(n_gaps AS DOUBLE))
        |      / CAST(n_gaps AS DOUBLE)) AS sigma
        |  FROM agg
        |)
        |SELECT entity, n_gaps, mean_gap_s,
        |  CASE WHEN sigma + mu = 0.0 THEN -1.0
        |    ELSE round((sigma - mu) / (sigma + mu), 6) END AS burstiness
        |FROM m ORDER BY entity""".stripMargin),

    QuerySpec("q187_conv_lag", ((s, dir) => {
      // time-to-convert distribution: each click's NEXT purchase by the
      // same user within 1h, as a FORWARD as-of join (the backward
      // asofJoin on negated epoch micros — one user-keyed shuffle +
      // carry-forward window, never an inequality join), then exact
      // lag percentiles. Deterministic next-purchase pick via the
      // event-id tie-break.
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"),
          (-unix_micros(col("ts"))).as("nts"),
          col("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), (-unix_micros(col("ts"))).as("nts"),
          unix_micros(col("ts")).as("pts"))
      val joined = operators.AsOfJoin.asofJoin(clicks, purchases, "nts", "nts", Seq("pts"),
        rightTieBreak = Some("pts"))
      val lags = joined
        .select((col("pts") - (-col("nts"))).as("lag_us"))
        .filter(col("lag_us").isNotNull && col("lag_us") <= 3600000000L)
        .select(expr("lag_us div 1000000").as("lag_s"))
      lags.agg(count(lit(1)).as("n_converted"),
        round(expr("percentile(lag_s, 0.25)"), 6).as("p25"),
        round(expr("percentile(lag_s, 0.5)"), 6).as("p50"),
        round(expr("percentile(lag_s, 0.75)"), 6).as("p75"),
        round(expr("percentile(lag_s, 0.9)"), 6).as("p90"))
    }),
      """WITH c AS (
        |  SELECT event_id AS click_id, user_id, epoch_us(ts) AS cts
        |  FROM events WHERE event_type = 'click'
        |), p AS (
        |  SELECT user_id, epoch_us(ts) AS pts
        |  FROM events WHERE event_type = 'purchase'
        |), m AS (
        |  SELECT c.click_id, c.cts, min(p.pts) AS npts
        |  FROM c JOIN p ON c.user_id = p.user_id AND p.pts >= c.cts
        |  GROUP BY 1, 2
        |), l AS (
        |  SELECT (npts - cts) // 1000000 AS lag_s
        |  FROM m WHERE npts - cts <= 3600000000
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_converted,
        |  round(quantile_cont(CAST(lag_s AS DOUBLE), 0.25), 6) AS p25,
        |  round(quantile_cont(CAST(lag_s AS DOUBLE), 0.5), 6) AS p50,
        |  round(quantile_cont(CAST(lag_s AS DOUBLE), 0.75), 6) AS p75,
        |  round(quantile_cont(CAST(lag_s AS DOUBLE), 0.9), 6) AS p90
        |FROM l""".stripMargin),

    QuerySpec("q191_session_stats", ((s, dir) => {
      // the corpus-level engagement card over q22's sessionization:
      // session count, bounce rate (1-event sessions), exact p50/p90
      // duration and events-per-session — the rollup a product
      // dashboard publishes; one user-keyed session pass then a 5-number
      // global aggregate.
      val ss = Sessionize.sessionSummary(t(s, dir, "events"))
      ss.select(
          (unix_timestamp(col("session_end"))
            - unix_timestamp(col("session_start"))).as("dur_s"),
          col("n_events"))
        .agg(count(lit(1)).as("n_sessions"),
          round(sum(when(col("n_events") === 1, 1L).otherwise(0L))
            .cast("double") / count(lit(1)).cast("double"), 6)
            .as("bounce_rate"),
          round(expr("percentile(dur_s, 0.5)"), 6).as("p50_dur_s"),
          round(expr("percentile(dur_s, 0.9)"), 6).as("p90_dur_s"),
          round(sum(col("n_events")).cast("double")
            / count(lit(1)).cast("double"), 6).as("avg_events"))
    }),
      """WITH flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL THEN 1
        |         WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), numbered AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM flagged
        |), sess AS (
        |  SELECT user_id, session_seq,
        |    epoch_us(max(ts)) // 1000000 - epoch_us(min(ts)) // 1000000
        |      AS dur_s,
        |    count(*) AS n_events
        |  FROM numbered GROUP BY 1, 2
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_sessions,
        |  round(CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
        |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS bounce_rate,
        |  round(quantile_cont(CAST(dur_s AS DOUBLE), 0.5), 6)
        |    AS p50_dur_s,
        |  round(quantile_cont(CAST(dur_s AS DOUBLE), 0.9), 6)
        |    AS p90_dur_s,
        |  round(CAST(sum(n_events) AS DOUBLE) / CAST(count(*) AS DOUBLE),
        |    6) AS avg_events
        |FROM sess""".stripMargin),

    QuerySpec("q196_ewma_hourly", ((s, dir) => {
      // trailing 24h exponentially-weighted hourly volume per event type
      // (α=½ truncated + renormalized): the dashboard smoother / drift
      // alarm level. Powers-of-two weights make the whole computation
      // exact integer arithmetic with ONE double division — no float
      // recurrence, no evaluation-order sensitivity.
      operators.TimeSeries.ewmaHourly(t(s, dir, "events"))
    }),
      """WITH hourly AS MATERIALIZED (
        |  SELECT event_type AS key, date_trunc('hour', ts) AS hour,
        |    epoch_us(date_trunc('hour', ts)) // 1000000 AS eh,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2, 3
        |), terms AS (
        |  SELECT key AS akey, eh + k * 3600 AS teh,
        |    n * CAST(round(pow(2, 24 - k)) AS BIGINT) AS num_t,
        |    CAST(round(pow(2, 24 - k)) AS BIGINT) AS den_t
        |  FROM (SELECT key, eh, n, unnest(range(0, 25)) AS k FROM hourly)
        |), agg AS (
        |  SELECT akey, teh, CAST(sum(num_t) AS BIGINT) AS num,
        |    CAST(sum(den_t) AS BIGINT) AS den
        |  FROM terms GROUP BY 1, 2
        |)
        |SELECT h.key, strftime(h.hour, '%Y-%m-%d %H:00') AS hour, h.n,
        |  round(CAST(a.num AS DOUBLE) / CAST(a.den AS DOUBLE), 6) AS ewma
        |FROM hourly h JOIN agg a ON a.akey = h.key AND a.teh = h.eh
        |ORDER BY h.key, hour""".stripMargin),

    QuerySpec("q303_curation_ablation", ((s, dir) => {
      // does the q300 funnel BUY anything? — the in-engine curation
      // ablation: two add-1 bigram LMs, one trained on the raw 75%
      // hash-split, one on that split ∩ funnel survivors (stage 7),
      // both scored on the SAME fixed held-out set (the 25% split's
      // gates-passing docs), corpus-level cross-entropy per model —
      // the experiment that justifies (or kills) each pipeline stage
      // before anyone trains a real model. Survivorship comes from one
      // shared funnel pass; each model is the q232 chain over its
      // train slice; eval bigrams are computed once and re-scored per
      // model via token-keyed LEFT joins.
      val cum = funnelCum(s, dir)
      val isTrain = substring(md5(concat(lit("cur|"),
        col("doc_id").cast("string"))), 1, 1) < lit("c")
      val base = operators.Materializer.Local(t(s, dir, "documents")
        .select(col("doc_id"),
          operators.TextAnalysis.tokens(col("text")).as("tk"),
          isTrain.as("is_train"))
        .join(cum.select(col("doc_id"), col("c2"), col("c7")),
          Seq("doc_id")))
      // ONE corpus bigram pass with the slice flags carried through the
      // per-doc grouping (r14, §2.4 fewer passes): bigrams are per-doc
      // and every slice (eval, curated-train, raw-train) is a per-doc
      // flag filter, so `bigrams(slice)` == `bigrams(all).filter(flags)`
      // — this replaces the THREE per-slice tokenize+zip+explode+count
      // passes the query used to pay. FanOut re-widens the checkpointed
      // base (AQE sizes it by bytes; the explode+count below is the
      // per-row-expensive consumer).
      val bgAll = operators.Materializer.Local(
        operators.FanOut(base).select(col("doc_id"), col("is_train"),
          col("c2"), col("c7"),
          explode(when(size(col("tk")) >= 2,
            zip_with(
              slice(col("tk"), lit(1),
                greatest(size(col("tk")) - 1, lit(1))),
              slice(col("tk"), lit(2),
                greatest(size(col("tk")) - 1, lit(1))),
              (a, b) => struct(a.as("w1"), b.as("w2"))))
            .otherwise(array()
              .cast("array<struct<w1:string,w2:string>>"))).as("bg"))
        .groupBy(col("doc_id"), col("is_train"), col("c2"), col("c7"),
          col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .agg(count(lit(1)).as("tf")))
      val evalBg = bgAll.filter(!col("is_train") && col("c2"))
      // both models' vocab sizes in ONE token pass (countDistinct skips
      // the NULLs the when() assigns to out-of-slice tokens — identical
      // to the former per-slice countDistinct)
      val vRow = base.select(explode(col("tk")).as("tok"),
          col("is_train"), col("c7"))
        .agg(
          countDistinct(when(col("is_train") && col("c7"), col("tok")))
            .as("v_cur"),
          countDistinct(when(col("is_train"), col("tok"))).as("v_raw"))
        .collect()(0)
      def model(name: String, trBg: DataFrame, v: Double,
                nTrain: Long): DataFrame = {
        val c2m = trBg.groupBy(col("w1"), col("w2"))
          .agg(sum(col("tf")).cast("long").as("c2m"))
        val c1m = trBg.groupBy(col("w1"))
          .agg(sum(col("tf")).cast("long").as("c1m"))
        val lp = log((coalesce(col("c2m"), lit(0L)).cast("double")
            + lit(1.0))
          / (coalesce(col("c1m"), lit(0L)).cast("double") + lit(v)))
        evalBg
          .join(c2m, Seq("w1", "w2"), "left")
          .join(c1m, Seq("w1"), "left")
          .agg(countDistinct(col("doc_id")).as("n_eval_docs"),
            sum(col("tf")).cast("long").as("n_eval_bigrams"),
            round(-sum((col("tf").cast("double") * lp)
                .cast("decimal(38,6)")).cast("double")
              / sum(col("tf")).cast("double"), 6).as("cross_entropy"))
          .select(lit(name).as("model"),
            lit(nTrain).as("n_train_docs"),
            col("n_eval_docs").cast("long").as("n_eval_docs"),
            col("n_eval_bigrams"), col("cross_entropy"))
      }
      model("curated",
          bgAll.filter(col("is_train") && col("c7")),
          vRow.getLong(0).toDouble,
          base.filter(col("is_train") && col("c7")).count())
        .unionAll(model("raw",
          bgAll.filter(col("is_train")),
          vRow.getLong(1).toDouble,
          base.filter(col("is_train")).count()))
        .orderBy(col("model"))
    }),
      {
      def modelSql(name: String, cond: String): String =
        s"""tr_$name AS (
           |  SELECT doc_id FROM base WHERE $cond
           |), c2_$name AS (
           |  SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS c2m
           |  FROM tfb JOIN tr_$name USING (doc_id) GROUP BY 1, 2
           |), c1_$name AS (
           |  SELECT w1, CAST(SUM(tf) AS BIGINT) AS c1m
           |  FROM tfb JOIN tr_$name USING (doc_id) GROUP BY 1
           |), v_$name AS (
           |  SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) AS vs
           |  FROM (SELECT unnest(tk) AS tok
           |        FROM base JOIN tr_$name USING (doc_id))
           |), nt_$name AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS n_train FROM tr_$name
           |), sc_$name AS (
           |  SELECT '$name' AS model, MAX(n_train) AS n_train_docs,
           |    CAST(COUNT(DISTINCT e.doc_id) AS BIGINT) AS n_eval_docs,
           |    CAST(SUM(tf) AS BIGINT) AS n_eval_bigrams,
           |    round(-CAST(SUM(CAST(CAST(tf AS DOUBLE)
           |        * ln((CAST(coalesce(c2m, 0) AS DOUBLE) + 1.0)
           |          / (CAST(coalesce(c1m, 0) AS DOUBLE) + vs))
           |      AS DECIMAL(38,6))) AS DOUBLE)
           |      / CAST(SUM(tf) AS DOUBLE), 6) AS cross_entropy
           |  FROM evb e LEFT JOIN c2_$name USING (w1, w2)
           |  LEFT JOIN c1_$name USING (w1), v_$name, nt_$name
           |)""".stripMargin
      s"""WITH @CUM@,
         |spl AS (
         |  SELECT doc_id,
         |    substr(md5('cur|' || CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
         |      AS is_train
         |  FROM documents
         |), base AS MATERIALIZED (
         |  SELECT doc_id, $toksSql AS tk, is_train, c2, c7
         |  FROM documents JOIN spl USING (doc_id)
         |  JOIN cum USING (doc_id)
         |), bi AS (
         |  SELECT doc_id, tk[CAST(i + 1 AS INT)] AS w1,
         |    tk[CAST(i + 2 AS INT)] AS w2
         |  FROM (SELECT doc_id, tk,
         |          unnest(range(0, greatest(len(tk) - 1, 0))) AS i
         |        FROM base)
         |), tfb AS MATERIALIZED (
         |  SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM bi GROUP BY 1, 2, 3
         |), evb AS MATERIALIZED (
         |  SELECT t.doc_id, w1, w2, tf
         |  FROM tfb t JOIN base b USING (doc_id)
         |  WHERE NOT b.is_train AND b.c2
         |), ${modelSql("curated", "is_train AND c7")},
         |${modelSql("raw", "is_train")}
         |SELECT * FROM (
         |  SELECT * FROM sc_curated UNION ALL SELECT * FROM sc_raw
         |) ORDER BY model""".stripMargin
        .replace("@CUM@", funnelCumSql)
    }),

    QuerySpec("q300_pipeline_funnel", ((s, dir) => {
      // the full pretraining-data pipeline as ONE funnel: raw → cheap
      // quality gates (q283's three) → exact dedup (q34's keep-min) →
      // minhash near-dup drop (q37's pairs, larger id drops) →
      // benchmark decontamination (q68's overlap, eval docs excluded)
      // → language filter (q32's n-gram langid) → quality floor
      // (q31's score ≥ 0.3) — per-stage doc/token survival, the
      // pipeline-planning readout q283 gives for gate SUBSETS, here
      // for the production stage ORDER. Stage flags are computed once
      // per doc on the full corpus and survival is their cumulative
      // AND: the funnel costs the union of its stages' plans plus one
      // conditional aggregate — never seven passes.
      val cum = funnelCum(s, dir)
      val aggr = operators.Materializer.Local(cum.agg(
        (1 to 7).flatMap(i => Seq(
          sum(when(col(s"c$i"), 1L).otherwise(0L)).as(s"d$i"),
          sum(when(col(s"c$i"), col("ntk")).otherwise(0L))
            .as(s"t$i"))).head,
        (1 to 7).flatMap(i => Seq(
          sum(when(col(s"c$i"), 1L).otherwise(0L)).as(s"d$i"),
          sum(when(col(s"c$i"), col("ntk")).otherwise(0L))
            .as(s"t$i"))).tail: _*))
      val names = Seq("raw", "gates", "exact_dedup", "near_dup",
        "decontaminate", "lang_en", "quality")
      names.zipWithIndex.map { case (nm, idx) =>
        val i = idx + 1
        aggr.select(lit(i.toLong).as("stage"), lit(nm).as("name"),
          col(s"d$i").as("docs"), col(s"t$i").as("tokens"),
          round(col(s"d$i").cast("double") / col("d1").cast("double"),
            6).as("doc_share"))
      }.reduce(_ unionAll _).orderBy(col("stage"))
    }),
      {
      val aggCols = (1 to 7).map(i =>
        s"""    SUM(CASE WHEN c$i THEN 1 ELSE 0 END) AS d$i,
           |    SUM(CASE WHEN c$i THEN ntk ELSE 0 END) AS t$i"""
          .stripMargin).mkString(",\n")
      val names = Seq("raw", "gates", "exact_dedup", "near_dup",
        "decontaminate", "lang_en", "quality")
      val rows = names.zipWithIndex.map { case (nm, idx) =>
        val i = idx + 1
        s"""  SELECT CAST($i AS BIGINT) AS stage, '$nm' AS name,
           |    CAST(d$i AS BIGINT) AS docs, CAST(t$i AS BIGINT)
           |      AS tokens,
           |    round(CAST(d$i AS DOUBLE) / CAST(d1 AS DOUBLE), 6)
           |      AS doc_share
           |  FROM a""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""WITH @CUM@, a AS (
         |  SELECT
         |$aggCols
         |  FROM cum
         |)
         |SELECT * FROM (
         |$rows
         |) ORDER BY stage""".stripMargin
        .replace("@CUM@", funnelCumSql)
    })
  )
}
