package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series shaping over the event stream: gap filling with linear
  * interpolation (the densification monitoring/forecasting consumers
  * need — a missing hour must read as an explicit zero-count row with an
  * interpolated level, not silently vanish) and SCD2 history building
  * (the slowly-changing-dimension form a warehouse keeps entity state
  * in; reference behavior scope: hauser's warehouse loads land exactly
  * such per-day entity tables, `warehouse.go` day-partitioned loads).
  *
  * Scale shape: both operators key every exchange on the series/entity
  * id. Windows are PARTITIONED (never global): per-series hour counts
  * are calendar-bounded regardless of corpus size, per-entity change
  * rows are entity-bounded; the hourly pre-aggregation partial-combines
  * map-side, so the raw event stream shuffles once at hour granularity.
  */
object TimeSeries {
  private val KeyCol = "event_type"
  private val TsCol = "ts"

  /** Hourly-bucketed, gap-filled, linearly interpolated series per key.
    *
    * Raw points (keyCol, tsCol, valCol) are bucketed to the hour
    * (partial-combined count + DECIMAL(38,6) mean); each key's series is
    * densified over `sequence(min_hour, max_hour)` — the spine explodes
    * map-side off the tiny per-key extent aggregate — and bucket gaps get
    * `n = 0` and the linear interpolation between the neighboring known
    * levels (exact epoch-second ratio, one IEEE op order, round(6); the
    * series endpoints are known buckets by construction, so every gap is
    * interior). Returns (key, hour, n, level, filled).
    */
  def gapFillHourly(points: DataFrame): DataFrame = {
    val valCol = "value"
    val base = points
      .groupBy(col(KeyCol).as("key"),
        date_trunc("hour", col(TsCol)).as("hour"))
      .agg(count(lit(1)).as("n"),
        round(sum(col(valCol).cast("decimal(38,6)")).cast("double")
          / count(lit(1)).cast("double"), 6).as("v"))
    val spine = base.groupBy(col("key"))
      .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(col("key"),
        explode(sequence(col("h0"), col("h1"),
          expr("INTERVAL 1 HOUR"))).as("hour"))
    val w = Window.partitionBy(col("key")).orderBy(col("hour"))
    val prevF = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nextF = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val ep = (c: Column) => unix_timestamp(c).cast("double")
    val joined = spine.join(base, Seq("key", "hour"), "left")
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(prevF))
      .withColumn("ph", last(when(col("v").isNotNull, col("hour")),
        ignoreNulls = true).over(prevF))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(nextF))
      .withColumn("nh", first(when(col("v").isNotNull, col("hour")),
        ignoreNulls = true).over(nextF))
    joined.select(col("key"), col("hour"),
      coalesce(col("n"), lit(0L)).as("n"),
      when(col("v").isNotNull, col("v")).otherwise(
        round(col("pv") + (col("nv") - col("pv"))
          * (ep(col("hour")) - ep(col("ph")))
          / (ep(col("nh")) - ep(col("ph"))), 6)).as("level"),
      col("v").isNull.as("filled"))
  }

  /** SCD2 (type-2 slowly-changing-dimension) history from a change feed:
    * per entity, collapse the (tsCol, tieCol)-ordered state stream into
    * its change points and emit one validity interval per state run —
    * (key, state, valid_from, valid_to, is_current, version), where
    * `valid_to` is the next change's `valid_from` (NULL while current)
    * and `version` counts an entity's intervals from 1. `tieCol` breaks
    * same-timestamp ties deterministically (a changelog offset / event
    * id), so replays produce identical history. Both windows ride ONE
    * entity-keyed exchange; no global sort.
    */
  def scd2History(changes: DataFrame): DataFrame = {
    val stateCol = "event_type"
    val tieCol = "event_id"
    val keyCol = "user_id"
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(TsCol), col(tieCol))
    val marked = changes
      .withColumn("prev_state", lag(col(stateCol), 1).over(w))
      .filter(col("prev_state").isNull
        || !(col("prev_state") <=> col(stateCol)))
    marked
      .withColumn("valid_to", lead(col(TsCol), 1).over(w))
      .withColumn("version", row_number().over(w).cast("int"))
      .select(col(keyCol), col(stateCol).as("state"),
        col(TsCol).as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"), col("version"))
  }

  /** Theil–Sen robust trend per key over the hourly activity series:
    * slope = the MEDIAN of all pairwise slopes (Theil 1950 / Sen 1968 —
    * up to ~29% corrupted hours cannot move it, unlike least squares),
    * intercept = median(y − slope·x). The trend monitor a pipeline runs
    * over ingest volumes: "is this source growing, shrinking, or did one
    * burst just fool the regression?".
    *
    * Scale shape: the pairwise slope set is quadratic in HOURS — a
    * calendar-bounded number independent of corpus size — never in
    * corpus rows; the raw stream partial-combines to (key, hour, n)
    * first, and the pair join is per-key time-bounded. Slopes are
    * integer-count differences over integer-hour gaps (round(9));
    * medians are the exact q51-pinned percentile; slope round(6) before
    * the intercept pass so both engines subtract identical bits.
    * Returns (key, n_hours, slope, intercept). */
  def theilSenTrend(points: DataFrame)
      : DataFrame = {
    // pinned: the hourly table feeds both pair sides and the intercept
    // pass — unpinned, the corpus aggregation would run three times
    val abs0 = Materializer.Local(points
      .groupBy(col(KeyCol).as("key"),
        date_trunc("hour", col(TsCol)).as("hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("key"),
        (unix_timestamp(col("hour")) / 3600L).cast("long").as("xa"),
        col("n").cast("long").as("y")))
    // x rebased to each key's series start so the intercept reads as
    // the level AT THE START, not at epoch 0 (all downstream references
    // are cheap projections over the pinned hourly table)
    val base = abs0
      .join(Hints.boundedBroadcast(abs0.groupBy(col("key"))
        .agg(min(col("xa")).as("x0")), "series_key_domain"), Seq("key"))
      .select(col("key"), (col("xa") - col("x0")).as("x"), col("y"))
    val a = base.select(col("key"), col("x").as("x1"), col("y").as("y1"))
    val b = base.select(col("key"), col("x").as("x2"), col("y").as("y2"))
    val slopes = a.join(b, Seq("key")).filter(col("x1") < col("x2"))
      .select(col("key"),
        round((col("y2") - col("y1")).cast("double")
          / (col("x2") - col("x1")).cast("double"), 9).as("m"))
    val slope = slopes.groupBy(col("key"))
      .agg(round(expr("percentile(m, 0.5)"), 6).as("slope"))
    base.join(Hints.boundedBroadcast(slope, "series_key_domain"),
      Seq("key"))
      .groupBy(col("key"))
      .agg(count(lit(1)).cast("long").as("n_hours"),
        first(col("slope")).as("slope"),
        round(expr("percentile(y - slope * x, 0.5)"), 6).as("intercept"))
  }

  /** Calendar-seasonal anomaly detection: each (key, hour-of-day) slot
    * learns its own mean/σ from the hourly counts, and hours deviating
    * more than `z` standard deviations from their slot profile are
    * flagged — the "is 3 AM traffic weird FOR 3 AM" monitor that a flat
    * threshold can't express. Returns flagged
    * (key, hour, n, hod, mean_n, sd_n, zscore).
    *
    * Scale shape: hourly counts partial-combine from the raw stream
    * (the corpus's only exchange); the profile table is key×24 rows
    * computed from EXACT integer sums (sum, sum-of-squares), broadcast
    * back over the hourly table. Variance from exact longs in one
    * double op order, round(6); population σ (the profile is the whole
    * window, not a sample). */
  def seasonalAnomalies(points: DataFrame): DataFrame = {
    val z = 3.0
    // pinned: the hourly table feeds the profile AND the flag join
    val base = Materializer.Local(points
      .groupBy(col(KeyCol).as("key"),
        date_trunc("hour", col(TsCol)).as("hour"))
      .agg(count(lit(1)).as("n"))
      .withColumn("hod", hour(col("hour")).cast("int")))
    val prof = base.groupBy(col("key"), col("hod"))
      .agg(count(lit(1)).as("cnt"), sum(col("n")).as("s"),
        sum(col("n") * col("n")).as("ss"))
      .select(col("key"), col("hod"), col("cnt"),
        round(col("s").cast("double") / col("cnt").cast("double"), 9)
          .as("mean_n"),
        round(sqrt(
          (col("ss").cast("double")
            - col("s").cast("double") * col("s").cast("double")
              / col("cnt").cast("double"))
            / col("cnt").cast("double")), 6).as("sd_n"))
    base.join(Hints.boundedBroadcast(prof, "series_key_domain"),
      Seq("key", "hod"))
      .filter(col("sd_n") > 0 &&
        abs(col("n").cast("double") - col("mean_n"))
          > lit(z) * col("sd_n"))
      .select(col("key"), col("hour"), col("n"), col("hod"),
        col("mean_n"), col("sd_n"),
        round((col("n").cast("double") - col("mean_n")) / col("sd_n"), 6)
          .as("zscore"))
  }

  /** CUSUM level-shift detection (Page 1954) over the hourly count
    * series per key: the sequential recurrence
    * `S⁺_t = max(0, S⁺_{t-1} + z_t − slack)` (and its mirror for
    * downward shifts) flags SUSTAINED drifts that per-hour z-scores
    * (q158) miss — ten consecutive +1σ hours never trip a 3σ gate but
    * drive S⁺ to 10·(1−slack). Returns the full scored series
    * (key, hour, n, z, s_plus, s_minus, shift_up, shift_down).
    *
    * The recurrence LOOKS inherently sequential, but the running-max
    * identity `S⁺_t = M_t − min(0, min_{i≤t} M_i)` with
    * `M_t = Σ_{j≤t}(z_j − slack)` turns it into a prefix SUM plus a
    * prefix MIN — two ordinary window aggregates both engines run over
    * one per-key ordered frame. z-scores round(6) then accumulate as
    * DECIMAL(38,6), so the prefix sum is EXACT and evaluation order
    * (Spark's running frame vs DuckDB's segment tree) cannot flip a
    * bit.
    *
    * Scale shape: the raw stream partial-combines to (key, hour, n) —
    * its only exchange; the per-key profile is exact integer sums
    * broadcast back (the q158 idiom); windows are key-partitioned and
    * calendar-bounded. Constant series (σ = 0) carry no shift signal
    * and are dropped. */
  def cusumChangepoints(points: DataFrame)
      : DataFrame = {
    val slack = 0.5
    val threshold = 4.0
    // pinned: the hourly table feeds the profile AND the scored series
    val base = Materializer.Local(points
      .groupBy(col(KeyCol).as("key"),
        date_trunc("hour", col(TsCol)).as("hour"))
      .agg(count(lit(1)).as("n")))
    val prof = base.groupBy(col("key"))
      .agg(count(lit(1)).as("cnt"), sum(col("n")).as("s"),
        sum(col("n") * col("n")).as("ss"))
      .select(col("key"),
        round(col("s").cast("double") / col("cnt").cast("double"), 9)
          .as("mean_n"),
        round(sqrt(
          (col("ss").cast("double")
            - col("s").cast("double") * col("s").cast("double")
              / col("cnt").cast("double"))
            / col("cnt").cast("double")), 6).as("sd_n"))
    val w = Window.partitionBy(col("key")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val k = lit(slack).cast("decimal(38,6)")
    val scored = base.join(
      Hints.boundedBroadcast(prof, "series_key_domain"), Seq("key"))
      .filter(col("sd_n") > 0)
      .withColumn("z",
        round((col("n").cast("double") - col("mean_n")) / col("sd_n"), 6)
          .cast("decimal(38,6)"))
      .withColumn("m_up", sum(col("z") - k).over(w))
      .withColumn("m_dn", sum(-col("z") - k).over(w))
      .withColumn("s_plus",
        col("m_up") - least(min(col("m_up")).over(w), lit(0)))
      .withColumn("s_minus",
        col("m_dn") - least(min(col("m_dn")).over(w), lit(0)))
    // round(·, 6) AFTER the double cast: decimal→double casting is not
    // correctly rounded in every engine (scaled-multiply vs divide can
    // differ in the last ulp) — re-rounding lands both on the same bits
    scored.select(col("key"), col("hour"), col("n"),
      round(col("z").cast("double"), 6).as("z"),
      round(col("s_plus").cast("double"), 6).as("s_plus"),
      round(col("s_minus").cast("double"), 6).as("s_minus"),
      (col("s_plus") > threshold).as("shift_up"),
      (col("s_minus") > threshold).as("shift_down"))
  }

  /** Rolling active-user engagement series: per calendar day, DAU
    * (distinct users that day), WAU over a trailing `window`-day range
    * (distinct users in [day − window + 1, day]), and the DAU/WAU
    * stickiness ratio — the standard product-health readout. Returns
    * (day, dau, wau, stickiness) for each day observed in the stream.
    *
    * Scale shape: the raw stream first collapses to DISTINCT
    * (user, day) — bounded by users × days, the only corpus-sized
    * exchange. The trailing window is NOT a per-day rescan: each
    * user-day row fans out map-side to the `window` future days it
    * covers (a bounded explode), then one (user, day) distinct +
    * per-day count. No window function, no range self-join; every
    * aggregate partial-combines. */
  def activeUsers(events: DataFrame): DataFrame = {
    val userCol = "user_id"
    val window = 7
    // pinned: the user-day table feeds DAU, the fan-out, and the spine
    val ud = Materializer.Local(events
      .select(col(userCol).as("u"), to_date(col(TsCol)).as("day"))
      .distinct())
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("u"), explode(sequence(col("day"),
        date_add(col("day"), window - 1))).as("day"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    // the spine is the observed-day set: fan-out days past the stream's
    // end carry partial windows and are clipped by the inner join
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau").cast("double"), 6)
          .as("stickiness"))
  }

  /** Kaplan–Meier retention curve (Kaplan & Meier 1958) over user
    * lifetimes: per user, lifetime = days between first and last
    * activity; users whose last activity falls within `censorDays` of
    * the stream's end are CENSORED (still alive as far as the data can
    * tell — treating them as churned biases the curve down, the
    * classic retention mistake). At each churn lifetime t:
    * `S(t) = Π_{t_i ≤ t} (1 − d_i / n_i)` with d_i churns at t_i and
    * n_i users still at risk. Returns one row per churn lifetime
    * (t_days, n_risk, d_churn, survival), survival round(6).
    *
    * Scale shape: the stream partial-combines to per-user
    * (first, last) — the only corpus exchange; lifetimes collapse to
    * the calendar-bounded (t, churned) histogram, and at-risk counts
    * are suffix sums over that bounded table. The product is the
    * exp(Σ ln) identity: per-step factors ln(1 − d/n) round(9)
    * accumulate in DECIMAL(38,9) (order-proof), one exp at the end,
    * round(6). */
  def kaplanMeierRetention(events: DataFrame): DataFrame = {
    val userCol = "unit"
    val censorDays = 7
    val per = events
      .groupBy(col(userCol).as("u"))
      .agg(to_date(min(col(TsCol))).as("d0"),
        to_date(max(col(TsCol))).as("d1"))
    // pinned: the lifetime histogram feeds the churn rows AND the
    // at-risk suffix sums
    val lt = Materializer.Local(per
      .crossJoin(broadcast(per.agg(max(col("d1")).as("dmax"))))
      .select(datediff(col("d1"), col("d0")).cast("long").as("t"),
        (datediff(col("dmax"), col("d1")) < censorDays).as("censored"))
      .groupBy(col("t"), col("censored"))
      .agg(count(lit(1)).as("c")))
    val wRisk = Window.orderBy(col("t"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wSurv = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byT = lt.groupBy(col("t"))
      .agg(sum(col("c")).as("n_t"),
        sum(when(!col("censored"), col("c")).otherwise(0L)).as("d_churn"))
    // d = n can only happen on the LAST churn row (nobody outlives it);
    // its factor is 0, so survival pins to 0.0 instead of ln(0) = -inf
    byT
      .withColumn("n_risk", sum(col("n_t")).over(wRisk))
      .filter(col("d_churn") > 0)
      .withColumn("lnf",
        when(col("d_churn") < col("n_risk"),
          round(log(lit(1.0)
            - col("d_churn").cast("double")
              / col("n_risk").cast("double")), 9).cast("decimal(38,9)"))
          .otherwise(lit(0).cast("decimal(38,9)")))
      .withColumn("survival",
        when(col("d_churn") === col("n_risk"), lit(0.0))
          .otherwise(
            round(exp(sum(col("lnf")).over(wSurv).cast("double")), 6)))
      .select(col("t").as("t_days"), col("n_risk"), col("d_churn"),
        col("survival"))
  }

  /** Inter-event burstiness per entity (Goh & Barabási 2008):
    * `B = (σ − µ)/(σ + µ)` over the entity's inter-event gaps — −1 for
    * a metronome, 0 for a Poisson process, → 1 for heavy bursts. The
    * behavioral fingerprint separating organic users from schedulers
    * and scrapers. Returns (entity, n_gaps, mean_gap_s, burstiness),
    * gaps measured in whole seconds, mean round(3), B round(6);
    * entities with fewer than 2 events are absent, zero-variance
    * entities (σ + µ = 0 can only mean all-zero gaps) pin B to −1.
    *
    * Scale shape: ONE entity-keyed exchange; the gap lag rides an
    * entity-partitioned window (entity-bounded state), then mean/σ
    * come from exact integer sums partial-combined per entity — one
    * double op order, no second pass. */
  def interEventBurstiness(events: DataFrame): DataFrame = {
    val entityCol = "user_id"
    val w = Window.partitionBy(col("entity")).orderBy(col("ts"))
    val gaps = events
      .select(col(entityCol).as("entity"), col(TsCol).as("ts"))
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("entity"),
        (unix_timestamp(col("ts")) - unix_timestamp(col("prev")))
          .as("g"))
    gaps.groupBy(col("entity"))
      .agg(count(lit(1)).as("n_gaps"), sum(col("g")).as("s"),
        sum(col("g") * col("g")).as("ss"))
      .select(col("entity"), col("n_gaps"),
        round(col("s").cast("double") / col("n_gaps").cast("double"), 3)
          .as("mean_gap_s"),
        col("s"), col("ss"))
      .withColumn("mu",
        col("s").cast("double") / col("n_gaps").cast("double"))
      .withColumn("sigma", sqrt(
        (col("ss").cast("double")
          - col("s").cast("double") * col("s").cast("double")
            / col("n_gaps").cast("double"))
          / col("n_gaps").cast("double")))
      .select(col("entity"), col("n_gaps"), col("mean_gap_s"),
        when(col("sigma") + col("mu") === 0.0, lit(-1.0))
          .otherwise(round((col("sigma") - col("mu"))
            / (col("sigma") + col("mu")), 6)).as("burstiness"))
  }

  /** Additive seasonal-trend decomposition (the STL shape, one-pass
    * form) of the hourly count series per key:
    * trend = the CENTERED 24-hour moving average (emitted only where
    * the full 24-term window exists), seasonal = the per-(key,
    * hour-of-day) mean of the detrended series, residual = the rest —
    * the monitoring decomposition that separates "traffic is growing"
    * from "it's 3 AM" from "something broke". Returns
    * (key, hour, n, trend, seasonal, resid) for fully-windowed hours.
    *
    * Scale shape: the stream partial-combines to (key, hour, n); the
    * moving average is a key-partitioned window over EXACT integer
    * sums (÷ 24.0 once, round(6)); the seasonal profile is a key×24
    * aggregate of DECIMAL(38,6)-cast detrended values broadcast back.
    * Residual = n − trend − seasonal in one pinned op order,
    * round(6). */
  def stlDecompose(points: DataFrame)
      : DataFrame = {
    val period = 24
    val half = period / 2
    val base = points
      .groupBy(col(KeyCol).as("key"),
        date_trunc("hour", col(TsCol)).as("hour"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("key")).orderBy(col("hour"))
      .rowsBetween(-half, half - 1)
    // pinned: the detrended table feeds the seasonal profile AND the
    // residual join
    val detr = Materializer.Local(base
      .withColumn("wn", count(lit(1)).over(w))
      .withColumn("ws", sum(col("n")).over(w))
      .filter(col("wn") === period)
      .select(col("key"), col("hour"), col("n"),
        round(col("ws").cast("double") / lit(period.toDouble), 6)
          .as("trend"))
      .withColumn("hod", hour(col("hour")).cast("int"))
      .withColumn("detr", col("n").cast("double") - col("trend")))
    val seas = detr.groupBy(col("key"), col("hod"))
      .agg(round(sum(col("detr").cast("decimal(38,6)")).cast("double")
        / count(lit(1)).cast("double"), 6).as("seasonal"))
    detr.join(Hints.boundedBroadcast(seas, "series_key_domain"),
      Seq("key", "hod"))
      .select(col("key"), col("hour"), col("n"), col("trend"),
        col("seasonal"),
        round(col("n").cast("double") - col("trend") - col("seasonal"), 6)
          .as("resid"))
  }

  /** Trailing exponentially-weighted moving average of hourly event
    * volume — the operational smoother behind "current level" dashboards
    * and drift alarms (the recursive `s_t = αx_t + (1−α)s_{t−1}` with
    * α = ½, truncated at `window` hours and renormalized over the
    * weight mass actually present, so series edges and gaps stay
    * well-defined).
    *
    * The arithmetic is EXACT integers end-to-end: with α = ½ the weights
    * are powers of two, so each hour's numerator contribution is
    * `n · 2^(window−k)` (a long), the denominator the matching power
    * sum, and the EWMA is ONE double division, round(6) — no float
    * accumulation to drift between engines and no recursive window
    * (a prefix recurrence over doubles would pin evaluation order; this
    * shape partial-combines freely).
    *
    * Scale shape: the corpus collapses to the calendar-bounded hourly
    * table first (the q104/q157 discipline — its one full-data pass);
    * each hourly row then fans out MAP-SIDE to the `window` target
    * hours it influences (bounded explode, the q160 shape), one
    * (key, hour) partial-combined sum, one join back to attach the
    * actual hour's count. */
  def ewmaHourly(events: DataFrame): DataFrame = {
    val window = 24 // 2^window must fit a long
    val hourly = Materializer.Local(events
      .groupBy(col(KeyCol).as("key"), date_trunc("hour", col(TsCol))
        .as("hour"))
      .agg(count(lit(1)).as("n"))
      .withColumn("eh", unix_timestamp(col("hour"))))
    val pw = round(pow(lit(2.0), lit(window) - col("k"))).cast("long")
    val terms = hourly
      .select(col("key"), col("eh"), col("n"),
        explode(sequence(lit(0), lit(window))).as("k"))
      .select(col("key").as("akey"),
        (col("eh") + col("k") * lit(3600L)).as("teh"),
        (col("n") * pw).as("num_t"), pw.as("den_t"))
    val agg = terms.groupBy(col("akey"), col("teh"))
      .agg(sum(col("num_t")).as("num"), sum(col("den_t")).as("den"))
    hourly
      .join(agg, col("key") === col("akey") && col("eh") === col("teh"))
      .select(col("key"),
        date_format(col("hour"), "yyyy-MM-dd HH:00").as("hour"),
        col("n"),
        round(col("num").cast("double") / col("den").cast("double"), 6)
          .as("ewma"))
      .orderBy(col("key"), col("hour"))
  }
}
