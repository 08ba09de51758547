package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Decision-grade summary statistics over the corpus: the two-sample
  * experiment readout and the per-column data profile — the numbers a
  * data-quality gate or an A/B-tested pipeline change is actually
  * approved on.
  *
  * Scale shape: both operators are single-pass partial-combined
  * aggregations — conditional sums for the experiment arms, a
  * multi-count-distinct (Expand) pass for the profile — so the corpus
  * shuffles compact partial states, never rows.
  */
object Stats {
  private val ValCol = "n_chars"
  private val ItemCol = "l_partkey"
  private val GroupCol = "source"
  private val BasketCol = "l_orderkey"
  private val AmountCol = "o_totalprice"
  private val XCol = "x"
  private val NCol = "n"
  private val BCol = "b"
  private val ArmCol = "arm"
  private val ACol = "a"

  /** Two-proportion z-test over per-unit experiment outcomes
    * (unit, arm 'A'|'B', converted 0|1): the standard pooled-variance
    * readout `z = (pA - pB) / sqrt(p̂(1-p̂)(1/nA + 1/nB))` an
    * experimentation pipeline publishes per metric. Input rows are one
    * per unit (dedupe upstream — a unit must not vote twice); output is
    * ONE row (n_a, n_b, conv_a, conv_b, p_a, p_b, z), rates and z
    * round(6), counts exact. One conditional partial-combined aggregate;
    * nothing shuffles but 7 numbers. */
  def abZTest(outcomes: DataFrame)
      : DataFrame = {
    val convCol = "converted"
    val isA = col(ArmCol) === lit("A")
    val agg = outcomes.agg(
      sum(when(isA, 1L).otherwise(0L)).as("n_a"),
      sum(when(!isA, 1L).otherwise(0L)).as("n_b"),
      sum(when(isA, col(convCol).cast("long")).otherwise(0L)).as("conv_a"),
      sum(when(!isA, col(convCol).cast("long")).otherwise(0L)).as("conv_b"))
    val pa = col("conv_a").cast("double") / col("n_a").cast("double")
    val pb = col("conv_b").cast("double") / col("n_b").cast("double")
    val pp = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    agg.select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
      round(pa, 6).as("p_a"), round(pb, 6).as("p_b"),
      round((pa - pb) / sqrt(pp * (lit(1.0) - pp) *
        (lit(1.0) / col("n_a").cast("double")
          + lit(1.0) / col("n_b").cast("double"))), 6).as("z"))
  }

  /** One-pass column profile — the pre-publish data-quality card: for
    * each requested column, row count, null count, EXACT distinct count,
    * and min/max (computed in the column's NATIVE order, then rendered
    * through the caller's portable string rendering — cast
    * timestamps/doubles explicitly; engine-default float formatting is
    * not comparable). Returns (col_name, n_rows, n_null, n_distinct,
    * min_s, max_s), one row per column, ordered by col_name.
    *
    * The multiple exact count-distincts compile to ONE scan with an
    * Expand (factor = |cols|) — the deliberate trade for exactness;
    * profiles wanting estimate-grade distincts at lower cost swap in
    * approx_count_distinct (the q19/q126 sketch contract). */
  def columnProfile(df: DataFrame, cols: Seq[String],
                    render: (String, Column) => Column): DataFrame = {
    require(cols.nonEmpty)
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nnull"),
        count_distinct(col(c)).as(s"${c}__nd"),
        render(c, min(col(c))).as(s"${c}__mn"),
        render(c, max(col(c))).as(s"${c}__mx"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = array(cols.map { c =>
      struct(lit(c).as("col_name"), col("n_rows"),
        col(s"${c}__nnull").as("n_null"),
        col(s"${c}__nd").as("n_distinct"),
        col(s"${c}__mn").as("min_s"), col(s"${c}__mx").as("max_s"))
    }: _*)
    one.select(explode(rows).as("p")).select(col("p.*"))
      .orderBy(col("col_name"))
  }

  /** Equi-depth histogram boundaries for numeric columns — the
    * distribution card a data profile ships beyond min/max: the interior
    * `buckets - 1` exact percentile boundaries per column (linear
    * interpolation at rank (n-1)·q, the q51-pinned Spark/DuckDB
    * equivalence), all columns in ONE scan (one multi-percentile
    * aggregate). Returns (col_name, pct, boundary) with pct the integer
    * percent rank and boundary round(6), ordered. At 100 TB swap the
    * exact percentile for approx_percentile — the documented estimator
    * substitution.
    *
    * Contract on degenerate input (differs from the percentile()
    * formulation this replaced, r13): a column that is EMPTY or all-NULL
    * contributes NO rows (the old always-one-row aggregate emitted
    * (col, pct, NULL) boundary rows); values are compared as DOUBLE, so
    * distinct integral values beyond 2^53 can merge. Both are outside
    * every caller's domain (non-empty fact columns, price-cents scale),
    * and the q152 oracle pins the non-degenerate behavior at two SFs. */
  def equiDepthHistogram(df: DataFrame, cols: Seq[String])
      : DataFrame = {
    val buckets = 10
    require(cols.nonEmpty && buckets >= 2 && 100 % buckets == 0)
    import org.apache.spark.sql.expressions.Window
    // Exact interpolated quantiles REPLAYING Spark's `percentile()`
    // bit-for-bit — position p·(n−1), boundary (hi−pos)·v_lo +
    // (pos−lo)·v_hi, with the integer-position and equal-key shortcuts —
    // but over a per-column VALUE HISTOGRAM instead of the percentile
    // aggregate. The aggregate buffers a value-count map per task and
    // merges them in ONE final task, which dominated the consumer query
    // (~4 s at sf0.1, almost all in the ~120k-distinct price column and
    // invariant to input parallelism); this shape counts (col, value)
    // pairs in a partial-combined exchange and sorts each column's
    // DISTINCT values once. Output bit-identical: differential spec pins
    // it against percentile() and the q152 oracle hash pins it against
    // DuckDB quantile_cont.
    val vals = df
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("cn"), col(c).cast("double").as("v"))): _*))
        .as("e"))
      .select(col("e.cn").as("cn"), col("e.v").as("v"))
      .filter(col("v").isNotNull) // percentile() skips nulls
    val hist = vals.groupBy(col("cn"), col("v")).agg(count(lit(1)).as("c"))
    val wc = Window.partitionBy(col("cn")).orderBy(col("v"))
    // pinned: both boundary lookups (lower and higher index) read it
    val cum = Materializer.Local(hist.select(col("cn"), col("v"),
      sum(col("c")).over(wc).as("cum")))
    val tot = cum.groupBy(col("cn")).agg(max(col("cum")).as("n"))
    val grid = tot
      .select(col("cn"),
        explode(array((1 until buckets).map(i =>
          struct(lit(i * 100 / buckets).as("pct"),
            (lit(i.toDouble / buckets)
              * (col("n") - lit(1L)).cast("double")).as("pos"))): _*))
          .as("g"))
      .select(col("cn"), col("g.pct").as("pct"), col("g.pos").as("pos"),
        floor(col("g.pos")).cast("long").as("ilo"),
        ceil(col("g.pos")).cast("long").as("ihi"))
    // value at 0-based sorted index k = min v with cum >= k+1
    val lo = grid.join(cum, Seq("cn"))
      .filter(col("cum") >= col("ilo") + lit(1L))
      .groupBy(col("cn"), col("pct"), col("pos"), col("ilo"), col("ihi"))
      .agg(min(col("v")).as("vlo"))
    val hi = grid.select(col("cn"), col("pct"), col("ihi"))
      .join(cum, Seq("cn"))
      .filter(col("cum") >= col("ihi") + lit(1L))
      .groupBy(col("cn"), col("pct")).agg(min(col("v")).as("vhi"))
    lo.join(hi, Seq("cn", "pct"))
      .select(col("cn").as("col_name"), col("pct"),
        round(when(col("ihi") === col("ilo")
            || col("vhi") === col("vlo"), col("vlo"))
          .otherwise((col("ihi").cast("double") - col("pos")) * col("vlo")
            + (col("pos") - col("ilo").cast("double")) * col("vhi")), 6)
          .as("boundary"))
      .orderBy(col("col_name"), col("pct"))
  }

  /** Population Stability Index between a reference and a current slice
    * of a numeric column — the standard model-monitoring drift score
    * (PSI = Σ (q_i − p_i)·ln(q_i/p_i); < 0.1 stable, > 0.25 shifted).
    * Bins are the reference slice's exact `buckets`-quantile boundaries
    * (round(6) so both engines bucket identically); fractions are
    * add-one smoothed `(c + 1) / (n + buckets)` so an empty current
    * bucket cannot produce ln(0). Returns one row per bucket
    * (bucket, n_ref, n_cur, p_ref, p_cur, contrib, psi) with the total
    * repeated per row, ordered by bucket.
    *
    * Scale shape: boundaries are one tiny percentile aggregate over the
    * reference (broadcast; swap approx_percentile at 100 TB — the
    * documented estimator substitution); each slice then bucketes
    * MAP-SIDE via an aggregate HOF against that broadcast array and
    * partial-combines to `buckets` rows; everything after is
    * buckets-sized. */
  def psiDrift(ref: DataFrame, cur: DataFrame): DataFrame = {
    val valCol = "value"
    val buckets = 10
    val qs = (1 until buckets).map(i => i.toDouble / buckets)
    val bounds = ref.agg(
      expr(s"transform(percentile($valCol, array(${qs.mkString(", ")}))," +
        " b -> round(b, 6))").as("bs"))
    def bucketed(df: DataFrame): DataFrame =
      df.crossJoin(broadcast(bounds))
        .select(aggregate(col("bs"), lit(0),
          (acc, b) => acc + when(col(valCol) > b, 1).otherwise(0))
          .as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("c"))
    val spine = bounds.select(explode(sequence(lit(0), lit(buckets - 1)))
      .as("bucket"))
    val r = bucketed(ref).withColumnRenamed("c", "n_ref")
    val c = bucketed(cur).withColumnRenamed("c", "n_cur")
    // pinned: `per` feeds both the totals and the per-bucket output —
    // unpinned, each reference would re-run both slice scans
    val per = Materializer.Local(spine
      .join(r, Seq("bucket"), "left").join(c, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur")))
    val tot = per.agg(sum(col("n_ref")).as("t_ref"),
      sum(col("n_cur")).as("t_cur"))
    val scored = Materializer.Local(per.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_ref"), col("n_cur"),
        round((col("n_ref") + 1).cast("double")
          / (col("t_ref") + buckets).cast("double"), 9).as("p_ref"),
        round((col("n_cur") + 1).cast("double")
          / (col("t_cur") + buckets).cast("double"), 9).as("p_cur"))
      .select(col("bucket"), col("n_ref"), col("n_cur"),
        col("p_ref"), col("p_cur"),
        round((col("p_cur") - col("p_ref"))
          * log(col("p_cur") / col("p_ref")), 9).as("contrib")))
    val psi = scored.agg(
      round(sum(col("contrib").cast("decimal(38,9)")).cast("double"), 6)
        .as("psi"))
    scored.crossJoin(broadcast(psi)).orderBy(col("bucket"))
  }

  /** ROC AUC by rank-sum (Mann–Whitney): the threshold-free readout a
    * quality-classifier gate (q91) is actually approved on. Scores are
    * binned to round(6) — the grid that bounds the ranking table
    * regardless of corpus size — and per-bin (n_pos, n_neg) counts
    * partial-combine from the corpus in its ONLY exchange. Over the
    * ordered bin table, AUC = Σ_b [pos_b·negBelow_b + pos_b·neg_b/2]
    * / (P·N) — the tie-aware trapezoid — computed entirely in integer
    * arithmetic (the ½ via a doubled numerator) with ONE double
    * division at the end, round(6). The prefix window runs over the
    * bounded bin table, never the corpus. Returns one row
    * (n_pos, n_neg, auc). */
  def aucRankSum(df: DataFrame)
      : DataFrame = {
    val scoreCol = "score"
    val labelCol = "pos"
    val bins = df.groupBy(
        round(col(scoreCol).cast("double"), 6).as("s"))
      .agg(sum(when(col(labelCol), 1L).otherwise(0L)).as("np"),
        sum(when(col(labelCol), 0L).otherwise(1L)).as("nn"))
    val w = Window.orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val num = bins
      .withColumn("below", coalesce(sum(col("nn")).over(w), lit(0L)))
      .agg(sum(lit(2L) * col("np") * col("below")
          + col("np") * col("nn")).as("num2"),
        sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"))
    num.select(col("n_pos"), col("n_neg"),
      round(col("num2").cast("double")
        / (lit(2.0) * col("n_pos").cast("double")
          * col("n_neg").cast("double")), 6).as("auc"))
  }

  /** RFM customer segmentation — the classic lifecycle grid: per
    * customer, Recency (days since last order, vs the corpus's max
    * order date), Frequency (order count) and Monetary (DECIMAL(38,6)
    * revenue sum) are each scored 1–5 against the population's exact
    * quintile fences, and customers aggregate into (r, f, m) segment
    * cells. Returns (r_score, f_score, m_score, n_customers, avg_m).
    *
    * Scale shape: one customer-keyed aggregate (the only corpus-sized
    * exchange), a 1-row max-date broadcast, one tiny quintile-fence
    * aggregate broadcast back, scores assigned MAP-SIDE via an
    * aggregate HOF over the fence arrays (the q156 bucket idiom —
    * `score = 1 + Σ(v > fence)`, deterministic under ties), then a
    * ≤125-row segment rollup. Exact percentile fences round(6);
    * approx_percentile is the documented 100 TB substitution. */
  def rfmSegments(orders: DataFrame): DataFrame = {
    val custCol = "o_custkey"
    val dateCol = "o_orderdate"
    // pinned: the per-customer table feeds the fences AND the scoring
    val per = Materializer.Local(orders
      .groupBy(col(custCol).as("cust"))
      .agg(max(col(dateCol)).as("last_d"),
        count(lit(1)).as("f"),
        sum(col(AmountCol).cast("decimal(38,6)")).as("m")))
    val refd = per.agg(max(col("last_d")).as("ref_d"))
    val rfm = per.crossJoin(broadcast(refd))
      .select(col("cust"),
        datediff(col("ref_d"), col("last_d")).cast("long").as("r"),
        col("f"), col("m").cast("double").as("md"), col("m"))
    val qs = Seq(0.2, 0.4, 0.6, 0.8)
    def fences(c: String) =
      expr(s"transform(percentile($c, array(${qs.mkString(", ")}))," +
        " b -> round(b, 6))")
    val fen = rfm.agg(fences("r").as("rf"), fences("f").as("ff"),
      fences("md").as("mf"))
    def bucket(v: Column, fs: Column): Column =
      aggregate(fs, lit(1),
        (acc, b) => acc + when(v > b, 1).otherwise(0))
    rfm.crossJoin(broadcast(fen))
      .select(
        // recent = small r = high score: invert the ascending bucket
        (lit(6) - bucket(col("r").cast("double"), col("rf")))
          .as("r_score"),
        bucket(col("f").cast("double"), col("ff")).as("f_score"),
        bucket(col("md"), col("mf")).as("m_score"), col("m"))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_customers"),
        // exact DECIMAL sum, ONE double division (decimal/decimal
        // division scale rules are engine-specific — don't rely on them)
        round(sum(col("m")).cast("double")
          / count(lit(1)).cast("double"), 6).as("avg_m"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  }

  /** Market-basket association rules (Agrawal & Srikant 1994, the
    * pairwise core): item pairs co-occurring in at least `minCount`
    * baskets, scored by support `n_ab/N`, both directional confidences
    * `n_ab/n_a`, `n_ab/n_b`, and lift `N·n_ab/(n_a·n_b)` — the
    * cross-sell / co-curation signal read off order logs. Returns the
    * top `topN` pairs (item_a, item_b, n_ab, support, conf_ab,
    * conf_ba, lift), item_a < item_b, ordered (lift desc, item_a,
    * item_b).
    *
    * Scale shape: baskets dedupe to DISTINCT (basket, item) first, so
    * pair fanout is quadratic in BASKET SIZE (bounded by the order
    * format, never by corpus rows); the pair self-join is a
    * basket-keyed equi-join; `minCount` gates before the item-count
    * join-backs, and the item-frequency table is dimension-scale →
    * broadcast. N is a 1-row broadcast. All ratios are exact-integer
    * quotients evaluated once in double, round(6); topN rides
    * TakeOrdered. */
  def associationLift(baskets: DataFrame, minCount: Long, topN: Int): DataFrame = {
    // pinned: the distinct basket-item table feeds N, item counts, and
    // both pair sides
    val bi = Materializer.Local(baskets
      .select(col(BasketCol).as("bk"), col(ItemCol).as("it"))
      .distinct())
    val n = bi.agg(count_distinct(col("bk")).as("n_baskets"))
    val items = bi.groupBy(col("it")).agg(count(lit(1)).as("n_item"))
    // pair supports via the basket-aggregation shape (one exchange)
    // instead of the bk-keyed self-join — identical pair multiset, see
    // [[Baskets.basketPairCounts]]
    val pairs = Baskets.basketPairCounts(bi, "bk", "it")
      .select(col("pa").as("item_a"), col("pb").as("item_b"),
        col("cm").as("n_ab"))
      .filter(col("n_ab") >= minCount)
    // margins unhinted: items is one row per distinct item (SF-linear),
    // the q270-class OOM frame — the joins are item-keyed equi-joins and
    // AQE still broadcasts when the item set is genuinely small
    val scored = pairs
      .join(items.select(col("it").as("item_a"),
        col("n_item").as("n_a")), Seq("item_a"))
      .join(items.select(col("it").as("item_b"),
        col("n_item").as("n_b")), Seq("item_b"))
      .crossJoin(broadcast(n))
      .select(col("item_a"), col("item_b"), col("n_ab"),
        round(col("n_ab").cast("double")
          / col("n_baskets").cast("double"), 6).as("support"),
        round(col("n_ab").cast("double") / col("n_a").cast("double"), 6)
          .as("conf_ab"),
        round(col("n_ab").cast("double") / col("n_b").cast("double"), 6)
          .as("conf_ba"),
        round(col("n_baskets").cast("double") * col("n_ab").cast("double")
          / (col("n_a").cast("double") * col("n_b").cast("double")), 6)
          .as("lift"))
    scored.orderBy(col("lift").desc, col("item_a"), col("item_b"))
      .limit(topN)
  }

  /** Cohen's kappa (Cohen 1960) between two labelers over the same
    * rows — the chance-corrected agreement score a labeling pipeline
    * certifies annotator (or heuristic-vs-model) consistency with:
    * `κ = (p_o − p_e) / (1 − p_e)` with observed agreement `p_o` and
    * the marginal-product chance agreement `p_e`. Works for any label
    * arity. Returns one row (n, p_o, p_e, kappa).
    *
    * Scale shape: ONE (a, b) partial-combined count — the corpus's
    * only exchange; everything after runs on the labels² contingency
    * table (marginal joins, integer Σ n_a·n_b). p_o/p_e are exact
    * integer quotients evaluated once in double (round 9), kappa one
    * further op, round(6). */
  def cohenKappa(df: DataFrame): DataFrame = {
    // pinned: the contingency table feeds totals, agreement, and both
    // marginals
    val ct = Materializer.Local(df
      .groupBy(col(ACol).cast("string").as("a"),
        col(BCol).cast("string").as("b"))
      .agg(count(lit(1)).as("c")))
    val tot = ct.agg(sum(col("c")).as("n"),
      sum(when(col("a") === col("b"), col("c")).otherwise(0L))
        .as("agree"))
    val ma = ct.groupBy(col("a").as("cls")).agg(sum(col("c")).as("n_a"))
    val mb = ct.groupBy(col("b").as("cls")).agg(sum(col("c")).as("n_b"))
    val chance = ma.join(mb, Seq("cls"))
      .agg(sum(col("n_a") * col("n_b")).as("sum_ab"))
    tot.crossJoin(broadcast(chance))
      .select(col("n"), col("agree"), col("sum_ab"))
      .select(col("n"),
        round(col("agree").cast("double") / col("n").cast("double"), 9)
          .as("p_o"),
        round(col("sum_ab").cast("double")
          / (col("n").cast("double") * col("n").cast("double")), 9)
          .as("p_e"))
      .select(col("n"), col("p_o"), col("p_e"),
        round((col("p_o") - col("p_e")) / (lit(1.0) - col("p_e")), 6)
          .as("kappa"))
  }

  /** Calibration audit of a probabilistic classifier — reliability
    * bins, Expected Calibration Error, and the Brier score: the gate
    * that says whether a score of 0.8 MEANS 80% (classifier-filtered
    * corpora inherit every miscalibration as selection bias). Returns
    * one row per non-empty bin (bucket, n, conf, acc, contrib) with
    * ece and brier repeated, ordered by bucket.
    *
    * Scale shape: ONE partial-combined pass bins the corpus
    * (bucket = floor(p·bins) clamped — map-side), accumulating per-bin
    * count, DECIMAL(38,6) confidence mass, positive count and
    * DECIMAL(38,12) squared error; everything after is bins-sized.
    * Probabilities round(6) first so both engines bin identical
    * values; ECE contributions round(9) sum in DECIMAL. */
  def calibration(df: DataFrame): DataFrame = {
    val labelCol = "is_hq"
    val probCol = "p"
    val bins = 10
    val rows = df.select(
      round(col(probCol).cast("double"), 6).as("p"),
      col(labelCol).cast("double").as("y"))
    // pinned: the bin table feeds the totals AND the output rows
    val per = Materializer.Local(rows
      .withColumn("bucket",
        least(floor(col("p") * bins), lit(bins - 1)).cast("int"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("p").cast("decimal(38,6)")).as("pm"),
        sum(col("y").cast("long")).as("pos"),
        sum(((col("p") - col("y")) * (col("p") - col("y")))
          .cast("decimal(38,12)")).as("se")))
    val tot = per.agg(sum(col("n")).as("nt"), sum(col("se")).as("set"))
    val scored = Materializer.Local(per.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n"),
        round(col("pm").cast("double") / col("n").cast("double"), 6)
          .as("conf"),
        round(col("pos").cast("double") / col("n").cast("double"), 6)
          .as("acc"),
        col("nt"), col("set"))
      .withColumn("contrib",
        round((col("n").cast("double") / col("nt").cast("double"))
          * abs(col("acc") - col("conf")), 9)))
    val ece = scored.agg(
      round(sum(col("contrib").cast("decimal(38,9)")).cast("double"), 6)
        .as("ece"),
      round(first(col("set")).cast("double")
        / first(col("nt")).cast("double"), 6).as("brier"))
    scored.select(col("bucket"), col("n"), col("conf"), col("acc"),
        col("contrib"))
      .crossJoin(broadcast(ece))
      .orderBy(col("bucket"))
  }

  /** Gini concentration of a non-negative per-row mass (doc length,
    * domain bytes, spend) — the corpus-inequality monitor: G = 0 when
    * every row carries equal mass, → 1 when one row holds it all. Uses
    * the grouped-data trapezoid form over the VALUE histogram:
    * `G = 1 − Σ_i c_i·(2·M_{i−1} + m_i) / (N·M)` with counts c_i and
    * mass m_i = c_i·v_i per ascending distinct value — entirely exact
    * integer arithmetic until one final double division, round(6).
    * Returns one row (n, total_mass, gini).
    *
    * Scale shape: the corpus partial-combines to the distinct-value
    * histogram in its only exchange (values are integral masses —
    * lengths, counts, cents — so the histogram is grid-bounded, the
    * q162 contract); the prefix window rides that bounded table. */
  def giniConcentration(df: DataFrame): DataFrame = {
    val hist = df.groupBy(col(ValCol).cast("long").as("v"))
      .agg(count(lit(1)).as("c"))
      .withColumn("m", col("c") * col("v"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    hist
      .withColumn("mb", coalesce(sum(col("m")).over(w), lit(0L)))
      // the c·(2M+m) products exceed 64 bits at full corpus scale —
      // multiply and accumulate in DECIMAL(38,0)
      .agg(sum(col("c")).as("n"), sum(col("m")).as("total_mass"),
        sum(col("c").cast("decimal(19,0)")
          * (lit(2L) * col("mb") + col("m")).cast("decimal(19,0)"))
          .as("num"))
      .select(col("n"), col("total_mass"),
        round(lit(1.0) - col("num").cast("double")
          / (col("n").cast("double") * col("total_mass").cast("double")),
          6).as("gini"))
  }

  /** Contingency-table dependence readout: Pearson's χ² independence
    * statistic AND mutual information (nats) between two categorical
    * columns in one pass — "does event type depend on hour of day?" is
    * the schema-drift / feature-leakage probe a pipeline audit runs.
    * Returns one row (n, dof, chi2, mi).
    *
    * Scale shape: ONE (a, b) partial-combined count is the corpus's
    * only exchange; marginals are aggregates OF the contingency table
    * and broadcast back. Expected counts and MI terms use exact-integer
    * products lifted through DECIMAL(38,0) (row·col marginal products
    * overflow 64 bits at corpus scale) with ONE pinned double op order
    * per cell, contributions round(9), DECIMAL(38,9) totals,
    * round(6). */
  def contingencyStats(df: DataFrame): DataFrame = {
    // pinned: the contingency table feeds totals, marginals, and cells
    val ct = Materializer.Local(df
      .groupBy(col(ACol).cast("string").as("a"),
        col(BCol).cast("string").as("b"))
      .agg(count(lit(1)).as("c")))
    val tot = ct.agg(sum(col("c")).as("n"))
    val ma = ct.groupBy(col("a"))
      .agg(sum(col("c")).as("ra"))
    val mb = ct.groupBy(col("b"))
      .agg(sum(col("c")).as("cb"))
    val dof = ma.agg(count(lit(1)).as("ka"))
      .crossJoin(mb.agg(count(lit(1)).as("kb")))
      .select(((col("ka") - 1) * (col("kb") - 1)).as("dof"))
    val cells = ct
      .join(Hints.boundedBroadcast(ma, "label_domain"), Seq("a"))
      .join(Hints.boundedBroadcast(mb, "label_domain"), Seq("b"))
      .crossJoin(broadcast(tot))
      .withColumn("e",
        (col("ra").cast("decimal(19,0)") * col("cb").cast("decimal(19,0)"))
          .cast("double") / col("n").cast("double"))
      .select(
        round((col("c").cast("double") - col("e"))
          * (col("c").cast("double") - col("e")) / col("e"), 9)
          .as("chi_t"),
        round(col("e"), 9).as("e_t"),
        round((col("c").cast("double") / col("n").cast("double"))
          * log((col("c").cast("decimal(19,0)")
              * col("n").cast("decimal(19,0)")).cast("double")
            / (col("ra").cast("decimal(19,0)")
              * col("cb").cast("decimal(19,0)")).cast("double")), 9)
          .as("mi_t"))
    // cells ABSENT from the contingency table (observed 0) still carry
    // chi-square mass (0−e)²/e = e, and Σe over ALL cells is exactly n:
    // the zero-cell total is n − Σ_observed e. (Their MI terms are 0.)
    val sums = cells.agg(
      sum(col("chi_t").cast("decimal(38,9)")).cast("double").as("chi_o"),
      sum(col("e_t").cast("decimal(38,9)")).cast("double").as("e_o"),
      round(sum(col("mi_t").cast("decimal(38,9)")).cast("double"), 6)
        .as("mi"))
    tot.crossJoin(broadcast(dof)).crossJoin(broadcast(sums))
      .select(col("n"), col("dof"),
        round(col("chi_o") + (col("n").cast("double") - col("e_o")), 6)
          .as("chi2"),
        col("mi"))
  }

  /** Exact weighted quantiles per group over an integral value grid:
    * the value v*(p) at which the cumulative WEIGHT reaches p% of the
    * group's total — e.g. "half the corpus BYTES sit in docs shorter
    * than X" (mass-weighted, where the unweighted median answers a
    * different question). Returns (key, pct, value) per requested
    * integer percent, smallest v with `100·cumw ≥ p·W` — entirely
    * integer arithmetic, no interpolation to replicate. Values and
    * weights must be integral (lengths, counts, cents — the q162 grid
    * contract bounding the histogram).
    *
    * Scale shape: the corpus partial-combines to the per-(key, value)
    * weight histogram in its only exchange; cumulative sums ride a
    * key-partitioned window over that bounded table; the percent
    * fan-out is a bins×|percents| explode. */
  def weightedQuantiles(df: DataFrame, valCol: String, wCol: String,
                        percents: Seq[Int]): DataFrame = {
    val keyCol = "source"
    require(percents.nonEmpty && percents.forall(p => p >= 1 && p <= 100))
    val hist = df.groupBy(col(keyCol).as("key"),
        col(valCol).cast("long").as("v"))
      .agg(sum(col(wCol).cast("long")).as("wv"))
    val wc = Window.partitionBy(col("key")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.partitionBy(col("key"))
    hist
      .withColumn("cw", sum(col("wv")).over(wc))
      .withColumn("tw", sum(col("wv")).over(wt))
      .select(col("key"), col("v"), col("cw"), col("tw"),
        explode(array(percents.map(lit): _*)).as("pct"))
      .filter(lit(100L) * col("cw") >= col("pct").cast("long") * col("tw"))
      .groupBy(col("key"), col("pct"))
      .agg(min(col("v")).as("value"))
  }

  /** Percentile-rank normalization of an integral value column: each
    * distinct value's midrank share `(below + c/2) / n` — the
    * scale-free transform that makes heterogeneous quality signals
    * comparable before blending (q140's fusion consumes ranks for the
    * same reason). Returns (v, c, pct_rank), pct_rank round(6).
    *
    * Scale shape: one partial-combined histogram exchange (the q162
    * grid contract bounds it); the prefix window rides the bounded
    * histogram, and the corpus-side application is a broadcast join of
    * this table — never a corpus window. */
  def percentileRanks(df: DataFrame): DataFrame = {
    val hist = df.groupBy(col(ValCol).cast("long").as("v"))
      .agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = hist.agg(sum(col("c")).as("n"))
    hist
      .withColumn("below", coalesce(sum(col("c")).over(w), lit(0L)))
      .crossJoin(broadcast(tot))
      .select(col("v"), col("c"),
        round((col("below").cast("double")
          + lit(0.5) * col("c").cast("double"))
          / col("n").cast("double"), 6).as("pct_rank"))
  }

  /** Functional-dependency audit: for each candidate rule A → B, how
    * many A-keys map to MORE than one B (and how many rows sit under
    * them) — the schema-contract probe ("does order determine
    * customer? does part determine supplier?") run before a pipeline
    * trusts a column as a join key or dedup anchor. Returns one row
    * per rule (fd, n_keys, bad_keys, bad_rows), ordered by fd.
    *
    * Scale shape: one determinant-keyed partial-combined aggregate per
    * rule (count + exact distinct of the dependent), then a 1-row
    * rollup; rules union at the end — the corpus never joins. */
  def fdAudit(df: DataFrame, fds: Seq[(String, String)]): DataFrame = {
    require(fds.nonEmpty)
    fds.map { case (det, dep) =>
      df.groupBy(col(det))
        .agg(count(lit(1)).as("nr"), count_distinct(col(dep)).as("nd"))
        .agg(lit(s"$det->$dep").as("fd"),
          count(lit(1)).as("n_keys"),
          sum(when(col("nd") > 1, 1L).otherwise(0L)).as("bad_keys"),
          sum(when(col("nd") > 1, col("nr")).otherwise(0L))
            .as("bad_rows"))
    }.reduce(_ unionAll _).orderBy(col("fd"))
  }

  /** Exact Pearson correlation matrix over numeric columns in ONE
    * corpus pass: all Σx, Σx² and pairwise Σxy accumulate as
    * DECIMAL(19,6)-lifted exact sums — width ≥ 19 forces an int128
    * representation in engines that would otherwise propagate int64
    * column statistics through the product (observed DuckDB overflow
    * at width ≤ 18), and the capped (38,11)/(38,12) product scales
    * stay exact because the measures carry ≤ 2 real decimals (6 + 6
    * nominal, ≤ 4 actual) — then each pair's
    * r = (nΣxy − ΣxΣy)/√((nΣx²−(Σx)²)(nΣy²−(Σy)²)) evaluates in one
    * pinned double order, round(6). Returns (col_a, col_b, r) for
    * a < b, ordered. */
  def correlationMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2)
    def d(c: String) = col(c).cast("decimal(19,6)")
    val aggs =
      (count(lit(1)).as("n") +:
        cols.map(c => sum(d(c)).as(s"s_$c"))) ++
        cols.map(c => sum(d(c) * d(c)).as(s"ss_$c")) ++
        cols.combinations(2).map { case Seq(a, b) =>
          sum(d(a) * d(b)).as(s"sp_${a}__$b")
        }.toSeq
    val one = df.agg(aggs.head, aggs.tail: _*)
    val nd = col("n").cast("double")
    val rows = array(cols.combinations(2).map { case Seq(a, b) =>
      def v(name: String) = col(name).cast("double")
      val num = nd * v(s"sp_${a}__$b") - v(s"s_$a") * v(s"s_$b")
      val den = sqrt((nd * v(s"ss_$a") - v(s"s_$a") * v(s"s_$a"))
        * (nd * v(s"ss_$b") - v(s"s_$b") * v(s"s_$b")))
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        round(num / den, 6).as("r"))
    }.toSeq: _*)
    one.select(explode(rows).as("p")).select(col("p.*"))
      .orderBy(col("col_a"), col("col_b"))
  }

  /** Benford first-digit audit (Newcomb 1881 / Benford 1938): observed
    * leading-significant-digit shares of a positive amount column vs
    * the Benford expectation `log10(1 + 1/d)`, with the χ² statistic —
    * the fabricated-data / broken-generator smoke test finance and
    * data-quality pipelines run. Returns one row per digit 1–9
    * (digit, n_obs, share, expected, contrib) with chi2 repeated.
    *
    * Scale shape: the leading digit extracts MAP-SIDE from the
    * DECIMAL(18,2) STRING rendering (both engines print plain decimal
    * digits — no log10-at-a-power-boundary ulp trap, no engine float
    * formatting), then one 9-row partial-combined count; everything
    * after is digit-table-sized. χ² terms one double op order,
    * round(6). */
  def benfordAudit(df: DataFrame): DataFrame = {
    val obs = df
      .filter(col(AmountCol) >= 1)
      .select(substring(col(AmountCol).cast("decimal(18,2)")
        .cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    val tot = obs.agg(sum(col("n_obs")).as("n"))
    val scored = obs.crossJoin(broadcast(tot))
      .select(col("digit"), col("n_obs"),
        round(col("n_obs").cast("double") / col("n").cast("double"), 9)
          .as("share"),
        // ln(1+1/d)/ln(10), NOT a native log10: base-10 log and
        // ln-quotient can differ in the last ulp between libms — pin
        // the one op order the oracle replays
        round(log(lit(1.0) + lit(1.0) / col("digit").cast("double"))
          / log(lit(10.0)), 9).as("expected"), col("n"))
      .withColumn("contrib",
        round((col("share") - col("expected"))
          * (col("share") - col("expected"))
          / col("expected") * col("n").cast("double"), 9))
    val chi2 = scored.agg(
      round(sum(col("contrib").cast("decimal(38,9)")).cast("double"), 6)
        .as("chi2"))
    scored.select(col("digit"), col("n_obs"), col("share"),
        col("expected"), col("contrib"))
      .crossJoin(broadcast(chi2))
      .orderBy(col("digit"))
  }

  /** Differentially-private histogram release: per-group counts plus
    * Laplace(1/ε) noise — the ε-DP mechanism for publishing usage
    * statistics over sensitive behavioral data (Dwork et al. 2006;
    * sensitivity 1 for a count histogram over disjoint groups).
    *
    * The noise draw is DETERMINISTIC and engine-portable: the uniform
    * comes from the group key's salted md5 (the q63/q143 idiom —
    * `u = (hex8 + 0.5)/2^32 ∈ (0,1)`, never exactly 0.5 so the inverse
    * CDF `−b·sign(u−½)·ln(1−2|u−½|)` never hits ln(0)), noise round(9)
    * (libm-ulp absorption), release round(6). A retry, a replay, or the
    * DuckDB oracle draws the identical noise — which is what makes the
    * mechanism TESTABLE; a production deployment would swap the salt
    * for a secret per-release value (same plan, different literal).
    *
    * Scale shape: one partial-combined count exchange; the noise is a
    * projection over the group-cardinality result. Only the noisy
    * column is released. */
  def dpNoisyCounts(df: DataFrame): DataFrame = {
    val groupCol = "event_type"
    val epsilon: Double = 1.0
    val salt = "dp"
    require(epsilon > 0)
    val cnt = df.groupBy(col(groupCol).as("grp")).agg(count(lit(1)).as("n"))
    val u = (conv(substring(md5(concat_ws("|", lit(salt), col("grp"))),
      1, 8), 16, 10).cast("double") + lit(0.5)) / lit(4294967296.0)
    val cu = u - lit(0.5)
    val noise = round(lit(-1.0 / epsilon) * signum(cu)
      * log(lit(1.0) - lit(2.0) * abs(cu)), 9)
    cnt.select(col("grp"), round(col("n") + noise, 6).as("released_n"))
      .orderBy(col("grp"))
  }

  /** l-diversity audit — the companion gate to the q130 k-anonymity
    * check: a quasi-identifier tuple can be k-anonymous yet still leak
    * if every row under it shares one SENSITIVE value (Machanavajjhala
    * et al. 2007). Per leading-QI class: tuple count, tuples whose
    * distinct-sensitive count is below `l`, rows under them, and the
    * worst (minimum) diversity observed.
    *
    * Scale shape: q130's — one partial-combined (QI-tuple) exchange
    * carrying (count, exact distinct of the sensitive column), then a
    * tiny per-class rollup; the corpus never joins. At 100 TB swap the
    * exact distinct for approx_count_distinct (the documented estimator
    * substitution) if the sensitive domain per tuple is huge. */
  /** Frequent triples by the Apriori candidate prune (Agrawal & Srikant
    * 1994, one level above [[associationLift]]'s pairs): a triple can
    * only be frequent if ALL THREE of its sub-pairs are, so candidates
    * form by extending frequent pairs that share their first item and
    * semi-joining the closing pair — the prune that keeps level-3
    * candidate counts near the true frequent-set size instead of
    * |items|³. Support is then verified exactly with a three-way
    * basket-keyed join restricted to candidate items.
    *
    * Scale shape: the distinct (basket, item) table is the only
    * corpus-scale input; pair counts partial-combine on basket-bounded
    * fanout (the q163 contract); candidate generation runs over the
    * frequent-pair table (tiny by minCount construction) and broadcasts
    * back as a semi-join filter. The support-verify enumeration is
    * TRANSACTION-TRIMMED before any self-join (baskets keep only
    * frequent-pair items, and the (i1, i2) stream is semi-joined against
    * the frequent pairs before i3 joins), so one mega-basket costs
    * (candidate items present)², never |basket|³. Returns
    * (i1, i2, i3, support), (support desc, items asc), topN. */
  def frequentTriples(df: DataFrame, topN: Int): DataFrame = {
    val minCount: Long = 2
    require(minCount >= 1 && topN > 0)
    val bi = Materializer.Local(
      df.select(col(BasketCol).as("bk"), col(ItemCol).as("it"))
        .distinct())
    // pair supports via the basket-aggregation shape (one exchange)
    // instead of the bk-keyed self-join — identical pair multiset, see
    // [[Baskets.basketPairCounts]]
    val pairs = Baskets.basketPairCounts(bi, "bk", "it")
      .select(col("pa").as("i1"), col("pb").as("i2"), col("cm").as("n"))
      .filter(col("n") >= minCount)
    val fp = Materializer.Local(pairs.select(col("i1"), col("i2")))
    // extend (a,b) with (a,c), b < c; Apriori-close on (b,c)
    val cands = fp
      .join(fp.select(col("i1"), col("i2").as("i3")), Seq("i1"))
      .filter(col("i2") < col("i3"))
      .join(fp.select(col("i1").as("i2"), col("i2").as("i3")),
        Seq("i2", "i3"), "left_semi")
    // TRANSACTION TRIMMING (Agrawal & Srikant §2.1.1's AprioriTid idea in
    // join form): the verify enumeration is Σ|basket|³ if run on raw
    // baskets — a per-key cubic cliff on one mega-basket (a crawler
    // session, a bot user). Both trims are Apriori-SOUND, so the result
    // is unchanged: (a) a basket item not in any frequent pair can't be
    // in a frequent triple — semi-join the (basket, item) table against
    // the frequent-pair item set (tiny by minCount construction,
    // broadcast) BEFORE any self-join; (b) a triple's (i1, i2) must
    // itself be a frequent pair — semi-join the basket pair stream
    // against fp before i3 ever joins, so the three-way enumeration base
    // is (frequent pairs present in the basket) x (candidate items), not
    // items³.
    val fpItems = fp.select(col("i1").as("it"))
      .unionAll(fp.select(col("i2").as("it"))).distinct()
    // prune lists unhinted: at a fixed absolute minsup the frequent
    // item/pair/candidate sets grow with corpus volume (Heaps/Zipf), so
    // a forced broadcast is the 100x-scale OOM class — the semi joins
    // stay semi joins, AQE broadcasts genuinely small lists
    val biT = Materializer.Local(bi.join(fpItems, Seq("it"), "left_semi"))
    // the (bk, i1, i2) enumeration base comes from the same basket
    // aggregation (one exchange, bounded per-basket fan-out) instead of
    // a second bk-keyed self-join; everything after is unchanged
    val t = Baskets.basketPairs(biT, "bk", "it")
      .select(col("ok").as("bk"), col("pa").as("i1"), col("pb").as("i2"))
      .join(fp, Seq("i1", "i2"), "left_semi")
      .join(biT.select(col("bk"), col("it").as("i3")), Seq("bk"))
      .filter(col("i2") < col("i3"))
      .join(cands, Seq("i1", "i2", "i3"), "left_semi")
      .groupBy(col("i1"), col("i2"), col("i3"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minCount)
    t.orderBy(col("support").desc, col("i1"), col("i2"), col("i3"))
      .limit(topN)
  }

  /** Join-cardinality estimation audit — the optimizer diagnostic run
    * before trusting a join plan: per FK edge, both sides' row and
    * EXACT distinct-key counts, the textbook uniformity estimate
    * `|A⋈B| ≈ n_a·n_b / max(d_a, d_b)` (what every cost-based planner
    * assumes), the exact join cardinality from the key-count product
    * sum (Σ_k c_a(k)·c_b(k) — computed WITHOUT running the join), and
    * the estimate/actual ratio: a ratio far from 1 means skew the
    * planner will mis-cost. Two per-side aggregates + one key-count
    * equi-join per edge; nothing row-scale crosses the wire. */
  def joinCardinalityAudit(left: DataFrame, leftKey: String,
                           right: DataFrame, rightKey: String,
                           label: String): DataFrame = {
    val l = left.groupBy(col(leftKey).as("k")).agg(count(lit(1)).as("cl"))
    val r = right.groupBy(col(rightKey).as("k")).agg(count(lit(1)).as("cr"))
    val ls = l.agg(sum(col("cl")).as("n_l"), count(lit(1)).as("d_l"))
    val rs = r.agg(sum(col("cr")).as("n_r"), count(lit(1)).as("d_r"))
    val ex = l.join(r, Seq("k"))
      .agg(coalesce(sum(col("cl") * col("cr")), lit(0L)).as("n_join"))
    ls.crossJoin(broadcast(rs)).crossJoin(broadcast(ex))
      .select(lit(label).as("edge"), col("n_l"), col("d_l"), col("n_r"),
        col("d_r"),
        round(col("n_l").cast("double") * col("n_r").cast("double")
          / greatest(col("d_l"), col("d_r")).cast("double"), 6).as("est"),
        col("n_join"))
      .select(col("*"),
        when(col("n_join") === 0L, lit(0.0))
          .otherwise(round(col("est") / col("n_join").cast("double"), 6))
          .as("ratio"))
  }

  def lDiversityAudit(df: DataFrame, qiCols: Seq[String]): DataFrame = {
    val sensCol = "user_id"
    val l = 3
    require(qiCols.nonEmpty && l > 0)
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("n"), count_distinct(col(sensCol)).as("ndist"))
      .groupBy(col(qiCols.head))
      .agg(count(lit(1)).as("n_tuples"),
        sum(when(col("ndist") < l, 1L).otherwise(0L))
          .as("n_low_div_tuples"),
        sum(when(col("ndist") < l, col("n")).otherwise(0L))
          .as("n_risky_rows"),
        min(col("ndist")).as("min_diversity"))
      .orderBy(col(qiCols.head))
  }

  /** Mergeable Count-Min sketch (Cormode & Muthukrishnan 2005) heavy
    * hitters: each ingest batch builds a fixed-size depth×width count
    * matrix (the third mergeable-sketch artifact next to q126's HLL and
    * q123's KMV — HLL answers "how many distinct", KMV "how much
    * overlap", CMS "how often does THIS item occur"); the corpus-wide
    * sketch is a cell-wise SUM of batch sketches — old batches are
    * never rescanned. Point estimates `min over depths of
    * cell[d][h_d(x)]` carry the classic one-sided guarantee
    * est ≥ exact, est ≤ exact + εN w.p. 1−δ; with the md5-derived
    * bucket hashes both engines replay the estimate bit-exactly, so
    * the hash-checked output includes the OVERCOUNT itself, not a
    * tolerance boolean. Returns tokens whose ESTIMATE clears
    * minShare·N (the sketch-side selection a real monitor performs —
    * no exact pass needed to pick candidates), with exact counts
    * attached for the audit: (token, exact_cnt, cms_est, overcount),
    * ordered est desc, token.
    *
    * Scale shape: occurrences partial-combine to a (batch, token)
    * count table BEFORE the depth fan-out (incrementing cells per
    * occurrence and per pre-counted token is arithmetically identical,
    * so the d× explode rides the vocab-bounded table, not the raw
    * stream); the merged sketch is depth·width rows — broadcast to
    * both the estimate join and the N scalar. The corpus never joins
    * or sorts. */
  /** The CMS hash kernel: fan a token out to its (depth, bucket) cells —
    * bucket_d = first 8 md5 hex digits of "d|token" as an integer,
    * mod width; one struct per depth so each md5 evaluates exactly
    * once. Shared by the batch sketch ([[cmsHeavyHitters]]) and any
    * streaming maintainer (cell counts are additive, so a streaming
    * groupBy over this fan-out IS the mergeable sketch — the
    * StreamingSpec differential pins that equivalence). */
  def cmsDepthBuckets(token: Column, depth: Int, width: Int): Column =
    explode(array((0 until depth).map(d =>
      struct(lit(d).as("depth"),
        pmod(conv(substring(md5(concat(lit(s"$d|"), token)), 1, 8), 16, 10)
          .cast("long"), lit(width.toLong)).as("bucket"))): _*))

  def cmsHeavyHitters(toks: DataFrame,
                      depth: Int, width: Int, minShare: Double): DataFrame = {
    val tokenCol = "token"
    val batchCol = "batch"
    require(depth >= 1 && width >= 2 && minShare > 0)
    def depthBuckets: Column = {
      val t = col("token")
      cmsDepthBuckets(t, depth, width)
    }
    // (batch, token) counts feed the sketch cells, the N scalar AND the
    // candidate estimates — pinned once, the corpus scans exactly once
    val tc = Materializer.Local(toks.groupBy(col(batchCol).as("batch"),
        col(tokenCol).as("token"))
      .agg(count(lit(1)).as("c")))
    val cells = tc.select(col("batch"), col("c"),
        depthBuckets.as("db"))
      .select(col("batch"), col("c"), col("db.depth").as("depth"),
        col("db.bucket").as("bucket"))
    // per-batch sketches exist as the persistable artifact; the merge
    // (cell-wise sum across batches) is what the estimate reads
    val merged = cells.groupBy(col("depth"), col("bucket"))
      .agg(sum(col("c")).as("cell"))
    val tot = tc.agg(sum(col("c")).as("n_total"))
    val est = tc.groupBy(col("token")).agg(sum(col("c")).as("exact_cnt"))
      .select(col("token"), col("exact_cnt"),
        depthBuckets.as("db"))
      .select(col("token"), col("exact_cnt"), col("db.depth").as("depth"),
        col("db.bucket").as("bucket"))
      .join(Hints.boundedBroadcast(merged, "sketch_cells"),
      Seq("depth", "bucket"))
      .groupBy(col("token"))
      .agg(max(col("exact_cnt")).as("exact_cnt"),
        min(col("cell")).as("cms_est"))
    est.crossJoin(broadcast(tot))
      .filter(col("cms_est").cast("double")
        >= lit(minShare) * col("n_total").cast("double"))
      .select(col("token"), col("exact_cnt"), col("cms_est"),
        (col("cms_est") - col("exact_cnt")).as("overcount"))
      .orderBy(col("cms_est").desc, col("token"))
  }

  /** Per-group ordinary least squares via sufficient statistics: for
    * each group, slope/intercept/R² of y on x from the six
    * partial-combined sums (n, Σx, Σy, Σx², Σy², Σxy) — the
    * "regression per segment" readout (price sensitivity per flag,
    * quality-vs-length per source) computed WITHOUT per-group
    * iteration, model state, or a second pass: closed-form OLS is an
    * aggregate, and at 100 TB that is the only shape that survives.
    * Sums lift through DECIMAL(19,6) exactly as q186's correlation
    * matrix (width ≥ 19 forces int128 in engines that propagate int64
    * column statistics); the final slope/intercept/R² are one pinned
    * double op order, round(6). Returns
    * (group, n, slope, intercept, r2) ordered by group; groups with a
    * degenerate x-variance emit NULL slope/intercept/r2 rather than a
    * division artifact. */
  def groupOls(df: DataFrame, groupCol: String, xCol: String,
               yCol: String): DataFrame = {
    def d(c: String) = col(c).cast("decimal(19,6)")
    val agg = df.groupBy(col(groupCol).as("grp")).agg(
      count(lit(1)).as("n"),
      sum(d(xCol)).as("sx"), sum(d(yCol)).as("sy"),
      sum(d(xCol) * d(xCol)).as("sxx"),
      sum(d(yCol) * d(yCol)).as("syy"),
      sum(d(xCol) * d(yCol)).as("sxy"))
    def v(name: String) = col(name).cast("double")
    val nd = col("n").cast("double")
    val varX = nd * v("sxx") - v("sx") * v("sx")
    val varY = nd * v("syy") - v("sy") * v("sy")
    val cov = nd * v("sxy") - v("sx") * v("sy")
    val slope = cov / varX
    agg.select(col("grp"), col("n"),
        when(varX === lit(0.0), lit(null).cast("double"))
          .otherwise(round(slope, 6)).as("slope"),
        when(varX === lit(0.0), lit(null).cast("double"))
          .otherwise(round((v("sy") - slope * v("sx")) / nd, 6))
          .as("intercept"),
        when(varX === lit(0.0) || varY === lit(0.0),
            lit(null).cast("double"))
          .otherwise(round(cov * cov / (varX * varY), 6)).as("r2"))
      .orderBy(col("grp"))
  }

  /** Regression-residual outlier detection on top of [[groupOls]]'s
    * sufficient statistics: fit y ~ x per group from the six
    * partial-combined sums, derive the residual RMSE from the SAME sums
    * (SSE = Σy² − a·Σy − b·Σxy, the normal-equation identity — no
    * second pass), broadcast the per-group (a, b, rmse) table back and
    * flag rows with |y − (a + b·x)| > k·rmse. The "this row breaks its
    * group's trend" gate (docs whose chars-per-token relationship is
    * anomalous, orders priced off their quantity curve) — anomaly
    * detection as one aggregate + one map-side broadcast join, no
    * model state, no iteration.
    *
    * Groups with zero x-variance or a perfect fit (rmse = 0) flag
    * nothing. The flag compares UNROUNDED doubles with one pinned op
    * order on both engines; the reported resid/z are round(6).
    *
    * Scale shape: the corpus is scanned once into the pinned narrow
    * base (it feeds the aggregate AND the scoring join); coefficients
    * are one group-keyed partial-combined aggregate, group-table-sized;
    * scoring is a broadcast join + projection. */
  def olsResidualOutliers(df: DataFrame, keepCols: Seq[String]): DataFrame = {
    val xCol = "toks"
    val yCol = "n_chars"
    val kSigma: Double = 2.0
    require(kSigma > 0)
    def d(c: String) = col(c).cast("decimal(19,6)")
    val base = Materializer.Local(
      df.select(col(GroupCol).as("grp") +: keepCols.map(col)
        ++: Seq(col(xCol), col(yCol)): _*))
    val agg = base.groupBy(col("grp")).agg(
      count(lit(1)).as("n"), sum(d(xCol)).as("sx"), sum(d(yCol)).as("sy"),
      sum(d(xCol) * d(xCol)).as("sxx"),
      sum(d(yCol) * d(yCol)).as("syy"),
      sum(d(xCol) * d(yCol)).as("sxy"))
    def v(c: String) = col(c).cast("double")
    val nd = col("n").cast("double")
    val varX = nd * v("sxx") - v("sx") * v("sx")
    val cov = nd * v("sxy") - v("sx") * v("sy")
    val slope = cov / varX
    val icept = (v("sy") - slope * v("sx")) / nd
    val coef = agg.filter(varX =!= lit(0.0))
      .select(col("grp"), slope.as("b"), icept.as("a"),
        sqrt(greatest(lit(0.0),
          (v("syy") - icept * v("sy") - slope * v("sxy")) / nd))
          .as("rmse"))
      .filter(col("rmse") > lit(0.0))
    base.join(Hints.boundedBroadcast(coef, "group_domain_contract"),
      Seq("grp"))
      .withColumn("resid", col(yCol).cast("double")
        - (col("a") + col("b") * col(xCol).cast("double")))
      .filter(abs(col("resid")) > lit(kSigma) * col("rmse"))
      .select(keepCols.map(col) ++: Seq(col("grp"), col(xCol), col(yCol),
        round(col("resid"), 6).as("resid"),
        round(abs(col("resid")) / col("rmse"), 6).as("z")): _*)
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic over an integral
    * value column: `max over v of |F_ref(v) − F_cur(v)|` — the
    * distribution-level drift gate next to q156's PSI (PSI reads
    * binned share shifts and needs a bin design; KS is bin-free and
    * catches shape changes PSI's deciles smooth away). Returns ONE row
    * (n_ref, n_cur, ks, ks_at): the statistic round(9) and the
    * smallest value attaining it.
    *
    * Scale shape: both samples partial-combine to a per-distinct-value
    * count histogram in ONE union-aggregate exchange (the q177
    * bounded-histogram contract — CDF steps only move at distinct
    * values of either sample, so the histogram is the exact sufficient
    * statistic); the prefix window and the two-row argmax ride that
    * bounded table, and the corpus is never sorted or joined. */
  def ksDrift(ref: DataFrame, cur: DataFrame): DataFrame = {
    val valCol = "sv"
    val tagged = ref.select(col(valCol).cast("long").as("v"),
        lit(1L).as("is_ref"))
      .unionAll(cur.select(col(valCol).cast("long").as("v"),
        lit(0L).as("is_ref")))
    // the bounded histogram is the last plan node that sees the corpus;
    // it feeds the totals, the CDF window and the argmax — pinned once
    val hist = Materializer.Local(tagged.groupBy(col("v"))
      .agg(sum(col("is_ref")).as("ca"),
        sum(lit(1L) - col("is_ref")).as("cb")))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = hist.agg(sum(col("ca")).as("n_ref"), sum(col("cb")).as("n_cur"))
    val diffs = hist
      .withColumn("cum_a", sum(col("ca")).over(w))
      .withColumn("cum_b", sum(col("cb")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("v"), col("n_ref"), col("n_cur"),
        round(abs(col("cum_a").cast("double") / col("n_ref").cast("double")
          - col("cum_b").cast("double") / col("n_cur").cast("double")), 9)
          .as("d"))
    val mx = diffs.agg(max(col("d")).as("ks"))
    diffs.crossJoin(broadcast(mx))
      .filter(col("d") === col("ks"))
      .groupBy(col("n_ref"), col("n_cur"), col("ks"))
      .agg(min(col("v")).as("ks_at"))
      .select(col("n_ref"), col("n_cur"), col("ks"), col("ks_at"))
  }

  /** [[ksDrift]] per group — the operational drift monitor: ONE KS
    * statistic per segment (event type, source, language) between a
    * reference and a current slice, so the readout names WHICH segment
    * drifted. Groups present in only one slice are omitted (their KS is
    * undefined). Returns (g, n_ref, n_cur, ks, ks_at) ordered by g.
    *
    * Scale shape: the same single union-aggregate histogram exchange as
    * [[ksDrift]], but keyed (g, v) — and the CDF walk becomes a window
    * PARTITIONED BY GROUP over the bounded histogram (parallel across
    * groups, never a global sort); the per-group argmax joins the
    * group-table-sized max back as a broadcast. */
  def ksDriftByGroup(ref: DataFrame, cur: DataFrame): DataFrame = {
    val groupCol = "event_type"
    val valCol = "sv"
    val tagged = ref.select(col(groupCol).as("g"),
        col(valCol).cast("long").as("v"), lit(1L).as("is_ref"))
      .unionAll(cur.select(col(groupCol).as("g"),
        col(valCol).cast("long").as("v"), lit(0L).as("is_ref")))
    val hist = Materializer.Local(tagged.groupBy(col("g"), col("v"))
      .agg(sum(col("is_ref")).as("ca"),
        sum(lit(1L) - col("is_ref")).as("cb")))
    val wc = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.partitionBy(col("g"))
    val diffs = hist
      .withColumn("cum_a", sum(col("ca")).over(wc))
      .withColumn("cum_b", sum(col("cb")).over(wc))
      .withColumn("n_ref", sum(col("ca")).over(wt))
      .withColumn("n_cur", sum(col("cb")).over(wt))
      .filter(col("n_ref") > lit(0L) && col("n_cur") > lit(0L))
      .select(col("g"), col("v"), col("n_ref"), col("n_cur"),
        round(abs(col("cum_a").cast("double") / col("n_ref").cast("double")
          - col("cum_b").cast("double") / col("n_cur").cast("double")), 9)
          .as("d"))
    val mx = diffs.groupBy(col("g")).agg(max(col("d")).as("ks"))
    diffs.join(Hints.boundedBroadcast(mx, "group_domain_contract"),
      Seq("g"))
      .filter(col("d") === col("ks"))
      .groupBy(col("g"), col("n_ref"), col("n_cur"), col("ks"))
      .agg(min(col("v")).as("ks_at"))
      .select(col("g"), col("n_ref"), col("n_cur"), col("ks"),
        col("ks_at"))
      .orderBy(col("g"))
  }

  /** Leave-one-out target encoding with additive smoothing
    * (Micci-Barreca 2001; the CatBoost-style leakage-free categorical
    * feature): each row's category is encoded as the category's target
    * mean EXCLUDING the row itself, shrunk toward the global prior by
    * pseudo-count `m` —
    * `enc_i = (S_cat - y_i + m*prior) / (n_cat - 1 + m)`. Excluding the
    * row is what stops the encoding from leaking its own label into
    * training; the shrinkage keeps rare categories near the prior
    * (a singleton category encodes exactly to the prior).
    *
    * Scale shape: ONE partial-combined aggregate builds the per-category
    * (sum, count) table (dimension-scale — source/domain/lang style
    * categories), which broadcasts back with the 1-row global total; the
    * encode itself is a map-side projection. Arithmetic is exact-integer
    * cross products (prior never materializes as a float):
    * `((S_cat - y_i)*N + m*S) / ((n_cat - 1 + m)*N)`, one pinned double
    * division + round(6) at the end.
    */
  def targetEncodeLoo(df: DataFrame, m: Long): DataFrame = {
    val catCol = "source"
    val targetCol = "n_chars"
    val keepCols: Seq[String] = Seq("doc_id")
    require(m > 0, "m = 0 breaks singleton categories (0/0)")
    val base = df.select((keepCols.map(col) :+ col(catCol) :+
      col(targetCol).cast("long").as("y")): _*)
    val g = base.groupBy(col(catCol))
      .agg(sum(col("y")).cast("long").as("s_cat"),
        count(lit(1)).cast("long").as("n_cat"))
    val tot = base.agg(sum(col("y")).cast("long").as("ts"),
      count(lit(1)).cast("long").as("tn"))
    base.join(Hints.boundedBroadcast(g, "category_domain_contract"),
        Seq(catCol))
      .crossJoin(broadcast(tot))
      .select((keepCols.map(col) :+ col(catCol) :+ col("y") :+
        round(((col("s_cat") - col("y")) * col("tn")
            + lit(m) * col("ts")).cast("double")
          / ((col("n_cat") - lit(1L) + lit(m)) * col("tn")).cast("double"),
          6).as("loo_enc")): _*)
  }

  /** The (channel, S, T, weight-numerator) enumeration behind
    * [[shapleyAttribution]]: for each channel i and each coalition
    * `T ⊆ channels\{i}`, the ordering-count numerator
    * `|T|! * (n-1-|T|)!` (denominator `n!`). Set keys are the
    * sorted-comma-join canonical form. Public so the DuckDB oracle can
    * emit the identical constant table. */
  def shapleySubsets(channels: Seq[String])
      : Seq[(String, String, String, Long)] = {
    val chs = channels.sorted
    val n = chs.length
    require(n >= 1 && n <= 10, "driver-side 2^(n-1) enumeration")
    def fact(x: Int): Long = (1 to x).foldLeft(1L)(_ * _)
    for {
      i <- chs.indices
      rest = chs.patch(i, Nil, 1)
      mask <- 0 until (1 << (n - 1))
    } yield {
      val t = rest.zipWithIndex.collect {
        case (c, j) if (mask & (1 << j)) != 0 => c
      }
      ((chs(i), (t :+ chs(i)).sorted.mkString(","), t.mkString(","),
        fact(t.size) * fact(n - 1 - t.size)))
    }
  }

  /** Quantile normalization of an integer-valued feature across groups
    * (the preprocessCore / batch-effect-removal standard, Bolstad et al.
    * 2003): each group's value is replaced by the POOLED value at the
    * same quantile, `qnorm(v) = min { v' : F_pool(v') >= F_g(v) }` —
    * after which every group has the pooled distribution and
    * cross-source comparisons stop measuring ingest artifacts.
    *
    * Scale shape: the corpus collapses to per-group and pooled
    * distinct-value histograms in two partial-combined exchanges (the
    * q177 bounded-table contract — CDFs only step at observed values);
    * the inverse-CDF lookup is NOT an inequality join but one window
    * walk over the merged bounded table, ordered by the exact-integer
    * quantile key `cum_g * n_pool` vs `cum_pool * n_g` (cross-products,
    * never a float rank) descending, carrying the min pooled value seen
    * — so the mapping is exact integer end-to-end. Pooled rows replicate
    * once per group (bounded x bounded).
    *
    * Output: (group, v, n_rows, qnorm_v), one row per observed
    * (group, value).
    */
  def quantileNormalize(df: DataFrame)
      : DataFrame = {
    val valueCol = "n_chars"
    val h = df.select(col(GroupCol).as("g"),
        col(valueCol).cast("long").as("v"))
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
    val wg = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.partitionBy(col("g"))
    val src = h.withColumn("cum", sum(col("c")).over(wg))
      .withColumn("n_g", sum(col("c")).over(wt))
    val hp = df.select(col(valueCol).cast("long").as("pv"))
      .groupBy(col("pv")).agg(count(lit(1)).as("pc"))
    val wp = Window.orderBy(col("pv"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val npool = hp.agg(sum(col("pc")).cast("long").as("n_pool"))
    val pool = hp.withColumn("pcum", sum(col("pc")).over(wp))
      .crossJoin(broadcast(npool))
    val groups = src.select(col("g"), col("n_g")).distinct()
    val poolRep = pool.crossJoin(
      Hints.boundedBroadcast(groups, "group_domain_contract"))
      .select(col("g"), lit(0).as("tag"),
        (col("pcum") * col("n_g")).as("ukey"),
        col("pv"), lit(null).cast("long").as("v"),
        lit(null).cast("long").as("c"))
    val srcRows = src.crossJoin(broadcast(npool))
      .select(col("g"), lit(1).as("tag"),
        (col("cum") * col("n_pool")).as("ukey"),
        lit(null).cast("long").as("pv"), col("v"), col("c"))
    val wWalk = Window.partitionBy(col("g"))
      .orderBy(col("ukey").desc, col("tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    poolRep.unionAll(srcRows)
      .withColumn("qnorm_v",
        min(when(col("tag") === 0, col("pv"))).over(wWalk))
      .filter(col("tag") === 1)
      .select(col("g").as(GroupCol), col("v"), col("c").as("n_rows"),
        col("qnorm_v"))
      .orderBy(col(GroupCol), col("v"))
  }

  /** Exact Shapley-value channel attribution (Shapley 1953; the
    * data-driven attribution standard, Zhao et al. 2018): the
    * characteristic function is the observed conversion rate per EXACT
    * touch-type set, `v(S) = conv(S)/journeys(S)` (unobserved coalitions
    * contribute 0 — the standard simplified game), and each channel's
    * credit is `φ_i = Σ_{T⊆C\{i}} |T|!(n-1-|T|)!/n! · [v(T∪{i})-v(T)]`.
    *
    * Scale shape: the corpus collapses to the journey-set table in one
    * partial-combined aggregate upstream (`journeys` arrives as
    * (set_key, n, conv) — at most 2^n rows); the subset enumeration is a
    * driver constant (n·2^(n-1) rows) and both v-lookups are broadcast
    * joins against the bounded set table. Nothing downstream of the one
    * corpus aggregate scales with data. The marginal terms accumulate as
    * round(9) DECIMALs so partial-agg order cannot flip a bit.
    *
    * `journeys`: (set_key, n, conv) — set_key the sorted-comma-join of
    * the journey's distinct channels ("" allowed: the touchless
    * baseline), n journey count, conv converted-journey count.
    */
  def shapleyAttribution(journeys: DataFrame, channels: Seq[String])
      : DataFrame = {
    val spark = journeys.sparkSession
    import spark.implicits._
    val den = (1 to channels.length).foldLeft(1L)(_ * _)
    val sub = shapleySubsets(channels)
      .toDF("channel", "s_key", "t_key", "w_num")
    val js = journeys.select(col("set_key"),
      col("n").cast("long").as("n"), col("conv").cast("long").as("c"))
    def v(nc: String, cc: String): Column =
      when(col(nc).isNull, lit(0.0))
        .otherwise(col(cc).cast("double") / col(nc).cast("double"))
    sub
      .join(Hints.boundedBroadcast(js.select(col("set_key").as("s_key"),
        col("n").as("ns"), col("c").as("cs")), "channel_subsets"),
        Seq("s_key"), "left")
      .join(Hints.boundedBroadcast(js.select(col("set_key").as("t_key"),
        col("n").as("nt"), col("c").as("ct")), "channel_subsets"),
        Seq("t_key"), "left")
      .select(col("channel"),
        coalesce(col("ns"), lit(0L)).as("nsz"),
        coalesce(col("cs"), lit(0L)).as("csz"),
        round((col("w_num").cast("double") * (v("ns", "cs") - v("nt", "ct")))
          / lit(den.toDouble), 9).cast("decimal(38,9)").as("term"))
      .groupBy(col("channel"))
      .agg(sum(col("nsz")).cast("long").as("n_journeys"),
        sum(col("csz")).cast("long").as("n_conversions"),
        round(sum(col("term")).cast("double"), 6).as("shapley"))
      .orderBy(col("channel"))
  }

  /** CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM 2013,
    * "Improving the Sensitivity of Online Controlled Experiments by
    * Utilizing Pre-Experiment Data"): the industry-standard regression
    * adjustment Y′ = Y − θ(X − X̄) with θ = cov(X,Y)/var(X) estimated
    * POOLED across arms (the pre-period covariate is independent of
    * assignment, so pooling is unbiased and maximizes θ precision).
    * Input is one row per experiment unit (arm, x = pre-period
    * covariate, y = outcome); output is one row per arm carrying the
    * outcome mean before/after adjustment, both variances, the shared
    * θ, and the per-arm variance reduction 1 − var(Y′)/var(Y) — the
    * "how much experiment runtime did CUPED buy" readout.
    *
    * Scale shape: ONE arm-keyed partial-combined aggregate of
    * DECIMAL(19,6)-lifted sufficient sums (n, Σx, Σy, Σx², Σy², Σxy);
    * the pooled-θ row is the arm table re-aggregated and broadcast
    * back, so the unit table is scanned once and nothing shuffles but
    * a dozen numbers — the only shape that survives a billion-unit
    * experiment. Variances are sample (n−1) variances; every double
    * derives from the exact decimal sums with one pinned op order,
    * round(6), so a DuckDB replay lands identical bits. */
  def cuped(units: DataFrame): DataFrame = {
    val yCol = "y"
    def d(c: String) = col(c).cast("decimal(19,6)")
    val perArm = units.groupBy(col(ArmCol).as("arm")).agg(
      count(lit(1)).as("n"),
      sum(d(XCol)).as("sx"), sum(d(yCol)).as("sy"),
      sum(d(XCol) * d(XCol)).as("sxx"),
      sum(d(yCol) * d(yCol)).as("syy"),
      sum(d(XCol) * d(yCol)).as("sxy"))
    val glob = perArm.agg(
      sum(col("n")).as("gn"), sum(col("sx")).as("gsx"),
      sum(col("sy")).as("gsy"), sum(col("sxx")).as("gsxx"),
      sum(col("sxy")).as("gsxy"))
    def v(name: String) = col(name).cast("double")
    val gn = v("gn")
    val theta = (gn * v("gsxy") - v("gsx") * v("gsy")) /
      (gn * v("gsxx") - v("gsx") * v("gsx"))
    val xbar = v("gsx") / gn
    val nd = col("n").cast("double")
    val meanY = v("sy") / nd
    val meanX = v("sx") / nd
    val varY = (nd * v("syy") - v("sy") * v("sy")) / (nd * (nd - 1.0))
    val varX = (nd * v("sxx") - v("sx") * v("sx")) / (nd * (nd - 1.0))
    val covXY = (nd * v("sxy") - v("sx") * v("sy")) / (nd * (nd - 1.0))
    val varC = varY - lit(2.0) * theta * covXY + theta * theta * varX
    perArm.crossJoin(broadcast(glob))
      .select(col("arm"), col("n"),
        round(meanY, 6).as("mean_y"),
        round(meanY - theta * (meanX - xbar), 6).as("mean_cuped"),
        round(varY, 6).as("var_y"),
        round(varC, 6).as("var_cuped"),
        round(theta, 6).as("theta"),
        round(lit(1.0) - varC / varY, 6).as("var_reduction"))
      .orderBy(col("arm"))
  }

  /** Exact isotonic (monotone non-decreasing) calibration of binned
    * event rates via the minimax identity iso(b) = max_{i≤b} min_{j≥i}
    * mean(i..j) (Ayer, Brunk, Ewing, Reid & Silverman 1955 — the same
    * fit pool-adjacent-violators converges to, but expressed as pure
    * bounded-table algebra instead of a data-dependent pooling loop,
    * so it replays identically on any engine): input is one row per
    * score bin with total/positive counts, output adds the raw rate
    * and the monotone fit. The corpus-scale work is whatever aggregate
    * PRODUCED the bins; the calibration itself is B² segment means on
    * the bounded B-row table (inequality joins on broadcast sides —
    * BNLJ, never a shuffle). Segment means are exact-integer ratios in
    * one pinned double op order, round(9); the fit is round(6). The
    * bin table is materialized once because three joins
    * reference it — unpinned, the upstream corpus aggregate would
    * re-execute per reference. */
  def isotonicCalibration(bins: DataFrame): DataFrame = {
    val binCol = "bin"
    val posCol = "pos"
    val w = Window.orderBy(col("b")) // bounded bin table: global OK
    val pre = Materializer.Local(bins.select(col(binCol).as("b"),
        col(NCol).cast("long").as("n"), col(posCol).cast("long").as("p"))
      .withColumn("cn", sum(col("n")).over(w))
      .withColumn("cp", sum(col("p")).over(w)))
    val segs = pre.select(col("b").as("i"),
        (col("cn") - col("n")).as("cni0"),
        (col("cp") - col("p")).as("cpi0"))
      .join(Hints.boundedBroadcast(
        pre.select(col("b").as("j"), col("cn").as("cnj"),
          col("cp").as("cpj")), "calibration_bins"),
        col("i") <= col("j"))
      .select(col("i"),
        round((col("cpj") - col("cpi0")).cast("double")
          / (col("cnj") - col("cni0")).cast("double"), 9).as("avg"))
    val mins = segs.groupBy(col("i")).agg(min(col("avg")).as("mi"))
    val iso = pre.select(col("b"))
      .join(Hints.boundedBroadcast(mins, "calibration_bins"),
        col("i") <= col("b"))
      .groupBy(col("b")).agg(max(col("mi")).as("iso_raw"))
    pre.join(Hints.boundedBroadcast(iso, "calibration_bins"), Seq("b"))
      .select(col("b").as(binCol), col("n"), col("p").as("pos"),
        round(col("p").cast("double") / col("n").cast("double"), 6)
          .as("rate"),
        round(col("iso_raw"), 6).as("iso"))
      .orderBy(col(binCol))
  }

  /** Fellegi–Sunter probabilistic record linkage (Fellegi & Sunter,
    * JASA 1969) with the Winkler EM fit: candidate pairs reduce to an
    * agreement PATTERN over `bitCols` (the γ vector), and EM estimates
    * the match prevalence p and the per-field match/unmatch agreement
    * rates m_i/u_i from pattern counts alone — unsupervised linkage
    * weights, no labeled pairs. Returns one row per observed pattern:
    * the bits, its pair count, the converged match prevalence
    * `p_match`, the posterior match probability `w` of a pair showing
    * that pattern, and the field-weight log-likelihood ratio `llr`
    * (the score a linkage pipeline thresholds).
    *
    * Scale shape: the corpus-scale work is whatever blocked join
    * produced the pattern counts (≤ 2^k rows); EM itself runs `rounds`
    * fixed iterations entirely on the bounded pattern table — per
    * round one broadcast of the 1-row state, one aggregate. Numeric
    * portability: posteriors re-quantize round(12) each round and the
    * weighted sums lift through DECIMAL(18,0)×DECIMAL(14,12) exact
    * products, so an unrolled SQL replay lands identical bits by
    * induction (the pageRank contract). Fixed rounds, not a
    * convergence race — replayability over the last ulp of fit. */
  def fellegiSunterEm(patterns: DataFrame, bitCols: Seq[String]): DataFrame = {
    val rounds = 5
    val p0 = 0.1
    val m0 = 0.9
    val u0 = 0.1
    require(bitCols.nonEmpty && rounds >= 1)
    val pat = patterns.select(col(NCol).cast("long").as("n") +:
      bitCols.zipWithIndex.map { case (c, i) => col(c).as(s"b$i") }: _*)
    var state = patterns.sparkSession.range(1).select(
      lit(p0).as("p") +: bitCols.indices.flatMap { i =>
        Seq(lit(m0).as(s"m$i"), lit(u0).as(s"u$i")) }: _*)
    def dn = col("n").cast("decimal(18,0)")
    def dw(c: Column) = c.cast("decimal(14,12)")
    def prodOf(pref: String) = bitCols.indices.map(i =>
      when(col(s"b$i"), col(s"$pref$i"))
        .otherwise(lit(1.0) - col(s"$pref$i"))).reduce(_ * _)
    for (_ <- 1 to rounds) {
      val pm = prodOf("m"); val pu = prodOf("u")
      val scored = pat.crossJoin(broadcast(state))
        .withColumn("w", round(col("p") * pm
          / (col("p") * pm + (lit(1.0) - col("p")) * pu), 12))
      val aggCols = Seq(
        sum(dn * dw(col("w"))).as("sw"), sum(dn).as("sn")) ++
        bitCols.indices.flatMap { i => Seq(
          sum(when(col(s"b$i"), dn * dw(col("w")))
            .otherwise(lit(0).cast("decimal(33,12)"))).as(s"swb$i"),
          sum(when(col(s"b$i"), dn * dw(lit(1.0) - col("w")))
            .otherwise(lit(0).cast("decimal(33,12)"))).as(s"swn$i")) }
      val sums = scored.agg(aggCols.head, aggCols.tail: _*)
      state = sums.select(
        round(col("sw").cast("double") / col("sn").cast("double"), 12)
          .as("p") +: bitCols.indices.flatMap { i => Seq(
          round(col(s"swb$i").cast("double")
            / col("sw").cast("double"), 12).as(s"m$i"),
          round(col(s"swn$i").cast("double")
            / (col("sn") - col("sw")).cast("double"), 12)
            .as(s"u$i")) }: _*)
    }
    val pmF = prodOf("m"); val puF = prodOf("u")
    pat.crossJoin(broadcast(state))
      .select(bitCols.indices.map(i => col(s"b$i")) ++ Seq(col("n"),
        round(col("p"), 6).as("p_match"),
        round(col("p") * pmF / (col("p") * pmF
          + (lit(1.0) - col("p")) * puF), 6).as("w"),
        round(log(pmF / puF), 6).as("llr")): _*)
      .orderBy(bitCols.indices.map(i => col(s"b$i")): _*)
  }

  /** Delete-a-group jackknife for a ratio-of-sums metric (Efron 1981;
    * the "delete-a-bucket" standard error every large experimentation
    * platform publishes for ratio metrics, where the naive iid SE is
    * wrong because numerator and denominator are both random): units
    * hash into `b` deterministic buckets (the portable md5 idiom — a
    * re-run or another engine lands identical buckets), θ̂ = ΣN/ΣD,
    * and the b leave-one-bucket-out estimates θ̂₍ᵢ₎ = (ΣN−nᵢ)/(ΣD−dᵢ)
    * give SE² = (b−1)/b · Σᵢ(θ̂₍ᵢ₎ − θ̄)². Output is ONE row
    * (b, theta, se_jack, ci_lo, ci_hi) with the 95% normal interval.
    *
    * Scale shape: one bucket-keyed partial-combined DECIMAL aggregate
    * (b rows); the whole jackknife then runs on the bounded b-row
    * table — the corpus shuffles b partial states, nothing else. The
    * leave-one-out estimates are round(9)-pinned decimals before the
    * variance sum and the squared deviations round(12), so aggregation
    * order can't flip a bit. Buckets that drew no units simply don't
    * exist; the jackknife runs over the observed bucket count (a
    * deterministic function of the data on every engine). Assumes no
    * single bucket holds the entire denominator (b ≥ 2 non-degenerate
    * buckets), the normal regime the estimator is built for. */
  def jackknifeRatio(units: DataFrame, b: Int = 32): DataFrame = {
    val keyCol = "user_id"
    val numCol = "rev"
    val denCol = "cnt"
    def d(c: String) = col(c).cast("decimal(19,6)")
    val bkt = pmod(conv(substring(md5(col(keyCol).cast("string")), 1, 8),
      16, 10).cast("long"), lit(b.toLong))
    val per = units.groupBy(bkt.as("bucket")).agg(
      sum(d(numCol)).as("nv"), sum(d(denCol)).as("dv"))
    val tot = per.agg(sum(col("nv")).as("tn"), sum(col("dv")).as("td"),
      count(lit(1)).as("nb"))
    val loo = per.crossJoin(broadcast(tot))
      .select(col("nb"), col("tn"), col("td"),
        round((col("tn") - col("nv")).cast("double")
            / (col("td") - col("dv")).cast("double"), 9)
          .cast("decimal(38,9)").as("loo"))
    val m = loo.groupBy(col("nb"), col("tn"), col("td"))
      .agg(sum(col("loo")).as("sl"))
    val nbD = col("nb").cast("double")
    val dev = col("loo").cast("double") -
      col("sl").cast("double") / nbD
    val sq = loo.join(Hints.boundedBroadcast(m, "fold_buckets"),
      Seq("nb", "tn", "td"))
      .select(col("nb"), col("tn"), col("td"),
        round(dev * dev, 12).cast("decimal(38,12)").as("t2"))
      .groupBy(col("nb"), col("tn"), col("td"))
      .agg(sum(col("t2")).as("sq"))
    val theta = col("tn").cast("double") / col("td").cast("double")
    val se = sqrt(((nbD - 1.0) / nbD) * col("sq").cast("double"))
    sq.select(col("nb").cast("long").as("b"),
      round(theta, 6).as("theta"),
      round(se, 6).as("se_jack"),
      round(theta - lit(1.96) * se, 6).as("ci_lo"),
      round(theta + lit(1.96) * se, 6).as("ci_hi"))
  }

  /** Distributed logistic regression by full-batch gradient descent
    * over a pre-aggregated feature-grid histogram — the quality
    * classifier every pretraining pipeline trains on heuristic labels
    * (Brown et al. 2020 §2.2 trains exactly this shape against a
    * curated-reference label). Input is a BOUNDED histogram: one row
    * per distinct (feature-vector, label) combination with its corpus
    * count — the corpus pays ONE partial-combined exchange to build
    * it, and every GD round is then algebra on the bounded table (the
    * q177 bounded-table contract), never a second corpus pass.
    *
    * Determinism: per-row gradient contributions are round(9)-pinned
    * DECIMAL(29,9) before summation (decimal addition is
    * order-independent, so partial-agg order can't flip a bit) and the
    * weight vector is requantized round(12) each round — an unrolled
    * SQL replay with the same op order is bit-identical by induction.
    * Features should be standardized (z-scored) upstream; with
    * mean-normalized gradients the logistic Hessian spectral norm is
    * ≤ 0.25·E[‖x‖²], so lr ≤ 2 is safely inside the stable region.
    *
    * Output: ONE row (n, w0, w1.., accuracy, log_loss) — intercept +
    * per-feature weights round(6), training accuracy at the 0.5
    * threshold and mean negative log-likelihood round(6). */
  def logisticGdHist(hist: DataFrame, xCols: Seq[String], yCol: String, rounds: Int = 10)
      : DataFrame = {
    val lr = 2.0
    require(xCols.nonEmpty && rounds >= 1)
    val feats = hist.select(col(NCol).cast("long").as("n") +:
      col(yCol).cast("boolean").as("y") +:
      xCols.zipWithIndex.map { case (c, i) =>
        col(c).cast("double").as(s"x$i") }: _*)
    val idx = xCols.indices
    // state carries the weight vector AND the corpus count; each round
    // references the previous state exactly ONCE (weights ride through
    // the gradient aggregate as max of a constant) — a second
    // reference would double the logical plan per round and make
    // analysis time exponential in `rounds`
    var state = feats.agg(sum(col("n")).as("nt")).select(
      lit(0.0).as("w0") +: idx.map(i => lit(0.0).as(s"w${i + 1}")) :+
        col("nt"): _*)
    def z = idx.foldLeft(col("w0")) { (acc, i) =>
      acc + col(s"w${i + 1}") * col(s"x$i") }
    def prob = lit(1.0) / (lit(1.0) + exp(-z))
    def yD = when(col("y"), 1.0).otherwise(0.0)
    def pin(c: Column) = round(c, 9).cast("decimal(29,9)")
    for (_ <- 1 to rounds) {
      val resid = col("n").cast("double") * (yD - prob)
      val scored = feats.crossJoin(broadcast(state))
      val grads = scored.agg(
        sum(pin(resid)).as("g0"),
        idx.map(i => sum(pin(resid * col(s"x$i"))).as(s"g${i + 1}")) ++
          (0 to idx.size).map(i => max(col(s"w$i")).as(s"pw$i")) :+
          max(col("nt")).as("nt"): _*)
      state = grads.select((0 to idx.size).map { i =>
        round(col(s"pw$i") + lit(lr) * col(s"g$i").cast("double")
          / col("nt").cast("double"), 12).as(s"w$i") } :+ col("nt"): _*)
    }
    val scoredF = feats.crossJoin(broadcast(state))
    val acc = scoredF.agg(
      sum(col("n")).as("n"),
      sum(when((prob >= 0.5) === col("y"), col("n")).otherwise(0L))
        .as("n_correct") +:
        sum(pin(col("n").cast("double") *
          -(yD * log(prob) + (lit(1.0) - yD) * log(lit(1.0) - prob))))
          .as("nll") +:
        (0 to idx.size).map(i => max(col(s"w$i")).as(s"w$i")): _*)
    acc.select(col("n").cast("long").as("n") +:
      (0 to idx.size).map(i => round(col(s"w$i"), 6).as(s"w$i")) :+
      round(col("n_correct").cast("double")
        / col("n").cast("double"), 6).as("accuracy") :+
      round(col("nll").cast("double")
        / col("n").cast("double"), 6).as("log_loss"): _*)
  }

  /** Cox proportional-hazards fit for ONE binary covariate by Newton
    * ascent on the Breslow partial likelihood (Cox 1972; Breslow 1974)
    * over a duration-grid histogram: input is one row per
    * (duration t, covariate x, deaths, total) — subjects whose
    * observation ended at t, split by whether they died (event) or
    * were censored there. The corpus pays the subject rollup upstream;
    * the risk sets are reverse-cumulative window sums on the BOUNDED
    * grid table, and each Newton round is algebra on the event-time
    * rows (round(9)-pinned DECIMAL contributions, β requantized
    * round(12) — the unrolled-SQL-replay contract).
    *
    * At each event time t: n1(t)=at-risk with x=1, S1/S0 = n1·e^β /
    * (n0 + n1·e^β); gradient Σ_t d1 − d·S1/S0, information
    * Σ_t d·(S1/S0)(1−S1/S0). Output ONE row (n_subjects, n_events,
    * beta, hazard_ratio, se, z, p_value) — β is the log hazard ratio
    * of x=true vs false; p is the A&S 26.2.17 two-sided normal tail. */
  def coxNewtonBinary(durHist: DataFrame): DataFrame = {
    val tCol = "t"
    val deathCol = "deaths"
    val totalCol = "total"
    val rounds = 4
    val h = durHist.select(col(tCol).cast("long").as("t"),
      col(XCol).cast("boolean").as("x"),
      col(deathCol).cast("long").as("d"),
      col(totalCol).cast("long").as("tot"))
      .groupBy(col("t"), col("x"))
      .agg(sum(col("d")).as("d"), sum(col("tot")).as("tot"))
    val wrev = Window.partitionBy(col("x")).orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // densify to the full (t × x) grid first: the at-risk count for a
    // stratum must accumulate THROUGH times where no subject of that
    // stratum ends (a missing (t,x) row would otherwise read as 0 at
    // risk), then one row per event time with the Newton statistics
    val xs = durHist.sparkSession.range(2)
      .select((col("id") === 1).as("x"))
    val grid = h.select(col("t")).distinct().crossJoin(broadcast(xs))
      .join(h, Seq("t", "x"), "left")
      .na.fill(0L, Seq("d", "tot"))
    val risk = grid.withColumn("atrisk", sum(col("tot")).over(wrev))
    val et = Materializer.Local(risk
      .groupBy(col("t"))
      .agg(sum(col("d")).as("d"),
        sum(when(col("x"), col("d")).otherwise(0L)).as("d1"),
        sum(when(col("x"), col("atrisk")).otherwise(0L)).as("n1r"),
        sum(when(!col("x"), col("atrisk")).otherwise(0L)).as("n0r"))
      .filter(col("d") > 0))
    def pin(c: Column) = round(c, 9).cast("decimal(29,9)")
    var state = durHist.sparkSession.range(1).select(lit(0.0).as("beta"))
    def mu = {
      val s1 = col("n1r").cast("double") * exp(col("beta"))
      s1 / (col("n0r").cast("double") + s1)
    }
    for (_ <- 1 to rounds) {
      // single state reference per round (beta rides through the
      // aggregate as max of a constant) — see logisticGdHist
      val sums = et.crossJoin(broadcast(state)).agg(
        sum(pin(col("d1").cast("double") - col("d").cast("double") * mu))
          .as("g"),
        sum(pin(col("d").cast("double") * mu * (lit(1.0) - mu)))
          .as("info"), max(col("beta")).as("pb"))
      state = sums.select(round(col("pb") + col("g").cast("double")
        / col("info").cast("double"), 12).as("beta"))
    }
    val tot = h.agg(sum(col("tot")).as("n_subjects"),
      sum(col("d")).as("n_events"))
    val fin = et.crossJoin(broadcast(state)).agg(
      sum(pin(col("d").cast("double") * mu * (lit(1.0) - mu)))
        .as("info"), max(col("beta")).as("beta"))
    val se = lit(1.0) / sqrt(col("info").cast("double"))
    val zv = col("beta") / se
    val az = abs(zv)
    val tt = lit(1.0) / (lit(1.0) + lit(0.2316419) * az)
    val poly = tt * (lit(0.319381530) + tt * (lit(-0.356563782) +
      tt * (lit(1.781477937) + tt * (lit(-1.821255978) +
        tt * lit(1.330274429)))))
    val p = lit(2.0) * (lit(0.3989422804014327) *
      exp(lit(-0.5) * az * az)) * poly
    fin.crossJoin(broadcast(tot))
      .select(col("n_subjects").cast("long").as("n_subjects"),
        col("n_events").cast("long").as("n_events"),
        round(col("beta"), 6).as("beta"),
        round(exp(col("beta")), 6).as("hazard_ratio"),
        round(se, 6).as("se"), round(zv, 6).as("z"),
        round(p, 9).as("p_value"))
  }

  /** Poisson(1) CDF thresholds P(X <= k) for k = 0..7, shared VERBATIM
    * between the Spark inverse-CDF weight and any SQL replay: a uniform
    * below `poissonCdf1(k)` (and not below `poissonCdf1(k-1)`) draws
    * weight k; above all eight, weight 8 (P ≈ 1e-5 — the cap keeps the
    * per-unit replication factor bounded). */
  val poissonCdf1: Seq[Double] = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
    0.9999167588507119, 0.9999897508033253)

  /** Poisson(1) resample weight from a deterministic uniform — the
    * Poisson-bootstrap kernel (Chamandy et al. 2012; Oza 2001 online
    * bagging): at stream/100 TB scale a classic multinomial resample
    * needs the global n, but Binomial(n, 1/n) → Poisson(1), so each
    * unit draws its per-resample multiplicity INDEPENDENTLY — one
    * map-side expression, no coordination. Replayable by construction
    * when `u` is the md5-uniform convention (q195/q257). */
  def poissonWeight(u: Column): Column =
    poissonCdf1.zipWithIndex.foldRight(lit(8)) { case ((t, k), rest) =>
      when(u < lit(t), lit(k)).otherwise(rest)
    }

  /** Closed-form 2-feature weighted OLS via Cramer's rule on the 3x3
    * normal equations — the outcome-model half of a doubly-robust
    * estimator. Input: one row per group carrying the pinned
    * sufficient sums (n, sx1, sx2, sx11, sx12, sx22, sy, sx1y, sx2y);
    * output: the same `keep` columns plus round(9) (b0, b1, b2). Pure
    * per-row algebra on an already-bounded table — the corpus never
    * sees the solve; SQL replays it term-for-term (doubles, one fixed
    * op order, IEEE-deterministic). */
  def ols2Beta(sums: DataFrame): DataFrame = {
    val keep: Seq[String] = Seq("tr")
    def v(c: String) = col(c).cast("double")
    def det3(a11: Column, a12: Column, a13: Column,
             a21: Column, a22: Column, a23: Column,
             a31: Column, a32: Column, a33: Column): Column =
      a11 * (a22 * a33 - a23 * a32) -
        a12 * (a21 * a33 - a23 * a31) +
        a13 * (a21 * a32 - a22 * a31)
    val det = det3(v("n"), v("sx1"), v("sx2"),
      v("sx1"), v("sx11"), v("sx12"),
      v("sx2"), v("sx12"), v("sx22"))
    val b0 = det3(v("sy"), v("sx1"), v("sx2"),
      v("sx1y"), v("sx11"), v("sx12"),
      v("sx2y"), v("sx12"), v("sx22")) / det
    val b1 = det3(v("n"), v("sy"), v("sx2"),
      v("sx1"), v("sx1y"), v("sx12"),
      v("sx2"), v("sx2y"), v("sx22")) / det
    val b2 = det3(v("n"), v("sx1"), v("sy"),
      v("sx1"), v("sx11"), v("sx1y"),
      v("sx2"), v("sx12"), v("sx2y")) / det
    sums.select(keep.map(col) ++ Seq(round(b0, 9).as("b0"),
      round(b1, 9).as("b1"), round(b2, 9).as("b2")): _*)
  }

  /** Bradley–Terry paired-comparison strengths (Bradley & Terry 1952)
    * fitted by Hunter's (2004) MM iterations over an ORDERED-pair
    * tournament table `pair(i, j, n, wi, wj)` (i < j; n comparisons, wi
    * wins for i, wj for j) — bounded at |items|², so every round is
    * broadcast algebra that costs the same at any corpus size.
    * s_i ← W_i / Σ_j n_ij/(s_i+s_j), renormalized to mean 1 each round;
    * each term requantizes round(9)→DECIMAL(19,9) before its sum so an
    * unrolled SQL replay is bit-identical. Returns
    * (i, wins, comparisons, strength round(6)). Items with zero wins
    * converge to strength 0; items in no pair are absent (they played
    * no game). */
  def bradleyTerry(pairTab: DataFrame): DataFrame = {
    val rounds = 3
    val pair = Materializer.Local(pairTab)
    val sym = Materializer.Local(
      pair.select(col("i"), col("j"), col("n"), col("wi").as("w"))
        .unionAll(pair.select(col("j").as("i"), col("i").as("j"),
          col("n"), col("wj").as("w"))))
    val wt = Materializer.Local(sym.groupBy(col("i"))
      .agg(sum(col("w")).as("wins"), sum(col("n")).as("comparisons")))
    // |items| — a bounded-table scalar, the normalization target (mean
    // strength 1.0), shared with the oracle's COUNT(*) subquery
    val nt = wt.count().toDouble
    var sTab = wt.select(col("i"), lit(1.0).as("st"))
    for (_ <- 1 to rounds) {
      val si = sTab.select(col("i").as("di"), col("st").as("sst"))
      val sj = sTab.select(col("i").as("dj"), col("st").as("sjt"))
      val den = sym
        .join(Hints.boundedBroadcast(si, "bt_item_panel"),
          col("i") === col("di"))
        .join(Hints.boundedBroadcast(sj, "bt_item_panel"),
          col("j") === col("dj"))
        .groupBy(col("i"))
        .agg(sum(round(col("n").cast("double")
            / (col("sst") + col("sjt")), 9)
          .cast("decimal(19,9)")).as("dn"))
      val raw = den.join(Hints.boundedBroadcast(wt, "bt_item_panel"),
        Seq("i"))
        .select(col("i"),
          round(col("wins").cast("double") / col("dn").cast("double"),
            9).as("sr"))
      val tot = raw.agg(sum(col("sr").cast("decimal(19,9)")).as("tot"))
      sTab = Materializer.Local(raw.crossJoin(broadcast(tot))
        .select(col("i"),
          round(col("sr") * lit(nt) / col("tot").cast("double"), 9)
            .as("st")))
    }
    wt.join(Hints.boundedBroadcast(sTab, "bt_item_panel"), Seq("i"))
      .select(col("i"), col("wins"), col("comparisons"),
        round(col("st"), 6).as("strength"))
  }

  /** V-optimal histogram DP (Jagadish, Koudas, Muthukrishnan et al.,
    * VLDB 1998 — the optimizer-statistics bucketing that minimizes the
    * frequency sequence's within-bucket SSE, what an engine's ANALYZE
    * builds where equi-width (q152) and equi-depth (q51) are the cheap
    * approximations). Input `freqs` is the (t = 1..g, f) frequency
    * sequence over a BOUNDED pre-quantized grid (the caller compresses
    * the raw value domain first — the standard two-level construction);
    * everything here is g²·k algebra on broadcast-bounded tables.
    * Costs carry as round(9) doubles from exact integer prefix sums
    * (d² ≤ n² is exact in a double for any realistic n); ties in the
    * DP argmin break to the SMALLEST split, so the oracle's unrolled
    * replay is bit-identical. Each `t` appears at most once in `freqs`
    * (a duplicate is rejected, not summed or overwritten); a missing `t`
    * counts as frequency 0. Returns one row per bucket:
    * (bucket, seg_lo, seg_hi, n_rows, sse). */
  def vOptimalDp(freqs: DataFrame, g: Int, k: Int): DataFrame = {
    require(g >= k && k >= 2)
    val sp0 = freqs.sparkSession
    import sp0.implicits._
    // BOUNDED driver DP (r14, measured): the whole DP state is the g-row
    // frequency sequence — g is an OPERATOR PARAMETER (≤ 64 equi-rank
    // grid points, the `grid_g_rows` boundedness class), never a corpus
    // dimension — and the former DataFrame formulation spent its time on
    // pure scheduling: (k−1) materialize+window rounds over ≤g-row
    // tables plus (k−1) one-row backtrack collects (~15 tiny jobs,
    // ~1.2 s at sf0.1 per DP invocation, invariant to data size). One
    // g-row collect and exact in-driver replay of the SAME algebra
    // replaces all of it; this is a difference of degree, not kind, from
    // the per-level collects the DP always did. Numeric identity with
    // the former plan (and the oracle's unrolled replay) is
    // differential-pinned in R14Spec: prefix sums are exact longs;
    // sse/cost rounding replays catalyst's Round (HALF_UP via BigDecimal,
    // the same scala.math.BigDecimal path); DP argmin ties break to the
    // smallest split.
    def r(x: Double, s: Int): Double =
      if (x.isNaN || x.isInfinite) x
      else BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    val fRows = freqs.select(col("t").cast("int"), col("f").cast("long"))
      .as[(Int, Long)].collect()
    val fMap = fRows.toMap
    require(fMap.size == fRows.length,
      s"vOptimalDp: duplicate t values in freqs " +
        fRows.groupBy(_._1).collect { case (t, rs) if rs.length > 1 => t }
          .toSeq.sorted.mkString("(", ", ", ")"))
    val p = new Array[Long](g + 1)   // prefix sums, p(0) = 0 sentinel
    val p2 = new Array[Long](g + 1)
    for (t <- 1 to g) {
      val f = fMap.getOrElse(t, 0L)
      p(t) = p(t - 1) + f
      p2(t) = p2(t - 1) + f * f
    }
    // sse(a, b) over segment [a, b] (1-based, inclusive) — the same
    // round(d2 − d·d/len, 9) expression as the former sseTab
    def sse(a: Int, b: Int): Double = {
      val d = (p(b) - p(a - 1)).toDouble
      val d2 = (p2(b) - p2(a - 1)).toDouble
      val len = (b - a + 1).toDouble
      r(d2 - d * d / len, 9)
    }
    // DP: bestJ(i) = min_m best{J-1}(m) + sse(m+1, i); argmin tie -> m
    val cost = Array.ofDim[Double](k + 1, g + 1)
    val argm = Array.ofDim[Int](k + 1, g + 1)
    for (i <- 1 to g) { cost(1)(i) = sse(1, i); argm(1)(i) = 0 }
    for (j <- 2 to k; i <- 1 to g) {
      var bestC = Double.PositiveInfinity
      var bestM = -1
      for (m <- 1 until i) {
        val c = r(cost(j - 1)(m) + sse(m + 1, i), 9)
        // strict < keeps the SMALLEST m on ties — the former
        // row_number(cost asc, m asc) tie-break
        if (bestM < 0 || c < bestC) { bestC = c; bestM = m }
      }
      cost(j)(i) = bestC; argm(j)(i) = bestM
    }
    var bounds = List(g)
    var cur = g
    for (j <- k to 2 by -1) {
      val m = argm(j)(cur)
      bounds ::= m
      cur = m
    }
    val rows = (0 until k).map { idx =>
      val sl = if (idx == 0) 1 else bounds(idx - 1) + 1
      val sh = bounds(idx)
      (idx + 1, sl, sh, p(sh) - p(sl - 1), r(sse(sl, sh), 6))
    }
    rows.toDF("bucket", "seg_lo", "seg_hi", "n_rows", "sse")
  }

  /** Quantized-domain size up to which the histogram cumulative may run
    * as a single global `Window.orderBy(v)` — one task over at most this
    * many NARROW (v, c, [shard]) rows (~tens of MB), the plan the bench
    * and the oracle replay pin. Above it, [[histCumSum]] switches to the
    * two-phase bucketed prefix sum, because a single-task window over an
    * unbounded quantized domain is exactly the funnel a 100 TB ANALYZE
    * must not have (the synopsis tables themselves stay bounded either
    * way — only the histogram cumulative changes shape). */
  private[graft] val CumWindowDomainCap: Long = 1L << 21

  /** Scale-safe cumulative count over a value histogram: appends `cum` =
    * running Σc in `v` order (per `grpCols` group when given — the
    * per-shard form). Small domains (≤ `domainCap` rows) keep the plain
    * single-task window; wide domains run the same two-phase distributed
    * prefix sum [[TextAnalysis.packSequences]] uses — quantile bucket
    * boundaries from one tiny `percentile_approx` pass (quantiles, not
    * uniform spans: a skewed domain would collapse uniform spans into one
    * giant bucket), parallel within-bucket windowed cumsums, and bucket
    * offsets prefix-summed over the bounded (group × bucket) totals table
    * and broadcast back. Output is invariant to where the boundaries
    * fall, so both paths produce identical `cum` — which is what lets the
    * bounded-case plan stay pinned while the wide case scales out.
    * Requires one row per (grpCols, v) — a histogram, not raw rows. */
  private[graft] def histCumSum(hist: DataFrame, grpCols: Seq[String],
                                domainCap: Long = CumWindowDomainCap,
                                nBuckets: Int = 64): DataFrame = {
    val g = grpCols.map(col)
    if (hist.count() <= domainCap) {
      val w = Window.partitionBy(g: _*).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist.withColumn("cum", sum(col("c")).over(w))
    } else {
      val probs = (1 until nBuckets).map(_.toDouble / nBuckets)
      val bounds: Array[Long] =
        if (probs.isEmpty) Array.empty
        else hist
          .agg(percentile_approx(col("v").cast("long"),
            typedlit(probs), lit(10000)))
          .collect()(0).getSeq[Long](0).toArray.distinct.sorted
      // bucket = #boundaries at or below v: contiguous monotone v-ranges
      // whatever the domain's distribution (compares the ORIGINAL v, so
      // the long cast above only steers boundary placement)
      val bucketOf: Column =
        if (bounds.isEmpty) lit(0L)
        else aggregate(typedlit(bounds.toSeq), lit(0L),
          (acc, b) => acc + when(col("v") >= b, 1L).otherwise(0L))
      val withB = hist.withColumn("_bkt", bucketOf)
      val wIn = Window.partitionBy((g :+ col("_bkt")): _*).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wOff = Window.partitionBy(g: _*).orderBy(col("_bkt"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = withB.groupBy((g :+ col("_bkt")): _*)
        .agg(sum(col("c")).as("_bt"))
        .withColumn("_off", coalesce(sum(col("_bt")).over(wOff), lit(0L)))
        .select((g :+ col("_bkt") :+ col("_off")): _*)
      withB.withColumn("_in", sum(col("c")).over(wIn))
        .join(broadcast(offsets), grpCols :+ "_bkt")
        .withColumn("cum", col("_in") + col("_off"))
        .select(hist.columns.toIndexedSeq.map(col) :+ col("cum"): _*)
    }
  }

  /** Equi-rank grid + frequency sequence from an exact value histogram
    * `hist(v, c)` — level 1 of the two-level V-optimal construction
    * (Jagadish et al., VLDB 1998) shared by the direct (q297) and
    * distributed-merge (q305) paths: grid point t is the smallest value
    * whose cumulative count reaches ⌈t·n/g⌉ (exact integer rank
    * thresholds), and f_t is the total count of values in grid cell t.
    * Returns (grid (t, gv), freqs (t, f)); both bounded at g rows, both
    * checkpointed. The histogram itself is the caller's one corpus
    * exchange; its cumulative is [[histCumSum]], so a quantized domain
    * wider than `domainCap` scales out instead of funneling through one
    * window task. */
  def equiRankGridFreqs(hist0: DataFrame, g: Int,
                        domainCap: Long = CumWindowDomainCap)
      : (DataFrame, DataFrame) = {
    require(g >= 1)
    val sp0 = hist0.sparkSession
    import sp0.implicits._
    val hist = Materializer.Local(hist0.select(col("v"), col("c")))
    val cum = histCumSum(hist, Seq.empty, domainCap)
    val tot = hist.agg(sum(col("c")).as("n"))
    val ts = (1 to g).toDF("t")
    val thr = floor((col("t") * col("n") + lit((g - 1).toLong))
      / lit(g.toLong))
    val grid = Materializer.Local(ts
      .crossJoin(broadcast(tot))
      .join(cum, col("cum") >= thr)
      .groupBy(col("t")).agg(min(col("v")).as("gv")))
    val seg = hist.join(Hints.boundedBroadcast(grid, "grid_g_rows"),
      col("v") <= col("gv"))
      .groupBy(col("v"), col("c")).agg(min(col("t")).as("t"))
    val freqs = Materializer.Local(
      seg.groupBy(col("t")).agg(sum(col("c")).as("f")))
    (grid, freqs)
  }

  /** Distributed V-optimal construction — the 100 TB ANALYZE shape
    * (q297's extension): each shard of a row-partitioned corpus computes
    * its EXACT quantized value histogram (the mergeable synopsis — level-1
    * quantization bounds the domain, so the per-shard state is a bounded
    * (v, c) table, never raw rows), the coordinator merges them with one
    * associative Σc-by-v aggregation, and the equi-rank grid + SSE DP
    * re-run on the merged histogram. Because the quantized histogram is
    * an EXACT mergeable statistic (unlike a per-shard equi-rank grid,
    * whose merge loses within-cell mass), the merged construction equals
    * the direct single-pass construction bucket-for-bucket — which is the
    * property this operator's consumer (q305) certifies against the
    * direct path.
    *
    * `shardHists` is (shard, v, c) — per-shard exact histograms over the
    * shared quantization. Returns the merged-path V-optimal buckets
    * (bucket, seg_lo, seg_hi, v_hi, n_rows, sse), identical in shape to
    * [[vOptimalDp]]'s output joined with its grid. */
  def vOptimalMerged(shardHists: DataFrame, g: Int, k: Int): DataFrame = {
    // the distributed ANALYZE merge: associative, commutative, one
    // bounded exchange on the quantized domain
    val merged = shardHists.groupBy(col("v"))
      .agg(sum(col("c")).as("c"))
    val (grid, freqs) = equiRankGridFreqs(merged, g)
    vOptimalDp(freqs, g, k)
      .join(Hints.boundedBroadcast(grid.select(col("t").as("seg_hi"),
        col("gv").as("v_hi")), "grid_g_rows"), Seq("seg_hi"))
      .select(col("bucket"), col("seg_lo"), col("seg_hi"), col("v_hi"),
        col("n_rows"), col("sse"))
  }

  /** Lossy distributed grid merge — the synopsis path a distributed
    * ANALYZE takes when even the quantized value domain is too wide to
    * ship ([[vOptimalMerged]]'s exact histogram merge needs O(|domain|)
    * state per shard; this needs O(g)): each shard compresses its value
    * histogram to its own g-point equi-rank grid (cells (lo, hi] with
    * exact in-cell counts but no within-cell distribution), the
    * coordinator takes the UNION of all shards' cell boundaries, and
    * every shard cell's mass is split over the union intervals it spans
    * under the within-cell UNIFORM assumption — the continuous-values
    * interpolation Selinger et al. (SIGMOD 1979) read histograms with,
    * applied as the merge rule (equi-depth cells per Piatetsky-Shapiro &
    * Connell 1984 / Poosala et al. SIGMOD 1996). Because the union
    * boundary set
    * contains every shard's own boundaries, each union interval nests
    * inside exactly one cell per shard, so the split fractions are plain
    * width ratios.
    *
    * Replay contract: each (cell × interval) contribution is
    * `round(f · (b−a)/(hi−lo), 9)` requantized to DECIMAL(19,9) before
    * any sum, so interval masses are exact order-independent decimal
    * sums an oracle reproduces bit-for-bit.
    *
    * `shardHists` is (shard, v, c). Returns the merged interval
    * histogram (a, b, mass): mass estimated on (a, b], boundaries exact
    * shard-grid values. Everything below the per-shard histogram is
    * bounded-table algebra (≤ shards·(g+1) boundaries). The accuracy
    * COST of this merge relative to the exact path is what q306
    * certifies. */
  def mergedGridIntervals(shardHists: DataFrame, g: Int,
                          domainCap: Long = CumWindowDomainCap)
      : DataFrame = {
    require(g >= 1)
    val sp0 = shardHists.sparkSession
    import sp0.implicits._
    val hist = Materializer.Local(
      shardHists.select(col("shard"), col("v"), col("c")))
    // per-shard cumulative via [[histCumSum]]: partitioning by shard
    // already parallelizes across shards, but one shard's quantized
    // domain can itself be wide — above the cap each shard's cumsum runs
    // as the bucketed two-phase prefix sum instead of one task per shard
    val cum = Materializer.Local(histCumSum(hist, Seq("shard"), domainCap))
    val tot = hist.groupBy(col("shard"))
      .agg(sum(col("c")).as("n"), (min(col("v")) - lit(1L)).as("fl"))
    val ts = (1 to g).toDF("t")
    // per-shard equi-rank grid: same exact integer rank thresholds as
    // the direct construction, partitioned by shard
    val base = ts.crossJoin(broadcast(tot))
    val grid = Materializer.Local(base
      .join(cum.select(col("shard").as("cs"), col("v"), col("cum")),
        col("shard") === col("cs") &&
          col("cum") >= floor((col("t") * col("n")
            + lit((g - 1).toLong)) / lit(g.toLong)))
      .groupBy(col("shard"), col("t")).agg(min(col("v")).as("gv")))
    // cells (shard, lo, hi, f): f from the cumulative at the boundary
    // value (grid points are actual histogram values); lo of the first
    // cell is the shard's min − 1 so the first cell spans its real range
    val wShard = Window.partitionBy(col("shard")).orderBy(col("t"))
    val cells = Materializer.Local(grid
      .join(cum.select(col("shard"), col("v").as("gv"),
        col("cum").as("cumhi")), Seq("shard", "gv"))
      .join(broadcast(tot.select(col("shard"), col("fl"))), Seq("shard"))
      .select(col("shard"), col("t"),
        coalesce(lag(col("gv"), 1).over(wShard), col("fl")).as("lo"),
        col("gv").as("hi"),
        (col("cumhi") - coalesce(lag(col("cumhi"), 1).over(wShard),
          lit(0L))).as("f"))
      .filter(col("f") > 0 && col("hi") > col("lo")))
    // union boundary set -> nested intervals (bounded; global window on
    // <= shards·(g+1) rows)
    val bnds = cells.select(col("lo").as("b"))
      .unionAll(cells.select(col("hi").as("b"))).distinct()
    val iv = Materializer.Local(bnds
      .withColumn("a", lag(col("b"), 1).over(Window.orderBy(col("b"))))
      .filter(col("a").isNotNull))
    // uniform split: every interval nests in exactly one cell per shard
    cells
      .join(Hints.boundedBroadcast(iv, "grid_g_rows"),
        col("a") >= col("lo") && col("b") <= col("hi"))
      .select(col("a"), col("b"),
        round(col("f").cast("double")
          * (col("b") - col("a")).cast("double")
          / (col("hi") - col("lo")).cast("double"), 9)
          .cast("decimal(19,9)").as("m"))
      .groupBy(col("a"), col("b"))
      .agg(sum(col("m")).as("massd"))
      .select(col("a"), col("b"), col("massd").cast("double").as("mass"))
  }

  /** Merged heavy-hitter bracket over a `(shard, tok, c)` counts frame —
    * the q309 readout. Per shard: the `kTop` most frequent
    * tokens (count desc, token asc — deterministic) plus
    * `err_s` = the largest DROPPED count (Agarwal et al., PODS 2012
    * mergeable summaries); a shard's true count for any item is exact if
    * kept, else <= err_s, so the merged summary brackets every item's
    * corpus count in [Σ kept, Σ kept-or-err] while shipping only k+1
    * numbers per shard. The audit reads the bracket for the exact global
    * top-10 tokens, certifies containment, and prices the worst relative
    * bracket width.
    *
    * Scale shape: the rank window partitions by shard (parallel across
    * shards; in the sharded-ANALYZE deployment each shard's histogram is
    * machine-local by construction); the bracket attach is a
    * 10 x n_shards cross join — n_shards is a deployment parameter, not
    * a corpus-growing count, so the broadcast is adjudicated bounded. */
  def heavyHitterBracket(shardCounts0: DataFrame): DataFrame = {
    val kTop = 32
    val shardCounts = Materializer.Local(shardCounts0
      .select(col("shard"), col("tok"), col("c")))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("c").desc, col("tok").asc)
    val ranked = Materializer.Local(
      shardCounts.withColumn("rk", row_number().over(w)))
    val kept = ranked.filter(col("rk") <= kTop)
      .select(col("shard"), col("tok"), col("c"))
    val errAll = ranked.select(col("shard")).distinct()
      .join(ranked.filter(col("rk") > kTop).groupBy(col("shard"))
        .agg(max(col("c")).as("err0")), Seq("shard"), "left")
      .select(col("shard"), coalesce(col("err0"), lit(0L)).as("err"))
    val exact = shardCounts.groupBy(col("tok")).agg(sum(col("c")).as("n"))
    val top10 = exact.orderBy(col("n").desc, col("tok").asc).limit(10)
    // one row per (top-10 token, shard): n_shards is a deployment
    // constant (the summary is k+1 numbers PER SHARD by design), so the
    // attach side is 10 x n_shards rows regardless of corpus size
    top10.crossJoin(Hints.boundedBroadcast(errAll, "per_shard_rows"))
      .join(kept, Seq("shard", "tok"), "left")
      .groupBy(col("tok"), col("n"))
      .agg(sum(coalesce(col("c"), lit(0L))).as("est_lo"),
        sum(coalesce(col("c"), col("err"))).as("est_hi"))
      .select(col("tok"), col("n").as("exact_n"), col("est_lo"),
        col("est_hi"),
        (col("est_lo") <= col("n") && col("n") <= col("est_hi"))
          .as("bracketed"),
        round((col("est_hi") - col("est_lo")).cast("double")
          / col("n").cast("double"), 6).as("rel_width"))
      .orderBy(col("exact_n").desc, col("tok").asc)
  }

  /** Adjusted Rand Index (Hubert & Arabie 1985) between two labelings
    * of the same items: `labeled` has one row per item with its label
    * under partition A (`aCol`) and partition B (`bCol`). Pair counts
    * are carried DOUBLED (t = k(k−1), never /2) so everything stays
    * exact integer algebra until the single pinned double expression —
    * ARI is invariant to the doubling. One (la, lb) contingency
    * exchange; the margins and the final scalar ride the bounded
    * label² table. Returns (n_common, clusters_a, clusters_b, ari);
    * identical partitions → exactly 1.0, denominator-degenerate input
    * (one all-in-one cluster on both sides) → 1.0 by convention. */
  def adjustedRandIndex(labeled: DataFrame): DataFrame = {
    val aCol = "la"
    val bCol = "lb"
    val ct = Materializer.Local(labeled
      .groupBy(col(aCol).as("la"), col(bCol).as("lb"))
      .agg(count(lit(1)).as("nij")))
    def t2(c: Column) = c * (c - lit(1L))
    val sij = ct.agg(sum(t2(col("nij"))).as("tij"),
      sum(col("nij")).as("n"))
    val sa = ct.groupBy(col("la")).agg(sum(col("nij")).as("ai"))
      .agg(sum(t2(col("ai"))).as("ta"), count(lit(1)).as("ka"))
    val sb = ct.groupBy(col("lb")).agg(sum(col("nij")).as("bj"))
      .agg(sum(t2(col("bj"))).as("tb"), count(lit(1)).as("kb"))
    def d(c: Column) = c.cast("double")
    val e = d(col("ta")) * d(col("tb")) / d(t2(col("n")))
    val den = (d(col("ta")) + d(col("tb"))) / lit(2.0) - e
    sij.crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
      .select(col("n").cast("long").as("n_common"),
        col("ka").cast("long").as("clusters_a"),
        col("kb").cast("long").as("clusters_b"),
        when(den === 0.0, lit(1.0))
          .otherwise(round((d(col("tij")) - e) / den, 6)).as("ari"))
  }
}
