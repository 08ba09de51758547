package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Classifier-based quality filtering — the "train a small classifier,
  * score the corpus" step of large-scale training-data pipelines (the
  * GPT-3/LLaMA data recipe): logistic regression over cheap per-doc text
  * features, trained with FULL-BATCH gradient descent expressed as plain
  * DataFrame aggregations. No MLlib, no UDFs: each iteration is ONE
  * partial-combined aggregate over the corpus (map-side feature compute +
  * decimal-accumulated gradient sums), the driver holds only the weight
  * vector (|features| doubles), and scoring is a map-side projection
  * against the weights as plan literals.
  *
  * Determinism contract (the house rules): every per-doc gradient term is
  * cast to DECIMAL(38,6) before SUM, so partial-aggregation order can
  * never flip a bit; weights derive from those exact sums by scalar
  * double arithmetic replayed identically in the DuckDB oracle's unrolled
  * CTE chain (q91). A fixed iteration count and zero-initialized weights
  * make the whole training run engine-portable — the oracle re-trains and
  * must land on the same weights to the last rounded digit.
  *
  * 100 TB shape: batch GD is T corpus scans for T iterations — each scan
  * is embarrassingly parallel and shuffle-free (the aggregate moves
  * |features|+1 decimal partials per partition). That is the honest cost
  * of full-batch training; T is small (≤ ~20) because the feature space
  * is tiny and convex.
  */
object QualityClassifier {
  private val TextCol = "text"

  /** The feature vector: [bias, length score, punct ratio, stopword
    * ratio, English-profile hit ratio] — every component mirrors a
    * fragment already pinned by the q31/q32 oracles. */
  def features: Seq[Column] = {
    val text = col(TextCol)
    val toks = TextAnalysis.tokens(text)
    val enProfile = TextAnalysis.langProfiles.toMap.apply("en")
    val enRatio = when(size(toks) === 0, lit(0.0)).otherwise(
      size(filter(toks, t => array_contains(
        array(enProfile.map(lit): _*), lower(t)))).cast("double")
        / size(toks).cast("double"))
    Seq(
      lit(1.0),
      least(length(text).cast("double") / lit(500.0), lit(1.0)),
      TextAnalysis.punctRatio(text),
      TextAnalysis.stopwordRatio(text),
      enRatio)
  }

  /** σ(z) = 1/(1+e^{-z}) with the exact op order the oracle replays. */
  private def sigmoid(z: Column): Column =
    lit(1.0) / (lit(1.0) + exp(-z))

  private def dot(w: Array[Double], xs: Seq[Column]): Column =
    xs.zipWithIndex.map { case (x, j) => lit(w(j)) * x }
      .reduceLeft(_ + _)

  /** Full-batch GD training: returns the weight vector after `iters`
    * steps of w_j ← w_j − eta · (Σ x_j·(σ(w·x)−y)) / n, gradient sums
    * decimal-accumulated. `label` must be 0.0/1.0.
    *
    * The feature table is extracted ONCE and materialized — it is
    * |features|+1 doubles per doc, tiny next to the corpus — so each GD
    * iteration scans numbers, not text (unmaterialized, every iteration
    * re-runs the regex/tokenize feature projection over the corpus:
    * measured 26.7 → 3.0 s at sf0.1 for 32 iterations). */
  def trainLogReg(docs: DataFrame, label: Column,
                  iters: Int = 8): Array[Double] = {
    val eta: Double = 8.0
    val xs = features
    val base = Materializer.Local(
      docs.select((xs :+ label.cast("double").as("y"))
        .zipWithIndex.map { case (c, j) =>
          if (j < xs.size) c.as(s"x$j") else c }: _*))
    val n = base.count().toDouble
    val w = Array.fill(xs.size)(0.0)
    if (n == 0) return w
    for (_ <- 0 until iters) {
      val d = sigmoid(dot(w, xs.indices.map(j => col(s"x$j")))) - col("y")
      val gradRow = base.agg(
        sum((col("x0") * d).cast("decimal(38,6)")).cast("double"),
        xs.indices.drop(1).map(j =>
          sum((col(s"x$j") * d).cast("decimal(38,6)")).cast("double")): _*)
        .collect()(0)
      for (j <- xs.indices)
        w(j) = w(j) - eta * (gradRow.getDouble(j) / n)
    }
    w
  }

  /** Score every document against a trained weight vector: map-side
    * projection, weights as plan literals. Returns
    * (id, p quality probability, [extra...], pred); `extra` columns pass
    * through the projection (e.g. the ground-truth label for a gate). */
  def score(docs: DataFrame,
            w: Array[Double], extra: Seq[Column] = Nil): DataFrame = {
    val idCol = "doc_id"
    docs.select(Seq(col(idCol).as("id"),
      round(sigmoid(dot(w, features)), 6).as("p")) ++ extra: _*)
      .withColumn("pred", col("p") >= 0.5)
  }
}

/** Multinomial Naive Bayes over token counts, trained AND evaluated
  * in-query — the fastText-class text categorizer a data pipeline trains
  * on a labeled slice to route/filter the rest of the corpus (language,
  * domain, quality tier). Like [[QualityClassifier]], no MLlib and no
  * UDFs: training is counting (the one model family whose "fit" is
  * exactly one partial-combined aggregate), the model is a vocab-bounded
  * (token, per-class count) table plus k scalar priors, and scoring is a
  * token-keyed join + per-doc sum.
  *
  * Smoothing is add-1: p(t|c) = (count(c,t)+1) / (tokens(c)+V). The
  * per-doc log-likelihood telescopes into
  * `lnPrior(c) − n_tok·ln(tokens(c)+V) + Σ_t ln(count(c,t)+1)`, so
  * out-of-vocab tokens and zero-count (token, class) cells contribute
  * ln(1)=0 and the score needs ONLY the matched vocab rows — the inner
  * token join IS the whole scoring pass.
  *
  * Determinism contract: ln terms round(9) and accumulate in
  * DECIMAL(38,9) (partial-agg order can never flip a bit); the k scalar
  * constants are Math.log of exact integers rounded to 9 (the house
  * libm-ulp absorption); final scores round(6); argmax ties resolve to
  * the lexicographically smallest class via an explicit CASE chain —
  * never an engine-specific max_by.
  *
  * 100 TB shape: one (token → k counts) exchange bounded by the Zipf
  * vocabulary, one token-keyed scoring join (AQE skew-join handles the
  * head), one per-doc partial-combined sum; no window, no cross join,
  * driver holds 3k+2 scalars. Train/test assignment is the q63 md5
  * idiom — deterministic, retry- and engine-stable.
  */
object NaiveBayes {
  private val LabelCol = "lang"
  private val TextCol = "text"
  private val IdCol = "doc_id"

  /** The q63 deterministic split: first md5 hex char of the id below
    * 'c' ⇒ train (12/16 = 75%). */
  def isTrain(id: Column): Column =
    substring(md5(id.cast("string")), 1, 1) < lit("c")

  /** Train on the md5-split train slice of `docs` and return the test
    * slice's confusion matrix (actual, predicted, n, share-of-actual) —
    * the model-evaluation readout (q189's shape, but for a TRAINED
    * model rather than the fixed heuristic). Class labels are
    * discovered from the train slice (driver-bounded: k strings).
    *
    * The corpus is deliberately scanned per phase (train counts, test
    * scoring) — the whiten/heavyHitters multi-pass precedent: caching a
    * corpus-scale token explode would cost more than the second scan.
    * The vocab-bounded model table IS materialized: it feeds
    * both the V count (a driver action) and the scoring join. */
  def confusionMatrix(docs: DataFrame): DataFrame =
    confusionMatrixWithSplit(docs, isTrain(col(IdCol)))

  /** [[confusionMatrix]] with an arbitrary train-membership predicate —
    * the hook k-fold cross-validation plugs its fold complements into. */
  def confusionMatrixWithSplit(docs: DataFrame,
                               trainPred: Column): DataFrame = {
    val labelCol = "lang"
    val idCol = "doc_id"
    val textCol = "text"
    confusionMatrixFromBase(docs.select(col(idCol).as("nb_id"),
      col(labelCol).as("actual"),
      TextAnalysis.tokens(lower(col(textCol))).as("tk"),
      trainPred.as("is_train")))
  }

  /** [[confusionMatrixWithSplit]] over a pre-built
    * (nb_id, actual, tk, is_train) frame — the hook that lets k-fold
    * cross-validation tokenize the corpus ONCE per fold (or once total)
    * instead of once per phase per fold. */
  private[operators] def confusionMatrixFromBase(base: DataFrame): DataFrame = {
    val train = base.where(col("is_train"))

    // per-class scalars: doc count (prior) + token mass (denominator)
    val stats = train
      .groupBy(col("actual"))
      .agg(count(lit(1)).as("n_docs"), sum(size(col("tk"))).as("n_toks"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    require(stats.nonEmpty, "naive bayes: empty train slice")
    val labels = stats.map(_._1)
    val nDocs = stats.map(_._2).sum

    // the model: one vocab-bounded (token, c_0..c_{k-1}) aggregate
    val cntAggs = labels.zipWithIndex.map { case (l, i) =>
      sum(when(col("actual") === lit(l), 1L).otherwise(0L)).as(s"c_$i")
    }.toIndexedSeq
    val cnt = Materializer.Local(train
      .select(col("actual"), explode(col("tk")).as("token"))
      .groupBy(col("token"))
      .agg(cntAggs.head, cntAggs.tail: _*))
    val vocabV = cnt.count()

    def r9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val lnPrior = stats.map(s => r9(math.log(s._2.toDouble)
      - math.log(nDocs.toDouble)))
    val lnDenom = stats.map(s => r9(math.log((s._3 + vocabV).toDouble)))

    // scoring: matched-vocab ln sums per (doc, class), decimal-exact
    val test = base.where(!col("is_train"))
    val sumAggs = labels.indices.map { i =>
      sum(round(log(col(s"c_$i") + lit(1L)), 9).cast("decimal(38,9)"))
        .as(s"s_$i")
    }.toIndexedSeq
    val contrib = test
      .select(col("nb_id"), explode(col("tk")).as("token"))
      .join(cnt, Seq("token"))
      .groupBy(col("nb_id"))
      .agg(sumAggs.head, sumAggs.tail: _*)
    val scored = test
      .select(col("nb_id"), col("actual"), size(col("tk")).as("n_tok"))
      .join(contrib, Seq("nb_id"), "left")
      .select(Seq(col("actual")) ++ labels.indices.map { i =>
        round(lit(lnPrior(i))
          - col("n_tok").cast("double") * lit(lnDenom(i))
          + coalesce(col(s"s_$i").cast("double"), lit(0.0)), 6)
          .as(s"score_$i")
      }: _*)

    // argmax with the smallest-label tie: first score equal to the max
    val pred = if (labels.size == 1) lit(labels.head) else {
      val mx = greatest(labels.indices.map(i => col(s"score_$i")): _*)
      labels.indices.init.foldRight(lit(labels.last): Column) { (i, rest) =>
        when(col(s"score_$i") === mx, lit(labels(i))).otherwise(rest)
      }
    }
    val cm = scored.select(col("actual"), pred.as("predicted"))
      .groupBy(col("actual"), col("predicted"))
      .agg(count(lit(1)).as("n"))
    val tot = cm.groupBy(col("actual")).agg(sum(col("n")).as("n_actual"))
    cm.join(Hints.boundedBroadcast(tot, "label_domain"), Seq("actual"))
      .select(col("actual"), col("predicted"), col("n"),
        round(col("n").cast("double") / col("n_actual").cast("double"), 6)
          .as("share"))
      .orderBy(col("actual"), col("predicted"))
  }

  /** 4-fold cross-validated accuracy — the model-selection readout that
    * tells you whether q192's single-split number is split luck. Folds
    * are the q63 md5 hex quartiles ('0'–'3', '4'–'7', '8'–'b', 'c'–'f'),
    * so fold membership is deterministic, engine-portable, and disjoint
    * by construction; each fold trains on the other three (4 trainings,
    * each the one-aggregate NB fit). Returns
    * (fold, n_test, n_correct, accuracy). */
  def crossValAccuracy(docs: DataFrame): DataFrame = {
    // tokenize the corpus ONCE for all four folds: the lazy per-phase
    // formulation re-tokenized per reference — 4 references per fold x
    // 4 folds = 16 corpus tokenize passes for one fold-sized output.
    // The materialized frame is (id, label, tokens, fold hex) — the same
    // corpus-scale artifact the single-split path deliberately does NOT
    // cache; a 4-fold run amortizes it 16x, which flips that trade.
    val toked = Materializer.Local(docs.select(col(IdCol).as("nb_id"),
      col(LabelCol).as("actual"),
      TextAnalysis.tokens(lower(col(TextCol))).as("tk"),
      substring(md5(col(IdCol).cast("string")), 1, 1).as("fh")))
    val bounds = Seq(("0", "3"), ("4", "7"), ("8", "b"), ("c", "f"))
    bounds.zipWithIndex.map { case ((lo, hi), f) =>
      val isTest = col("fh") >= lit(lo) && col("fh") <= lit(hi)
      confusionMatrixFromBase(
          toked.select(col("nb_id"), col("actual"), col("tk"),
            (!isTest).as("is_train")))
        .agg(sum(col("n")).as("n_test"),
          sum(when(col("actual") === col("predicted"), col("n"))
            .otherwise(0L)).as("n_correct"))
        .select(lit(f).as("fold"), col("n_test"), col("n_correct"),
          round(col("n_correct").cast("double")
            / col("n_test").cast("double"), 6).as("accuracy"))
    }.reduce(_ unionAll _).orderBy(col("fold"))
  }
}
