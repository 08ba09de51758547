package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for the large-scale training-data pipeline:
  * tokenization, token counting, quality scoring, language ID, document
  * fingerprinting. All are narrow per-row projections built from codegen'd
  * built-ins / higher-order functions — no UDFs, no shuffles — so they
  * pipeline inside one stage over an arbitrarily large `documents` scan.
  *
  * These extend the reference's record-level transform pipeline
  * (reference: internal/service.go:72-119) into content analytics; each has
  * a DuckDB-oracle query in [[graft.SparkEntry]] where SQL-expressible.
  */
object TextAnalysis {
  private val Html = col("html")
  private val TextCol = "text"
  private val IdCol = "doc_id"
  private val GroupCol = "source"

  /** Whitespace tokens, empty tokens dropped (mirrors DuckDB
    * `list_filter(regexp_split_to_array(t,'\s+'), x -> x <> '')`). */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= lit(""))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword proxy: count of maximal runs of letters / digits /
    * single other non-space chars. Kept for model-free pipelines (q30
    * pins these semantics); with a trained merge table use the REAL
    * tokenizer overload below ([[graft.operators.Bpe]], q80). */
  def bpeTokenCount: Column = {
    val text = col("text")
    size(call_function("regexp_extract_all", text,
      lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
  }

  /** Real BPE token count under a trained merge table (the
    * [[graft.operators.Bpe]] native tokenizer). */
  def bpeTokenCount(text: Column, merges: Seq[(String, String)]): Column =
    Bpe.tokenCount(text, merges)

  /** Small multilingual stopword profiles for the n-gram/stopword language
    * heuristic. Deterministic and tiny by design (a literal array per
    * language — broadcast-free, constant-folded). */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "est", "que"))

  /** Score for one language = number of tokens present in its profile. */
  def langScore(toks: Column, profile: Seq[String]): Column =
    size(filter(toks, t => array_contains(
      array(profile.map(lit): _*), lower(t))))

  /** Heuristic language ID: argmax over profile scores, ties broken by
    * language code ascending, all-zero scores -> 'und'. */
  def langId: Column = {
    val text = col("text")
    val toks = tokens(text)
    // struct sort: (-score, lang) ascending => best first
    val scored = array(langProfiles.map { case (lang, prof) =>
      struct((-langScore(toks, prof)).as("neg"), lit(lang).as("lang"))
    }: _*)
    val best = array_min(scored)
    when(best.getField("neg") === 0, lit("und"))
      .otherwise(best.getField("lang"))
  }

  private val punctPattern = "[^.,;:!?'\"()-]"

  /** Quality statistics: word count, mean word length, stopword ratio,
    * punctuation ratio — exact integer components, double ratios. */
  def wordCount: Column = {
    val text = col("text")
    tokenCount(text)
  }

  def meanWordLen: Column = {
    val text = col("text")
    val toks = tokens(text)
    when(size(toks) === 0, lit(0.0)).otherwise(
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double")
        / size(toks).cast("double"))
  }

  def stopwordRatio(text: Column): Column = {
    val toks = tokens(text)
    val allStops = langProfiles.flatMap(_._2).distinct.sorted
    when(size(toks) === 0, lit(0.0)).otherwise(
      size(filter(toks, t => array_contains(
        array(allStops.map(lit): _*), lower(t)))).cast("double")
        / size(toks).cast("double"))
  }

  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      length(regexp_replace(text, punctPattern, "")).cast("double")
        / length(text).cast("double"))

  /** Composite quality score in [0,1]: rewards mid-length docs with low
    * punctuation noise and a sane stopword share. Same arithmetic shape on
    * both engines -> bitwise-stable doubles. */
  def qualityScore: Column = {
    val text = col("text")
    val lenScore = least(length(text).cast("double") / lit(500.0), lit(1.0))
    val punct = punctRatio(text)
    val stop = stopwordRatio(text)
    round(lenScore * (lit(1.0) - punct) * (lit(0.5) + stop / lit(2.0)), 6)
  }

  /** Rolling polynomial document fingerprint over the token stream:
    * h = fold(tokens, 0, (h, t) -> (h*131 + tokHash(t)) mod 1e9+7) with a
    * per-token hash from length/first/last code points. Left-fold order is
    * identical in Spark `aggregate` and DuckDB `list_reduce`, making it
    * oracle-checkable, unlike engine-private hash64s. */
  def fingerprint: Column = {
    val text = col("text")
    val p = lit(1000000007L)
    val toks = tokens(text)
    val tokHash = (t: Column) =>
      length(t).cast("long") * 31L + ascii(t).cast("long") * 7L +
        ascii(reverse(t)).cast("long")
    aggregate(toks, lit(0L), (h, t) => (h * 131L + tokHash(t)) % p)
  }

  /** Text normalization for dedup/training pipelines: lowercase, strip
    * punctuation to spaces, collapse whitespace runs, trim. Pure codegen'd
    * regexp chain — engine-portable (DuckDB regexp_replace with 'g'). */
  def normalize: Column = {
    val text = col("text")
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9\\s]", " "), "\\s+", " "))
  }

  /** Word n-gram shingles as space-joined strings, for MinHash / Jaccard.
    * One native pass per row (the HOF formulation re-evaluates the token
    * split per shingle, which is quadratic per row). */
  def shingles(text: Column, n: Int): Column =
    graft.functions.GraftFunctions.word_shingles(tokens(text), n)

  // PII patterns chosen to behave identically under Java regex (Spark) and
  // RE2 (DuckDB): plain character classes, bounded repetition, \b anchors.
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern =
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val SsnPattern = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"

  /** PII redaction for training corpora: emails, IPv4 addresses and
    * SSN-shaped numbers replaced with typed tags. Pure codegen'd
    * regexp_replace chain, one pass per row, no shuffle. Redaction order
    * matters (emails first, so an address inside a mailto URL is tagged
    * before the IP pass sees it) — the oracle applies the same order. */
  def redactPii: Column = {
    val text = col("text")
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "<EMAIL>"),
        Ipv4Pattern, "<IP>"),
      SsnPattern, "<SSN>")
  }

  /** Count of PII matches by class (before redaction). */
  def piiCounts: Column = {
    val text = col("text")
    struct(
    size(call_function("regexp_extract_all", text, lit(EmailPattern),
      lit(0))).as("n_email"),
    size(call_function("regexp_extract_all", text, lit(Ipv4Pattern),
      lit(0))).as("n_ip"),
    size(call_function("regexp_extract_all", text, lit(SsnPattern),
      lit(0))).as("n_ssn"))
  }

  /** Repetition signals (Gopher-style quality rules): the fraction of
    * duplicated word n-grams in a document — high values indicate
    * boilerplate/spam. dup_frac_n = 1 - distinct_ngrams / total_ngrams
    * (0.0 for docs too short to form an n-gram). Map-side only. */
  def dupNgramFrac(n: Int): Column = {
    val text = col("text")
    val sh = shingles(text, n)
    val total = size(sh).cast("double")
    when(total <= 0, lit(0.0)).otherwise(
      round(lit(1.0) - size(array_distinct(sh)).cast("double") / total, 6))
  }

  /** Benchmark decontamination: for every corpus document, the number of
    * distinct word n-grams it shares with an evaluation set — the overlap
    * check run before training to drop eval-contaminated documents.
    * Returns (id, n_overlap) for contaminated docs only (overlap > 0),
    * eval documents excluded from the corpus side by an anti-join on id.
    *
    * Scale shape: the eval set is small by definition, so its distinct
    * shingle set broadcasts; the corpus side is explode -> broadcast hash
    * join -> partial-combined count — map-side work only, no corpus
    * shuffle beyond the per-doc count. */
  def contaminationOverlap(corpus: DataFrame, evalDocs: DataFrame)
      : DataFrame = {
    val n = 5
    // explode_outer: shingles() is never empty, and plain explode makes
    // Catalyst infer a size()>0 predicate that re-evaluates the shingle
    // expression a second time per row
    val evalShingles = evalDocs
      .select(explode_outer(array_distinct(shingles(col(TextCol), n)))
        .as("sh"))
      .distinct()
    corpus
      .join(evalDocs.select(col(IdCol)), Seq(IdCol), "left_anti")
      .select(col(IdCol).as("id"),
        explode_outer(array_distinct(shingles(col(TextCol), n))).as("sh"))
      .join(Hints.boundedBroadcast(evalShingles, "eval_set_contract"),
        Seq("sh"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_overlap"))
  }

  /** RAKE keyword extraction (Rose et al. 2010): each document's top
    * keyphrase. Candidate phrases are the maximal stopword-free token
    * runs (≤ 4 words); each word scores degree/frequency over the
    * doc's phrase occurrences (degree = Σ phrase lengths it appears
    * in, frequency = occurrence count); a phrase scores the sum of its
    * word scores; the (score desc, phrase asc) winner per doc is
    * emitted. The doc-level metadata-enrichment complement of q155's
    * corpus-level c-TF-IDF naming. Returns (idCol, phrase, score),
    * word scores round(9), phrase scores round(6).
    *
    * Scale shape: phrase splitting is a pure string projection (tokens
    * → stopwords replaced by a delimiter → re-split; the identical
    * rebuild runs in the oracle); every aggregate and the final rank
    * window key on the DOC id, so state is doc-bounded and the corpus
    * shuffles (doc, word)/(doc, phrase) rows only. */
  def rakeKeywords(docs: DataFrame)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stop = langProfiles.flatMap(_._2).toSeq.distinct
    val marked = concat_ws(" ",
      transform(tokens(lower(col(TextCol))),
        t => when(array_contains(array(stop.map(lit): _*), t), lit("|"))
          .otherwise(t)))
    val phrases = docs.select(col(IdCol).as("id"),
      explode_outer(filter(
        transform(split(marked, " *\\| *"), x => trim(x)),
        x => x =!= lit(""))).as("phrase"))
      .filter(size(split(col("phrase"), " ")) <= 4)
    // pinned: phrase occurrences feed the word stats AND the distinct
    // phrase set
    val ph = Materializer.Local(phrases)
    val pw = ph.select(col("id"), col("phrase"),
      size(split(col("phrase"), " ")).as("plen"),
      explode(split(col("phrase"), " ")).as("word"))
    val ws = pw.groupBy(col("id"), col("word"))
      .agg(round(sum(col("plen")).cast("double")
        / count(lit(1)).cast("double"), 9).as("wscore"))
    // identical phrase strings score identically: score the DISTINCT
    // phrase set (word multiplicity within a phrase still counts)
    val pd = ph.select(col("id"), col("phrase")).distinct()
      .select(col("id"), col("phrase"),
        explode(split(col("phrase"), " ")).as("word"))
    val ps = pd.join(ws, Seq("id", "word"))
      .groupBy(col("id"), col("phrase"))
      .agg(round(sum(col("wscore").cast("decimal(18,9)")).cast("double"),
        6).as("score"))
    ps.withColumn("rk", row_number().over(
        Window.partitionBy(col("id"))
          .orderBy(col("score").desc, col("phrase").asc)))
      .filter(col("rk") === 1)
      .select(col("id").as(IdCol), col("phrase"), col("score"))
  }

  /** Vocabulary-growth curve (the Heaps'-law diagnostic): per ingest
    * batch, token volume, NEW types (tokens first seen in that batch),
    * the cumulative vocabulary, and the running type-token ratio — the
    * "is this corpus still adding content or just repeating itself"
    * readout a crawl pipeline tracks per snapshot. Batches derive
    * deterministically from the id: `b = floor(batches·id/(max+1))`.
    * Returns (batch, n_tokens, new_types, vocab_cum, ttr) per batch,
    * ttr round(6).
    *
    * Scale shape: the corpus explodes once to (token, batch) and
    * partial-combines twice — min-batch per type (the first-seen
    * reduction; the vocab table is Heaps-bounded) and token counts per
    * batch; everything after runs on the `batches`-row table. */
  def vocabGrowth(docs: DataFrame, batches: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(batches >= 2)
    val mx = docs.agg(max(col(IdCol)).as("mx"))
    // pinned: the (token, batch) explode feeds both reductions.
    // INTEGER division (div), not floor-of-double: an id past 2^53
    // would misround the double quotient, engine-specifically
    val tb = Materializer.Local(docs.crossJoin(broadcast(mx))
      .select(expr(s"CAST(($batches * $IdCol) div (mx + 1) AS INT)")
        .as("batch"),
        explode_outer(tokens(col(TextCol))).as("token")))
    val vol = tb.groupBy(col("batch")).agg(count(lit(1)).as("n_tokens"))
    val nw = tb.groupBy(col("token")).agg(min(col("batch")).as("batch"))
      .groupBy(col("batch")).agg(count(lit(1)).as("new_types"))
    val w = Window.orderBy(col("batch"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vol.join(nw, Seq("batch"), "left")
      .select(col("batch"), col("n_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .withColumn("vocab_cum", sum(col("new_types")).over(w))
      .withColumn("tok_cum", sum(col("n_tokens")).over(w))
      .select(col("batch"), col("n_tokens"), col("new_types"),
        col("vocab_cum"),
        round(col("vocab_cum").cast("double")
          / col("tok_cum").cast("double"), 6).as("ttr"))
  }

  /** Zipf rank-frequency fit: least-squares slope/intercept of
    * ln(freq) against ln(rank) over the corpus vocabulary — natural
    * text sits near slope −1; a corpus of templates or ID strings does
    * not, making the slope a cheap corpus-health scalar. Rank is the
    * deterministic (freq desc, token asc) order. Returns one row
    * (n_types, slope, intercept), round(6).
    *
    * Scale shape: one (token, count) partial-combined exchange builds
    * the Heaps-bounded vocab table; the rank window and the 5 DECIMAL
    * regression sums (ln terms round(9)) run over that table, never
    * the corpus. */
  def zipfFit(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vocab = Materializer.Local(docs
      .select(explode_outer(tokens(col(TextCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c")))
    val ranked = vocab
      .withColumn("rk", row_number().over(
        Window.orderBy(col("c").desc, col("token").asc)))
      .select(
        // DECIMAL(18,9): the (18,9)x(18,9) product is (37,18) — exact,
        // below the 38 cap, so neither engine's precision-loss rules
        // fire (a (38,9) product WOULD truncate, engine-specifically)
        round(log(col("rk").cast("double")), 9).cast("decimal(18,9)")
          .as("x"),
        round(log(col("c").cast("double")), 9).cast("decimal(18,9)")
          .as("y"))
    val sums = ranked.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
    sums.select(col("n").as("n_types"),
        ((col("n").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
          / (col("n").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double")))
          .as("m"),
        col("sx"), col("sy"))
      .select(col("n_types"), round(col("m"), 6).as("slope"),
        round((col("sy").cast("double") - col("m")
          * col("sx").cast("double")) / col("n_types").cast("double"), 6)
          .as("intercept"))
  }

  /** Per-doc n-gram NOVELTY against a reference slice: the fraction of
    * a document's distinct word n-grams that the reference corpus has
    * never seen — the diversity-aware sampling signal ("prefer docs
    * that add new content") that is the per-doc ratio complement of
    * [[contaminationOverlap]]'s absolute counts. Returns
    * (id, n_sh, n_known, novelty) for every non-reference doc,
    * novelty = 1 − n_known/n_sh round(6).
    *
    * Scale shape: same as [[contaminationOverlap]] except the reference
    * side is a corpus SLICE, not a small eval set — its distinct
    * shingles grow with the slice (Heaps' law), so the shingle-keyed
    * left join is UNHINTED (AQE broadcasts a genuinely small reference,
    * a shuffle join carries a big one); swap in the
    * [[contaminationOverlapBloom]] prefilter when even the shuffle is
    * too wide. */
  def noveltyVsReference(corpus: DataFrame, ref: DataFrame)
      : DataFrame = {
    val n = 3
    val refShingles = ref
      .select(explode_outer(array_distinct(shingles(col(TextCol), n)))
        .as("sh"))
      .distinct()
      .withColumn("known", lit(1L))
    corpus
      .select(col(IdCol).as("id"),
        explode_outer(array_distinct(shingles(col(TextCol), n))).as("sh"))
      .join(refShingles, Seq("sh"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_sh"),
        sum(coalesce(col("known"), lit(0L))).as("n_known"))
      .select(col("id"), col("n_sh"), col("n_known"),
        round(lit(1.0) - col("n_known").cast("double")
          / col("n_sh").cast("double"), 6).as("novelty"))
  }

  /** [[contaminationOverlap]] for eval sets too big to broadcast
    * exactly: the eval shingle set is folded DISTRIBUTEDLY into a bloom
    * filter (Spark's own `BloomFilterAggregate` — one binary scalar
    * reaches the driver, never the shingles), the corpus's exploded
    * shingles take a map-side `might_contain` probe (drops ~everything;
    * false-positive rate is the bits/items trade), and only the
    * surviving sliver pays a SHUFFLE equi-join against the eval
    * shingles for exactness. No false negatives in a bloom + exact
    * verify on survivors ⇒ the result is IDENTICAL to
    * [[contaminationOverlap]] (same oracle), but nothing is broadcast
    * and the only corpus-wide shuffle carries the post-bloom sliver.
    * This mirrors Spark's InjectRuntimeFilter join-pruning machinery,
    * applied at the operator level. */
  def contaminationOverlapBloom(corpus: DataFrame, evalDocs: DataFrame)
      : DataFrame = {
    val n = 5
    val expectedItems = 1L << 20
    val numBits = 1L << 23
    val evalShingles = evalDocs
      .select(explode_outer(array_distinct(shingles(col(TextCol), n)))
        .as("sh"))
      .distinct()
    val bloomRow = evalShingles
      .agg(graft.functions.GraftFunctions.bloom_agg(xxhash64(col("sh")),
        expectedItems, numBits)).collect()(0)
    val corpusShingles = corpus
      .join(evalDocs.select(col(IdCol)), Seq(IdCol), "left_anti")
      .select(col(IdCol).as("id"),
        explode_outer(array_distinct(shingles(col(TextCol), n))).as("sh"))
    // empty eval set -> null filter -> exact result is empty either way
    if (bloomRow.isNullAt(0))
      return corpusShingles.groupBy(col("id"))
        .agg(count(lit(1)).as("n_overlap")).limit(0)
    val bloom = bloomRow.getAs[Array[Byte]](0)
    corpusShingles
      .filter(graft.functions.GraftFunctions.bloom_might_contain(lit(bloom),
        xxhash64(col("sh"))))
      .join(evalShingles, Seq("sh"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_overlap"))
  }

  /** CCNet/RefinedWeb-style boilerplate signal: a word n-gram passage that
    * occurs in at least `minDf` DISTINCT documents is corpus boilerplate
    * (nav bars, license footers, templated spam); each document reports how
    * much of it is made of such passages. Returns
    * (doc_id, n_shingles, n_frequent, bp_frac) per document, where
    * n_shingles counts the doc's distinct n-grams and bp_frac =
    * n_frequent / n_shingles rounded to 6.
    *
    * Scale shape: the only corpus-wide shuffle is the document-frequency
    * aggregate, and it moves partially-combined (shingle, count) pairs —
    * never documents. The frequent set it yields is the HEAD of a Zipf
    * distribution cut at `minDf`, small by construction, so it broadcasts
    * and the per-doc count is a map-side broadcast join + partial count.
    * The corpus is shingled twice (once per pass) — shingling is a narrow
    * codegen'd projection, which at 100 TB is cheaper than materializing
    * the exploded (doc, shingle) set the two passes share. Shingles
    * are word 3-grams, keyed by the passage string itself (the
    * engine-portable form the oracle replays). */
  def boilerplateStats(docs: DataFrame, minDf: Long = 5): DataFrame = {
    val n = 3
    // generators can't nest inside expressions: explode, then rename
    val ex = docs
      .select(col(IdCol).as("doc_id"),
        explode_outer(array_distinct(shingles(col(TextCol), n))).as("sh0"))
      .select(col("doc_id"), col("sh0").as("sh"))
    val frequent = ex.groupBy(col("sh"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("sh"), lit(1).as("is_freq"))
    // UNHINTED: `frequent` is a corpus-derived shingle set (df >= minDf)
    // whose size grows with the corpus — forcing a broadcast would
    // bypass Spark's size check at 100 TB and OOM instead of falling
    // back to the shuffled join both sides are already keyed for. AQE
    // still broadcasts when the frequent set is genuinely small.
    ex.join(frequent, Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("is_freq"), lit(0))).cast("long").as("n_frequent"))
      .select(col("doc_id"), col("n_shingles"), col("n_frequent"),
        round(col("n_frequent").cast("double")
          / col("n_shingles").cast("double"), 6).as("bp_frac"))
  }

  /** Per-document top-`topN` TF-IDF terms — the relevance/keyword signal a
    * corpus-quality pipeline attaches to every document. tf is the in-doc
    * term count, df the number of documents containing the term, and
    * tfidf = tf * ln(nDocs / df).
    *
    * Ranking is over the INTEGER key (tf desc, df asc, term asc) — "most
    * frequent here, rarest corpus-wide" — rather than the double tfidf:
    * ln() may differ by an ulp between engines, and a rank must never hang
    * on the last bit of a double. The tfidf value itself is reported
    * rounded to 6, where an ulp cannot show.
    *
    * Scale shape: per-doc term counts partially combine map-side; the df
    * table is vocabulary-sized, so it joins back on the term key as a
    * shuffle join (head terms like "the" are Zipf-skewed — AQE skew-join
    * splits them; [[Skew.saltedJoin]] is the deterministic fallback). The
    * top-N window partitions by doc_id: per-partition state is one
    * document's vocabulary, bounded by doc length. The per-doc
    * term counts are pinned so the df aggregate and the join-back don't
    * recompute the tokenize+count subtree twice. */
  def tfidfTopTerms(docs: DataFrame, topN: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topN > 0)
    val nDocs = docs.count()
    if (nDocs == 0L)
      return docs.select(col(IdCol).as("doc_id"), lit("").as("term"),
        lit(0L).as("tf"), lit(0L).as("df"), lit(0.0).as("tfidf"),
        lit(0).as("rk")).limit(0)
    val terms = Materializer.Local(docs
      .select(col(IdCol).as("doc_id"),
        explode_outer(tokens(col(TextCol))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf")))
    val dfTab = terms.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    terms.join(dfTab, Seq("term"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topN)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        round(col("tf").cast("double") *
          log(lit(nDocs.toDouble) / col("df").cast("double")), 6)
          .as("tfidf"),
        col("rk").cast("int").as("rk"))
  }

  /** Unigram language-model surprisal — the perplexity-proxy quality
    * signal (CCNet-style): score(doc) = mean over tokens of
    * -ln p(token), with p from the corpus's own unigram counts. Gibberish
    * and rare-token spam score high; formulaic boilerplate scores low.
    * Returns (doc_id, n_tokens, surprisal) with surprisal rounded to 6.
    *
    * Cross-engine determinism: the per-term contributions
    * tf · ln(N / count) are doubles, so the per-doc SUM is made
    * order-independent by accumulating in DECIMAL(38,6) (the house dsum
    * rule) before the final divide — partial-aggregation order can never
    * flip a bit. Scale shape mirrors [[tfidfTopTerms]]: per-doc tf
    * partial-combines, the corpus frequency table joins back on the term
    * key (Zipf head → AQE skew-join), and the only driver-side scalar is
    * the total token count. The per-doc term counts are pinned so the
    * frequency aggregate and the join-back share one computation. */
  def unigramSurprisal(docs: DataFrame)
      : DataFrame = {
    val terms = Materializer.Local(docs
      .select(col(IdCol).as("doc_id"),
        explode_outer(tokens(col(TextCol))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf")))
    val freq = terms.groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
    val nTotRow = terms.agg(sum(col("tf"))).collect()(0)
    val nTot: Double =
      if (nTotRow.isNullAt(0)) 0.0 else nTotRow.getLong(0).toDouble
    if (nTot == 0.0)
      return docs.select(col(IdCol).as("doc_id"), lit(0L).as("n_tokens"),
        lit(0.0).as("surprisal")).limit(0)
    terms.join(freq, Seq("term"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("long").as("n_tokens"),
        round(
          sum((col("tf").cast("double") *
            log(lit(nTot) / col("cnt").cast("double")))
            .cast("decimal(38,6)")).cast("double")
            / sum(col("tf")).cast("double"), 6).as("surprisal"))
  }

  /** Sequence packing (pretraining concat-and-chunk): documents are
    * concatenated in `idCol` order and chunked every `seqLen` tokens; each
    * doc is assigned the pack its first token lands in
    * (`pack_id = start_offset / seqLen`, integer division over the running
    * token prefix sum).
    *
    * The prefix sum is the scale-critical part: a bare
    * `Window.orderBy(id)` has no partition key, so Spark funnels the whole
    * corpus through ONE task — correct at sf0.1, dead at 100 TB. Instead,
    * the classic two-phase distributed prefix sum: contiguous id-range
    * buckets get a windowed cumsum in parallel, bucket TOTALS (one row per
    * bucket) are prefix-summed and broadcast back, and each doc's global
    * offset is `bucketOffset + withinBucketCum - tok`. The only full
    * shuffle keys on `bucket` — `nBuckets` parallel window partitions —
    * and the driver handles `nBuckets` scalars, never rows.
    *
    * Bucket boundaries are QUANTILES of the id distribution, not uniform
    * id-range spans: snowflake-style ids clustered in a narrow band of a
    * huge range would collapse uniform spans into one giant bucket — one
    * window partition, the exact single-task funnel this design exists to
    * avoid. Boundaries come from the same tiny driver-side pass
    * (`percentile_approx`), and the packing output is provably invariant
    * to where the boundaries fall: any monotone contiguous id-range
    * partition produces the same global prefix sum.
    *
    * Returns (id, n_tokens, pack_id). Deterministic integer math, so any
    * engine ordering by the same id agrees exactly (oracle-checkable). */
  /** One tiny driver-side pass: corpus row count + the quantile bucket
    * boundaries for [[packSequences]] (sorted, deduped — heavy id skew
    * merges boundaries rather than emptying buckets). `private[graft]` so
    * the balance property is testable directly. */
  private[graft] def packBounds(docs: DataFrame,
                                nBuckets: Int): (Long, Array[Long]) = {
    val idCol = "doc_id"
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets)
    val aggRow = docs.agg(count(lit(1)),
      percentile_approx(col(idCol).cast("long"),
        typedlit(if (probs.isEmpty) Seq(0.5) else probs),
        lit(10000))).collect()(0)
    val n = aggRow.getLong(0)
    val bounds: Array[Long] =
      if (probs.isEmpty || n == 0L) Array.empty
      else aggRow.getSeq[Long](1).toArray.distinct.sorted
    (n, bounds)
  }

  def packSequences(docs: DataFrame,
                    seqLen: Int, nBuckets: Int = 64,
                    counter: Option[Column] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(seqLen > 0 && nBuckets > 0)
    val (nRows, bounds) = packBounds(docs, nBuckets)
    if (nRows == 0L) // empty corpus -> empty packing
      return docs.select(col(IdCol).as("id"), lit(0L).as("n_tokens"),
        lit(0L).as("pack_id")).limit(0)
    // bucket = #boundaries at or below id — a contiguous monotone id-range
    // partition whatever the id distribution; ~nBuckets/2 long compares
    // per row, cheap next to tokenCount
    val bucketOf: Column =
      if (bounds.isEmpty) lit(0L)
      else aggregate(typedlit(bounds.toSeq), lit(0L),
        (acc, b) => acc + when(col("id") >= b, 1L).otherwise(0L))
    // the pack currency defaults to whitespace tokens; a caller can swap
    // in any per-doc counter (e.g. real BPE token counts — q99) without
    // touching the prefix-sum machinery
    val toks = docs.select(col(IdCol).cast("long").as("id"),
        counter.getOrElse(tokenCount(col(TextCol)))
          .cast("long").as("n_tokens"))
      .withColumn("bucket", bucketOf)
    // phase 1: per-bucket totals, prefix-summed driver-side (tiny)
    val totals = toks.groupBy(col("bucket")).agg(sum(col("n_tokens")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = totals.scanLeft((Long.MinValue, 0L)) {
      case ((_, acc), (b, t)) => (b, acc + t)
    }.sliding(2).map { case Array((_, prev), (b, _)) => (b, prev) }
      .toMap
    val offCol = coalesce(element_at(
      map(offsets.toSeq.sortBy(_._1).flatMap { case (b, o) =>
        Seq(lit(b), lit(o)) }: _*), col("bucket")), lit(0L))
    // phase 2: parallel within-bucket cumsum; global offset = bucket prefix
    val w = Window.partitionBy(col("bucket")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks
      .withColumn("cum", sum(col("n_tokens")).over(w) + offCol)
      .select(col("id"), col("n_tokens"),
        expr(s"(cum - n_tokens) div ${seqLen}L").as("pack_id"))
  }

  /** Exact substring-level (span) deduplication — the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better" operator
    * class, at word-token granularity: any `n`-token span occurring at
    * least `minOcc` times in the corpus (across OR within documents) is a
    * duplicated span; every occurrence except the canonical first one
    * (min doc id, then min position) is cut from its document. Returns,
    * for AFFECTED documents only (untouched docs pass through a real
    * pipeline unmodified — and unscanned in the rewrite phase):
    * (doc_id, n_cut_spans, n_tokens_cut, spans_str, clean_text), where
    * spans_str lists the merged cut intervals "start:end" (0-based token
    * positions, inclusive) and clean_text is the document with cut tokens
    * removed.
    *
    * Semantics pinned down: (1) occurrence counting is positional —
    * a span repeated inside one document counts every occurrence;
    * (2) overlapping/adjacent cut occurrences merge into maximal
    * intervals before counting/cutting (gaps-and-islands), so
    * n_cut_spans counts maximal runs; (3) the keeper occurrence's tokens
    * survive only if no OTHER cut interval covers them (interval merge
    * runs after keeper exclusion, per document).
    *
    * Scale shape (the whole point at 100 TB): the corpus-wide work is one
    * partial-combined (shingle, count) aggregate — the q71 skeleton — and
    * the duplicated-span set is the Zipf head above `minOcc`, orders of
    * magnitude smaller than the corpus. The keeper argmin is two narrow
    * aggregates on the span key (no per-span window — a hyper-frequent
    * span would funnel one task). Interval merge windows partition by
    * doc_id with per-partition state bounded by a document's own cut
    * count, and the text rewrite — the only per-token work — runs ONLY
    * over affected documents, as a map-side HOF filter against each
    * document's own (tiny) merged span list. No token-level corpus
    * explode, no cartesian anything. Spans are keyed by the n-word
    * passage string itself (the engine-portable form the oracle
    * replays); a span must occur at least twice to be cut. */
  def spanDedup(docs: DataFrame, n: Int = 6): DataFrame = {
    val minOcc = 2
    import org.apache.spark.sql.expressions.Window
    require(n > 0)
    // positional span occurrences: (doc_id, pos, span, doc token count);
    // word_shingles emits the whole short doc as its single "span" for
    // len < n, and the interval end below clamps to the doc's last token
    // either way. n_toks rides along so the interval step needs NO
    // corpus-wide length join later (only cut occurrences — a tiny set —
    // ever carry it through a shuffle), and it is computed in the
    // projection BELOW the generate: an expression alongside posexplode
    // lands in the Project ABOVE the Generate, re-evaluated once per
    // exploded row — O(len²) per doc (measured 2.5x on this query).
    val occ = Materializer.Local(docs
      .select(col(IdCol).as("doc_id"),
        tokenCount(col(TextCol)).cast("long").as("n_toks"),
        col(TextCol).as("sd_text"))
      .select(col("doc_id"), col("n_toks"),
        posexplode_outer(shingles(col("sd_text"), n))
          .as(Seq("pos", "sh0")))
      .select(col("doc_id"), col("n_toks"), col("pos"),
        col("sh0").as("sh")))
    val freq = occ.groupBy(col("sh"))
      .agg(count(lit(1)).as("occ_cnt"))
      .filter(col("occ_cnt") >= minOcc)
      .select(col("sh"))
    // flagged = occurrences of duplicated spans. The join is UNHINTED:
    // the duplicated-span set is orders of magnitude smaller than the
    // corpus but still GROWS with it (any fixed-occurrence cut of a
    // Zipf distribution does), so a forced broadcast would bypass
    // Spark's size check at 100 TB and OOM instead of falling back.
    // Both sides are keyed on sh; AQE still broadcasts a genuinely
    // small span set at runtime.
    val flagged = Materializer.Local(occ.join(freq, Seq("sh")))
    // canonical keeper per span, via two partial-combined argmin steps
    // (min doc, then min pos within it) instead of a per-span window
    val kDoc = flagged.groupBy(col("sh")).agg(min(col("doc_id")).as("k_doc"))
    val kPos = flagged.join(kDoc, Seq("sh"))
      .filter(col("doc_id") === col("k_doc"))
      .groupBy(col("sh"), col("k_doc")).agg(min(col("pos")).as("k_pos"))
    val cut = flagged.join(kPos, Seq("sh"))
      .filter(!(col("doc_id") === col("k_doc") &&
        col("pos") === col("k_pos")))
      .select(col("doc_id"), col("pos"), col("n_toks")).distinct()
    // cut intervals [pos, min(pos+n-1, len-1)], merged per doc
    // (gaps-and-islands: a new island starts when pos clears the running
    // max end by more than 1 — overlapping AND adjacent runs merge)
    val iv = cut
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        least(col("pos") + lit(n - 1), col("n_toks") - 1).as("iend"))
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val spans = iv
      .withColumn("prev_end", max(col("iend")).over(wPrev))
      .withColumn("brk",
        when(col("prev_end").isNull ||
          col("pos") > col("prev_end") + 1, 1L).otherwise(0L))
      .withColumn("grp", sum(col("brk")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("s"), max(col("iend")).as("e"))
    val perDoc = spans.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_cut_spans"),
      sum(col("e") - col("s") + 1).cast("long").as("n_tokens_cut"),
      array_sort(collect_list(struct(col("s"), col("e")))).as("sps"))
    // rewrite ONLY affected docs: HOF filter of the token array against
    // the doc's own merged span list (map-side; O(len * n_spans) per doc)
    docs.join(perDoc.withColumnRenamed("doc_id", "pd_id"),
        col(IdCol) === col("pd_id"))
      .select(col("pd_id").as("doc_id"), col("n_cut_spans"),
        col("n_tokens_cut"),
        array_join(transform(col("sps"), sp => concat_ws(":",
          sp.getField("s").cast("string"), sp.getField("e").cast("string"))),
          ",").as("spans_str"),
        array_join(filter(tokens(col(TextCol)), (t, i) =>
          !exists(col("sps"), sp =>
            i.cast("long") >= sp.getField("s") &&
              i.cast("long") <= sp.getField("e"))), " ").as("clean_text"))
  }

  /** Overlapping token-window chunking (RAG / context-window prep):
    * windows of `chunkLen` whitespace tokens starting every `stride`
    * tokens (`stride < chunkLen` ⇒ `chunkLen - stride` tokens of
    * overlap). The last window may be short; a doc shorter than one
    * window yields a single short chunk; an empty doc yields none.
    *
    * Scale shape: split → per-doc start sequence → explode → slice is
    * entirely map-side — ZERO shuffles; the chunk table inherits the
    * corpus scan's partitioning, so chunk-then-embed pipelines (chunks
    * feeding [[graft.operators.Similarity]]) start from a narrow
    * lineage. The start sequence is computed once per doc BELOW the
    * generate (the q79 generate-projection lesson: expressions placed
    * alongside a posexplode re-evaluate per emitted row).
    *
    * Returns (doc_id, chunk_id, n_tokens, chunk_text). Deterministic
    * integer windowing over the shared token definition — the DuckDB
    * oracle replays it exactly (q86). */
  def chunkDocuments(docs: DataFrame,
                     chunkLen: Int = 64, stride: Int = 48): DataFrame = {
    require(chunkLen > 0 && stride > 0)
    docs
      .select(col(IdCol).as("doc_id"), tokens(col(TextCol)).as("tk"))
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(0),
          greatest(size(col("tk")) - 1, lit(0)), lit(stride))).as("start"))
      .filter(col("start") < size(col("tk")))
      .select(col("doc_id"),
        (col("start") / lit(stride)).cast("long").as("chunk_id"),
        least(lit(chunkLen), size(col("tk")) - col("start"))
          .cast("long").as("n_tokens"),
        array_join(slice(col("tk"), col("start") + 1, lit(chunkLen)), " ")
          .as("chunk_text"))
  }

  /** Per-document bigram-LM surprisal under add-α smoothing — the
    * stronger cousin of [[unigramSurprisal]] (fluency, not just rarity):
    * p(w₂|w₁) = (c(w₁,w₂)+α) / (c(w₁)+α·V) with corpus-trained bigram
    * counts and V = |unigram vocabulary|; per-doc surprisal =
    * −Σ tf·ln p / Σ tf over its bigrams. Docs with < 2 tokens emit
    * (0, 0.0).
    *
    * Scale shape mirrors [[unigramSurprisal]]: per-doc bigram tf
    * partial-combines once ([[Materializer]]-pinned so the two global
    * count tables and the join-back share it); c₂/c₁ join back on the
    * bigram/first-token keys (Zipf head → AQE skew-join); the driver
    * holds two scalars (V, nothing else). The per-doc ln-sum
    * accumulates in DECIMAL(38,6) (house dsum rule) so partial-agg
    * order can never flip a bit. */
  def bigramSurprisal(docs: DataFrame): DataFrame = {
    val alpha = 0.5
    val base = docs.select(col(IdCol).as("doc_id"),
      tokens(col(TextCol)).as("tk"))
    val vocabSize: Double = base
      .select(explode(col("tk")).as("t")).agg(countDistinct(col("t")))
      .collect()(0).getLong(0).toDouble
    // per-doc bigram counts; zip_with over the two (n-1)-length slices
    // is map-side (guarded for n < 2 docs, which contribute no bigrams)
    val tf = Materializer.Local(base
      .select(col("doc_id"),
        explode(when(size(col("tk")) >= 2,
          zip_with(
            slice(col("tk"), lit(1), greatest(size(col("tk")) - 1, lit(1))),
            slice(col("tk"), lit(2), greatest(size(col("tk")) - 1, lit(1))),
            (a, b) => struct(a.as("w1"), b.as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
          .as("bg"))
      .groupBy(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("tf")))
    val c2 = tf.groupBy(col("w1"), col("w2")).agg(sum(col("tf")).as("c2"))
    val c1 = tf.groupBy(col("w1")).agg(sum(col("tf")).as("c1"))
    val scored = tf.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .withColumn("lp",
        log((col("c2").cast("double") + lit(alpha)) /
          (col("c1").cast("double") + lit(alpha * vocabSize))))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("long").as("n_bigrams"),
        round(-sum((col("tf").cast("double") * col("lp"))
            .cast("decimal(38,6)")).cast("double")
          / sum(col("tf")).cast("double"), 6).as("surprisal"))
    // docs with no bigrams surface with (0, 0.0) instead of vanishing
    docs.select(col(IdCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("surprisal"), lit(0.0)).as("surprisal"))
  }

  /** Min-K% membership / memorization audit (Shi et al., ICLR 2024
    * "Detecting Pretraining Data from Large Language Models", adapted to
    * the in-engine add-α (α=0.5 by default, matching q287) bigram LM of
    * [[bigramSurprisal]] and scored
    * over bigram TYPES rather than token positions): a document's score
    * is the mean surprisal of its ceil(n/kFrac) LEAST-probable bigram
    * types under the corpus model. Text the model finds likely even at
    * its WORST tokens (low mink_surprisal, near the corpus-wide mean)
    * ranks as a probable training-set member / memorized duplicate;
    * genuinely novel text keeps a fat high-surprisal tail that the
    * plain mean (also returned) averages away — that contrast is the
    * published detector.
    *
    * Scale shape: identical to the surprisal family — one
    * (doc, w1, w2) exchange, model counts join back on token keys, and
    * the top-k% selection is a per-doc (entity-bounded) window. lp
    * requantizes round(9) BEFORE ranking and summing, and k is exact
    * integer ceil, so the oracle replay is bit-identical. */
  def minKSurprisal(docs: DataFrame): DataFrame = {
    val alpha = 0.5
    val kFrac = 5
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col(IdCol).as("doc_id"),
      tokens(col(TextCol)).as("tk"))
    val vocabSize: Double = base
      .select(explode(col("tk")).as("t")).agg(countDistinct(col("t")))
      .collect()(0).getLong(0).toDouble
    val tf = base
      .select(col("doc_id"),
        explode(when(size(col("tk")) >= 2,
          zip_with(
            slice(col("tk"), lit(1), greatest(size(col("tk")) - 1, lit(1))),
            slice(col("tk"), lit(2), greatest(size(col("tk")) - 1, lit(1))),
            (a, b) => struct(a.as("w1"), b.as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
          .as("bg"))
      .groupBy(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("tf"))
    val c2 = tf.groupBy(col("w1"), col("w2")).agg(sum(col("tf")).as("c2"))
    val c1 = tf.groupBy(col("w1")).agg(sum(col("tf")).as("c1"))
    val sc = tf.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .withColumn("lp",
        round(log((col("c2").cast("double") + lit(alpha)) /
          (col("c1").cast("double") + lit(alpha * vocabSize))), 9))
    val rnk = Window.partitionBy(col("doc_id"))
      .orderBy(col("lp").asc, col("w1").asc, col("w2").asc)
    val per = Window.partitionBy(col("doc_id"))
    val scored = sc
      .withColumn("rk", row_number().over(rnk))
      .withColumn("n_types", count(lit(1)).over(per))
      .withColumn("k_used",
        floor((col("n_types") + lit(kFrac - 1)) / lit(kFrac)))
      .groupBy(col("doc_id"), col("n_types"), col("k_used"))
      .agg(
        round(-sum(when(col("rk") <= col("k_used"), col("lp"))
              .otherwise(lit(0.0)).cast("decimal(19,9)")).cast("double")
            / col("k_used").cast("double"), 6).as("mink_surprisal"),
        round(-sum(col("lp").cast("decimal(19,9)")).cast("double")
            / col("n_types").cast("double"), 6).as("mean_surprisal"))
    docs.select(col(IdCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_types"), lit(0L)).as("n_types"),
        coalesce(col("k_used"), lit(0L)).as("k_used"),
        coalesce(col("mink_surprisal"), lit(0.0)).as("mink_surprisal"),
        coalesce(col("mean_surprisal"), lit(0.0)).as("mean_surprisal"))
  }

  /** Content-defined chunking (the storage-dedup primitive — the
    * LBFS/FastCDC cut-point idea): chunk boundaries derive from the
    * CONTENT, so an insertion shifts only the chunks around the edit
    * instead of re-aligning every fixed-width block downstream — which is
    * what makes chunk-digest dedup effective on crawl snapshots that
    * differ by a few edits. Position i (1-based) triggers a cut AFTER the
    * w-char window starting there iff the first md5 nibble of that window
    * is '0' (p = 1/16, expected chunk ≈ w + 16 chars). md5-over-window
    * replaces the usual gear/Rabin rolling hash so the boundary rule is
    * engine-portable (the oracle replays it with a position lateral in
    * SQL); a native rolling-gear expression would be the drop-in
    * production swap with identical plumbing. No min/max chunk clamps:
    * those need a sequential scan that no SQL engine can replay.
    *
    * Scale shape: the cut scan is ONE codegen'd kernel pass per row
    * ([[graft.functions.CdcPairs]] — the HOF formulation pays an
    * interpreted md5-per-position and re-evaluates the whole scan on
    * every reference after projection collapse); the corpus is scanned
    * once with ZERO shuffle until the final digest-duplicate count (a
    * hash exchange on the 16-byte digest, the exact exchange chunk-dedup
    * must pay).
    * Returns (id, chunk_id, start_pos, chunk_len, digest, n_dups). */
  def cdcChunks(df: DataFrame, dupCounts: Boolean = true): DataFrame = {
    val w = 8
    val txt = col(TextCol)
    val chunks = df.select(col(IdCol).as("id"), txt.as("_t"),
        posexplode(graft.functions.GraftFunctions.cdc_pairs(txt, w)))
      .select(col("id"), (col("pos") + 1).cast("int").as("chunk_id"),
        col("col.s").as("start_pos"),
        (col("col.e") - col("col.s")).as("chunk_len"),
        md5(col("_t").substr(col("col.s"),
          col("col.e") - col("col.s"))).as("digest"))
    // dupCounts=false is the pure map-side chunker — stateless, so it
    // composes unchanged over a streaming frame (StreamingSpec pins the
    // differential); the dup-count window is the batch/index-side step
    if (!dupCounts) chunks
    else chunks.withColumn("n_dups", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("digest"))))
  }

  /** Heavy hitters over the corpus token stream, with a count-min sketch
    * cross-check — the streaming-scale frequent-items primitive (vocabulary
    * pruning, hot-key detection, stopword discovery). Exact counts come
    * from one partial-combined (token, count) aggregate; in the same job
    * Spark's distributed `count_min_sketch` aggregate folds every token
    * into an eps x delta CM sketch (one small binary to the driver — the
    * sketch, not the data), and each heavy hitter's estimate is checked
    * against the sketch's two documented guarantees: estimates never
    * undercount, and overcount is <= eps*N with probability 1-delta. The
    * q19/q96 gate pattern: the oracle replays the exact counts and pins
    * the guarantee booleans TRUE, so sketch drift hash-mismatches instead
    * of hiding behind approximation.
    *
    * Output: (token, n_occurrences, est_ge_exact, est_within_bound) for
    * every token with share >= minShare; the result is driver-bounded by
    * construction (at most 1/minShare rows can clear the threshold).
    */
  def heavyHitters(docs: DataFrame, minShare: Double): DataFrame = {
    val eps = 1e-4
    val confidence = 0.99
    val seed = 42
    require(minShare > 0 && minShare <= 1)
    val toks = docs.select(explode(tokens(col(TextCol))).as("token"))
    // one pass: total count + the distributed CM sketch (binary scalar)
    val row = toks.agg(count(lit(1)).as("n"),
        count_min_sketch(col("token"), lit(eps), lit(confidence),
          lit(seed)).as("sk")).head()
    val nTotal = row.getAs[Long]("n")
    val skBytes = row.getAs[Array[Byte]]("sk")
    val bound = math.ceil(eps * nTotal).toLong
    val hh = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences").cast("double") >= lit(minShare) * nTotal)
    val sess = docs.sparkSession
    import sess.implicits._
    // the sketch ships once per task in the closure; the probe runs where
    // the heavy-hitter rows live (<= 1/minShare of them, but no collect)
    hh.select(col("token"), col("n_occurrences"))
      .as[(String, Long)]
      .mapPartitions { it =>
        val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(skBytes))
        it.map { case (tok, exact) =>
          val est = cms.estimateCount(tok)
          (tok, exact, est >= exact, est <= exact + bound)
        }
      }
      .toDF("token", "n_occurrences", "est_ge_exact", "est_within_bound")
  }

  /** Token-distribution drift between two corpus slices — the
    * data-drift monitor an iterated pipeline runs between crawl
    * snapshots / source mixes: per-token KL contribution
    * `p_a · ln(p_a / p_b)` under add-1-smoothed unigram distributions
    * over the union vocabulary (summing the column gives
    * KL(A ‖ smoothed B); the per-token rows ARE the drift report —
    * which tokens grew or vanished).
    *
    * Scale shape: ONE partial-combined (token, slice-conditional count)
    * aggregate — the in-slice flag rides the explode map-side, so the
    * shuffle carries (token, n_a, n_b), never per-occurrence rows; the
    * three totals are one scalar aggregate (driver holds 3 numbers);
    * probabilities and the ln-term are a map-side projection against
    * total literals. Selection is an INTEGER count gate (`n_a + n_b >=
    * minCount`), never an order-by on the double — engine-stable output.
    * Probabilities are exact-rational doubles with one fixed op order;
    * round(6) absorbs libm ln's last ulp (the q76 convention). */
  def tokenDrift(docs: DataFrame, sliceA: Column,
                 minCount: Long = 50L): DataFrame = {
    val toks = docs.select(
      when(sliceA, lit(1L)).otherwise(lit(0L)).as("in_a"),
      explode(tokens(col(TextCol))).as("token"))
    // materialized: the vocabulary-sized count table feeds both the
    // totals ACTION and the output projection — unmaterialized, the
    // corpus token aggregation runs twice
    val counts = Materializer.Local(toks.groupBy(col("token")).agg(
      sum(col("in_a")).as("n_a"),
      sum(lit(1L) - col("in_a")).as("n_b")))
    val tot = counts
      .agg(sum(col("n_a")), sum(col("n_b")), count(lit(1))).collect()(0)
    if (tot.isNullAt(0))
      return counts.select(col("token"), col("n_a"), col("n_b"),
        lit(0.0).as("kl_term")).limit(0)
    val naV = (tot.getLong(0) + tot.getLong(2)).toDouble
    val nbV = (tot.getLong(1) + tot.getLong(2)).toDouble
    val pa = (col("n_a") + 1L).cast("double") / lit(naV)
    val pb = (col("n_b") + 1L).cast("double") / lit(nbV)
    counts.filter(col("n_a") + col("n_b") >= minCount)
      .select(col("token"), col("n_a"), col("n_b"),
        round(pa * log(pa / pb), 6).as("kl_term"))
  }

  /** Gopher-style document quality rules (Rae et al. 2021, table A1 —
    * public heuristics): word-count bounds, mean-word-length bounds,
    * minimum stopword evidence, alphabetic-word share, symbol share.
    * Every rule is evaluated in INTEGER arithmetic (mean-word-length
    * bounds become `3·n ≤ chars ≤ 10·n`, the 80% alpha share becomes
    * `5·alpha ≥ 4·n`) so the verdict is bit-exact across engines — no
    * double ratio ever forms. One map-side projection per doc: no
    * shuffle, no UDF, the whole filter stays inside WholeStageCodegen,
    * which is what lets it run as the first gate of a 100 TB cleaning
    * cascade (cheapest filter first, everything downstream sees fewer
    * rows). Returns per-doc rule components + `n_fail`/`keep`. */
  def gopherRules(docs: DataFrame):
      DataFrame = {
    val idCol = "doc_id"
    val minWords = 50L
    val maxWords = 100000L
    val toks = tokens(col(TextCol))
    val stops = langProfiles.toMap.apply("en")
    val nWords = size(toks).cast("long")
    val wordChars =
      aggregate(toks, lit(0L), (acc, t) => acc + length(t))
    val stopCnt = size(filter(toks, t => array_contains(
      array(stops.map(lit): _*), lower(t)))).cast("long")
    val alphaWords =
      size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("long")
    // Gopher's symbol-to-word ratio counts '#' and ellipsis marks
    val symbolCnt =
      ((length(col(TextCol)) - length(regexp_replace(col(TextCol),
          "#", ""))).cast("long")
        + size(call_function("regexp_extract_all", col(TextCol),
            lit("\\.\\.\\."), lit(0))).cast("long"))
    docs.select(col(idCol), nWords.as("n_words"),
        wordChars.as("word_chars"), stopCnt.as("stop_cnt"),
        alphaWords.as("alpha_words"), symbolCnt.as("symbol_cnt"))
      .withColumn("n_fail",
        (when(col("n_words").between(minWords, maxWords), 0L).otherwise(1L)
          + when(col("word_chars") >= lit(3L) * col("n_words") &&
              col("word_chars") <= lit(10L) * col("n_words"), 0L)
              .otherwise(1L)
          + when(col("stop_cnt") >= 2L, 0L).otherwise(1L)
          + when(lit(5L) * col("alpha_words") >= lit(4L) * col("n_words"),
              0L).otherwise(1L)
          + when(lit(10L) * col("symbol_cnt") <= col("n_words"), 0L)
              .otherwise(1L)).cast("long"))
      .withColumn("keep", col("n_fail") === 0L)
  }

  // HTML extraction (the crawl-pipeline text-recovery step). All three
  // are codegen'd regexp projections that ride the scan, written in the
  // common subset of Java regex and RE2 (inline (?s), non-greedy .*?,
  // NO backreferences — RE2 has none, hence the separate script/style
  // passes) so a SQL oracle can run the identical pipeline.

  /** Visible text of an HTML document: script/style blocks drop WITH
    * their contents (the classic strip-tags trap), remaining tags become
    * spaces, whitespace collapses. */
  def stripHtml: Column =
    trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      Html,
      "(?s)<script[^>]*>.*?</script>", " "),
      "(?s)<style[^>]*>.*?</style>", " "),
      "<[^>]*>", " "), "\\s+", " "))

  /** `<title>` contents (first match; empty string when absent). */
  def htmlTitle: Column =
    regexp_extract(Html, "(?s)<title>(.*?)</title>", 1)

  /** Main-content proxy: the concatenated `<p>` block texts — the
    * boilerplate-free payload under the fixture's (and most template
    * engines') paragraph markup. */
  def htmlParagraphs: Column =
    array_join(regexp_extract_all(Html, lit("(?s)<p>(.*?)</p>"), lit(1)), " ")

  /** PMI collocation mining (Church & Hanks 1990): adjacent-bigram
    * pointwise mutual information over the corpus, the classic detector
    * for multi-word units ("new york", "machine learning") that
    * tokenizers, vocab builders and phrase-aware dedup all consume.
    *
    * Probabilities live on the bigram event space with positional
    * marginals: p(a,b) = c_ab/N, p(a,·) = Σ_b c_ab/N, p(·,b) = Σ_a c_ab/N
    * over N = total bigrams — self-consistent without a separate token
    * count, and exactly replicable in SQL. Selection is by the INTEGER
    * `c_ab >= minCount` gate (never an order-by on the float); the ln
    * term is a projection whose round(6) absorbs libm ulps.
    *
    * Scale shape: bigrams form map-side (zip_with over two token-slice
    * views — no self-join of token positions), partial-combine into ONE
    * (w1,w2) exchange; the two positional marginals reduce that count
    * table (not the corpus); the frequency gate shrinks the head BEFORE
    * the marginal join-backs; N is one driver scalar baked into the
    * projection. The count table is referenced three ways, so it is
    * materialized once ([[Materializer]]). */
  def pmiCollocations(docs: DataFrame, minCount: Long)
      : DataFrame = {
    val base = docs.select(tokens(col(TextCol)).as("tk"))
      .filter(size(col("tk")) >= 2)
    val c = Materializer.Local(base
      .select(explode(zip_with(
          slice(col("tk"), lit(1), size(col("tk")) - 1),
          slice(col("tk"), lit(2), size(col("tk")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .groupBy(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("c_ab")))
    val nTotal = c.agg(sum(col("c_ab"))).collect()(0).getLong(0).toDouble
    val ca = c.groupBy(col("w1")).agg(sum(col("c_ab")).as("c_a"))
    val cb = c.groupBy(col("w2")).agg(sum(col("c_ab")).as("c_b"))
    c.filter(col("c_ab") >= minCount)
      .join(ca, Seq("w1")).join(cb, Seq("w2"))
      .select(col("w1"), col("w2"), col("c_ab"),
        col("c_a"), col("c_b"),
        round(log((col("c_ab").cast("double") * lit(nTotal)) /
          (col("c_a").cast("double") * col("c_b").cast("double"))), 6)
          .as("pmi"))
  }

  /** Class-based TF-IDF (the BERTopic c-TF-IDF, Grootendorst 2022):
    * treats each CLASS (topic cluster, source, language) as one merged
    * document and scores terms by `tf(t,c) · ln(1 + A / f(t))` with
    * `A` = average token mass per class and `f(t)` = the term's corpus
    * frequency — the standard way a pipeline names what a cluster is
    * about. Returns the `topK` terms per class as
    * (class, term, tf, w, rk), ranked by (w desc, term asc).
    *
    * Scale shape: ONE corpus-wide partial-combined (class, term)
    * exchange; `f(t)` is a term-keyed aggregate OF THAT TABLE (vocab-
    * sized, never re-reads the corpus) joined back on the term key; `A`
    * is a 1-row broadcast. The final window partitions by class over
    * the vocabulary-bounded (class, term) table — bounded by vocab ×
    * classes, not by corpus rows. Weights are IEEE doubles in one op
    * order, round(6); ranking ties break on the term string. */
  def cTfIdf(docs: DataFrame, topK: Int): DataFrame = {
    val classCol = "source"
    import org.apache.spark.sql.expressions.Window
    require(topK > 0)
    val tf = Materializer.Local(docs
      .select(col(classCol).as("class"),
        explode(tokens(col(TextCol))).as("t"))
      .groupBy(col("class"), col("t"))
      .agg(count(lit(1)).as("tf")))
    val f = tf.groupBy(col("t")).agg(sum(col("tf")).as("f"))
    val a = tf.groupBy(col("class")).agg(sum(col("tf")).as("mass"))
      .agg((sum(col("mass")).cast("double")
        / count(lit(1)).cast("double")).as("avg_mass"))
    val w = tf.join(f, Seq("t")).crossJoin(broadcast(a))
      .select(col("class"), col("t").as("term"), col("tf"),
        round(col("tf").cast("double") *
          log(lit(1.0) + col("avg_mass") / col("f").cast("double")), 6)
          .as("w"))
    w.withColumn("rk", row_number().over(
        Window.partitionBy(col("class"))
          .orderBy(col("w").desc, col("term").asc)).cast("int"))
      .filter(col("rk") <= topK)
      .select(col("class"), col("term"), col("tf"), col("w"), col("rk"))
  }

  /** Sentence count for readability: maximal runs of non-terminator
    * characters containing at least one non-space — i.e. `[.!?]+`-
    * delimited segments with blank segments dropped — floored at 1 so a
    * fragment without terminal punctuation still counts as one
    * sentence. Pure regexp projection (Java-regex ∩ RE2 subset, the
    * q133 contract, so the oracle replays it verbatim). */
  def sentenceCount(text: Column): Column =
    greatest(size(call_function("regexp_extract_all", text,
      lit("[^.!?]*[^.!?\\s][^.!?]*"), lit(0))), lit(1))

  /** Syllable proxy for readability: vowel-group runs `[aeiouy]+` over
    * the lowercased text (the standard programmatic approximation;
    * counting per-word floors would need a per-word loop for ~1% of the
    * signal). */
  def syllableCount(text: Column): Column =
    size(call_function("regexp_extract_all", lower(text),
      lit("[aeiouy]+"), lit(0)))

  /** Flesch–Kincaid grade level per document —
    * `0.39·(words/sentences) + 11.8·(syllables/words) − 15.59` — the
    * classic readability quality signal (a C4-era filter: garbage
    * strings and keyword stuffing land far outside the human band).
    * Integer counts feed ONE pinned double op order, round(6); words
    * floored at 1 so empty docs score the formula's constant floor
    * rather than NULL. Zero shuffle: rides the scan. */
  def fkGrade: Column = {
    val text = col(TextCol)
    val words = greatest(tokenCount(text), lit(1)).cast("double")
    val sents = sentenceCount(text).cast("double")
    val sylls = syllableCount(text).cast("double")
    round(lit(0.39) * (words / sents) + lit(11.8) * (sylls / words)
      - lit(15.59), 6)
  }

  /** Per-group readability rollup: doc count, mean FK grade (per-doc
    * grades round(6) first, then DECIMAL(38,6)-accumulated — the house
    * dsum rule), min/max. One partial-combined exchange on the group
    * key. */
  def readabilityBySource(docs: DataFrame): DataFrame =
    docs.select(col(GroupCol).as("grp"), fkGrade.as("fk"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("fk").cast("decimal(38,6)")).cast("double")
          / count(lit(1)), 6).as("mean_fk"),
        min(col("fk")).as("min_fk"), max(col("fk")).as("max_fk"))
      .orderBy(col("grp"))

  /** Distinct-n lexical diversity (Li et al. 2016) per group: the share
    * of n-gram OCCURRENCES that are distinct types — distinct-1 and
    * distinct-2 — the template/degenerate-text detector at corpus
    * granularity (a bot feed repeats its bigrams; organic text does
    * not). Group-level, not per-doc: distincts are counted over the
    * group's pooled token stream.
    *
    * Scale shape: tokens explode map-side with the group key; ONE
    * (group, gram) partial-combined count per n feeds both the type
    * and occurrence totals (vocab-bounded aggregate of an aggregate);
    * the two n-gram tables join on the group key (group-cardinality
    * rows). Exact integer quotients, one double division, round(6). */
  def distinctNgramDiversity(docs: DataFrame): DataFrame = {
    def grams(n: Int): DataFrame = {
      val tk = tokens(col(TextCol))
      val g = if (n == 1) explode(tk)
        else explode(filter(
          transform(tk, (_, i) =>
            array_join(slice(tk, i + lit(1), lit(n)), " ")),
          (_, i) => i <= size(tk) - n))
      docs.select(col(GroupCol).as("grp"), g.as("gram"))
        .groupBy(col("grp"), col("gram"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("grp"))
        .agg(count(lit(1)).as(s"types_$n"), sum(col("c")).as(s"occ_$n"))
    }
    grams(1).join(grams(2), Seq("grp"), "left")
      .select(col("grp"), col("types_1"), col("occ_1"),
        round(col("types_1").cast("double") / col("occ_1").cast("double"),
          6).as("distinct_1"),
        coalesce(col("types_2"), lit(0L)).as("types_2"),
        coalesce(col("occ_2"), lit(0L)).as("occ_2"),
        when(coalesce(col("occ_2"), lit(0L)) === 0L, lit(0.0))
          .otherwise(round(col("types_2").cast("double")
            / col("occ_2").cast("double"), 6)).as("distinct_2"))
      .orderBy(col("grp"))
  }

  /** Held-out bigram-LM cross-entropy (the CCNet perplexity quality
    * filter, Wenzek et al. 2019, made engine-exact): train an add-alpha
    * bigram model on the TRAIN slice of a deterministic hash split,
    * score held-out docs by mean negative log-likelihood per bigram —
    * where [[bigramSurprisal]] scores fluency against the doc's own
    * corpus, this is the real filter shape: the model never sees the
    * docs it scores, so memorized duplicates can't score themselves
    * fluent. Unseen contexts/bigrams back off to the smoothing floor via
    * LEFT joins (coalesce 0) — out-of-vocabulary text scores high, which
    * is the filter's point.
    *
    * Scale shape: one (w1,w2) partial-combined exchange per slice; the
    * scoring join is token-keyed (AQE handles the Zipf head, the q73
    * pattern); per-doc ln-sums accumulate as DECIMAL(38,6) so
    * partial-agg order can't flip a bit (q87's convention). The vocab
    * size is the one driver scalar.
    */
  def bigramCrossEntropy(docs: DataFrame, isTrain: Column): DataFrame = {
    val alpha = 1.0
    val base = Materializer.Local(docs.select(col(IdCol).as("doc_id"),
      tokens(col(TextCol)).as("tk"), isTrain.as("is_train")))
    def bigrams(df: DataFrame) = df.select(col("doc_id"),
        explode(when(size(col("tk")) >= 2,
          zip_with(
            slice(col("tk"), lit(1), greatest(size(col("tk")) - 1, lit(1))),
            slice(col("tk"), lit(2), greatest(size(col("tk")) - 1, lit(1))),
            (a, b) => struct(a.as("w1"), b.as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
          .as("bg"))
      .groupBy(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("tf"))
    val trainTf = Materializer.Local(bigrams(base.filter(col("is_train"))))
    val c2 = trainTf.groupBy(col("w1"), col("w2"))
      .agg(sum(col("tf")).cast("long").as("c2"))
    val c1 = trainTf.groupBy(col("w1"))
      .agg(sum(col("tf")).cast("long").as("c1"))
    val vocabSize: Double = base.filter(col("is_train"))
      .select(explode(col("tk")).as("t")).agg(countDistinct(col("t")))
      .collect()(0).getLong(0).toDouble
    val scored = bigrams(base.filter(!col("is_train")))
      .join(c2, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .withColumn("lp",
        log((coalesce(col("c2"), lit(0L)).cast("double") + lit(alpha))
          / (coalesce(col("c1"), lit(0L)).cast("double")
            + lit(alpha * vocabSize))))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("long").as("n_bigrams"),
        round(-sum((col("tf").cast("double") * col("lp"))
            .cast("decimal(38,6)")).cast("double")
          / sum(col("tf")).cast("double"), 6).as("cross_entropy"))
    base.filter(!col("is_train")).select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("cross_entropy"), lit(0.0)).as("cross_entropy"))
  }

  /** Interpolated Kneser–Ney bigram cross-entropy on a held-out slice
    * (Kneser & Ney 1995; Chen & Goodman 1998 — the smoothing the KenLM
    * models behind CCNet-style quality filtering actually use, where
    * [[bigramCrossEntropy]] is the add-α baseline): absolute discount
    * D from every seen bigram, the freed mass backed off to the
    * CONTINUATION unigram P_cont(w) = N1+(·,w)/N1+(··) — "how many
    * distinct contexts does w follow" — which is what stops
    * high-frequency-but-context-locked tokens (the "San Francisco"
    * effect) from soaking up backoff mass. An unseen context backs off
    * to P_cont entirely; a held-out second token never seen as a
    * continuation in training is OOV (counted, excluded — the <unk>
    * convention).
    *
    * Scale shape: ONE (w1,w2) partial-combined exchange builds every
    * model table (c(v,w); c(v) and N1+(v,·) by one more rollup of it;
    * N1+(·,w) likewise); scoring is vocab-keyed equi-joins — the q73
    * df-join-back shape — never a corpus self-join. Probabilities are
    * per-row algebra in one pinned op order; ln terms accumulate as
    * round(9) DECIMAL(38,9). Returns ONE row: (n_held_bigrams,
    * n_scored, n_oov, oov_rate, xent_kn, ppl_kn). */
  def kneserNeyXent(docs: DataFrame, isTrain: Column): DataFrame = {
    val discount = 0.75
    val base = Materializer.Local(docs.select(col(IdCol).as("doc_id"),
      tokens(col(TextCol)).as("tk"), isTrain.as("is_train")))
    def bigrams(df: DataFrame) = df.select(
        explode(when(size(col("tk")) >= 2,
          zip_with(
            slice(col("tk"), lit(1), greatest(size(col("tk")) - 1, lit(1))),
            slice(col("tk"), lit(2), greatest(size(col("tk")) - 1, lit(1))),
            (a, b) => struct(a.as("w1"), b.as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
          .as("bg"))
      .groupBy(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("cnt"))
    val trainBg = Materializer.Local(bigrams(base.filter(col("is_train")))
      .withColumnRenamed("cnt", "c2"))
    val ctx = trainBg.groupBy(col("w1")).agg(
      sum(col("c2")).cast("long").as("c1"), count(lit(1)).as("n1f"))
    val cont = trainBg.groupBy(col("w2"))
      .agg(count(lit(1)).as("n1b"))
    val bTot = trainBg.agg(count(lit(1)).as("bb"))
    val held = bigrams(base.filter(!col("is_train")))
      .withColumnRenamed("cnt", "tf")
    val sc = held.join(trainBg, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(cont, Seq("w2"), "left")
      .crossJoin(broadcast(bTot))
    val pcont = col("n1b").cast("double") / col("bb").cast("double")
    val p = when(col("c1").isNull, pcont)
      .otherwise(
        greatest(coalesce(col("c2"), lit(0L)).cast("double")
          - lit(discount), lit(0.0)) / col("c1").cast("double")
        + lit(discount) * col("n1f").cast("double")
          / col("c1").cast("double") * pcont)
    val scoreable = col("n1b").isNotNull
    val agg = sc.agg(
      sum(col("tf")).cast("long").as("n_held_bigrams"),
      sum(when(scoreable, col("tf")).otherwise(0L)).cast("long")
        .as("n_scored"),
      sum(when(!scoreable, col("tf")).otherwise(0L)).cast("long")
        .as("n_oov"),
      sum(when(scoreable,
        round(col("tf").cast("double") * log(p), 9)
          .cast("decimal(38,9)"))
        .otherwise(lit(0).cast("decimal(38,9)"))).as("sl"))
    val raw = -col("sl").cast("double") / col("n_scored").cast("double")
    agg.select(col("n_held_bigrams"), col("n_scored"), col("n_oov"),
      round(col("n_oov").cast("double")
        / col("n_held_bigrams").cast("double"), 6).as("oov_rate"),
      round(raw, 6).as("xent_kn"),
      round(exp(raw), 6).as("ppl_kn"))
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken 2003
    * — the MOSS local fingerprinting algorithm): hash every k-token
    * shingle, slide a w-hash window, keep each window's minimum hash
    * (ties to the RIGHTMOST position — the paper's rule, which makes
    * selection robust to where a match starts). Guarantee: any shared
    * run of at least w+k-1 tokens yields at least one shared
    * fingerprint, and ~2/(w+1) of hashes are kept — position-localized
    * overlap detection at a fixed sampling rate, where [[fingerprint]]'s
    * whole-doc hash can only say "identical".
    *
    * Scale shape: hashing and window selection are per-row array ops —
    * zero shuffle; the output is the exploded (id, pos, hash) table,
    * ~2/(w+1) of the corpus token mass. Hashes are the first-8-hex-chars
    * md5 form (lexicographic == numeric for fixed-width lowercase hex,
    * engine-portable). The hash array is materialized first so
    * Catalyst's projection collapse cannot inline the md5 transform into
    * every window comparison (the documented nested-HOF re-evaluation
    * trap). Docs with fewer than k tokens contribute their whole text as
    * the single shingle ([[shingles]]' contract), hence one fingerprint
    * at pos 0.
    */
  def winnowingFingerprints(docs: DataFrame)
      : DataFrame = {
    val k = 4
    val w = 4
    val hashed = Materializer.Local(docs.select(col(IdCol).as("id"),
      transform(shingles(col(TextCol), k),
        g => substring(md5(g), 1, 8)).as("hs")))
    val m = size(col("hs"))
    // per window start i: argmin hash over positions i..min(i+w-1, m-1),
    // <= keeps the LAST minimum seen scanning left->right = rightmost tie
    val sel = transform(sequence(lit(0), greatest(m - w, lit(0))),
      i => aggregate(
        sequence(lit(0), least(lit(w - 1), m - 1 - i)),
        struct(lit("~").as("h"), lit(-1).as("p")),
        (acc, o) => {
          val p = i + o
          val h = element_at(col("hs"), p + 1)
          when(h <= acc.getField("h"),
            struct(h.as("h"), p.as("p"))).otherwise(acc)
        }).getField("p"))
    hashed.select(col("id"), col("hs"),
        explode(array_distinct(sel)).as("p"))
      .select(col("id"), col("p").cast("long").as("pos"),
        element_at(col("hs"), col("p") + 1).as("h"))
  }

  /** Encoding-health audit (q316) — the CCNet/C4-class cleaning gate a
    * web-scale corpus runs before any content filter: per group, how
    * many docs carry (a) U+FFFD replacement characters (a decoder
    * already gave up once), (b) C0 control characters other than
    * tab/newline/CR (binary junk in a "text" field), (c) the classic
    * UTF-8-bytes-decoded-as-Latin-1 mojibake signature (U+00C3 followed
    * by U+00A0..U+00BF — every 2-byte UTF-8 sequence for U+00E0..U+00FF
    * misread as Latin-1 produces exactly that digraph), and how many are
    * clean of all three. Pure map-side predicates + one
    * group-domain-keyed partial-combined aggregate; detectors are plain
    * regex/contains so any SQL engine replays them verbatim. */
  /** The q316 encoding detectors as named predicates \u2014 shared by
    * [[encodingAudit]] and the q325 content funnel so the two gates can
    * never silently diverge: U+FFFD replacement chars (a decoder
    * already gave up), C0 control junk other than tab/newline/CR, and
    * the UTF-8-bytes-read-as-Latin-1 mojibake digraph. */
  def hasReplacementChar(t: Column): Column = t.contains(lit("\uFFFD"))
  def hasControlJunk(t: Column): Column =
    t.rlike("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]")
  def hasMojibake(t: Column): Column =
    t.rlike("\u00C3[\u00A0-\u00BF]")

  def encodingAudit(docs: DataFrame)
      : DataFrame = {
    val groupCol = "source"
    // NULL text counts as a clean doc, exactly like the SQL replay
    // (CASE over NULL predicates folds every detector to 0)
    val t = coalesce(col(TextCol), lit(""))
    val repl = hasReplacementChar(t)
    val ctrl = hasControlJunk(t)
    val moji = hasMojibake(t)
    def n(c: Column) = sum(when(c, 1L).otherwise(0L)).cast("long")
    docs.groupBy(col(groupCol))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        n(repl).as("repl_docs"),
        n(ctrl).as("ctrl_docs"),
        n(moji).as("moji_docs"),
        n(!repl && !ctrl && !moji).as("clean_docs"))
      .withColumn("clean_rate",
        round(col("clean_docs").cast("double")
          / col("n_docs").cast("double"), 6))
      .orderBy(col(groupCol))
  }

  /** Sequence-length sweep (q319) — "what max_len should training use":
    * for every candidate cap L in a literal grid, the exact truncation
    * loss (docs cut, tokens lost past L), the single-doc-per-sequence
    * padding waste (L - kept per doc), the utilization kept/(kept+pad),
    * and the perfect-packing sequence lower bound ceil(kept/L). The
    * whole curve is priced from ONE corpus pass: per doc the token
    * count crosses the broadcast L-grid literal (fixed fan-out x|grid|)
    * and partial aggregation collapses to <= |grid| rows per partition
    * before the single |grid|-keyed exchange — the q310 sweep
    * philosophy (pay the corpus once, every candidate is algebra).
    * Exact integer token algebra; only utilization is a round(6)
    * double. */
  def seqLenSweep(docs: DataFrame, tokens: Column, grid: Seq[Long])
      : DataFrame = {
    require(grid.nonEmpty && grid.forall(_ > 0))
    val spark = docs.sparkSession
    import spark.implicits._
    val kept = least(col("l"), col("max_len"))
    docs.select(tokens.cast("long").as("l"))
      .crossJoin(broadcast(grid.toDF("max_len")))
      .groupBy(col("max_len"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("l") > col("max_len"), 1L).otherwise(0L))
          .cast("long").as("n_truncated"),
        sum(kept).cast("long").as("tokens_kept"),
        sum(greatest(col("l") - col("max_len"), lit(0L))).cast("long")
          .as("tokens_lost"),
        sum(col("max_len") - kept).cast("long").as("pad_waste"))
      .select(col("max_len"), col("n_docs"), col("n_truncated"),
        col("tokens_kept"), col("tokens_lost"), col("pad_waste"),
        round(col("tokens_kept").cast("double")
          / (col("tokens_kept") + col("pad_waste")).cast("double"), 6)
          .as("utilization"),
        expr("CAST((tokens_kept + max_len - 1) div max_len AS BIGINT)")
          .as("min_sequences"))
      .orderBy(col("max_len"))
  }

  /** Character-entropy gate (q318) — the compressibility-proxy junk
    * filter (repeated-character/loop text scores near 0 bits/char,
    * natural English ~4.1-4.5): per group, doc count, the DECIMAL-mean
    * of per-doc entropy, and how many docs fall below `lowBits`.
    * Per-doc entropy is ONE native-expression pass
    * ([[graft.functions.CharEntropy]], 9-decimal-pinned and
    * order-independent, so any SQL engine replays it from a
    * per-character GROUP BY); the rollup is a group-keyed
    * partial-combined aggregate. */
  def entropyGate(docs: DataFrame): DataFrame = {
    val groupCol = "source"
    val lowBits = 3.5
    // NULL text scores 0.0 (an empty doc is maximally junk), exactly like
    // the SQL replay's LEFT JOIN + COALESCE(h, 0.0): without the coalesce
    // char_entropy(NULL) is NULL, which silently drops the doc from
    // low_docs while the oracle counts it below every threshold —
    // blocklistScan and encodingAudit apply the same normalization
    val h = round(graft.functions.GraftFunctions.char_entropy(
      coalesce(col(TextCol), lit(""))), 6)
    docs.select(col(groupCol).as("grp"), h.as("h"))
      .groupBy(col("grp").as(groupCol))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        round(sum(col("h").cast("decimal(38,6)")).cast("double")
          / count(lit(1)), 6).as("mean_entropy"),
        sum(when(col("h") < lowBits, 1L).otherwise(0L)).cast("long")
          .as("low_docs"))
      .orderBy(col(groupCol))
  }

  /** Lowercase diacritic fold map for [[normalizeForDedup]] — a fixed
    * public table (Latin-1/Latin Extended vowels + n/c), applied via
    * `translate` so any SQL engine replays it verbatim. */
  val diacritics: String = "áàâäãå" +
    "éèêëíìîï" +
    "óòôöõúùûü" +
    "ýÿñç"
  val diacriticsFolded: String = "aaaaaa" + "eeee" + "iiii" + "ooooo" +
    "uuuu" + "yy" + "n" + "c"

  /** Cross-variant dedup normalization (q320): lowercase, fold
    * diacritics through the fixed [[diacritics]] table, squash every
    * non-alphanumeric to a space, collapse runs, trim — so accented /
    * uppercased / re-punctuated surface variants of the same underlying
    * text normalize to ONE canonical string before shingling, and
    * MinHash-LSH dedups ACROSS the variants (transliteration-normalized
    * near-dup, the cross-lingual corpus-cleaning step). Pure map-side
    * string algebra: `lower`/`translate`/`regexp_replace` are all
    * codegen'd built-ins, and every step replays verbatim in SQL
    * (DuckDB needs the 'g' flag on both regexp_replace calls — Spark
    * replaces globally by default). */
  def normalizeForDedup: Column = {
    val text = col("text")
    trim(regexp_replace(regexp_replace(
      translate(lower(text), diacritics, diacriticsFolded),
      "[^a-z0-9 ]", " "), " +", " "))
  }

  /** Repeated n-gram SPAN REMOVAL audit (q321) — the rewrite step after
    * q56-style detection: a token n-gram occurring in >= `minDocs`
    * distinct documents is corpus boilerplate (banners, footers, license
    * blurbs), and every token position covered by an occurrence of any
    * heavy n-gram is removed from its document. Per group: docs, docs
    * touched, tokens before, tokens removed, removal rate.
    *
    * Scale shape: tokenization + position explode are map-side; the
    * n-gram window partitions by DOCUMENT (never global); heavy-gram
    * discovery is one gram-keyed partial-combined aggregate; occurrence
    * marking is an unhinted semi join on the gram key (AQE broadcasts
    * when the heavy set is genuinely small); coverage expands each hit
    * to a FIXED n positions and dedups per (doc, position) — bounded
    * fan-out, all equi-keyed exchanges, no all-pairs anywhere. */
  def repeatedSpanScrub(docs: DataFrame, minDocs: Long = 10L): DataFrame = {
    val groupCol = "source"
    val n = 3
    require(minDocs >= 2)
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col("doc_id").as("id"), col(groupCol).as("grp"),
        tokens(coalesce(col(TextCol), lit(""))).as("raw"))
      .withColumn("m", size(col("raw")))
    val pos = base.select(col("id"), col("m"),
      posexplode(col("raw")).as(Seq("i", "tok")))
    val w = Window.partitionBy("id").orderBy("i")
    val grams = pos
      .withColumn("gram",
        when(col("i") <= col("m") - n,
          concat_ws(" ", (0 until n).map(d =>
            if (d == 0) col("tok") else lead(col("tok"), d).over(w)): _*)))
      .where(col("gram").isNotNull)
      .select(col("id"), col("i"), col("gram"))
    val heavy = grams.groupBy(col("gram"))
      .agg(countDistinct(col("id")).as("df"))
      .where(col("df") >= minDocs)
      .select(col("gram"))
    val covered = grams.join(heavy, Seq("gram"), "left_semi")
      .select(col("id"),
        explode(sequence(col("i"), col("i") + (n - 1))).as("p"))
      .distinct()
      .groupBy(col("id")).agg(count(lit(1)).as("removed"))
    base.select(col("id"), col("grp"), col("m"))
      .join(covered, Seq("id"), "left")
      .na.fill(0L, Seq("removed"))
      .groupBy(col("grp").as(groupCol))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("removed") > 0, 1L).otherwise(0L)).cast("long")
          .as("docs_touched"),
        sum(col("m")).cast("long").as("toks_before"),
        sum(col("removed")).cast("long").as("toks_removed"))
      .withColumn("removal_rate",
        round(col("toks_removed").cast("double")
          / greatest(col("toks_before"), lit(1L)).cast("double"), 6))
      .orderBy(col(groupCol))
  }

  /** Per-document tokenizer-fertility partial (q322): (lang, source,
    * whitespace tokens, characters) — the associative integer facts the
    * drift bracket aggregates. Map-side projection; NULL text contributes
    * (0, 0) like the SQL replay's COALESCE. */
  def fertilityPartials(docs: DataFrame): DataFrame =
    docs.select(col("lang"), col("source"),
      tokenCount(coalesce(col(TextCol), lit(""))).cast("long").as("toks"),
      length(coalesce(col(TextCol), lit(""))).cast("long").as("chars"))

  /** Tokenizer-fertility drift bracket (q322): per (lang, source), the
    * chars-per-token fertility vs the language-wide reference, the
    * ratio, and a drift flag at `tol`. The monitoring readout a
    * tokenizer rollout watches — a source whose fertility drifts from
    * its language's norm signals content-mix or encoding change.
    * Input is any associative partial stream from
    * [[fertilityPartials]] (one batch or many); sums are exact integer
    * algebra, so the bracket does not depend on how the partials were
    * split. Zero-token groups take the explicit 0.0 branch in
    * BOTH engines (the q311 oracle lesson). Two group-keyed
    * partial-combined aggregates + one lang-keyed join of two
    * lang-bounded frames — nothing here scales past |langs x sources|
    * after the first exchange. */
  def fertilityBracket(partials: DataFrame)
      : DataFrame = {
    val tol = 0.02
    val per = partials.groupBy(col("lang"), col("source"))
      .agg(sum(col("toks")).cast("long").as("toks"),
        sum(col("chars")).cast("long").as("chars"))
    val ref = per.groupBy(col("lang"))
      .agg(when(sum(col("toks")) > 0,
          round(sum(col("chars")).cast("double")
            / sum(col("toks")).cast("double"), 6))
        .otherwise(0.0).as("ref_fertility"))
    val fert = when(col("toks") > 0,
      round(col("chars").cast("double") / col("toks").cast("double"), 6))
      .otherwise(0.0)
    val ratio = when(col("ref_fertility") > 0,
      round(col("fertility") / col("ref_fertility"), 6)).otherwise(0.0)
    per.join(ref, Seq("lang"))
      .withColumn("fertility", fert)
      .withColumn("ratio", ratio)
      .withColumn("drifted", abs(col("ratio") - 1.0) > tol)
      .select(col("lang"), col("source"), col("toks"), col("chars"),
        col("fertility"), col("ref_fertility"), col("ratio"),
        col("drifted"))
      .orderBy(col("lang"), col("source"))
  }

  /** Template-prefix audit (q324): per group, the top-`topK` duplicated
    * `prefixLen`-char lowercased document prefixes with doc counts and
    * share — the boilerplate-template detector (a source where one
    * prefix covers a large share of docs is serving templated pages).
    * One (group, prefix)-keyed aggregate collapses the corpus BEFORE
    * the per-group rank window (partitioned by group, never global;
    * ties broken by prefix so the readout is total-ordered), then an
    * unhinted join attaches the group totals. */
  def templatePrefixes(docs: DataFrame, prefixLen: Int = 24,
                       topK: Int = 3): DataFrame = {
    val groupCol = "source"
    import org.apache.spark.sql.expressions.Window
    val pre = docs.select(col(groupCol).as("grp"),
      substring(lower(coalesce(col(TextCol), lit(""))), 1, prefixLen)
        .as("prefix"))
    val counts = pre.groupBy(col("grp"), col("prefix"))
      .agg(count(lit(1)).cast("long").as("n_docs"))
    // group totals fold from the ALREADY-COLLAPSED counts (Σ n_docs per
    // group) — a second groupBy over `pre` would re-scan and re-project
    // the whole corpus for numbers the bounded frame already carries
    val tot = counts.groupBy(col("grp"))
      .agg(sum(col("n_docs")).cast("long").as("total"))
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("n_docs").desc, col("prefix").asc)
    counts.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .join(tot, Seq("grp"))
      .select(col("grp").as(groupCol), col("rank"), col("prefix"),
        col("n_docs"),
        round(col("n_docs").cast("double")
          / col("total").cast("double"), 6).as("share"))
      .orderBy(col(groupCol), col("rank"))
  }

  /** C4-style blocklist scan (q315): per (group, pattern) — how many
    * docs contain the pattern and its total occurrence count — over a
    * literal blocklist, in ONE automaton pass per document
    * ([[graft.functions.BlocklistHits]], Aho–Corasick 1975; a
    * LIKE-per-pattern plan re-reads every document once per pattern).
    * Counting is greedy leftmost non-overlapping per pattern — exactly
    * the `replace()`-based count any SQL engine replays, which is what
    * makes the operator oracle-checkable. Text is lowercased first;
    * patterns are expected lowercase.
    *
    * Scale shape: the blocklist is a plan literal (no join, no
    * broadcast), the scan is map-side, the explode fans out a FIXED
    * |patterns| rows per doc, and the only exchange is the final
    * (group, pattern)-keyed partial-combined aggregate — bounded by
    * |groups| x |patterns|, not the corpus.
    *
    * `dropZeroHits` (q323's dictionary-scale mode) filters zero-hit
    * rows BEFORE partial aggregation — all-zero (group, pattern)
    * groups then vanish from the output, which is exactly the
    * HAVING-SUM>0 readout. The phrase-scale default keeps them: q315's
    * contract is that absent patterns report exact zero rows. */
  def blocklistScan(docs: DataFrame,
                    patterns: Seq[String],
                    dropZeroHits: Boolean = false): DataFrame = {
    val groupCol = "source"
    require(patterns.nonEmpty && patterns.forall(_.nonEmpty))
    val lit_ = typedlit(patterns)
    val exploded = docs
      // NULL text is a zero-hit doc (the SQL replay's SUM/CASE over a
      // NULL count treats it the same), not a dropped one: a null array
      // under posexplode would silently delete the doc from n_docs
      .select(col(groupCol).as("grp"),
        graft.functions.GraftFunctions.blocklist_hits(
          lower(coalesce(col(TextCol), lit(""))), lit_).as("h"))
      .select(col("grp"), posexplode(col("h")).as(Seq("pidx", "hits")))
    // dictionary-scale mode (q323): a zero-hit row contributes nothing
    // to either aggregate, and groups that are ALL zeros are exactly
    // the rows the HAVING-SUM>0 readout drops — so filtering the
    // exploded stream BEFORE partial aggregation is a pure win that
    // cuts the per-partition hash work from |docs|x|patterns| to the
    // actual hit count (~50x on the trigram dictionary). The
    // phrase-scale default keeps zero rows: q315's contract is that
    // absent patterns report exact zero rows, not vanish.
    val kept = if (dropZeroHits) exploded.where(col("hits") > 0)
      else exploded
    kept
      .select(col("grp"), element_at(lit_, col("pidx") + 1).as("pattern"),
        col("hits"))
      .groupBy(col("grp").as(groupCol), col("pattern"))
      .agg(sum(when(col("hits") > 0, 1L).otherwise(0L)).cast("long")
          .as("docs_hit"),
        sum(col("hits")).cast("long").as("hits"))
      .orderBy(col(groupCol), col("pattern"))
  }
}
