package graft
package registry

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.operators.{Bpe, Sampling, TextAnalysis}

import SparkHelpers._
import SqlHelpers._

/** The suite's document-corpus text queries: tokens, quality rules,
  * language id, BPE, classifiers, blocklists (operators.TextAnalysis, Bpe,
  * Classifier, Urls). */
private[graft] object TextAnalysisQueries {

  val specs: Seq[QuerySpec] = Seq(

    QuerySpec("q30_doc_tokens", ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
          TextAnalysis.bpeTokenCount.cast("long")
            .as("n_bpe_tokens"),
          length(col("text")).cast("long").as("n_chars_actual"))
        .orderBy(col("doc_id"))
    }),
      s"""SELECT doc_id, len($toksSql) AS n_tokens,
         |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]', 0))
         |    AS n_bpe_tokens,
         |  length(text) AS n_chars_actual
         |FROM documents ORDER BY doc_id""".stripMargin),

    QuerySpec("q31_doc_quality", ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.wordCount.cast("long").as("n_words"),
          round(TextAnalysis.meanWordLen, 6).as("mean_word_len"),
          round(TextAnalysis.stopwordRatio(col("text")), 6).as("stopword_ratio"),
          round(TextAnalysis.punctRatio(col("text")), 6).as("punct_ratio"),
          TextAnalysis.qualityScore.as("quality"))
        .orderBy(col("doc_id"))
    }),
      docQualitySql),

    QuerySpec("q32_doc_langid", ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId.as("lang_pred"))
        .orderBy(col("doc_id"))
    }),
      langIdSql),

    QuerySpec("q33_doc_fingerprint", ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.fingerprint.as("fp"))
        .orderBy(col("doc_id"))
    }),
      s"""SELECT doc_id,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform($toksSql,
         |        t -> CAST(length(t) AS BIGINT) * 31
         |          + CAST(ascii(t) AS BIGINT) * 7
         |          + CAST(ascii(reverse(t)) AS BIGINT))),
         |    (a, b) -> (a * 131 + b) % 1000000007) AS fp
         |FROM documents ORDER BY doc_id""".stripMargin),

    QuerySpec("q48_doc_normalize", ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.normalize.as("norm_text"),
          md5(TextAnalysis.normalize).as("norm_hash"))
        .orderBy(col("doc_id"))
    }),
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS norm_text,
        |  md5(trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS norm_hash
        |FROM documents ORDER BY doc_id""".stripMargin),

    QuerySpec("q55_pii_redact", ((s, dir) => {
      // deterministic PII injection (mirrored in the oracle) so the
      // redaction regexes are exercised on every row
      val withPii = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com from 10.0."),
          (col("doc_id") % 256).cast("string"), lit(".7 ssn 123-45-"),
          format_string("%04d", col("doc_id") % 10000)).as("text"))
      withPii.select(col("doc_id"),
        TextAnalysis.redactPii.as("redacted"),
        TextAnalysis.piiCounts.getField("n_email")
          .as("n_email"),
        TextAnalysis.piiCounts.getField("n_ip").as("n_ip"),
        TextAnalysis.piiCounts.getField("n_ssn").as("n_ssn"))
        .orderBy(col("doc_id"))
    }),

      """WITH withpii AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@example.com from 10.0.'
        |      || CAST(doc_id % 256 AS VARCHAR) || '.7 ssn 123-45-'
        |      || format('{:04d}', doc_id % 10000) AS text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |    '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
        |    AS n_email,
        |  CAST(len(regexp_extract_all(text,
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INT)
        |    AS n_ip,
        |  CAST(len(regexp_extract_all(text,
        |    '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS INT) AS n_ssn
        |FROM withpii ORDER BY doc_id""".stripMargin),

    QuerySpec("q56_doc_repetition", ((s, dir) => {
      // Gopher-style repetition quality signals
      val toks = TextAnalysis.tokens(col("text"))
      val total = size(toks).cast("double")
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.dupNgramFrac(2).as("dup2"),
        TextAnalysis.dupNgramFrac(3).as("dup3"),
        when(total <= 0, lit(0.0)).otherwise(round(lit(1.0) -
          size(array_distinct(toks)).cast("double") / total, 6))
          .as("dup_word"))
        .orderBy(col("doc_id"))
    }),
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS raw
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, raw,
        |    CASE WHEN len(raw) < 2 THEN [array_to_string(raw, ' ')]
        |      ELSE [array_to_string(raw[i+1:i+2], ' ')
        |            for i in range(0, len(raw) - 1)] END AS g2,
        |    CASE WHEN len(raw) < 3 THEN [array_to_string(raw, ' ')]
        |      ELSE [array_to_string(raw[i+1:i+3], ' ')
        |            for i in range(0, len(raw) - 2)] END AS g3
        |  FROM tk
        |)
        |SELECT doc_id,
        |  CASE WHEN len(g2) <= 0 THEN 0.0 ELSE round(1.0 -
        |    CAST(len(list_distinct(g2)) AS DOUBLE)
        |      / CAST(len(g2) AS DOUBLE), 6) END AS dup2,
        |  CASE WHEN len(g3) <= 0 THEN 0.0 ELSE round(1.0 -
        |    CAST(len(list_distinct(g3)) AS DOUBLE)
        |      / CAST(len(g3) AS DOUBLE), 6) END AS dup3,
        |  CASE WHEN len(raw) <= 0 THEN 0.0 ELSE round(1.0 -
        |    CAST(len(list_distinct(raw)) AS DOUBLE)
        |      / CAST(len(raw) AS DOUBLE), 6) END AS dup_word
        |FROM sh ORDER BY doc_id""".stripMargin),

    QuerySpec("q62_token_freq", ((s, dir) => {
      // vocabulary building: corpus-wide token frequencies, top 50.
      // explode -> two-stage count agg (map-side partial combine); the
      // shuffle moves (token, partial count), never documents
      t(s, dir, "documents")
        .select(explode_outer(TextAnalysis.tokens(col("text")))
          .as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(50)
    }),
      """SELECT token, COUNT(*) AS n
        |FROM (SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |        x -> x <> '')) AS token
        |      FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin),

    QuerySpec("q66_doc_pack", ((s, dir) => {
      // pretraining sequence packing (concat-and-chunk at 2048 tokens):
      // per-pack doc counts and token totals. The prefix sum underneath is
      // the two-phase distributed form — no single-partition global window
      TextAnalysis.packSequences(t(s, dir, "documents"), seqLen = 2048)
        .groupBy(col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .orderBy(col("pack_id"))
    }),
      // single-window global cumsum is fine for the ORACLE (DuckDB is
      // single-node); the Spark side must match it with the distributed
      // two-phase prefix sum
      """WITH toks AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents
        |), cum AS (
        |  SELECT doc_id, n_tokens,
        |    SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        |  FROM toks)
        |SELECT CAST((c - n_tokens) // 2048 AS BIGINT) AS pack_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        |FROM cum GROUP BY 1 ORDER BY pack_id""".stripMargin),

    QuerySpec("q68_decontaminate", ((s, dir) => {
      // benchmark decontamination: per-doc count of distinct 5-gram
      // shingles shared with the "eval set" (doc_id < 10 here) — the
      // pre-training overlap check. Eval shingles broadcast; the corpus
      // side is map-side explode + broadcast join + partial count
      val docs = t(s, dir, "documents")
      TextAnalysis.contaminationOverlap(docs,
          docs.filter(col("doc_id") < 10))
        .select(col("id").as("doc_id"), col("n_overlap"))
        .orderBy(col("doc_id"))
    }),
      deconSql),

    QuerySpec("q71_boilerplate", ((s, dir) => {
      // CCNet-style boilerplate: 3-gram passages occurring in >= 5 distinct
      // docs are corpus boilerplate; per-doc fraction of such passages.
      // One (shingle, count) shuffle; the Zipf head broadcasts back.
      TextAnalysis.boilerplateStats(t(s, dir, "documents"), minDf = 5)
        .orderBy(col("doc_id"))
    }),
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')
        |      AS raw
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(raw) < 3
        |    THEN [array_to_string(raw, ' ')]
        |    ELSE [array_to_string(raw[i+1:i+3], ' ')
        |          for i in range(0, len(raw) - 2)] END) AS shingles
        |  FROM tk
        |), ex AS (
        |  SELECT doc_id, unnest(shingles) AS sh FROM sh
        |), freq AS (
        |  SELECT sh FROM ex GROUP BY sh HAVING COUNT(*) >= 5
        |)
        |SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |  CAST(COUNT(f.sh) AS BIGINT) AS n_frequent,
        |  round(CAST(COUNT(f.sh) AS DOUBLE) / COUNT(*), 6) AS bp_frac
        |FROM ex e LEFT JOIN freq f USING (sh)
        |GROUP BY e.doc_id ORDER BY e.doc_id""".stripMargin),

    QuerySpec("q79_span_dedup", ((s, dir) => {
      // Lee-et-al substring-level dedup: 6-token spans occurring >= 2
      // times anywhere are cut (keeper = first occurrence), overlapping
      // cuts merge, only affected docs are rewritten. One corpus-wide
      // (span, count) partial-combined shuffle; rewrite is a map-side HOF
      // over affected docs only.
      TextAnalysis.spanDedup(t(s, dir, "documents"), n = 6)
        .orderBy(col("doc_id"))
    }),
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')
        |      AS raw
        |  FROM documents
        |), occ AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    array_to_string(raw[i+1:i+6], ' ') AS sh,
        |    CAST(len(raw) AS BIGINT) AS n_toks
        |  FROM tk, unnest(range(0, greatest(len(raw) - 5, 1))) AS t(i)
        |), freq AS (
        |  SELECT sh FROM occ GROUP BY sh HAVING COUNT(*) >= 2
        |), flg AS (
        |  SELECT o.doc_id, o.pos, o.sh, o.n_toks
        |  FROM occ o JOIN freq USING (sh)
        |), kdoc AS (
        |  SELECT sh, MIN(doc_id) AS k_doc FROM flg GROUP BY sh
        |), kpos AS (
        |  SELECT f.sh, k.k_doc, MIN(f.pos) AS k_pos
        |  FROM flg f JOIN kdoc k USING (sh)
        |  WHERE f.doc_id = k.k_doc GROUP BY f.sh, k.k_doc
        |), cut AS (
        |  SELECT DISTINCT f.doc_id, f.pos, f.n_toks
        |  FROM flg f JOIN kpos k USING (sh)
        |  WHERE NOT (f.doc_id = k.k_doc AND f.pos = k.k_pos)
        |), iv AS (
        |  SELECT doc_id, pos, LEAST(pos + 5, n_toks - 1) AS iend FROM cut
        |), sp2 AS (
        |  SELECT doc_id, pos, iend,
        |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM (
        |    SELECT doc_id, pos, iend,
        |      CASE WHEN prev_end IS NULL OR pos > prev_end + 1
        |        THEN 1 ELSE 0 END AS brk
        |    FROM (
        |      SELECT doc_id, pos, iend,
        |        MAX(iend) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |          AS prev_end
        |      FROM iv))
        |), spans AS (
        |  SELECT doc_id, grp, MIN(pos) AS s, MAX(iend) AS e
        |  FROM sp2 GROUP BY doc_id, grp
        |), perdoc AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_cut_spans,
        |    CAST(SUM(e - s + 1) AS BIGINT) AS n_tokens_cut,
        |    string_agg(CAST(s AS VARCHAR) || ':' || CAST(e AS VARCHAR),
        |      ',' ORDER BY s) AS spans_str
        |  FROM spans GROUP BY doc_id
        |), toksql AS (
        |  SELECT tk.doc_id, CAST(i - 1 AS BIGINT) AS tpos, raw[i] AS tok
        |  FROM tk, unnest(range(1, len(raw) + 1)) AS t(i)
        |  WHERE tk.doc_id IN (SELECT doc_id FROM perdoc)
        |), kept AS (
        |  SELECT t.doc_id, t.tpos, t.tok
        |  FROM toksql t LEFT JOIN spans s
        |    ON t.doc_id = s.doc_id AND t.tpos BETWEEN s.s AND s.e
        |  WHERE s.doc_id IS NULL
        |), clean AS (
        |  SELECT doc_id,
        |    array_to_string(list(tok ORDER BY tpos), ' ') AS clean_text
        |  FROM kept GROUP BY doc_id
        |)
        |SELECT p.doc_id, p.n_cut_spans, p.n_tokens_cut, p.spans_str,
        |  COALESCE(c.clean_text, '') AS clean_text
        |FROM perdoc p LEFT JOIN clean c USING (doc_id)
        |ORDER BY p.doc_id""".stripMargin),

    QuerySpec("q80_bpe_tokens", ((s, dir) => {
      // REAL BPE token counts (Sennrich merges applied in rank order by
      // the native one-pass expression) under the fixed fixture merge
      // table — a pretrained-model artifact shipped as a plan literal,
      // exactly how a production tokenizer deploys. The oracle replays
      // the identical algebra in DuckDB as a replace() chain, so every
      // count is exact, not gated. Corpus-trained tables come from
      // Bpe.train (spec-pinned); tokenization itself is a map-side
      // projection either way.
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_words"),
          Bpe.tokenCount(col("text"), Bpe.FixtureMerges).cast("long")
            .as("n_bpe_tokens"))
        .orderBy(col("doc_id"))
    }),
      s"""WITH tk AS (
         |  SELECT doc_id,
         |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')
         |      AS raw
         |  FROM documents
         |), w AS (
         |  SELECT doc_id, unnest(raw) AS word FROM tk
         |), cnt AS (
         |  SELECT doc_id,
         |    CAST(SUM(${graft.operators.Bpe.replaySqlTokenCount(graft.operators.Bpe.FixtureMerges)}) AS BIGINT) AS n_bpe
         |  FROM w GROUP BY doc_id
         |)
         |SELECT tk.doc_id, CAST(len(tk.raw) AS BIGINT) AS n_words,
         |  COALESCE(cnt.n_bpe, 0) AS n_bpe_tokens
         |FROM tk LEFT JOIN cnt USING (doc_id)
         |ORDER BY tk.doc_id""".stripMargin),

    QuerySpec("q83_bpe_trained", ((s, dir) => {
      // CORPUS-TRAINED BPE end to end: Bpe.train learns 50 merges from
      // this corpus at runtime (distributed word counts + bounded driver
      // loop), then the native tokenizer encodes every document. The
      // merge table is runtime data, so counts aren't SQL-replayable;
      // the gate is the q19/q72 pattern — per-doc booleans the oracle
      // pins TRUE: lossless roundtrip (subwords concatenate back to the
      // words), merge-set fixpoint (no adjacent emitted pair is still
      // mergeable — the defining property of a completed BPE encode),
      // and count bounds (n_words <= n_bpe <= non-space chars). A
      // broken trainer or encoder flips a boolean and hash-mismatches.
      val docs = t(s, dir, "documents")
      val merges = Bpe.train(docs, nMerges = 50)
      val mergeKeys = merges.map { case (a, b) => a + " " + b }
      val mergesLit = typedlit(merges.map(p => Seq(p._1, p._2)))
      val words = TextAnalysis.tokens(col("text"))
      // per-word encode: BPE never merges across words, so the fixpoint
      // property (no adjacent mergeable pair) holds per WORD — a flat
      // whole-doc subword list has coincidental cross-word adjacencies.
      // Subwords contain no spaces, so "a b" pair keys are unambiguous.
      val perWord = transform(words,
        w => GraftFunctions.bpe_encode(array(w), mergesLit))
      docs.select(col("doc_id"), words.as("w"), perWord.as("pw"))
        .select(col("doc_id"), col("w"), col("pw"),
          flatten(col("pw")).as("sub"))
        .select(col("doc_id"),
          size(col("w")).cast("long").as("n_words"),
          (array_join(col("sub"), "") === array_join(col("w"), "") &&
            !exists(col("pw"), ws => exists(
              zip_with(ws,
                slice(ws, lit(2), greatest(size(ws) - 1, lit(0))),
                (x, y) => concat_ws(" ", x, y)),
              p => array_contains(typedlit(mergeKeys), p))) &&
            size(col("sub")) >= size(col("w")) &&
            size(col("sub")) <= length(array_join(col("w"), "")))
            .as("bpe_ok"))
        .orderBy(col("doc_id"))
    }),
      """SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
        |    x -> x <> '')) AS BIGINT) AS n_words,
        |  TRUE AS bpe_ok
        |FROM documents ORDER BY doc_id""".stripMargin),

    QuerySpec("q86_doc_chunk", ((s, dir) => {
      // RAG/context chunking: 64-token windows every 48 tokens —
      // zero-shuffle map-side windowing (plan-pinned)
      TextAnalysis.chunkDocuments(t(s, dir, "documents"),
          chunkLen = 64, stride = 48)
        .orderBy(col("doc_id"), col("chunk_id"))
    }),
      s"""WITH base AS (
         |  SELECT doc_id, $toksSql AS tk FROM documents
         |), st AS (
         |  SELECT doc_id, tk, unnest(range(0, len(tk), 48)) AS s
         |  FROM base)
         |SELECT doc_id, CAST(s // 48 AS BIGINT) AS chunk_id,
         |  CAST(least(64, len(tk) - s) AS BIGINT) AS n_tokens,
         |  array_to_string(tk[CAST(s + 1 AS INT):CAST(s + 64 AS INT)], ' ')
         |    AS chunk_text
         |FROM st ORDER BY doc_id, chunk_id""".stripMargin),

    QuerySpec("q87_bigram_surprisal", ((s, dir) => {
      // bigram-LM fluency scoring (add-0.5 smoothing) — the stronger
      // cousin of q76's unigram rarity; DECIMAL accumulation keeps the
      // per-doc ln-sum order-independent
      TextAnalysis.bigramSurprisal(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    }),
      s"""WITH base AS (
         |  SELECT doc_id, $toksSql AS tk FROM documents
         |), bi AS (
         |  SELECT doc_id, tk[CAST(i + 1 AS INT)] AS w1,
         |    tk[CAST(i + 2 AS INT)] AS w2
         |  FROM (SELECT doc_id, tk,
         |          unnest(range(0, greatest(len(tk) - 1, 0))) AS i
         |        FROM base)
         |), tf AS (
         |  SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM bi GROUP BY 1, 2, 3
         |), c2 AS (SELECT w1, w2, SUM(tf) AS c2 FROM tf GROUP BY 1, 2),
         |c1 AS (SELECT w1, SUM(tf) AS c1 FROM tf GROUP BY 1),
         |v AS (
         |  SELECT CAST(COUNT(DISTINCT t) AS DOUBLE) AS vs
         |  FROM (SELECT unnest(tk) AS t FROM base)
         |), sc AS (
         |  SELECT doc_id, tf,
         |    ln((CAST(c2 AS DOUBLE) + 0.5) / (CAST(c1 AS DOUBLE) + 0.5 * vs))
         |      AS lp
         |  FROM tf JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v
         |), agg AS (
         |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
         |    round(-CAST(SUM(CAST(CAST(tf AS DOUBLE) * lp AS DECIMAL(38,6)))
         |        AS DOUBLE) / CAST(SUM(tf) AS DOUBLE), 6) AS surprisal
         |  FROM sc GROUP BY doc_id)
         |SELECT d.doc_id, COALESCE(a.n_bigrams, 0) AS n_bigrams,
         |  COALESCE(a.surprisal, 0.0) AS surprisal
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    QuerySpec("q90_decontaminate_bloom", ((s, dir) => {
      // q68's decontamination at eval-set scales where the exact shingle
      // set can't broadcast: distributed bloom build -> map-side
      // might_contain prefilter -> shuffle-join verify on the surviving
      // sliver. Same answer as q68 (bloom has no false negatives; the
      // verify join kills false positives) — same oracle SQL.
      val docs = t(s, dir, "documents")
      TextAnalysis.contaminationOverlapBloom(docs,
          docs.filter(col("doc_id") < 10))
        .select(col("id").as("doc_id"), col("n_overlap"))
        .orderBy(col("doc_id"))
    }),
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
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    QuerySpec("q91_quality_classifier", ((s, dir) => {
      // classifier-based quality filtering (the GPT-3/LLaMA data-recipe
      // step, distillation flavor): logistic regression over q31-style
      // features, trained IN-QUERY by full-batch GD as
      // decimal-accumulated aggregates (32 corpus scans, driver holds 5
      // doubles), then a map-side scoring projection. The label is the
      // composite q31 quality heuristic thresholded at 0.3 — the
      // oracle-checkable stand-in for "distill an expensive judgment
      // into a cheap linear model" (the trained classifier reaches ~99%
      // agreement, so it genuinely learns the target, and the label
      // stays engine-portable). Fully deterministic — the oracle
      // RE-TRAINS via an unrolled CTE chain and must land on identical
      // weights, so a diverged gradient anywhere is a hash mismatch.
      val docs = t(s, dir, "documents")
      val label = (TextAnalysis.qualityScore >= 0.3)
      // persisted-model artifact (the pqCodebookFor contract): train
      // once per corpus dir, scoring pays scoring
      val w = logRegWeightsFor(s, dir, docs, label.cast("double"),
        iters = 32)
      operators.QualityClassifier.score(docs, w,
          extra = Seq(label.as("is_hq")))
        .select(col("id").as("doc_id"), col("p"), col("pred"), col("is_hq"))
        .orderBy(col("doc_id"))
    }),
      s"""WITH ${q91Ctes(32, 8.0)},
         |scored AS (
         |  SELECT f.doc_id,
         |    round(1.0 / (1.0 + exp(-(${(0 to 4)
            .map(j => s"w.w$j * f.x$j").mkString(" + ")}))), 6) AS p,
         |    f.y
         |  FROM feats f CROSS JOIN w32 w)
         |SELECT doc_id, p, p >= 0.5 AS pred, y = 1.0 AS is_hq
         |FROM scored ORDER BY doc_id""".stripMargin),

    QuerySpec("q73_doc_tfidf", ((s, dir) => {
      // per-doc top-3 TF-IDF terms; integer rank key (tf desc, df asc,
      // term asc) so no rank ever hangs on the last bit of ln()
      TextAnalysis.tfidfTopTerms(t(s, dir, "documents"), topN = 3)
        .orderBy(col("doc_id"), col("rk"))
    }),
      """WITH terms AS (
        |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id,
        |          unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |            x -> x <> '')) AS term
        |        FROM documents)
        |  GROUP BY doc_id, term
        |), dft AS (
        |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM terms
        |  GROUP BY term
        |), nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
        |ranked AS (
        |  SELECT t.doc_id, t.term, t.tf, d.df,
        |    round(CAST(t.tf AS DOUBLE) * ln(n / CAST(d.df AS DOUBLE)), 6)
        |      AS tfidf,
        |    CAST(row_number() OVER (PARTITION BY t.doc_id
        |      ORDER BY t.tf DESC, d.df ASC, t.term ASC) AS INT) AS rk
        |  FROM terms t JOIN dft d USING (term), nd
        |)
        |SELECT doc_id, term, tf, df, tfidf, rk FROM ranked
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin),

    QuerySpec("q78_corpus_card", ((s, dir) => {
      // the dataset-datasheet aggregate a corpus release ships with: per
      // source, doc/token counts, decimal-exact mean quality, and the
      // dominant language via the two-step argmax (max count per source,
      // then min lang among maxima — no per-source rank window)
      val docs = t(s, dir, "documents")
      val base = docs.select(col("source"), col("lang"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("toks"),
        TextAnalysis.qualityScore.as("q"))
      val bySrc = base.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("toks")).cast("long").as("n_tokens"),
        round(sum(col("q").cast("decimal(38,6)")).cast("double")
          / count(lit(1)), 6).as("mean_quality"))
      val lc = base.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"))
      val mx = lc.groupBy(col("source")).agg(max(col("n")).as("mxn"))
      val top = lc.join(mx, Seq("source")).filter(col("n") === col("mxn"))
        .groupBy(col("source"))
        .agg(min(col("lang")).as("top_lang"),
          max(col("mxn")).cast("long").as("top_lang_n"))
      bySrc.join(top, Seq("source")).orderBy(col("source"))
    }),
      corpusCardSql),

    QuerySpec("q76_doc_surprisal", ((s, dir) => {
      // unigram LM surprisal (perplexity proxy) from the corpus's own
      // token counts; decimal-accumulated per-doc sum keeps the double
      // arithmetic order-independent across engines
      TextAnalysis.unigramSurprisal(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    }),
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> x <> '')) AS term
        |  FROM documents
        |), terms AS (
        |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM toks GROUP BY doc_id, term
        |), freq AS (
        |  SELECT term, CAST(SUM(tf) AS BIGINT) AS cnt FROM terms
        |  GROUP BY term
        |), n AS (SELECT CAST(SUM(tf) AS DOUBLE) AS nt FROM terms)
        |SELECT t.doc_id, CAST(SUM(t.tf) AS BIGINT) AS n_tokens,
        |  round(CAST(SUM(CAST(CAST(t.tf AS DOUBLE) * ln(nt / CAST(f.cnt
        |      AS DOUBLE)) AS DECIMAL(38,6))) AS DOUBLE)
        |    / CAST(SUM(t.tf) AS DOUBLE), 6) AS surprisal
        |FROM terms t JOIN freq f USING (term), n
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin),

    QuerySpec("q98_cdc_chunks", ((s, dir) => {
      // content-defined chunking + chunk-digest dup counts (the
      // storage-dedup primitive, LBFS/FastCDC cut-point shape with an
      // engine-portable md5-window boundary rule). Zero shuffle until the
      // digest dup-count exchange; the cut scan is one codegen'd kernel
      // pass per row (CdcPairs).
      TextAnalysis.cdcChunks(t(s, dir, "documents"))
        .select(col("id").as("doc_id"), col("chunk_id"), col("start_pos"),
          col("chunk_len"), col("digest"), col("n_dups"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }),
      """WITH pos AS (
        |  SELECT doc_id, text,
        |    unnest(range(1, greatest(len(text) - 7, 1) + 1)) AS i
        |  FROM documents
        |), trig AS (
        |  SELECT doc_id, i + 8 AS st FROM pos
        |  WHERE substr(md5(substr(text, CAST(i AS INT), 8)), 1, 1) = '0'
        |    AND i + 8 <= len(text)
        |), starts AS (
        |  SELECT doc_id, 1 AS st FROM documents
        |  UNION SELECT doc_id, CAST(st AS INT) AS st FROM trig
        |), seq AS (
        |  SELECT doc_id, st,
        |    lead(st) OVER (PARTITION BY doc_id ORDER BY st) AS nxt,
        |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY st)
        |      AS INT) AS chunk_id
        |  FROM starts
        |), ch AS (
        |  SELECT s.doc_id, chunk_id, CAST(st AS INT) AS start_pos,
        |    CAST(COALESCE(nxt, len(d.text) + 1) - st AS INT) AS chunk_len,
        |    md5(substr(d.text, CAST(st AS INT),
        |      CAST(COALESCE(nxt, len(d.text) + 1) - st AS INT))) AS digest
        |  FROM seq s JOIN documents d USING (doc_id)
        |)
        |SELECT doc_id, chunk_id, start_pos, chunk_len, digest,
        |  CAST(COUNT(*) OVER (PARTITION BY digest) AS BIGINT) AS n_dups
        |FROM ch ORDER BY doc_id, chunk_id""".stripMargin),

    QuerySpec("q99_pack_bpe", ((s, dir) => {
      // q66's sequence packing priced in REAL BPE tokens (q80's native
      // tokenizer under the fixture merge table) instead of whitespace
      // words — what a production pre-tokenized pipeline actually packs
      // by. Same two-phase distributed prefix sum; only the per-doc
      // counter changes, and the oracle replays both the merge algebra
      // and the packing algebra exactly.
      TextAnalysis.packSequences(t(s, dir, "documents"),
          seqLen = 2048, counter = Some(
            Bpe.tokenCount(col("text"), Bpe.FixtureMerges)))
        .groupBy(col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .orderBy(col("pack_id"))
    }),
      s"""WITH tk AS (
         |  SELECT doc_id,
         |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')
         |      AS raw
         |  FROM documents
         |), w AS (
         |  SELECT doc_id, unnest(raw) AS word FROM tk
         |), cnt AS (
         |  SELECT doc_id,
         |    CAST(SUM(${graft.operators.Bpe.replaySqlTokenCount(graft.operators.Bpe.FixtureMerges)}) AS BIGINT) AS n_bpe
         |  FROM w GROUP BY doc_id
         |), toks AS (
         |  SELECT tk.doc_id, COALESCE(cnt.n_bpe, 0) AS n_tokens
         |  FROM tk LEFT JOIN cnt USING (doc_id)
         |), cum AS (
         |  SELECT doc_id, n_tokens,
         |    SUM(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
         |  FROM toks)
         |SELECT CAST((c - n_tokens) // 2048 AS BIGINT) AS pack_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
         |FROM cum GROUP BY 1 ORDER BY pack_id""".stripMargin),

    QuerySpec("q106_heavy_hitters", ((s, dir) => {
      // frequent-items primitive with a count-min cross-check: exact
      // (token, count) heavy hitters at share >= 0.2%, each estimate
      // checked against the CM sketch's two documented guarantees (never
      // undercounts; overcount <= eps*N w.p. 1-delta). The oracle replays
      // the exact counts and pins both booleans TRUE — the q19/q96
      // sketch-gate pattern.
      operators.TextAnalysis.heavyHitters(t(s, dir, "documents"),
          minShare = 0.002)
        .orderBy(col("token"))
    }),
      """WITH tk AS (
        |  SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |    x -> x <> '')) AS token
        |  FROM documents
        |), tot AS (SELECT COUNT(*) AS n FROM tk)
        |SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
        |  TRUE AS est_ge_exact, TRUE AS est_within_bound
        |FROM tk, tot GROUP BY token, tot.n
        |HAVING CAST(COUNT(*) AS DOUBLE) >= 0.002 * n
        |ORDER BY token""".stripMargin),

    QuerySpec("q112_gopher_rules", ((s, dir) => {
      // Gopher quality rules (Rae et al. 2021): word-count bounds, mean
      // word length in [3,10], >= 2 stopwords, 80% alphabetic words,
      // bounded symbol share — all in INTEGER arithmetic (no double ratio
      // ever forms), one map-side codegen'd projection, no shuffle. The
      // cheapest gate of the cleaning cascade, so it runs first at 100 TB.
      TextAnalysis.gopherRules(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    }),
      s"""WITH st AS (
         |  SELECT doc_id,
         |    CAST(len($toksSql) AS BIGINT) AS n_words,
         |    CAST(coalesce(list_sum(list_transform($toksSql,
         |      t -> length(t))), 0) AS BIGINT) AS word_chars,
         |    CAST(len(list_filter($toksSql, t -> list_contains(
         |      ['the','and','of','to','is','in','that','it'],
         |      lower(t)))) AS BIGINT) AS stop_cnt,
         |    CAST(len(list_filter($toksSql,
         |      t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT)
         |      AS alpha_words,
         |    CAST(length(text) - length(replace(text, '#', ''))
         |      + len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT)
         |      AS symbol_cnt
         |  FROM documents
         |)
         |SELECT doc_id, n_words, word_chars, stop_cnt, alpha_words,
         |  symbol_cnt,
         |  CAST(CASE WHEN n_words BETWEEN 50 AND 100000 THEN 0 ELSE 1 END
         |    + CASE WHEN word_chars >= 3 * n_words
         |        AND word_chars <= 10 * n_words THEN 0 ELSE 1 END
         |    + CASE WHEN stop_cnt >= 2 THEN 0 ELSE 1 END
         |    + CASE WHEN 5 * alpha_words >= 4 * n_words THEN 0 ELSE 1 END
         |    + CASE WHEN 10 * symbol_cnt <= n_words THEN 0 ELSE 1 END
         |    AS BIGINT) AS n_fail,
         |  (CASE WHEN n_words BETWEEN 50 AND 100000 THEN 0 ELSE 1 END
         |    + CASE WHEN word_chars >= 3 * n_words
         |        AND word_chars <= 10 * n_words THEN 0 ELSE 1 END
         |    + CASE WHEN stop_cnt >= 2 THEN 0 ELSE 1 END
         |    + CASE WHEN 5 * alpha_words >= 4 * n_words THEN 0 ELSE 1 END
         |    + CASE WHEN 10 * symbol_cnt <= n_words THEN 0 ELSE 1 END)
         |    = 0 AS keep
         |FROM st ORDER BY doc_id""".stripMargin),

    QuerySpec("q113_url_dedup", ((s, dir) => {
      // canonical-URL dedup: the crawl corpus' messy fetch URLs (scheme/
      // host case, default ports, trailing slashes, utm tracking params,
      // fragments — derived deterministically per doc_id, 4 variants per
      // canonical page) collapse through the REAL RFC3986-subset
      // canonicalizer (operators.Urls — a pure regexp Column chain, no
      // UDF); the oracle predicts each canonical arithmetically from the
      // fixture derivation, so Spark must recover it exactly. One
      // partial-combined shuffle on the canonical key.
      operators.Urls.canonicalDedup(
          t(s, dir, "documents").select(col("doc_id"),
            messyUrlCol.as("url")))
        .orderBy(col("canonical_url"))
    }),
      """SELECT 'https://www.site' || CAST((doc_id // 4) % 20 AS VARCHAR)
        |    || '.example.com/docs/' || CAST(doc_id // 4 AS VARCHAR)
        |    || '?page=' || CAST((doc_id // 4) % 3 AS VARCHAR)
        |    AS canonical_url,
        |  min(doc_id) AS keeper_id, COUNT(*) AS n_variants
        |FROM documents
        |GROUP BY 1 ORDER BY canonical_url""".stripMargin),

    QuerySpec("q117_token_drift", ((s, dir) => {
      // token-distribution drift between source slices (src0-9 vs the
      // rest): per-token KL contribution under add-1 unigram LMs over the
      // union vocab — the between-snapshot data-drift monitor. One
      // (token, conditional-count) shuffle; totals are 3 driver scalars;
      // selection by integer count gate, never a double order-by.
      val sliceA = col("source").isin(
        (0 until 10).map(i => s"src$i"): _*)
      TextAnalysis.tokenDrift(t(s, dir, "documents"), sliceA, minCount = 10L)
        .orderBy(col("token"))
    }),
      s"""WITH tk AS (
         |  SELECT CASE WHEN source IN ('src0','src1','src2','src3','src4',
         |      'src5','src6','src7','src8','src9') THEN 1 ELSE 0 END
         |      AS in_a,
         |    unnest($toksSql) AS token
         |  FROM documents
         |), cnt AS (
         |  SELECT token, CAST(SUM(in_a) AS BIGINT) AS n_a,
         |    CAST(SUM(1 - in_a) AS BIGINT) AS n_b
         |  FROM tk GROUP BY token
         |), tot AS (
         |  SELECT CAST(SUM(n_a) AS BIGINT) AS na,
         |    CAST(SUM(n_b) AS BIGINT) AS nb, COUNT(*) AS v FROM cnt
         |)
         |SELECT token, n_a, n_b,
         |  round((CAST(n_a + 1 AS DOUBLE) / CAST(na + v AS DOUBLE))
         |    * ln((CAST(n_a + 1 AS DOUBLE) / CAST(na + v AS DOUBLE))
         |        / (CAST(n_b + 1 AS DOUBLE) / CAST(nb + v AS DOUBLE))),
         |    6) AS kl_term
         |FROM cnt, tot
         |WHERE n_a + n_b >= 10
         |ORDER BY token""".stripMargin),

    QuerySpec("q120_domain_stats", ((s, dir) => {
      // per-domain crawl statistics — the granularity blocklists, caps
      // and quality priors are kept at: registrable domain (host minus
      // www.) through the REAL parser over the messy fetch URLs, with
      // per-domain page counts, distinct canonical pages, and corpus
      // mass. One partial-combined shuffle on the domain key.
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), messyUrlCol.as("url"))
      docs.select(operators.Urls.domain(col("url")).as("domain"),
          operators.Urls.canonical(col("url")).as("canonical_url"),
          col("n_chars"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_pages"),
          countDistinct(col("canonical_url")).as("n_canonical"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy(col("domain"))
    }),
      """SELECT 'site' || CAST((doc_id // 4) % 20 AS VARCHAR)
        |    || '.example.com' AS domain,
        |  COUNT(*) AS n_pages,
        |  CAST(COUNT(DISTINCT doc_id // 4) AS BIGINT) AS n_canonical,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents
        |GROUP BY 1 ORDER BY domain""".stripMargin),

    QuerySpec("q125_token_pmi", ((s, dir) => {
      // PMI collocations over the corpus: adjacent-bigram pointwise
      // mutual information with positional marginals, gated by the
      // integer bigram count — the multi-word-unit detector feeding
      // phrase-aware vocab/dedup. Bigrams form map-side; one (w1,w2)
      // partial-combined exchange; marginals reduce the count table.
      operators.TextAnalysis.pmiCollocations(
          t(s, dir, "documents"), minCount = 5L)
        .orderBy(col("w1"), col("w2"))
    }),
      """WITH tk AS (
        |  SELECT
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS raw
        |  FROM documents
        |), bg AS (
        |  SELECT unnest(raw[1:len(raw)-1]) AS w1,
        |         unnest(raw[2:len(raw)]) AS w2
        |  FROM tk WHERE len(raw) >= 2
        |), c AS (
        |  SELECT w1, w2, COUNT(*) AS c_ab FROM bg GROUP BY 1, 2
        |), ca AS (
        |  SELECT w1, SUM(c_ab) AS c_a FROM c GROUP BY 1
        |), cb AS (
        |  SELECT w2, SUM(c_ab) AS c_b FROM c GROUP BY 1
        |), n AS (
        |  SELECT CAST(SUM(c_ab) AS DOUBLE) AS n_total FROM c
        |)
        |SELECT c.w1, c.w2, CAST(c_ab AS BIGINT) AS c_ab,
        |  CAST(c_a AS BIGINT) AS c_a, CAST(c_b AS BIGINT) AS c_b,
        |  round(ln((CAST(c_ab AS DOUBLE) * n_total) /
        |    (CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE))), 6) AS pmi
        |FROM c
        |JOIN ca USING (w1) JOIN cb USING (w2) CROSS JOIN n
        |WHERE c_ab >= 5
        |ORDER BY c.w1, c.w2""".stripMargin),

    QuerySpec("q126_hll_mergeable", ((s, dir) => {
      // mergeable distinct-count sketches — the incremental form of
      // q120's n_canonical: each ingest batch (doc_id parity here)
      // builds its own per-domain Datasketches HLL sketch (a
      // persistable binary artifact), and the corpus-wide answer is a
      // sketch UNION — old batches are never rescanned. The estimate
      // is engine-specific, so the hash-checked output is the q19
      // contract: exact distinct + a boolean pinning the union
      // estimate within 3*rsd(lgK=12) of exact. The deliberate second
      // (exact) pass exists only for that gate.
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), messyUrlCol.as("url"))
        .select(col("doc_id"),
          operators.Urls.domain(col("url")).as("domain"),
          operators.Urls.canonical(col("url")).as("canonical_url"))
      val sketches = docs
        .groupBy(col("domain"), (col("doc_id") % 2).as("batch"))
        .agg(hll_sketch_agg(col("canonical_url"), 12).as("sk"))
      val merged = sketches.groupBy(col("domain"))
        .agg(count(lit(1)).as("n_batches"),
          hll_sketch_estimate(hll_union_agg(col("sk"), allowDifferentLgConfigK = false))
            .as("est"))
      val exact = docs.groupBy(col("domain"))
        .agg(countDistinct(col("canonical_url")).as("exact_urls"))
      val tol = 3.0 * 1.04 / math.sqrt((1 << 12).toDouble)
      exact.join(merged, Seq("domain"))
        .select(col("domain"), col("exact_urls"), col("n_batches"),
          (abs(col("est") - col("exact_urls")).cast("double")
            <= greatest(lit(1.0), col("exact_urls") * lit(tol)))
            .as("within_tol"))
        .orderBy(col("domain"))
    }),
      """SELECT 'site' || CAST((doc_id // 4) % 20 AS VARCHAR)
        |    || '.example.com' AS domain,
        |  CAST(COUNT(DISTINCT doc_id // 4) AS BIGINT) AS exact_urls,
        |  CAST(COUNT(DISTINCT doc_id % 2) AS BIGINT) AS n_batches,
        |  TRUE AS within_tol
        |FROM documents
        |GROUP BY 1 ORDER BY domain""".stripMargin),

    QuerySpec("q133_html_extract", ((s, dir) => {
      // HTML main-content extraction over a messy-markup fixture (the
      // messyUrlCol pattern, applied to crawl HTML): each document is
      // wrapped in deterministic template markup — title, style/script
      // blocks whose CONTENTS must drop, nav and footer boilerplate —
      // and Spark must recover title/main/visible text through the real
      // regex pipeline. The oracle builds the identical HTML in SQL and
      // runs the identical RE2-compatible pipeline. All projections
      // ride the scan; the query has no join and no aggregate.
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit("</title><style>p{color:red}</style></head><body>" +
          "<nav><a href=\"/\">home</a> <a href=\"/about\">about</a></nav>" +
          "<div id=\"main\"><p>"),
        col("text"),
        lit("</p></div><footer>(c) 2024 example</footer>" +
          "<script>var x=1;</script></body></html>"))
      t(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("html", html)
        .select(col("doc_id"),
          TextAnalysis.htmlTitle.as("title"),
          (TextAnalysis.htmlParagraphs === col("text"))
            .as("recovered"),
          length(TextAnalysis.htmlParagraphs).cast("long")
            .as("main_len"),
          length(TextAnalysis.stripHtml).cast("long")
            .as("full_len"))
        .orderBy(col("doc_id"))
    }),
      """WITH h AS (
        |  SELECT doc_id, text,
        |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        |    '</title><style>p{color:red}</style></head><body>' ||
        |    '<nav><a href="/">home</a> <a href="/about">about</a></nav>' ||
        |    '<div id="main"><p>' || text ||
        |    '</p></div><footer>(c) 2024 example</footer>' ||
        |    '<script>var x=1;</script></body></html>' AS html
        |  FROM documents
        |), x AS (
        |  SELECT doc_id, text,
        |    regexp_extract(html, '(?s)<title>(.*?)</title>', 1) AS title,
        |    array_to_string(
        |      regexp_extract_all(html, '(?s)<p>(.*?)</p>', 1), ' ') AS main,
        |    trim(regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(html,
        |      '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
        |      '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
        |      '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g')) AS full_text
        |  FROM h
        |)
        |SELECT doc_id, title, main = text AS recovered,
        |  CAST(length(main) AS BIGINT) AS main_len,
        |  CAST(length(full_text) AS BIGINT) AS full_len
        |FROM x ORDER BY doc_id""".stripMargin),

    QuerySpec("q134_domain_prior", ((s, dir) => {
      // per-domain quality prior with Bayesian shrinkage: small domains
      // pull toward the corpus mean with prior strength m=20
      // (mean_shrunk = (n*mean_d + m*mean_g)/(n+m)) — the stabilized
      // per-domain score blocklists and sampling weights actually use,
      // where a 3-page domain's raw mean is noise. One domain-keyed
      // partial-combined aggregate; the global mean is a 1-row
      // broadcast; means accumulate in DECIMAL(38,6) (house dsum rule)
      // and the shrinkage arithmetic runs in one fixed double op order.
      val docs = t(s, dir, "documents")
        .select(operators.Urls.domain(messyUrlCol).as("domain"),
          col("n_chars"))
      val per = docs.groupBy(col("domain"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("decimal(38,6)")).as("s"))
        .withColumn("mean_chars",
          col("s").cast("double") / col("n_docs").cast("double"))
      val g = docs.agg(count(lit(1)).as("gn"),
        sum(col("n_chars").cast("decimal(38,6)")).as("gs"))
        .select((col("gs").cast("double") / col("gn").cast("double"))
          .as("mean_g"))
      per.crossJoin(broadcast(g))
        .select(col("domain"), col("n_docs"),
          round(col("mean_chars"), 6).as("mean_chars"),
          round((col("n_docs").cast("double") * col("mean_chars")
              + lit(20.0) * col("mean_g"))
            / (col("n_docs").cast("double") + lit(20.0)), 6)
            .as("mean_shrunk"))
        .orderBy(col("domain"))
    }),
      """WITH d AS (
        |  SELECT 'site' || CAST((doc_id // 4) % 20 AS VARCHAR)
        |      || '.example.com' AS domain,
        |    n_chars
        |  FROM documents
        |), per AS (
        |  SELECT domain, COUNT(*) AS n_docs,
        |    SUM(CAST(n_chars AS DECIMAL(38,6))) AS s
        |  FROM d GROUP BY domain
        |), g AS (
        |  SELECT CAST(SUM(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS mean_g FROM d
        |)
        |SELECT domain, n_docs,
        |  round(CAST(s AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS mean_chars,
        |  round((CAST(n_docs AS DOUBLE)
        |      * (CAST(s AS DOUBLE) / CAST(n_docs AS DOUBLE))
        |    + 20.0 * mean_g) / (CAST(n_docs AS DOUBLE) + 20.0), 6)
        |    AS mean_shrunk
        |FROM per CROSS JOIN g ORDER BY domain""".stripMargin),

    QuerySpec("q155_ctfidf", ((s, dir) => {
      // c-TF-IDF cluster naming (the BERTopic scoring): each source's
      // 5 most characteristic terms — one corpus-wide (class, term)
      // exchange, vocab-sized everything after.
      TextAnalysis.cTfIdf(t(s, dir, "documents"), topK = 5)
        .orderBy(col("class"), col("rk"))
    }),
      """WITH tf AS (
        |  SELECT class, t, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT source AS class,
        |          unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |            x -> x <> '')) AS t
        |        FROM documents)
        |  GROUP BY 1, 2
        |), f AS (
        |  SELECT t, SUM(tf) AS f FROM tf GROUP BY 1
        |), a AS (
        |  SELECT CAST(SUM(mass) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS avg_mass
        |  FROM (SELECT class, SUM(tf) AS mass FROM tf GROUP BY 1)
        |), w AS (
        |  SELECT class, t AS term, tf,
        |    round(CAST(tf AS DOUBLE)
        |      * ln(1.0 + avg_mass / CAST(f AS DOUBLE)), 6) AS w
        |  FROM tf JOIN f USING (t) CROSS JOIN a
        |)
        |SELECT class, term, tf, w, CAST(rk AS INT) AS rk FROM (
        |  SELECT class, term, tf, w,
        |    row_number() OVER (PARTITION BY class
        |      ORDER BY w DESC, term) AS rk
        |  FROM w)
        |WHERE rk <= 5 ORDER BY class, rk""".stripMargin),

    QuerySpec("q165_kappa", ((s, dir) => {
      // chance-corrected agreement between two heuristic labelers over
      // the same docs (quality >= 0.3 vs langid == 'en'): the
      // labeling-pipeline consistency readout. One contingency-table
      // exchange; everything after is labels^2-sized.
      val docs = t(s, dir, "documents")
      operators.Stats.cohenKappa(
        docs.select(
          (TextAnalysis.qualityScore >= 0.3).as("a"),
          (TextAnalysis.langId === "en").as("b")))
    }),
      {
      val profiles = TextAnalysis.langProfiles
      val scoreCols = profiles.map { case (lang, words) =>
        val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter(tk, t -> list_contains($lst, lower(t)))) AS s_$lang"
      }.mkString(",\n    ")
      s"""WITH base AS (
         |  SELECT doc_id, text, $toksSql AS tk FROM documents
         |), st AS (
         |  SELECT doc_id, text,
         |    CASE WHEN len(tk) = 0 THEN 0.0
         |      ELSE CAST(len(list_filter(tk,
         |          t -> list_contains($stopwordsSql, lower(t)))) AS DOUBLE)
         |        / CAST(len(tk) AS DOUBLE) END AS stopword_ratio,
         |    CASE WHEN length(text) = 0 THEN 0.0
         |      ELSE CAST(length(regexp_replace(text,
         |          '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE)
         |        / CAST(length(text) AS DOUBLE) END AS punct_ratio,
         |    $scoreCols
         |  FROM base
         |), lab AS (
         |  SELECT
         |    round(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
         |      * (1.0 - punct_ratio) * (0.5 + stopword_ratio / 2.0), 6)
         |      >= 0.3 AS a,
         |    (CASE WHEN s_de = 0 AND s_en = 0 AND s_es = 0 AND s_fr = 0
         |        THEN 'und'
         |      WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr
         |        THEN 'de'
         |      WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
         |      WHEN s_es >= s_fr THEN 'es'
         |      ELSE 'fr' END) = 'en' AS b
         |  FROM st
         |), ct AS MATERIALIZED (
         |  SELECT a, b, count(*) AS c FROM lab GROUP BY 1, 2
         |), tot AS (
         |  SELECT CAST(sum(c) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT)
         |      AS agree
         |  FROM ct
         |), ma AS (SELECT a AS cls, sum(c) AS n_a FROM ct GROUP BY 1),
         |mb AS (SELECT b AS cls, sum(c) AS n_b FROM ct GROUP BY 1),
         |ch AS (
         |  SELECT CAST(sum(n_a * n_b) AS BIGINT) AS sum_ab
         |  FROM ma JOIN mb USING (cls)
         |), pp AS (
         |  SELECT n,
         |    round(CAST(agree AS DOUBLE) / CAST(n AS DOUBLE), 9) AS p_o,
         |    round(CAST(sum_ab AS DOUBLE)
         |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 9) AS p_e
         |  FROM tot, ch
         |)
         |SELECT n, p_o, p_e,
         |  round((p_o - p_e) / (1.0 - p_e), 6) AS kappa
         |FROM pp""".stripMargin
    }),

    QuerySpec("q166_calibration", ((s, dir) => {
      // calibration audit of the q91-style trained quality classifier:
      // reliability bins + ECE + Brier — does p=0.8 MEAN 80%? The
      // oracle re-trains the 8-step GD via the unrolled CTE chain and
      // replays the identical bin algebra.
      val docs = t(s, dir, "documents")
      val label = (TextAnalysis.qualityScore >= 0.3)
      val w = logRegWeightsFor(s, dir, docs, label.cast("double"),
        iters = 8)
      val scored = operators.QualityClassifier.score(docs, w, extra = Seq(label.as("is_hq")))
      operators.Stats.calibration(scored)
    }),
      s"""WITH ${q91Ctes(8, 8.0)},
         |scored AS (
         |  SELECT round(1.0 / (1.0 + exp(-(${(0 to 4)
            .map(j => s"w.w$j * f.x$j").mkString(" + ")}))), 6) AS p,
         |    f.y
         |  FROM feats f CROSS JOIN w8 w
         |), per AS MATERIALIZED (
         |  SELECT CAST(least(floor(p * 10), 9) AS INT) AS bucket,
         |    CAST(count(*) AS BIGINT) AS n,
         |    sum(CAST(p AS DECIMAL(38,6))) AS pm,
         |    CAST(sum(CAST(y AS BIGINT)) AS BIGINT) AS pos,
         |    sum(CAST((p - y) * (p - y) AS DECIMAL(38,12))) AS se
         |  FROM scored GROUP BY 1
         |), tot AS (
         |  SELECT CAST(sum(n) AS BIGINT) AS nt, sum(se) AS se_t FROM per
         |), sc AS MATERIALIZED (
         |  SELECT bucket, n,
         |    round(CAST(pm AS DOUBLE) / CAST(n AS DOUBLE), 6) AS conf,
         |    round(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS acc,
         |    nt, se_t
         |  FROM per, tot
         |), sc2 AS MATERIALIZED (
         |  SELECT *,
         |    round((CAST(n AS DOUBLE) / CAST(nt AS DOUBLE))
         |      * abs(acc - conf), 9) AS contrib
         |  FROM sc
         |), ee AS (
         |  SELECT
         |    round(CAST(sum(CAST(contrib AS DECIMAL(38,9))) AS DOUBLE), 6)
         |      AS ece,
         |    round(CAST(max(se_t) AS DOUBLE) / CAST(max(nt) AS DOUBLE), 6)
         |      AS brier
         |  FROM sc2
         |)
         |SELECT bucket, n, conf, acc, contrib, ece, brier
         |FROM sc2, ee ORDER BY bucket""".stripMargin),

    QuerySpec("q178_pareto", ((s, dir) => {
      // 2-D Pareto frontier over (length, quality): "the best-quality
      // doc at every length budget" — domination decided against a
      // broadcast suffix-max grid, never a pairwise join; the oracle
      // brute-forces NOT EXISTS dominance over the same points (a
      // genuine differential, the q141 pattern).
      val docs = t(s, dir, "documents")
      operators.TopK.paretoFrontier(docs, col("n_chars"),
          TextAnalysis.qualityScore)
        .orderBy(col("doc_id"))
    }),
      s"""WITH base AS (
         |  SELECT doc_id, text, n_chars, $toksSql AS tk FROM documents
         |), st AS (
         |  SELECT doc_id, n_chars, text,
         |    CASE WHEN len(tk) = 0 THEN 0.0
         |      ELSE CAST(len(list_filter(tk,
         |          t -> list_contains($stopwordsSql, lower(t)))) AS DOUBLE)
         |        / CAST(len(tk) AS DOUBLE) END AS stopword_ratio,
         |    CASE WHEN length(text) = 0 THEN 0.0
         |      ELSE CAST(length(regexp_replace(text,
         |          '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE)
         |        / CAST(length(text) AS DOUBLE) END AS punct_ratio
         |  FROM base
         |), q AS MATERIALIZED (
         |  SELECT doc_id, CAST(n_chars AS BIGINT) AS x,
         |    round(round(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
         |      * (1.0 - punct_ratio) * (0.5 + stopword_ratio / 2.0), 6),
         |      6) AS y
         |  FROM st
         |)
         |SELECT d.doc_id, d.x, d.y FROM q d
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM q o
         |  WHERE (o.x > d.x AND o.y >= d.y)
         |     OR (o.x >= d.x AND o.y > d.y))
         |ORDER BY d.doc_id""".stripMargin),

    QuerySpec("q179_novelty", ((s, dir) => {
      // per-doc 3-gram novelty vs the src0 reference slice: fraction of
      // a doc's distinct shingles the reference has never seen — the
      // diversity-aware sampling signal; the shingle-keyed join is
      // unhinted (the src0 slice is SF-linear — Heaps-growing shingles),
      // swap the q90 bloom prefilter when even the shuffle is too wide.
      val docs = t(s, dir, "documents")
      TextAnalysis.noveltyVsReference(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),
      """WITH tk AS (
        |  SELECT doc_id, source,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')
        |      AS raw
        |  FROM documents
        |), sh AS MATERIALIZED (
        |  SELECT doc_id, source,
        |    list_distinct(CASE WHEN len(raw) < 3
        |      THEN [array_to_string(raw, ' ')]
        |      ELSE [array_to_string(raw[i+1:i+3], ' ')
        |            for i in range(0, len(raw) - 2)] END) AS shingles
        |  FROM tk
        |), ref AS MATERIALIZED (
        |  SELECT DISTINCT unnest(shingles) AS g FROM sh
        |  WHERE source = 'src0'
        |), ex AS (
        |  SELECT doc_id, unnest(shingles) AS g FROM sh
        |  WHERE source <> 'src0'
        |), per AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh,
        |    CAST(sum(CASE WHEN r.g IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_known
        |  FROM ex LEFT JOIN ref r USING (g) GROUP BY 1
        |)
        |SELECT doc_id, n_sh, n_known,
        |  round(1.0 - CAST(n_known AS DOUBLE) / CAST(n_sh AS DOUBLE), 6)
        |    AS novelty
        |FROM per ORDER BY doc_id""".stripMargin),

    QuerySpec("q180_vocab_growth", ((s, dir) => {
      // Heaps'-law vocabulary growth over 10 deterministic ingest
      // batches: new types, cumulative vocab, running type-token ratio
      // — "is the crawl still adding content or repeating itself".
      TextAnalysis.vocabGrowth(t(s, dir, "documents"), batches = 10)
        .orderBy(col("batch"))
    }),
      s"""WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
         |tb AS MATERIALIZED (
         |  SELECT CAST((10 * doc_id) // (mx + 1) AS INT) AS batch,
         |    unnest(tk) AS token
         |  FROM (SELECT doc_id, $toksSql AS tk FROM documents), mx
         |), vol AS (
         |  SELECT batch, CAST(count(*) AS BIGINT) AS n_tokens
         |  FROM tb GROUP BY 1
         |), nw AS (
         |  SELECT batch, CAST(count(*) AS BIGINT) AS new_types
         |  FROM (SELECT token, min(batch) AS batch FROM tb GROUP BY 1)
         |  GROUP BY 1
         |), j AS (
         |  SELECT v.batch, v.n_tokens,
         |    coalesce(nw.new_types, 0) AS new_types
         |  FROM vol v LEFT JOIN nw USING (batch)
         |), c AS (
         |  SELECT batch, n_tokens, new_types,
         |    CAST(sum(new_types) OVER w AS BIGINT) AS vocab_cum,
         |    CAST(sum(n_tokens) OVER w AS BIGINT) AS tok_cum
         |  FROM j WINDOW w AS (ORDER BY batch
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |)
         |SELECT batch, n_tokens, new_types, vocab_cum,
         |  round(CAST(vocab_cum AS DOUBLE) / CAST(tok_cum AS DOUBLE), 6)
         |    AS ttr
         |FROM c ORDER BY batch""".stripMargin),

    QuerySpec("q181_zipf", ((s, dir) => {
      // Zipf rank-frequency least-squares fit over the vocabulary:
      // natural text sits near slope -1; template/ID corpora don't.
      // All regression sums in exact DECIMAL over the bounded vocab.
      TextAnalysis.zipfFit(t(s, dir, "documents"))
    }),
      s"""WITH vocab AS MATERIALIZED (
         |  SELECT token, count(*) AS c
         |  FROM (SELECT unnest(tk) AS token
         |        FROM (SELECT $toksSql AS tk FROM documents))
         |  GROUP BY 1
         |), r AS (
         |  SELECT
         |    CAST(round(ln(CAST(row_number() OVER (ORDER BY c DESC,
         |      token ASC) AS DOUBLE)), 9) AS DECIMAL(18,9)) AS x,
         |    CAST(round(ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(18,9)) AS y
         |  FROM vocab
         |), s AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx,
         |    sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
         |  FROM r
         |), m AS (
         |  SELECT n, sx, sy,
         |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS m
         |  FROM s
         |)
         |SELECT n AS n_types, round(m, 6) AS slope,
         |  round((CAST(sy AS DOUBLE) - m * CAST(sx AS DOUBLE))
         |    / CAST(n AS DOUBLE), 6) AS intercept
         |FROM m""".stripMargin),

    QuerySpec("q183_scorecard", ((s, dir) => {
      // the end-to-end curation verdict per doc: quality (q31), 3-gram
      // repetition (q56), language (q32) and length percentile rank
      // (q177, broadcast join-back) fold into one keep/drop decision —
      // the headline composition of the per-doc signal family.
      val docs = t(s, dir, "documents")
      val pr = operators.Stats.percentileRanks(docs)
        .select(col("v").as("n_chars_v"), col("pct_rank").as("len_pr"))
      val scored = docs.select(col("doc_id"),
        TextAnalysis.qualityScore.as("quality"),
        TextAnalysis.dupNgramFrac(3).as("dup3"),
        (TextAnalysis.langId === "en").as("is_en"),
        col("n_chars").cast("long").as("n_chars_v"))
      scored.join(operators.Hints.boundedBroadcast(pr, "value_grid"),
        Seq("n_chars_v"))
        .select(col("doc_id"), col("quality"), col("dup3"), col("is_en"),
          col("len_pr"),
          (col("quality") >= 0.25 && col("dup3") <= 0.2 && col("is_en")
            && col("len_pr") >= 0.02 && col("len_pr") <= 0.98).as("keep"))
        .orderBy(col("doc_id"))
    }),
      {
      val profiles = TextAnalysis.langProfiles
      val scoreCols = profiles.map { case (lang, words) =>
        val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter(raw, t -> list_contains($lst, lower(t)))) AS s_$lang"
      }.mkString(",\n    ")
      s"""WITH tk AS (
         |  SELECT doc_id, text, n_chars,
         |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')
         |      AS raw
         |  FROM documents
         |), st AS (
         |  SELECT doc_id, text, n_chars, raw,
         |    CASE WHEN len(raw) < 3 THEN [array_to_string(raw, ' ')]
         |      ELSE [array_to_string(raw[i+1:i+3], ' ')
         |            for i in range(0, len(raw) - 2)] END AS g3,
         |    CASE WHEN len(raw) = 0 THEN 0.0
         |      ELSE CAST(len(list_filter(raw,
         |          t -> list_contains($stopwordsSql, lower(t)))) AS DOUBLE)
         |        / CAST(len(raw) AS DOUBLE) END AS stopword_ratio,
         |    CASE WHEN length(text) = 0 THEN 0.0
         |      ELSE CAST(length(regexp_replace(text,
         |          '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE)
         |        / CAST(length(text) AS DOUBLE) END AS punct_ratio,
         |    $scoreCols
         |  FROM tk
         |), scored AS MATERIALIZED (
         |  SELECT doc_id, CAST(n_chars AS BIGINT) AS v,
         |    round(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
         |      * (1.0 - punct_ratio) * (0.5 + stopword_ratio / 2.0), 6)
         |      AS quality,
         |    CASE WHEN len(g3) <= 0 THEN 0.0 ELSE round(1.0 -
         |      CAST(len(list_distinct(g3)) AS DOUBLE)
         |        / CAST(len(g3) AS DOUBLE), 6) END AS dup3,
         |    (CASE WHEN s_de = 0 AND s_en = 0 AND s_es = 0 AND s_fr = 0
         |        THEN 'und'
         |      WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr
         |        THEN 'de'
         |      WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
         |      WHEN s_es >= s_fr THEN 'es'
         |      ELSE 'fr' END) = 'en' AS is_en
         |  FROM st
         |), hist AS (
         |  SELECT v, CAST(count(*) AS BIGINT) AS c FROM scored GROUP BY 1
         |), w AS (
         |  SELECT v,
         |    coalesce(sum(c) OVER (ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS below,
         |    c, (SELECT sum(c) FROM hist) AS n
         |  FROM hist
         |), pr AS (
         |  SELECT v,
         |    round((CAST(below AS DOUBLE) + 0.5 * CAST(c AS DOUBLE))
         |      / CAST(n AS DOUBLE), 6) AS len_pr
         |  FROM w
         |)
         |SELECT doc_id, quality, dup3, is_en, len_pr,
         |  (quality >= 0.25 AND dup3 <= 0.2 AND is_en
         |    AND len_pr >= 0.02 AND len_pr <= 0.98) AS keep
         |FROM scored JOIN pr USING (v)
         |ORDER BY doc_id""".stripMargin
    }),

    QuerySpec("q184_rake", ((s, dir) => {
      // RAKE keyword extraction: each doc's top stopword-free phrase
      // scored by sum of word degree/frequency — doc-level metadata
      // enrichment (q155 names clusters; this names documents). All
      // aggregates and the rank window key on the doc id.
      TextAnalysis.rakeKeywords(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    }),
      s"""WITH tk AS (
         |  SELECT doc_id,
         |    list_filter(regexp_split_to_array(lower(text), '\\s+'),
         |      x -> x <> '') AS raw
         |  FROM documents
         |), mk AS (
         |  SELECT doc_id,
         |    array_to_string(list_transform(raw,
         |      t -> CASE WHEN list_contains($stopwordsSql, t)
         |        THEN '|' ELSE t END), ' ') AS s
         |  FROM tk
         |), ph0 AS (
         |  SELECT doc_id,
         |    unnest(list_filter(list_transform(
         |      regexp_split_to_array(s, ' *\\| *'), x -> trim(x)),
         |      x -> x <> '')) AS phrase
         |  FROM mk
         |), ph AS MATERIALIZED (
         |  SELECT doc_id, phrase FROM ph0
         |  WHERE len(regexp_split_to_array(phrase, ' ')) <= 4
         |), pw AS (
         |  SELECT doc_id, phrase,
         |    len(regexp_split_to_array(phrase, ' ')) AS plen,
         |    unnest(regexp_split_to_array(phrase, ' ')) AS word
         |  FROM ph
         |), ws AS MATERIALIZED (
         |  SELECT doc_id, word,
         |    round(CAST(sum(plen) AS DOUBLE) / CAST(count(*) AS DOUBLE),
         |      9) AS wscore
         |  FROM pw GROUP BY 1, 2
         |), pd AS (
         |  SELECT doc_id, phrase,
         |    unnest(regexp_split_to_array(phrase, ' ')) AS word
         |  FROM (SELECT DISTINCT doc_id, phrase FROM ph)
         |), ps AS (
         |  SELECT p.doc_id, p.phrase,
         |    round(CAST(sum(CAST(w.wscore AS DECIMAL(18,9))) AS DOUBLE),
         |      6) AS score
         |  FROM pd p JOIN ws w
         |    ON p.doc_id = w.doc_id AND p.word = w.word
         |  GROUP BY 1, 2
         |), r AS (
         |  SELECT doc_id, phrase, score, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY score DESC, phrase ASC) AS rk
         |  FROM ps
         |)
         |SELECT doc_id, phrase, score FROM r WHERE rk = 1
         |ORDER BY doc_id""".stripMargin),

    QuerySpec("q189_langid_eval", ((s, dir) => {
      // langid confusion matrix against the GROUND-TRUTH lang column —
      // real model evaluation, not a self-consistency check: per
      // (actual, predicted) counts and per-actual recall; zh has no
      // profile, so its misclassification pattern is part of the pin.
      val docs = t(s, dir, "documents")
      val pred = docs.select(col("lang").as("actual"),
        TextAnalysis.langId.as("predicted"))
      val cm = pred.groupBy(col("actual"), col("predicted"))
        .agg(count(lit(1)).as("n"))
      val tot = cm.groupBy(col("actual"))
        .agg(sum(col("n")).as("n_actual"))
      cm.join(operators.Hints.boundedBroadcast(tot, "label_domain"),
        Seq("actual"))
        .select(col("actual"), col("predicted"), col("n"),
          round(col("n").cast("double")
            / col("n_actual").cast("double"), 6).as("share"))
        .orderBy(col("actual"), col("predicted"))
    }),
      {
      val profiles = TextAnalysis.langProfiles
      val scoreCols = profiles.map { case (lang, words) =>
        val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter(tk, t -> list_contains($lst, lower(t)))) AS s_$lang"
      }.mkString(",\n    ")
      s"""WITH base AS (
         |  SELECT lang AS actual, $toksSql AS tk FROM documents
         |), scored AS (
         |  SELECT actual, $scoreCols FROM base
         |), pred AS (
         |  SELECT actual,
         |    CASE WHEN s_de = 0 AND s_en = 0 AND s_es = 0 AND s_fr = 0
         |      THEN 'und'
         |    WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr
         |      THEN 'de'
         |    WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
         |    WHEN s_es >= s_fr THEN 'es'
         |    ELSE 'fr' END AS predicted
         |  FROM scored
         |), cm AS MATERIALIZED (
         |  SELECT actual, predicted, CAST(count(*) AS BIGINT) AS n
         |  FROM pred GROUP BY 1, 2
         |), tot AS (
         |  SELECT actual, CAST(sum(n) AS BIGINT) AS n_actual
         |  FROM cm GROUP BY 1
         |)
         |SELECT cm.actual, cm.predicted, cm.n,
         |  round(CAST(cm.n AS DOUBLE) / CAST(tot.n_actual AS DOUBLE), 6)
         |    AS share
         |FROM cm JOIN tot USING (actual)
         |ORDER BY actual, predicted""".stripMargin
    }),

    QuerySpec("q193_readability", ((s, dir) => {
      // Flesch–Kincaid grade readability rollup per source — the
      // classic readability quality gate (keyword stuffing and garbage
      // strings land far outside the human band). Counts are pure
      // regexp projections riding the scan; per-doc grades round(6)
      // then DECIMAL-accumulate into the per-source mean.
      TextAnalysis.readabilityBySource(t(s, dir, "documents"))
    }),
      """WITH g AS (
        |  SELECT grp,
        |    round(0.39 * (words / sents) + 11.8 * (sylls / words)
        |      - 15.59, 6) AS fk
        |  FROM (
        |    SELECT source AS grp,
        |      CAST(greatest(len(list_filter(
        |        regexp_split_to_array(text, '\s+'), x -> x <> '')), 1)
        |        AS DOUBLE) AS words,
        |      CAST(greatest(len(regexp_extract_all(text,
        |        '[^.!?]*[^.!?\s][^.!?]*')), 1) AS DOUBLE) AS sents,
        |      CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |        AS DOUBLE) AS sylls
        |    FROM documents)
        |)
        |SELECT grp, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(CAST(sum(CAST(fk AS DECIMAL(38,6))) AS DOUBLE)
        |    / count(*), 6) AS mean_fk,
        |  min(fk) AS min_fk, max(fk) AS max_fk
        |FROM g GROUP BY grp ORDER BY grp""".stripMargin),

    QuerySpec("q194_lex_diversity", ((s, dir) => {
      // distinct-1/distinct-2 lexical diversity per source (Li et al.
      // 2016): the share of n-gram occurrences that are distinct types
      // over each source's pooled token stream — the template/bot-feed
      // detector at corpus granularity. One (group, gram) partial-
      // combined exchange per n; exact integer quotients.
      TextAnalysis.distinctNgramDiversity(t(s, dir, "documents"))
    }),
      """WITH tk AS MATERIALIZED (
        |  SELECT source AS grp,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')
        |      AS raw
        |  FROM documents
        |), u AS MATERIALIZED (
        |  SELECT grp, CAST(count(*) AS BIGINT) AS types_1,
        |    CAST(sum(c) AS BIGINT) AS occ_1
        |  FROM (SELECT grp, gram, count(*) AS c
        |        FROM (SELECT grp, unnest(raw) AS gram FROM tk)
        |        GROUP BY 1, 2)
        |  GROUP BY 1
        |), b AS MATERIALIZED (
        |  SELECT grp, CAST(count(*) AS BIGINT) AS types_2,
        |    CAST(sum(c) AS BIGINT) AS occ_2
        |  FROM (SELECT grp, gram, count(*) AS c
        |        FROM (SELECT grp,
        |                unnest([array_to_string(raw[i+1:i+2], ' ')
        |                        for i in range(0, len(raw) - 1)]) AS gram
        |              FROM tk)
        |        GROUP BY 1, 2)
        |  GROUP BY 1
        |)
        |SELECT u.grp, u.types_1, u.occ_1,
        |  round(CAST(u.types_1 AS DOUBLE) / CAST(u.occ_1 AS DOUBLE), 6)
        |    AS distinct_1,
        |  coalesce(b.types_2, 0) AS types_2,
        |  coalesce(b.occ_2, 0) AS occ_2,
        |  CASE WHEN coalesce(b.occ_2, 0) = 0 THEN 0.0
        |    ELSE round(CAST(b.types_2 AS DOUBLE) / CAST(b.occ_2 AS DOUBLE),
        |      6) END AS distinct_2
        |FROM u LEFT JOIN b ON u.grp = b.grp
        |ORDER BY u.grp""".stripMargin),

    QuerySpec("q200_tokenizer_fertility", ((s, dir) => {
      // tokenizer fertility per language — BPE tokens per whitespace
      // word under the fixture merge table: the multilingual tokenizer-
      // equity metric (a language with fertility 2× pays 2× the context
      // budget per word). Map-side native tokenizer, one lang-keyed
      // aggregate.
      t(s, dir, "documents")
        .select(col("lang"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("nw"),
          Bpe.tokenCount(col("text"), Bpe.FixtureMerges).cast("long")
            .as("nb"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("n_words"),
          sum(col("nb")).as("n_bpe_tokens"),
          round(sum(col("nb")).cast("double")
            / sum(col("nw")).cast("double"), 6).as("fertility"))
        .orderBy(col("lang"))
    }),
      s"""WITH tk AS (
         |  SELECT doc_id, lang,
         |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')
         |      AS raw
         |  FROM documents
         |), w AS (
         |  SELECT doc_id, unnest(raw) AS word FROM tk
         |), cnt AS (
         |  SELECT doc_id,
         |    CAST(SUM(${graft.operators.Bpe.replaySqlTokenCount(graft.operators.Bpe.FixtureMerges)}) AS BIGINT) AS n_bpe
         |  FROM w GROUP BY doc_id
         |)
         |SELECT tk.lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len(tk.raw)) AS BIGINT) AS n_words,
         |  CAST(sum(COALESCE(cnt.n_bpe, 0)) AS BIGINT) AS n_bpe_tokens,
         |  round(CAST(sum(COALESCE(cnt.n_bpe, 0)) AS DOUBLE)
         |    / CAST(sum(len(tk.raw)) AS DOUBLE), 6) AS fertility
         |FROM tk LEFT JOIN cnt USING (doc_id)
         |GROUP BY 1 ORDER BY lang""".stripMargin),

    QuerySpec("q210_card_incremental", ((s, dir) => {
      // q78's corpus card computed through the INCREMENTAL path: each
      // ingest batch (doc_id % 4) contributes one partial-stats row per
      // (source [, lang]) — decimal quality sums, token/doc counts,
      // language counts — and the release card is a pure MERGE of the
      // partials (the q126 sketch pattern for exact statistics: old
      // batches are never rescanned). The oracle is the DIRECT
      // computation — merge must be lossless by construction.
      val docs = t(s, dir, "documents")
      val base = docs.select(col("source"), col("lang"),
        (col("doc_id") % 4).as("batch"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("toks"),
        TextAnalysis.qualityScore.as("q"))
      val part = base.groupBy(col("source"), col("batch")).agg(
        count(lit(1)).as("n"), sum(col("toks")).as("tk"),
        sum(col("q").cast("decimal(38,6)")).as("qsum"))
      val partLang = base.groupBy(col("source"), col("batch"), col("lang"))
        .agg(count(lit(1)).as("n"))
      val bySrc = part.groupBy(col("source")).agg(
        sum(col("n")).as("n_docs"),
        sum(col("tk")).cast("long").as("n_tokens"),
        round(sum(col("qsum")).cast("double") / sum(col("n")), 6)
          .as("mean_quality"))
      val lc = partLang.groupBy(col("source"), col("lang"))
        .agg(sum(col("n")).as("n"))
      val mx = lc.groupBy(col("source")).agg(max(col("n")).as("mxn"))
      val top = lc.join(mx, Seq("source")).filter(col("n") === col("mxn"))
        .groupBy(col("source"))
        .agg(min(col("lang")).as("top_lang"),
          max(col("mxn")).cast("long").as("top_lang_n"))
      bySrc.join(top, Seq("source")).orderBy(col("source"))
    }),
      // the INCREMENTAL card must land on the direct computation exactly
      // (decimal partials and per-(source,lang) counts merge losslessly),
      // so the oracle IS q78's direct-path SQL
      corpusCardSql),

    QuerySpec("q211_trending_terms", ((s, dir) => {
      // trending terms between ingest batches (doc_id parity as the
      // old/new slice): add-1-smoothed share ratio
      // ((c1+1)·(T0+V)) / ((c0+1)·(T1+V)) — exact integer products, ONE
      // double division, round(6) — gated on c1 >= 5, top 15 movers.
      // One (token, batch-flag) partial-combined exchange; totals and V
      // ride a 1-row broadcast.
      val docs = t(s, dir, "documents")
      val tok = docs.select((col("doc_id") % 2).as("b"),
        explode(TextAnalysis.tokens(col("text"))).as("tk"))
      val counts = tok.groupBy(col("tk")).agg(
        sum(when(col("b") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("b") === 1, 1L).otherwise(0L)).as("c1"))
      val cM = operators.Materializer.Local(counts)
      val tot = cM.agg(sum(col("c0")).as("t0"), sum(col("c1")).as("t1"),
        count(lit(1)).as("v"))
      cM.crossJoin(broadcast(tot))
        .filter(col("c1") >= 5L)
        .select(col("tk").as("token"), col("c0"), col("c1"),
          round(((col("c1") + lit(1L)) * (col("t0") + col("v")))
            .cast("double")
            / ((col("c0") + lit(1L)) * (col("t1") + col("v")))
              .cast("double"), 6).as("ratio"))
        .orderBy(col("ratio").desc, col("token").asc)
        .limit(15)
    }),
      s"""WITH tok AS (
         |  SELECT doc_id % 2 AS b, unnest($toksSql) AS tk FROM documents
         |), counts AS MATERIALIZED (
         |  SELECT tk,
         |    CAST(sum(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
         |    CAST(sum(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
         |  FROM tok GROUP BY 1
         |), tot AS (
         |  SELECT CAST(sum(c0) AS BIGINT) AS t0,
         |    CAST(sum(c1) AS BIGINT) AS t1,
         |    CAST(count(*) AS BIGINT) AS v
         |  FROM counts
         |)
         |SELECT tk AS token, c0, c1,
         |  round(CAST((c1 + 1) * (t0 + v) AS DOUBLE)
         |    / CAST((c0 + 1) * (t1 + v) AS DOUBLE), 6) AS ratio
         |FROM counts, tot WHERE c1 >= 5
         |ORDER BY ratio DESC, token ASC LIMIT 15""".stripMargin),

    QuerySpec("q213_budget_select", ((s, dir) => {
      // token-budget curation: fill a 10k-token training budget with the
      // best-quality docs — global greedy by (quality desc, id) realized
      // as the q66 two-phase bucketed prefix sum (no global sort, no
      // single-partition window); per-source rollup of what made the cut.
      val docs = t(s, dir, "documents")
      val sel = Sampling.budgetSelect(docs,
        TextAnalysis.tokenCount(col("text")),
        TextAnalysis.qualityScore, budget = 10000L)
      docs.select(col("doc_id").as("id"), col("source"))
        .join(sel, Seq("id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("selected"), 1L).otherwise(0L)).as("n_selected"),
          sum(when(col("selected"), col("w")).otherwise(0L))
            .as("tokens_selected"))
        .orderBy(col("source"))
    }),
      // the oracle runs the ONE global window the Spark side must avoid —
      // fine single-node, and it pins the bucketed two-phase prefix sum
      s"""WITH base AS (
         |  SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS w,
         |    round(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
         |      * (1.0 - CASE WHEN length(text) = 0 THEN 0.0
         |          ELSE CAST(length(regexp_replace(text,
         |              '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE)
         |            / CAST(length(text) AS DOUBLE) END)
         |      * (0.5 + (CASE WHEN len($toksSql) = 0 THEN 0.0
         |          ELSE CAST(len(list_filter($toksSql,
         |              t -> list_contains($stopwordsSql, lower(t))))
         |              AS DOUBLE)
         |            / CAST(len($toksSql) AS DOUBLE) END) / 2.0), 6) AS s
         |  FROM documents
         |), cum AS (
         |  SELECT source, w,
         |    CAST(sum(w) OVER (ORDER BY s DESC, doc_id ASC
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM base
         |)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN cum - w < 10000 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_selected,
         |  CAST(sum(CASE WHEN cum - w < 10000 THEN w ELSE 0 END)
         |    AS BIGINT) AS tokens_selected
         |FROM cum GROUP BY 1 ORDER BY source""".stripMargin),

    QuerySpec("q229_unseen_vocab", ((s, dir) => {
      // how much vocabulary has each source NOT shown yet — the corpus
      // coverage readout that says whether more crawling of a feed will
      // surface new tokens: Good–Turing missing mass p0 = N1/N (Gale &
      // Sampson 1995) and the bias-corrected Chao1 richness estimate
      // V + N1*(N1-1)/(2*(N2+1)) (Chao 1984) from the
      // frequency-of-frequencies. Species = trigram word shingles (the
      // q71 span algebra — token vocab is too small on this corpus to
      // have a tail; span space has a real hapax mass). ONE
      // (source, shingle) partial-combined exchange; everything after
      // is source-sized. Exact integer counts; the two derived values
      // are single pinned double divisions + round(6).
      val tk = t(s, dir, "documents").select(col("source"),
        explode(operators.TextAnalysis.shingles(col("text"), 3))
          .as("term"))
      tk.groupBy(col("source"), col("term"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("vocab"),
          sum(col("c")).cast("long").as("n_tokens"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).cast("long")
            .as("n1"),
          sum(when(col("c") === 2, 1L).otherwise(0L)).cast("long")
            .as("n2"))
        .select(col("source"), col("vocab"), col("n_tokens"),
          col("n1"), col("n2"),
          round(col("n1").cast("double")
            / col("n_tokens").cast("double"), 6).as("missing_mass"),
          round(col("vocab").cast("double")
            + (col("n1") * (col("n1") - lit(1L))).cast("double")
              / ((col("n2") + lit(1L)) * lit(2L)).cast("double"), 6)
            .as("chao1"))
        .orderBy(col("source"))
    }),
      """WITH raw AS (
        |  SELECT source,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')
        |      AS raw
        |  FROM documents
        |), tk AS (
        |  SELECT source, unnest(CASE WHEN len(raw) < 3
        |    THEN [array_to_string(raw, ' ')]
        |    ELSE [array_to_string(raw[i+1:i+3], ' ')
        |          for i in range(0, len(raw) - 2)] END) AS term
        |  FROM raw
        |), tc AS (
        |  SELECT source, term, CAST(count(*) AS BIGINT) AS c
        |  FROM tk GROUP BY 1, 2
        |), ff AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS vocab,
        |    CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        |  FROM tc GROUP BY source
        |)
        |SELECT source, vocab, n_tokens, n1, n2,
        |  round(CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
        |    AS missing_mass,
        |  round(CAST(vocab AS DOUBLE)
        |    + CAST(n1 * (n1 - 1) AS DOUBLE)
        |      / CAST((n2 + 1) * 2 AS DOUBLE), 6) AS chao1
        |FROM ff ORDER BY source""".stripMargin),

    QuerySpec("q227_woe_iv", ((s, dir) => {
      // weight-of-evidence / information-value feature screening (the
      // credit-scoring standard, Siddiqi 2006): how strongly do cheap
      // engine-computable features (length bin, chars-per-token bin)
      // separate English from non-English docs. Map-side binning, one
      // (feature, bin) partial-combined count, per-feature totals and IV
      // join back on the bounded bin table. Laplace 0.5 smoothing keeps
      // empty cells finite; shares/ln are pinned-op-order doubles; the
      // IV sum accumulates round(9) DECIMALs so partial-agg order can't
      // flip a bit.
      val docs = t(s, dir, "documents")
      val base = docs
        .withColumn("toks",
          operators.TextAnalysis.tokenCount(col("text")).cast("long"))
        .select((col("lang") === "en").as("good"),
          expr("CAST(least(n_chars DIV 100, 5) AS BIGINT)")
            .as("len_bin"),
          expr("CAST(least(greatest((n_chars * 10)" +
            " DIV greatest(toks, 1) - 50, 0), 9) AS BIGINT)")
            .as("wordlen_bin"))
      val rows = base.select(lit("len_bin").as("feature"),
          col("len_bin").as("bin"), col("good"))
        .unionAll(base.select(lit("wordlen_bin").as("feature"),
          col("wordlen_bin").as("bin"), col("good")))
      val cnt = rows.groupBy(col("feature"), col("bin"))
        .agg(sum(when(col("good"), 1L).otherwise(0L)).cast("long")
            .as("n_good"),
          sum(when(col("good"), 0L).otherwise(1L)).cast("long")
            .as("n_bad"))
      val tot = cnt.groupBy(col("feature"))
        .agg(sum(col("n_good")).cast("long").as("tg"),
          sum(col("n_bad")).cast("long").as("tb"))
      val gs = (col("n_good").cast("double") + lit(0.5)) /
        (col("tg").cast("double") + lit(0.5))
      val bs = (col("n_bad").cast("double") + lit(0.5)) /
        (col("tb").cast("double") + lit(0.5))
      val scored = cnt.join(tot, Seq("feature"))
        .select(col("feature"), col("bin"), col("n_good"), col("n_bad"),
          round(log(gs / bs), 6).as("woe"),
          round((gs - bs) * log(gs / bs), 9).cast("decimal(38,9)")
            .as("term"))
      val iv = scored.groupBy(col("feature"))
        .agg(round(sum(col("term")).cast("double"), 6).as("iv"))
      scored.join(iv, Seq("feature"))
        .select(col("feature"), col("bin"), col("n_good"), col("n_bad"),
          col("woe"), col("iv"))
        .orderBy(col("feature"), col("bin"))
    }),
      """WITH base AS (
        |  SELECT (lang = 'en') AS good,
        |    least(n_chars // 100, 5) AS len_bin,
        |    least(greatest((n_chars * 10)
        |      // greatest(len(list_filter(regexp_split_to_array(text,
        |            '\s+'), x -> x <> '')), 1) - 50, 0), 9) AS wordlen_bin
        |  FROM documents
        |), rows_ AS (
        |  SELECT 'len_bin' AS feature, len_bin AS bin, good FROM base
        |  UNION ALL
        |  SELECT 'wordlen_bin', wordlen_bin, good FROM base
        |), cnt AS (
        |  SELECT feature, CAST(bin AS BIGINT) AS bin,
        |    CAST(sum(CASE WHEN good THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_good,
        |    CAST(sum(CASE WHEN good THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_bad
        |  FROM rows_ GROUP BY 1, 2
        |), tot AS (
        |  SELECT feature, CAST(sum(n_good) AS BIGINT) AS tg,
        |    CAST(sum(n_bad) AS BIGINT) AS tb
        |  FROM cnt GROUP BY 1
        |), scored AS (
        |  SELECT feature, bin, n_good, n_bad,
        |    round(ln(((CAST(n_good AS DOUBLE) + 0.5)
        |        / (CAST(tg AS DOUBLE) + 0.5))
        |      / ((CAST(n_bad AS DOUBLE) + 0.5)
        |        / (CAST(tb AS DOUBLE) + 0.5))), 6) AS woe,
        |    CAST(round((((CAST(n_good AS DOUBLE) + 0.5)
        |        / (CAST(tg AS DOUBLE) + 0.5))
        |      - ((CAST(n_bad AS DOUBLE) + 0.5)
        |        / (CAST(tb AS DOUBLE) + 0.5)))
        |      * ln(((CAST(n_good AS DOUBLE) + 0.5)
        |        / (CAST(tg AS DOUBLE) + 0.5))
        |      / ((CAST(n_bad AS DOUBLE) + 0.5)
        |        / (CAST(tb AS DOUBLE) + 0.5))), 9) AS DECIMAL(38,9))
        |      AS term
        |  FROM cnt JOIN tot USING (feature)
        |), iv AS (
        |  SELECT feature, round(CAST(sum(term) AS DOUBLE), 6) AS iv
        |  FROM scored GROUP BY 1
        |)
        |SELECT feature, bin, n_good, n_bad, woe, iv
        |FROM scored JOIN iv USING (feature)
        |ORDER BY feature, bin""".stripMargin),

    QuerySpec("q224_winnowing_pairs", ((s, dir) => {
      // MOSS-style plagiarism pairs: winnowing fingerprints (k=4-token
      // shingles, w=4 windows — any shared >=7-token run leaves a shared
      // fingerprint) selected map-side, stop-fingerprints (df > 100, the
      // boilerplate guard) dropped on the bounded fingerprint table, then
      // pair candidates form on a fingerprint EQUI-JOIN — never all
      // pairs. Where q37's MinHash answers "how similar are these sets",
      // the winnowing join answers "do they share a literal local run" —
      // at a ~2/(w+1) sampling rate the corpus never pays full-text
      // comparison for.
      val fps = operators.TextAnalysis.winnowingFingerprints(
        t(s, dir, "documents"))
      val fpd = fps.select(col("id"), col("h")).distinct()
      val keep = fpd.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= 100)
      val f2 = fpd.join(keep.select(col("h")), Seq("h"))
      val nf = f2.groupBy(col("id")).agg(count(lit(1)).as("n"))
      val pr = f2.select(col("h"), col("id").as("doc_a"))
        .join(f2.select(col("h"), col("id").as("doc_b")), Seq("h"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
      pr.join(nf.select(col("id").as("doc_a"), col("n").as("n_a")),
          Seq("doc_a"))
        .join(nf.select(col("id").as("doc_b"), col("n").as("n_b")),
          Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("n_shared"),
          col("n_a"), col("n_b"),
          round(col("n_shared").cast("double")
            / least(col("n_a"), col("n_b")).cast("double"), 6)
            .as("containment"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),
      // replays winnowing selection with a window-min + rightmost-tie
      // argmax — the operator's aggregate-HOF fold has identical
      // semantics (<= keeps the last minimum scanning left->right)
      winnowingPairsSql),

    QuerySpec("q232_heldout_xent", ((s, dir) =>
      // the CCNet-style LM quality filter, engine-exact: an add-1 bigram
      // model trained on the q63 75% train slice scores the HELD-OUT 25%
      // by cross-entropy per bigram — the model never sees the docs it
      // scores, so memorized duplicates can't rate themselves fluent.
      // Token-keyed scoring joins (AQE Zipf-head), DECIMAL ln-sums,
      // one driver scalar (train vocab).
      operators.TextAnalysis.bigramCrossEntropy(t(s, dir, "documents"),
          isTrain = substring(md5(col("doc_id").cast("string")), 1, 1)
            < lit("c"))
        .orderBy(col("doc_id"))),
      s"""WITH base AS (
         |  SELECT doc_id, $toksSql AS tk,
         |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' AS is_train
         |  FROM documents
         |), tr AS (SELECT doc_id, tk FROM base WHERE is_train
         |), te AS (SELECT doc_id, tk FROM base WHERE NOT is_train
         |), bit AS (
         |  SELECT doc_id, tk[CAST(i + 1 AS INT)] AS w1,
         |    tk[CAST(i + 2 AS INT)] AS w2
         |  FROM (SELECT doc_id, tk,
         |          unnest(range(0, greatest(len(tk) - 1, 0))) AS i
         |        FROM tr)
         |), tft AS (
         |  SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM bit GROUP BY 1, 2, 3
         |), c2 AS (
         |  SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS c2
         |  FROM tft GROUP BY 1, 2
         |), c1 AS (
         |  SELECT w1, CAST(SUM(tf) AS BIGINT) AS c1 FROM tft GROUP BY 1
         |), v AS (
         |  SELECT CAST(COUNT(DISTINCT t) AS DOUBLE) AS vs
         |  FROM (SELECT unnest(tk) AS t FROM tr)
         |), bie AS (
         |  SELECT doc_id, tk[CAST(i + 1 AS INT)] AS w1,
         |    tk[CAST(i + 2 AS INT)] AS w2
         |  FROM (SELECT doc_id, tk,
         |          unnest(range(0, greatest(len(tk) - 1, 0))) AS i
         |        FROM te)
         |), tfe AS (
         |  SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM bie GROUP BY 1, 2, 3
         |), sc AS (
         |  SELECT doc_id, tf,
         |    ln((CAST(coalesce(c2, 0) AS DOUBLE) + 1.0)
         |      / (CAST(coalesce(c1, 0) AS DOUBLE) + 1.0 * vs)) AS lp
         |  FROM tfe LEFT JOIN c2 USING (w1, w2)
         |  LEFT JOIN c1 USING (w1), v
         |), agg AS (
         |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
         |    round(-CAST(SUM(CAST(CAST(tf AS DOUBLE) * lp
         |        AS DECIMAL(38,6))) AS DOUBLE)
         |      / CAST(SUM(tf) AS DOUBLE), 6) AS cross_entropy
         |  FROM sc GROUP BY doc_id
         |)
         |SELECT d.doc_id, COALESCE(a.n_bigrams, 0) AS n_bigrams,
         |  COALESCE(a.cross_entropy, 0.0) AS cross_entropy
         |FROM te d LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    QuerySpec("q234_burrows_delta", ((s, dir) => {
      // Burrows' Delta stylometry (Burrows 2002): pairwise style
      // distance between sources over the 30 corpus-wide marker tokens —
      // mean |z-score difference| of relative marker frequencies, the
      // classic authorship / same-upstream-generator detector for feed
      // forensics. One (source, token) exchange; the z-table and every
      // join after it are marker x source bounded; z = (n·f - Σf)/√(n·Σf²
      // - (Σf)²) keeps the numerator decimal-exact (f pre-rounded to 9)
      // with one sqrt + one division of pinned-order doubles; pair
      // deltas accumulate round(9) decimals.
      val docs = t(s, dir, "documents")
      // ONE corpus tokenize pass: every downstream table (marker list,
      // per-source totals, marker counts) derives from the pinned
      // (source, token) rollup — three consumers, so an unpinned plan
      // would re-explode the corpus per consumer (the q98/q213 trap)
      val sw = operators.Materializer.Local(docs
        .select(col("source"),
          explode(operators.TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy(col("source"), col("w"))
        .agg(count(lit(1)).cast("long").as("cw")))
      val top = sw.groupBy(col("w")).agg(sum(col("cw")).as("c"))
        .orderBy(col("c").desc, col("w").asc).limit(30).select(col("w"))
      val ns = sw.groupBy(col("source"))
        .agg(sum(col("cw")).cast("long").as("nt"))
      val cnt = sw.join(broadcast(top), Seq("w"))
        .select(col("source"), col("w"), col("cw"))
      val dense = operators.Hints.boundedBroadcast(ns, "category_domain")
        .crossJoin(broadcast(top))
        .join(cnt, Seq("source", "w"), "left")
        .select(col("source"), col("w"),
          round(coalesce(col("cw"), lit(0L)).cast("double")
            / col("nt").cast("double"), 9).cast("decimal(18,9)")
            .as("f9"))
      val st = dense.groupBy(col("w")).agg(
        count(lit(1)).cast("long").as("nsrc"),
        sum(col("f9")).as("s1"),
        sum((col("f9") * col("f9")).cast("decimal(38,18)")).as("s2"))
      // st is one row per marker (the 30-token panel): dense's left
      // join can only preserve the (source x marker) grid's row count
      val z = dense.join(
          operators.Hints.boundedBroadcast(st, "marker_panel"), Seq("w"))
        .withColumn("nd", col("nsrc").cast("double"))
        .withColumn("num", col("nd") * col("s2").cast("double")
          - col("s1").cast("double") * col("s1").cast("double"))
        .filter(col("num") > 0)
        .withColumn("z", (col("nd") * col("f9").cast("double")
          - col("s1").cast("double")) / sqrt(col("num")))
      val za = z.select(col("w"), col("source").as("source_a"),
        col("z").as("za"))
      val zb = z.select(col("w"), col("source").as("source_b"),
        col("z").as("zb"))
      za.join(zb, Seq("w")).filter(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).cast("long").as("n_markers"),
          round(sum(round(abs(col("za") - col("zb")), 9)
              .cast("decimal(38,9)")).cast("double")
            / count(lit(1)).cast("double"), 6).as("delta"))
        .orderBy(col("source_a"), col("source_b"))
    }),
      s"""WITH tok AS (
         |  SELECT source, unnest($toksSql) AS w
         |  FROM documents
         |), top AS (
         |  SELECT w FROM tok GROUP BY w
         |  ORDER BY count(*) DESC, w LIMIT 30
         |), ns AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS nt
         |  FROM tok GROUP BY 1
         |), cnt AS (
         |  SELECT source, w, CAST(count(*) AS BIGINT) AS cw
         |  FROM tok JOIN top USING (w) GROUP BY 1, 2
         |), grid AS (
         |  SELECT ns.source, ns.nt, top.w FROM ns, top
         |), dense AS (
         |  SELECT g.source, g.w,
         |    CAST(round(CAST(coalesce(cnt.cw, 0) AS DOUBLE)
         |      / CAST(g.nt AS DOUBLE), 9) AS DECIMAL(18,9)) AS f9
         |  FROM grid g LEFT JOIN cnt USING (source, w)
         |), st AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS nsrc,
         |    SUM(f9) AS s1,
         |    SUM(CAST(f9 * f9 AS DECIMAL(38,18))) AS s2
         |  FROM dense GROUP BY 1
         |), z AS (
         |  SELECT d.source, d.w,
         |    (CAST(nsrc AS DOUBLE) * CAST(f9 AS DOUBLE)
         |      - CAST(s1 AS DOUBLE))
         |      / sqrt(CAST(nsrc AS DOUBLE) * CAST(s2 AS DOUBLE)
         |        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) AS z
         |  FROM dense d JOIN st USING (w)
         |  WHERE CAST(nsrc AS DOUBLE) * CAST(s2 AS DOUBLE)
         |    - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) > 0
         |)
         |SELECT a.source AS source_a, b.source AS source_b,
         |  CAST(count(*) AS BIGINT) AS n_markers,
         |  round(CAST(SUM(CAST(round(abs(a.z - b.z), 9)
         |      AS DECIMAL(38,9))) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE), 6) AS delta
         |FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin),

    QuerySpec("q239_mutual_info", ((s, dir) => {
      // mutual information / information-gain feature screening — the
      // entropy-based complement of q227's WOE/IV over the SAME bins:
      // MI(bin; is_en) = Σ p(b,c)·ln(N·n_bc/(n_b·n_c)), plus the label
      // entropy and the normalized gain ratio. Exact integer ratios
      // inside every ln (zero cells never materialize — 0·ln0 = 0 by
      // construction), terms accumulate as round(9) decimals; one
      // (feature, bin, label) exchange, bounded rollups after.
      val docs = t(s, dir, "documents")
      val base = docs
        .withColumn("toks",
          operators.TextAnalysis.tokenCount(col("text")).cast("long"))
        .select((col("lang") === "en").as("good"),
          expr("CAST(least(n_chars DIV 100, 5) AS BIGINT)")
            .as("len_bin"),
          expr("CAST(least(greatest((n_chars * 10)" +
            " DIV greatest(toks, 1) - 50, 0), 9) AS BIGINT)")
            .as("wordlen_bin"))
      val rows = base.select(lit("len_bin").as("feature"),
          col("len_bin").as("bin"), col("good"))
        .unionAll(base.select(lit("wordlen_bin").as("feature"),
          col("wordlen_bin").as("bin"), col("good")))
      val c3 = rows.groupBy(col("feature"), col("bin"), col("good"))
        .agg(count(lit(1)).cast("long").as("nbc"))
      val nb = c3.groupBy(col("feature"), col("bin"))
        .agg(sum(col("nbc")).cast("long").as("nb"))
      val nc = c3.groupBy(col("feature"), col("good"))
        .agg(sum(col("nbc")).cast("long").as("nc"))
      val nt = c3.groupBy(col("feature"))
        .agg(sum(col("nbc")).cast("long").as("nt"))
      val mi = c3.join(nb, Seq("feature", "bin"))
        .join(nc, Seq("feature", "good")).join(nt, Seq("feature"))
        .select(col("feature"),
          round((col("nbc").cast("double") / col("nt").cast("double"))
            * log((col("nt") * col("nbc")).cast("double")
              / (col("nb") * col("nc")).cast("double")), 9)
            .cast("decimal(38,9)").as("term"))
        .groupBy(col("feature"))
        .agg(round(sum(col("term")).cast("double"), 6).as("mi"))
      val hl = nc.join(nt, Seq("feature"))
        .select(col("feature"),
          round((col("nc").cast("double") / col("nt").cast("double"))
            * log(col("nc").cast("double") / col("nt").cast("double")),
            9).cast("decimal(38,9)").as("term"))
        .groupBy(col("feature"))
        .agg(round(-sum(col("term")).cast("double"), 6).as("h_label"))
      mi.join(hl, Seq("feature"))
        .select(col("feature"), col("mi"), col("h_label"),
          round(col("mi") / col("h_label"), 6).as("ig_ratio"))
        .orderBy(col("feature"))
    }),
      """WITH base AS (
        |  SELECT (lang = 'en') AS good,
        |    least(n_chars // 100, 5) AS len_bin,
        |    least(greatest((n_chars * 10)
        |      // greatest(len(list_filter(regexp_split_to_array(text,
        |            '\s+'), x -> x <> '')), 1) - 50, 0), 9) AS wordlen_bin
        |  FROM documents
        |), rows_ AS (
        |  SELECT 'len_bin' AS feature, len_bin AS bin, good FROM base
        |  UNION ALL
        |  SELECT 'wordlen_bin', wordlen_bin, good FROM base
        |), c3 AS (
        |  SELECT feature, bin, good, CAST(count(*) AS BIGINT) AS nbc
        |  FROM rows_ GROUP BY 1, 2, 3
        |), nb AS (
        |  SELECT feature, bin, CAST(sum(nbc) AS BIGINT) AS nb
        |  FROM c3 GROUP BY 1, 2
        |), nc AS (
        |  SELECT feature, good, CAST(sum(nbc) AS BIGINT) AS nc
        |  FROM c3 GROUP BY 1, 2
        |), nt AS (
        |  SELECT feature, CAST(sum(nbc) AS BIGINT) AS nt
        |  FROM c3 GROUP BY 1
        |), mi AS (
        |  SELECT feature,
        |    round(CAST(sum(CAST(round(
        |      (CAST(nbc AS DOUBLE) / CAST(nt AS DOUBLE))
        |        * ln(CAST(nt * nbc AS DOUBLE)
        |          / CAST(nb * nc AS DOUBLE)), 9) AS DECIMAL(38,9)))
        |      AS DOUBLE), 6) AS mi
        |  FROM c3 JOIN nb USING (feature, bin)
        |  JOIN nc USING (feature, good) JOIN nt USING (feature)
        |  GROUP BY 1
        |), hl AS (
        |  SELECT feature,
        |    round(-CAST(sum(CAST(round(
        |      (CAST(nc AS DOUBLE) / CAST(nt AS DOUBLE))
        |        * ln(CAST(nc AS DOUBLE) / CAST(nt AS DOUBLE)), 9)
        |      AS DECIMAL(38,9))) AS DOUBLE), 6) AS h_label
        |  FROM nc JOIN nt USING (feature) GROUP BY 1
        |)
        |SELECT feature, mi, h_label, round(mi / h_label, 6) AS ig_ratio
        |FROM mi JOIN hl USING (feature)
        |ORDER BY feature""".stripMargin),

    QuerySpec("q255_doremi", ((s, dir) => {
      // DoReMi one-step mixture reweighting (Xie et al., NeurIPS 2023,
      // simplified to its published update rule): each source's new
      // mixture weight ∝ token-share · exp(η · excess loss), where the
      // loss is the per-token unigram surprisal (q76's measure rolled
      // up by source) and the excess is over the pooled corpus — the
      // domain-reweighting step that upweights sources the current
      // model finds "hard", the core pretraining-mixture optimization.
      // ONE (source, term) rollup exchange (the q234 collapse rule);
      // vocab joins back on the term key; the mirror-descent update and
      // its normalization ride the bounded source table as round(9)
      // decimals.
      val docs = t(s, dir, "documents")
      val tf = operators.Materializer.Local(docs
        .select(col("source"),
          explode(operators.TextAnalysis.tokens(col("text")))
            .as("term"))
        .groupBy(col("source"), col("term"))
        .agg(count(lit(1)).as("tf")))
      val cnt = tf.groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
      val tot = tf.agg(sum(col("tf")).as("nt"))
      val perSrc = tf.join(cnt, Seq("term")).crossJoin(broadcast(tot))
        .groupBy(col("source"))
        .agg(sum(col("tf")).cast("long").as("n_tokens"),
          sum((col("tf").cast("double")
            * log(col("nt").cast("double") / col("cnt").cast("double")))
            .cast("decimal(38,6)")).as("ssum"),
          max(col("nt")).as("nt"))
      val pooled = perSrc.agg(sum(col("ssum")).as("gsum"),
        sum(col("n_tokens")).as("gn"))
      val scored = operators.Materializer.Local(perSrc
        .crossJoin(broadcast(pooled))
        .select(col("source"), col("n_tokens"),
          round(col("n_tokens").cast("double")
            / col("nt").cast("double"), 6).as("w0"),
          round(col("ssum").cast("double")
            / col("n_tokens").cast("double"), 6).as("loss"),
          round(col("ssum").cast("double")
              / col("n_tokens").cast("double")
            - col("gsum").cast("double") / col("gn").cast("double"), 6)
            .as("excess"))
        .withColumn("e",
          round(col("w0") * exp(lit(0.5) * col("excess")), 9)
            .cast("decimal(19,9)")))
      val norm = scored.agg(sum(col("e")).as("z"))
      scored.crossJoin(broadcast(norm))
        .select(col("source"), col("n_tokens"), col("w0"), col("loss"),
          col("excess"),
          round(col("e").cast("double") / col("z").cast("double"), 6)
            .as("w_new"))
        .orderBy(col("source"))
    }),
      s"""WITH tf AS (
         |  SELECT source, t AS term, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT source, unnest($toksSql) AS t FROM documents)
         |  GROUP BY 1, 2
         |), cnt AS (
         |  SELECT term, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1
         |), tot AS (SELECT CAST(sum(tf) AS BIGINT) AS nt FROM tf
         |), per AS (
         |  SELECT source, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |    sum(CAST(CAST(tf AS DOUBLE) * ln(CAST(nt AS DOUBLE)
         |      / CAST(cnt AS DOUBLE)) AS DECIMAL(38,6))) AS ssum,
         |    max(nt) AS nt
         |  FROM tf JOIN cnt USING (term), tot
         |  GROUP BY 1
         |), pooled AS (
         |  SELECT sum(ssum) AS gsum, CAST(sum(n_tokens) AS BIGINT) AS gn
         |  FROM per
         |), scored AS (
         |  SELECT source, n_tokens,
         |    round(CAST(n_tokens AS DOUBLE) / CAST(nt AS DOUBLE), 6)
         |      AS w0,
         |    round(CAST(ssum AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
         |      AS loss,
         |    round(CAST(ssum AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         |      - CAST(gsum AS DOUBLE) / CAST(gn AS DOUBLE), 6) AS excess
         |  FROM per, pooled
         |), e AS (
         |  SELECT *, CAST(round(w0 * exp(0.5 * excess), 9)
         |    AS DECIMAL(19,9)) AS e
         |  FROM scored
         |), norm AS (SELECT sum(e) AS z FROM e)
         |SELECT source, n_tokens, w0, loss, excess,
         |  round(CAST(e AS DOUBLE) / CAST(z AS DOUBLE), 6) AS w_new
         |FROM e, norm ORDER BY source""".stripMargin),

    QuerySpec("q262_mcnemar", ((s, dir) => {
      // McNemar's paired test with Edwards' continuity correction
      // (McNemar 1947): are two English-detectors — a length rule and
      // a chars-per-token rule — SCORED ON THE SAME DOCUMENTS
      // significantly different? χ² = (|b01−b10|−1)²/(b01+b10) on the
      // discordant counts, the paired-comparison primitive every
      // "classifier B beats classifier A" claim needs (independent-
      // sample tests on shared eval sets overstate significance).
      // One conditional corpus aggregate, scalar algebra after.
      val docs = t(s, dir, "documents")
      val base = docs.select((col("lang") === "en").as("truth"),
        (col("n_chars") >= 200).as("pa"),
        (col("n_chars") <= operators.TextAnalysis.tokenCount(col("text"))
          .cast("long") * 6).as("pb"))
      val agg = base.agg(
        count(lit(1)).as("n"),
        sum(when(col("pa") === col("truth"), 1L).otherwise(0L))
          .as("acc_a_n"),
        sum(when(col("pb") === col("truth"), 1L).otherwise(0L))
          .as("acc_b_n"),
        sum(when(col("pa") === col("truth")
          && col("pb") =!= col("truth"), 1L).otherwise(0L)).as("b01"),
        sum(when(col("pb") === col("truth")
          && col("pa") =!= col("truth"), 1L).otherwise(0L)).as("b10"))
      val chi = (abs(col("b01") - col("b10")).cast("double") - 1.0) *
        (abs(col("b01") - col("b10")).cast("double") - 1.0) /
        (col("b01") + col("b10")).cast("double")
      agg.select(col("n"), col("b01"), col("b10"),
        round(col("acc_a_n").cast("double") / col("n").cast("double"),
          6).as("acc_a"),
        round(col("acc_b_n").cast("double") / col("n").cast("double"),
          6).as("acc_b"),
        when(col("b01") + col("b10") > 0, round(chi, 6)).as("chi2"),
        (when(col("b01") + col("b10") > 0, chi).otherwise(lit(0.0))
          > 3.841458820694124).as("significant"))
    }),
      s"""WITH base AS (
         |  SELECT (lang = 'en') AS truth,
         |    n_chars >= 200 AS pa,
         |    n_chars <= CAST(len($toksSql) AS BIGINT) * 6 AS pb
         |  FROM documents
         |), agg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN pa = truth THEN 1 ELSE 0 END) AS BIGINT)
         |      AS acc_a_n,
         |    CAST(sum(CASE WHEN pb = truth THEN 1 ELSE 0 END) AS BIGINT)
         |      AS acc_b_n,
         |    CAST(sum(CASE WHEN pa = truth AND pb <> truth
         |      THEN 1 ELSE 0 END) AS BIGINT) AS b01,
         |    CAST(sum(CASE WHEN pb = truth AND pa <> truth
         |      THEN 1 ELSE 0 END) AS BIGINT) AS b10
         |  FROM base
         |)
         |SELECT n, b01, b10,
         |  round(CAST(acc_a_n AS DOUBLE) / CAST(n AS DOUBLE), 6)
         |    AS acc_a,
         |  round(CAST(acc_b_n AS DOUBLE) / CAST(n AS DOUBLE), 6)
         |    AS acc_b,
         |  CASE WHEN b01 + b10 > 0 THEN
         |    round((CAST(abs(b01 - b10) AS DOUBLE) - 1.0)
         |      * (CAST(abs(b01 - b10) AS DOUBLE) - 1.0)
         |      / CAST(b01 + b10 AS DOUBLE), 6) END AS chi2,
         |  (CASE WHEN b01 + b10 > 0 THEN
         |    (CAST(abs(b01 - b10) AS DOUBLE) - 1.0)
         |      * (CAST(abs(b01 - b10) AS DOUBLE) - 1.0)
         |      / CAST(b01 + b10 AS DOUBLE) ELSE 0.0 END)
         |    > 3.841458820694124 AS significant
         |FROM agg""".stripMargin),

    QuerySpec("q264_data_shapley", ((s, dir) => {
      // data valuation by EXACT Shapley over source groups (Ghorbani &
      // Zou, ICML 2019) with a coverage utility: v(S) = how many
      // held-out eval shingles the coalition's training docs cover —
      // "which slice of the corpus is actually worth its storage" with
      // the fair-division guarantee (Σφ = v(full)). The additive
      // structure does the scale work: every shingle carries a 4-bit
      // membership MASK (bit_or over training groups), so ALL 2⁴
      // coalition values read off ONE ≤16-row mask histogram — never
      // 16 corpus passes. The subset/weight enumeration is a Scala
      // constant shared VERBATIM with the oracle's VALUES (the
      // shapleySubsets contract).
      val docs = t(s, dir, "documents")
      val base = docs.select(
        expr("CAST(substring(source, 4, 10) AS INT) % 4").as("g"),
        (substring(md5(col("doc_id").cast("string")), 1, 1) >= "c")
          .as("ev"),
        explode(operators.TextAnalysis.shingles(col("text"), 3))
          .as("sh"))
      val evalSh = base.filter(col("ev")).select(col("sh")).distinct()
      val masks = base.filter(!col("ev"))
        .join(evalSh, Seq("sh"), "left_semi")
        .groupBy(col("sh"))
        .agg(expr("bit_or(CAST(pow(2, g) AS INT))").as("mask"))
      val hist = operators.Materializer.Local(
        masks.groupBy(col("mask")).agg(count(lit(1)).as("cnt")))
      import s.implicits._
      val subsets = broadcast((0 until 16).map(m => m).toDF("smask"))
      val vtab = operators.Materializer.Local(subsets
        .join(broadcast(hist),
          expr("(smask & mask) <> 0"), "left")
        .groupBy(col("smask"))
        .agg(coalesce(sum(col("cnt")), lit(0L)).as("v")))
      val terms = broadcast(shapleyCoalitions.toDF(
        "g", "s_without", "s_with", "w"))
      val nTrain = docs.select(
          expr("CAST(substring(source, 4, 10) AS INT) % 4").as("g"),
          (substring(md5(col("doc_id").cast("string")), 1, 1) >= "c")
            .as("ev"))
        .filter(!col("ev")).groupBy(col("g"))
        .agg(count(lit(1)).as("n_train_docs"))
      val phi = terms
        .join(operators.Hints.boundedBroadcast(vtab.select(col("smask").as("s_without"),
          col("v").as("v0")), "subset_masks"), Seq("s_without"))
        .join(operators.Hints.boundedBroadcast(vtab.select(col("smask").as("s_with"),
          col("v").as("v1")), "subset_masks"), Seq("s_with"))
        .select(col("g"),
          round(col("w") * (col("v1") - col("v0")).cast("double"), 9)
            .cast("decimal(19,9)").as("term"))
        .groupBy(col("g"))
        .agg(round(sum(col("term")).cast("double"), 6).as("shapley"))
      val vfull = vtab.filter(col("smask") === 15)
        .select(col("v").as("v_full"))
      phi.join(operators.Hints.boundedBroadcast(nTrain, "fold_domain"), Seq("g"))
        .crossJoin(operators.Hints.boundedBroadcast(vfull, "subset_masks"))
        .select(col("g"), col("n_train_docs"), col("shapley"),
          round(col("shapley") / col("v_full").cast("double"), 6)
            .as("share"))
        .orderBy(col("g"))
    }),
      {
      val values = shapleyCoalitions.map { case (g, s0, s1, w) =>
        s"($g, $s0, $s1, $w)" }.mkString(", ")
      s"""WITH tk AS (
         |  SELECT doc_id, source,
         |    $toksSql AS raw
         |  FROM documents
         |), base AS (
         |  SELECT CAST(substr(source, 4) AS INTEGER) % 4 AS g,
         |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= 'c' AS ev,
         |    unnest(CASE WHEN len(raw) < 3
         |      THEN [array_to_string(raw, ' ')]
         |      ELSE [array_to_string(raw[i+1:i+3], ' ')
         |            for i in range(0, len(raw) - 2)] END) AS sh
         |  FROM tk
         |), evsh AS (SELECT DISTINCT sh FROM base WHERE ev
         |), masks AS (
         |  SELECT sh, bit_or(CAST(pow(2, g) AS INTEGER)) AS mask
         |  FROM base WHERE NOT ev AND sh IN (SELECT sh FROM evsh)
         |  GROUP BY 1
         |), hist AS (
         |  SELECT mask, CAST(count(*) AS BIGINT) AS cnt
         |  FROM masks GROUP BY 1
         |), subsets AS (SELECT unnest(range(0, 16)) AS smask
         |), vtab AS (
         |  SELECT smask, coalesce(CAST(sum(cnt) AS BIGINT), 0) AS v
         |  FROM subsets LEFT JOIN hist ON (smask & mask) <> 0
         |  GROUP BY 1
         |), terms(g, s_without, s_with, w) AS (VALUES $values
         |), phi AS (
         |  SELECT g, round(CAST(sum(CAST(round(
         |      w * CAST(v1.v - v0.v AS DOUBLE), 9) AS DECIMAL(19,9)))
         |      AS DOUBLE), 6) AS shapley
         |  FROM terms JOIN vtab v0 ON v0.smask = s_without
         |  JOIN vtab v1 ON v1.smask = s_with
         |  GROUP BY 1
         |), ntr AS (
         |  SELECT CAST(substr(source, 4) AS INTEGER) % 4 AS g,
         |    CAST(count(*) AS BIGINT) AS n_train_docs
         |  FROM documents
         |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
         |  GROUP BY 1
         |), vf AS (SELECT v AS v_full FROM vtab WHERE smask = 15)
         |SELECT phi.g, n_train_docs, shapley,
         |  round(shapley / CAST(v_full AS DOUBLE), 6) AS share
         |FROM phi JOIN ntr USING (g), vf ORDER BY g""".stripMargin
    }),

    QuerySpec("q281_kneser_ney", ((s, dir) => {
      // interpolated Kneser–Ney bigram cross-entropy on the held-out
      // 25% (Kneser & Ney 1995; Chen & Goodman 1998) — the smoothing
      // behind the KenLM quality filters (CCNet), upgrading q232's
      // add-1 baseline: absolute-discount mass backs off to the
      // CONTINUATION count N1+(·,w), so context-locked tokens stop
      // soaking up backoff probability. Same q63/q232 hash split; one
      // (w1,w2) exchange builds every model table; scoring is
      // vocab-keyed equi-joins. On this corpus OOV = 0 (small closed
      // vocabulary) and xent_kn ≈ 3.42 nats vs q232's add-1 readout —
      // the model-quality gap KN exists to close.
      operators.TextAnalysis.kneserNeyXent(t(s, dir, "documents"),
        substring(md5(col("doc_id").cast("string")), 1, 1) < lit("c"))
    }),
      s"""WITH base AS (
         |  SELECT doc_id, $toksSql AS tk,
         |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
         |      AS is_train
         |  FROM documents
         |), bit AS (
         |  SELECT tk[CAST(i + 1 AS INT)] AS w1,
         |    tk[CAST(i + 2 AS INT)] AS w2
         |  FROM (SELECT tk, unnest(range(0, greatest(len(tk) - 1, 0)))
         |          AS i
         |        FROM base WHERE is_train)
         |), c2t AS MATERIALIZED (
         |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
         |  FROM bit GROUP BY 1, 2
         |), ctx AS (
         |  SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1,
         |    CAST(COUNT(*) AS BIGINT) AS n1f
         |  FROM c2t GROUP BY 1
         |), cont AS (
         |  SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1b FROM c2t
         |  GROUP BY 1
         |), btot AS (SELECT CAST(COUNT(*) AS BIGINT) AS bb FROM c2t),
         |bie AS (
         |  SELECT tk[CAST(i + 1 AS INT)] AS w1,
         |    tk[CAST(i + 2 AS INT)] AS w2
         |  FROM (SELECT tk, unnest(range(0, greatest(len(tk) - 1, 0)))
         |          AS i
         |        FROM base WHERE NOT is_train)
         |), held AS (
         |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM bie GROUP BY 1, 2
         |), sc AS (
         |  SELECT tf, n1b,
         |    CASE WHEN c1 IS NULL
         |      THEN CAST(n1b AS DOUBLE) / CAST(bb AS DOUBLE)
         |      ELSE greatest(CAST(coalesce(c2, 0) AS DOUBLE) - 0.75,
         |            0.0) / CAST(c1 AS DOUBLE)
         |        + 0.75 * CAST(n1f AS DOUBLE) / CAST(c1 AS DOUBLE)
         |          * (CAST(n1b AS DOUBLE) / CAST(bb AS DOUBLE))
         |      END AS p
         |  FROM held LEFT JOIN c2t USING (w1, w2)
         |  LEFT JOIN ctx USING (w1) LEFT JOIN cont USING (w2), btot
         |), agg AS (
         |  SELECT CAST(SUM(tf) AS BIGINT) AS n_held_bigrams,
         |    CAST(SUM(CASE WHEN n1b IS NOT NULL THEN tf ELSE 0 END)
         |      AS BIGINT) AS n_scored,
         |    CAST(SUM(CASE WHEN n1b IS NULL THEN tf ELSE 0 END)
         |      AS BIGINT) AS n_oov,
         |    SUM(CASE WHEN n1b IS NOT NULL
         |      THEN CAST(round(CAST(tf AS DOUBLE) * ln(p), 9)
         |        AS DECIMAL(38,9))
         |      ELSE CAST(0 AS DECIMAL(38,9)) END) AS sl
         |  FROM sc
         |)
         |SELECT n_held_bigrams, n_scored, n_oov,
         |  round(CAST(n_oov AS DOUBLE) / CAST(n_held_bigrams AS DOUBLE),
         |    6) AS oov_rate,
         |  round(-CAST(sl AS DOUBLE) / CAST(n_scored AS DOUBLE), 6)
         |    AS xent_kn,
         |  round(exp(-CAST(sl AS DOUBLE) / CAST(n_scored AS DOUBLE)), 6)
         |    AS ppl_kn
         |FROM agg""".stripMargin),

    QuerySpec("q283_filter_ablation", ((s, dir) => {
      // quality-filter ablation grid: document and token survival
      // under every subset of three cheap quality gates (length ≥ 200
      // chars, ≥ 60% alphabetic, ≥ 30 tokens) in ONE pass via CUBE —
      // the pipeline-planning readout ("what does each filter cost,
      // alone and stacked") that would otherwise take 2³ corpus
      // passes. Flags are map-side integer compares (ratio as a
      // cross-multiplication — no division, no ANSI zero-divide
      // exposure); CUBE's Expand feeds one partial-combined aggregate.
      val d = t(s, dir, "documents")
      val tk = operators.TextAnalysis.tokens(col("text"))
      val flagged = d.select(
        (length(col("text")) >= 200).as("f_len"),
        when(length(col("text")) > 0,
          length(regexp_replace(col("text"), "[^A-Za-z]", "")) * 10
            >= length(col("text")) * 6).otherwise(false).as("f_alpha"),
        (size(tk) >= 30).as("f_tok"),
        length(col("text")).cast("long").as("nc"),
        size(tk).cast("long").as("ntk"))
      val total = d.agg(count(lit(1)).as("tot"))
      // cube keys surfaced as strings ('all' = the rolled-up margin):
      // a null boolean round-trips differently through the two engines'
      // parquet/pandas paths, a string key is bit-stable
      flagged.cube(col("f_len"), col("f_alpha"), col("f_tok"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("n_chars"),
          sum(col("ntk")).as("n_tokens"))
        .crossJoin(broadcast(total))
        .select(
          coalesce(col("f_len").cast("string"), lit("all")).as("f_len"),
          coalesce(col("f_alpha").cast("string"), lit("all"))
            .as("f_alpha"),
          coalesce(col("f_tok").cast("string"), lit("all")).as("f_tok"),
          col("n_docs"), col("n_chars"), col("n_tokens"),
          round(col("n_docs").cast("double")
            / col("tot").cast("double"), 6).as("share"))
        .orderBy(col("f_len"), col("f_alpha"), col("f_tok"))
    }),
      s"""WITH f AS (
         |  SELECT length(text) >= 200 AS f_len,
         |    CASE WHEN length(text) > 0
         |      THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
         |          * 10
         |        >= length(text) * 6
         |      ELSE false END AS f_alpha,
         |    len($toksSql) >= 30 AS f_tok,
         |    CAST(length(text) AS BIGINT) AS nc,
         |    CAST(len($toksSql) AS BIGINT) AS ntk
         |  FROM documents
         |), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot FROM f),
         |cub AS (
         |  SELECT coalesce(CAST(f_len AS VARCHAR), 'all') AS f_len,
         |    coalesce(CAST(f_alpha AS VARCHAR), 'all') AS f_alpha,
         |    coalesce(CAST(f_tok AS VARCHAR), 'all') AS f_tok,
         |    CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(nc) AS BIGINT) AS n_chars,
         |    CAST(SUM(ntk) AS BIGINT) AS n_tokens,
         |    round(CAST(COUNT(*) AS DOUBLE) / CAST(max(tot) AS DOUBLE),
         |      6) AS share
         |  FROM f, tot
         |  GROUP BY CUBE (f_len, f_alpha, f_tok)
         |)
         |SELECT * FROM cub ORDER BY f_len, f_alpha, f_tok""".stripMargin),

    QuerySpec("q288_feature_hash_audit", ((s, dir) => {
      // feature-hashing collision audit (Weinberger et al., ICML 2009):
      // the hashing trick maps an unbounded vocabulary into d buckets;
      // this measures what that costs on THIS corpus at d = 256 and
      // d = 4096 — terms colliding, buckets occupied, and the share of
      // total token MASS sitting in collided buckets (the quantity that
      // actually hurts a downstream linear model). ONE (term) exchange
      // builds the vocab frequency table; each d is then a groupBy on
      // that vocab-scale table (vocab grows Heaps-sublinearly at
      // 100 TB). Bucket = the portable md5-hex-prefix integer, the
      // engine-shared hash convention.
      val tf = operators.Materializer.Local(t(s, dir, "documents")
        .select(explode(operators.TextAnalysis.tokens(col("text")))
          .as("tk"))
        .groupBy(col("tk")).agg(count(lit(1)).as("freq")))
      def audit(d: Int): DataFrame = {
        val bkt = pmod(conv(substring(md5(col("tk")), 1, 8), 16, 10)
          .cast("long"), lit(d.toLong))
        tf.groupBy(bkt.as("bucket"))
          .agg(count(lit(1)).as("nt"), sum(col("freq")).as("bf"))
          .agg(sum(col("nt")).cast("long").as("n_terms"),
            count(lit(1)).cast("long").as("buckets_used"),
            sum(when(col("nt") >= 2, col("nt")).otherwise(0L))
              .cast("long").as("collided_terms"),
            max(col("nt")).cast("long").as("max_bucket_terms"),
            round(sum(when(col("nt") >= 2, col("bf")).otherwise(0L))
                .cast("double") / sum(col("bf")).cast("double"), 6)
              .as("collision_mass"))
          .select(lit(d.toLong).as("dims"), col("n_terms"),
            col("buckets_used"), col("collided_terms"),
            col("max_bucket_terms"), col("collision_mass"))
      }
      audit(256).unionAll(audit(4096)).orderBy(col("dims"))
    }),
      {
      def audit(d: Int): String =
        s"""  SELECT CAST($d AS BIGINT) AS dims,
           |    CAST(SUM(nt) AS BIGINT) AS n_terms,
           |    CAST(COUNT(*) AS BIGINT) AS buckets_used,
           |    CAST(SUM(CASE WHEN nt >= 2 THEN nt ELSE 0 END) AS BIGINT)
           |      AS collided_terms,
           |    CAST(MAX(nt) AS BIGINT) AS max_bucket_terms,
           |    round(CAST(SUM(CASE WHEN nt >= 2 THEN bf ELSE 0 END)
           |        AS DOUBLE) / CAST(SUM(bf) AS DOUBLE), 6)
           |      AS collision_mass
           |  FROM (
           |    SELECT (list_sum([CAST(round(pow(16, 7 - i)) AS BIGINT) *
           |        (strpos('0123456789abcdef',
           |          substr(md5(tk), i + 1, 1)) - 1)
           |        for i in range(0, 8)]) % $d) AS bucket,
           |      CAST(count(*) AS BIGINT) AS nt,
           |      CAST(sum(freq) AS BIGINT) AS bf
           |    FROM tf GROUP BY 1)""".stripMargin
      s"""WITH tf AS MATERIALIZED (
         |  SELECT t AS tk, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest($toksSql) AS t FROM documents)
         |  GROUP BY 1
         |), a1 AS (
         |${audit(256)}
         |), a2 AS (
         |${audit(4096)}
         |)
         |SELECT * FROM a1 UNION ALL SELECT * FROM a2 ORDER BY dims""".stripMargin
    }),

    QuerySpec("q287_mink_membership", ((s, dir) => {
      // Min-K% membership / memorization audit (Shi et al., ICLR 2024)
      // over the corpus add-α (α=0.5) bigram LM: score = mean surprisal of each
      // doc's 20% least-probable bigram types. Text the model finds
      // likely even at its WORST tokens reads as a training-set member /
      // memorized duplicate; novel text keeps the fat high-surprisal
      // tail the plain mean (returned alongside) averages away. Same
      // plan as the surprisal family: one (doc, bigram) exchange,
      // token-keyed model joins, per-doc entity-bounded window.
      operators.TextAnalysis.minKSurprisal(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    }),
      s"""WITH base AS (
         |  SELECT doc_id, $toksSql AS tk FROM documents
         |), bi AS (
         |  SELECT doc_id, tk[CAST(i + 1 AS INT)] AS w1,
         |    tk[CAST(i + 2 AS INT)] AS w2
         |  FROM (SELECT doc_id, tk,
         |          unnest(range(0, greatest(len(tk) - 1, 0))) AS i
         |        FROM base)
         |), tf AS (
         |  SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM bi GROUP BY 1, 2, 3
         |), c2 AS (SELECT w1, w2, SUM(tf) AS c2 FROM tf GROUP BY 1, 2),
         |c1 AS (SELECT w1, SUM(tf) AS c1 FROM tf GROUP BY 1),
         |v AS (
         |  SELECT CAST(COUNT(DISTINCT t) AS DOUBLE) AS vs
         |  FROM (SELECT unnest(tk) AS t FROM base)
         |), sc AS (
         |  SELECT doc_id, w1, w2,
         |    round(ln((CAST(c2 AS DOUBLE) + 0.5)
         |      / (CAST(c1 AS DOUBLE) + 0.5 * vs)), 9) AS lp
         |  FROM tf JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v
         |), rkd AS (
         |  SELECT doc_id, lp,
         |    CAST(row_number() OVER (PARTITION BY doc_id
         |      ORDER BY lp, w1, w2) AS BIGINT) AS rk,
         |    CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT)
         |      AS n_types
         |  FROM sc
         |), agg AS (
         |  SELECT doc_id, n_types, (n_types + 4) // 5 AS k_used,
         |    round(-CAST(SUM(CASE WHEN rk <= (n_types + 4) // 5
         |        THEN CAST(lp AS DECIMAL(19,9))
         |        ELSE CAST(0.0 AS DECIMAL(19,9)) END) AS DOUBLE)
         |      / CAST((n_types + 4) // 5 AS DOUBLE), 6)
         |      AS mink_surprisal,
         |    round(-CAST(SUM(CAST(lp AS DECIMAL(19,9))) AS DOUBLE)
         |      / CAST(n_types AS DOUBLE), 6) AS mean_surprisal
         |  FROM rkd GROUP BY 1, 2
         |)
         |SELECT d.doc_id, COALESCE(n_types, 0) AS n_types,
         |  COALESCE(k_used, 0) AS k_used,
         |  COALESCE(mink_surprisal, 0.0) AS mink_surprisal,
         |  COALESCE(mean_surprisal, 0.0) AS mean_surprisal
         |FROM documents d LEFT JOIN agg USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    QuerySpec("q292_index_bits", ((s, dir) => {
      // inverted-index compression estimate (Elias 1975 gamma/delta
      // gap codes; the Witten–Moffat–Bell "Managing Gigabytes"
      // accounting): posting lists as sorted doc-id gaps, code lengths
      // as EXACT integer binary-digit counts (both engines render the
      // same minimal binary string), rolled up by df bucket — the
      // "how big will this index be, and which terms dominate it"
      // readout that prices a retrieval deployment. ONE (term, doc)
      // exchange; the gap window partitions per term (the Zipf head's
      // long posting list in one partition is the same skew a real
      // index build pays).
      import org.apache.spark.sql.expressions.Window
      val wt = Window.partitionBy(col("tk")).orderBy(col("doc_id").asc)
      val post = t(s, dir, "documents")
        .select(explode(operators.TextAnalysis.tokens(col("text")))
          .as("tk"), col("doc_id"))
        .distinct()
      val gaps = post
        .withColumn("gap", coalesce(
          col("doc_id") - lag(col("doc_id"), 1).over(wt),
          col("doc_id") + lit(1L)))
        .withColumn("df",
          count(lit(1)).over(Window.partitionBy(col("tk"))))
      val lb = length(conv(col("gap"), 10, 2)).cast("long")
      val lbl = length(conv(lb, 10, 2)).cast("long")
      val bucket = when(col("df") <= 1, "df=1")
        .when(col("df") <= 10, "df=2-10")
        .when(col("df") <= 100, "df=11-100")
        .otherwise("df>100")
      gaps.select(bucket.as("df_bucket"), col("tk"),
          (lb * 2 - 1).as("gb"), (lb + lbl * 2 - 2).as("db"))
        .groupBy(col("df_bucket"))
        .agg(countDistinct(col("tk")).as("n_terms"),
          count(lit(1)).as("n_postings"),
          sum(col("gb")).as("gamma_bits"),
          sum(col("db")).as("delta_bits"))
        .select(col("df_bucket"), col("n_terms"), col("n_postings"),
          col("gamma_bits"), col("delta_bits"),
          round(col("gamma_bits").cast("double")
            / (col("n_postings") * 32).cast("double"), 6)
            .as("gamma_vs_fixed32"))
        .orderBy(col("df_bucket"))
    }),
      s"""WITH post AS MATERIALIZED (
         |  SELECT DISTINCT t AS tk, doc_id
         |  FROM (SELECT doc_id, unnest($toksSql) AS t FROM documents)
         |), gaps AS (
         |  SELECT tk,
         |    coalesce(doc_id - lag(doc_id) OVER (PARTITION BY tk
         |      ORDER BY doc_id), doc_id + 1) AS gap,
         |    CAST(count(*) OVER (PARTITION BY tk) AS BIGINT) AS df
         |  FROM post
         |), bits AS (
         |  SELECT CASE WHEN df <= 1 THEN 'df=1'
         |      WHEN df <= 10 THEN 'df=2-10'
         |      WHEN df <= 100 THEN 'df=11-100'
         |      ELSE 'df>100' END AS df_bucket,
         |    tk,
         |    CAST(length(printf('%b', gap)) AS BIGINT) AS lb,
         |    CAST(length(printf('%b',
         |      CAST(length(printf('%b', gap)) AS BIGINT))) AS BIGINT)
         |      AS lbl
         |  FROM gaps
         |)
         |SELECT df_bucket,
         |  CAST(COUNT(DISTINCT tk) AS BIGINT) AS n_terms,
         |  CAST(count(*) AS BIGINT) AS n_postings,
         |  CAST(SUM(lb * 2 - 1) AS BIGINT) AS gamma_bits,
         |  CAST(SUM(lb + lbl * 2 - 2) AS BIGINT) AS delta_bits,
         |  round(CAST(SUM(lb * 2 - 1) AS DOUBLE)
         |    / CAST(count(*) * 32 AS DOUBLE), 6) AS gamma_vs_fixed32
         |FROM bits GROUP BY 1 ORDER BY 1""".stripMargin),

    QuerySpec("q315_blocklist_scan", ((s, dir) => {
      // C4-style banned-phrase scan: per (source, pattern), how many
      // docs carry the pattern and its total occurrence count — ONE
      // Aho-Corasick automaton walk per document for the WHOLE
      // blocklist (functions.BlocklistHits, codegen'd native
      // expression; a LIKE-per-pattern plan re-reads each doc once per
      // pattern, a 20-entry blocklist = 20 corpus scans). The list
      // includes absent phrases (zero rows must be exact, not dropped)
      // and a nested pattern pair ("fast" inside "fast fast") that
      // exercises the automaton's suffix-output links. Counting is
      // greedy leftmost non-overlapping per pattern = the replace()-
      // count every SQL engine replays.
      TextAnalysis.blocklistScan(t(s, dir, "documents"), blocklistPatterns)
    }),
      // greedy leftmost non-overlapping occurrence counting IS what a
      // replace()-based count computes — the oracle replays the automaton
      // one pattern at a time
      (s"""WITH pats AS (SELECT * FROM (VALUES """ +
        // '' escaping so a future pattern with an apostrophe breaks the
        // verify pass at the edit site, not with a DuckDB parse error
        blocklistPatterns.map(p =>
          s"('${p.replace("'", "''")}')").mkString(", ") +
        s""") p(pattern)),
        |per AS (
        |  SELECT d.source, p.pattern,
        |    CAST((length(lower(d.text))
        |        - length(replace(lower(d.text), p.pattern, '')))
        |      // length(p.pattern) AS BIGINT) AS h
        |  FROM documents d CROSS JOIN pats p
        |)
        |SELECT source, pattern,
        |  CAST(SUM(CASE WHEN h > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS docs_hit,
        |  CAST(SUM(h) AS BIGINT) AS hits
        |FROM per GROUP BY 1, 2 ORDER BY 1, 2""").stripMargin),

    QuerySpec("q316_encoding_audit", ((s, dir) => {
      // CCNet/C4-class encoding-health gate: per source, docs carrying
      // U+FFFD replacement chars, C0 control junk, or the
      // UTF-8-as-Latin-1 mojibake digraph — and the clean rate. The
      // corpus is synthetic-clean, so (the q55 PII pattern) the fixture
      // INJECTS deterministic doc_id-keyed noise identically in both
      // engines first; the audit itself (TextAnalysis.encodingAudit) is
      // plain map-side predicates + one source-keyed aggregate.
      val noisy = t(s, dir, "documents").select(col("source"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0, lit(" caf\u00C3\u00A9"))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0, lit(" \uFFFD"))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 0, lit("\u0007"))
            .otherwise(lit(""))).as("text"))
      TextAnalysis.encodingAudit(noisy)
    }),
      // same doc_id-keyed noise injection as the Spark side (chr() code
      // points == the Scala \u escapes), then the same three detectors
      """WITH noisy AS (
        |  SELECT source, text
        |    || CASE WHEN doc_id % 5 = 0
        |         THEN ' caf' || chr(195) || chr(169) ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0
        |         THEN ' ' || chr(65533) ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0 THEN chr(7) ELSE '' END AS t
        |  FROM documents
        |), flags AS (
        |  SELECT source,
        |    CASE WHEN strpos(t, chr(65533)) > 0 THEN 1 ELSE 0 END AS r,
        |    CASE WHEN regexp_matches(t,
        |        '[\x00-\x08\x0B\x0C\x0E-\x1F]') THEN 1 ELSE 0 END AS c,
        |    CASE WHEN regexp_matches(t, chr(195) || '[' || chr(160)
        |        || '-' || chr(191) || ']') THEN 1 ELSE 0 END AS m
        |  FROM noisy
        |), agg AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(r) AS BIGINT) AS repl_docs,
        |    CAST(SUM(c) AS BIGINT) AS ctrl_docs,
        |    CAST(SUM(m) AS BIGINT) AS moji_docs,
        |    CAST(SUM(CASE WHEN r = 0 AND c = 0 AND m = 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS clean_docs
        |  FROM flags GROUP BY source)
        |SELECT source, n_docs, repl_docs, ctrl_docs, moji_docs,
        |  clean_docs,
        |  round(CAST(clean_docs AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
        |    AS clean_rate
        |FROM agg ORDER BY source""".stripMargin),

    QuerySpec("q317_curriculum_plan", ((s, dir) => {
      // staged "clean data first" curriculum: quality quartile tiers
      // (the shared q31 quality score, quantized least(floor(q*4),3)),
      // stage s trains on tiers >= 4-s with budget share s/10 - the
      // provisioning readout a staged pretraining run is planned with,
      // priced by the same integer mixture algebra as q311 (epoch cap,
      // achievable share, zero-token branch for an empty top tier).
      // ONE corpus rollup; the stage x tier range join is bounded
      // nested-loop algebra (see Sampling.curriculumPlan).
      val perDoc = t(s, dir, "documents").select(
        least(floor(TextAnalysis.qualityScore * 4), lit(3))
          .cast("int").as("tier"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("toks"))
      operators.Sampling.curriculumPlan(perDoc, budget = 2000000L)
    }),
      // the q31 quality formula, quartile-quantized, then the q311
      // integer mixture algebra per cumulative stage pool
      s"""WITH base AS (
        |  SELECT CAST(len($toksSql) AS BIGINT) AS toks,
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
        |), tiers AS (
        |  SELECT LEAST(CAST(floor(q * 4) AS INT), 3) AS tier, toks
        |  FROM base
        |), per AS (
        |  SELECT tier, CAST(COUNT(*) AS BIGINT) AS td,
        |    CAST(SUM(toks) AS BIGINT) AS tt
        |  FROM tiers GROUP BY tier
        |), stg AS (
        |  SELECT CAST(st AS INT) AS stage, CAST(4 - st AS INT)
        |    AS min_tier
        |  FROM unnest([1, 2, 3, 4]) t(st)
        |), pool AS (
        |  SELECT stage, min_tier,
        |    CAST(COUNT(p.tier) AS BIGINT) AS n_tiers,
        |    CAST(coalesce(SUM(p.td), 0) AS BIGINT) AS n_docs,
        |    CAST(coalesce(SUM(p.tt), 0) AS BIGINT) AS tokens_avail
        |  FROM stg LEFT JOIN per p ON p.tier >= stg.min_tier
        |  GROUP BY 1, 2
        |), plan0 AS (
        |  SELECT *, CAST(2000000 * stage // 10 AS BIGINT)
        |    AS stage_budget
        |  FROM pool
        |), ep AS (
        |  SELECT *, CASE WHEN tokens_avail > 0
        |      THEN LEAST((stage_budget + tokens_avail - 1)
        |        // tokens_avail, 4)
        |      ELSE 1 END AS epochs
        |  FROM plan0)
        |SELECT stage, min_tier, n_tiers, n_docs, tokens_avail,
        |  stage_budget,
        |  CASE WHEN tokens_avail > 0
        |    THEN round(CAST(stage_budget AS DOUBLE)
        |      / CAST(tokens_avail AS DOUBLE), 6) END AS sampling_rate,
        |  CAST(epochs AS BIGINT) AS epochs,
        |  CAST(CASE WHEN tokens_avail > 0
        |    THEN LEAST(stage_budget, tokens_avail * epochs)
        |    ELSE 0 END AS BIGINT) AS capped_tokens,
        |  round(CAST(CASE WHEN tokens_avail > 0
        |    THEN LEAST(stage_budget, tokens_avail * epochs)
        |    ELSE 0 END AS DOUBLE) / 2000000.0, 6) AS achievable_share
        |FROM ep ORDER BY stage""".stripMargin),

    QuerySpec("q318_entropy_gate", ((s, dir) => {
      // compressibility-proxy junk gate: per source, the DECIMAL-mean
      // character entropy and how many docs fall below 3.5 bits/char
      // (loops/repeated-character spam score near log2 of their tiny
      // alphabet; natural text ~4.1-4.5). The corpus is clean, so the
      // fixture REPLACES every 13th doc with degenerate repeat text
      // identically in both engines; per-doc entropy is one
      // native-expression pass (functions.CharEntropy, 9-decimal-
      // pinned, order-independent), replayed by the oracle from a
      // per-character GROUP BY.
      val noisy = t(s, dir, "documents").select(col("source"),
        when(col("doc_id") % 13 === 0, lit("spam " * 40))
          .otherwise(col("text")).as("text"))
      TextAnalysis.entropyGate(noisy)
    }),
      // per-character GROUP BY replay of functions.CharEntropy: round(9)
      // DECIMAL terms sum exactly (order-independent), round(6) publish
      """WITH noisy AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 13 = 0 THEN repeat('spam ', 40)
        |      ELSE text END AS t
        |  FROM documents
        |), chars AS (
        |  SELECT doc_id, substring(t, CAST(i AS INT), 1) AS ch
        |  FROM noisy, unnest(range(1, length(t) + 1)) u(i)
        |), hist AS (
        |  SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM chars GROUP BY 1, 2
        |), tot AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM hist GROUP BY 1
        |), ent AS (
        |  -- ln(x)/ln(2.0), NOT native log2: functions.CharEntropy
        |  -- computes Math.log(x)/Math.log(2.0), and the pre-round(9)
        |  -- doubles must come from the SAME formula or a term within
        |  -- an ulp of a .5e-9 boundary could round apart across engines
        |  SELECT h.doc_id, round(CAST(SUM(CAST(round(
        |      (CAST(c AS DOUBLE) / n)
        |        * (ln(CAST(n AS DOUBLE) / c) / ln(2.0)), 9)
        |      AS DECIMAL(19,9))) AS DOUBLE), 6) AS h
        |  FROM hist h JOIN tot USING (doc_id) GROUP BY 1
        |), perdoc AS (
        |  SELECT d.source, coalesce(e.h, 0.0) AS h
        |  FROM noisy d LEFT JOIN ent e USING (doc_id)
        |)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  round(CAST(SUM(CAST(h AS DECIMAL(38,6))) AS DOUBLE)
        |    / COUNT(*), 6) AS mean_entropy,
        |  CAST(SUM(CASE WHEN h < 3.5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS low_docs
        |FROM perdoc GROUP BY source ORDER BY source""".stripMargin),

    QuerySpec("q319_seqlen_sweep", ((s, dir) => {
      // max-sequence-length selection: the exact truncation-loss /
      // padding-waste / utilization / packing-lower-bound curve over a
      // candidate cap grid, all priced from ONE corpus pass (per-doc
      // token counts cross the broadcast grid literal; partial agg
      // collapses to |grid| rows before the single exchange). The
      // decision readout a pretraining run uses to pick max_len.
      TextAnalysis.seqLenSweep(t(s, dir, "documents"),
        TextAnalysis.tokenCount(col("text")),
        Seq(8L, 16L, 32L, 64L, 128L))
    }),
      // exact integer algebra on per-doc token counts x the L grid
      s"""WITH lens AS (
        |  SELECT CAST(len($toksSql) AS BIGINT) AS l FROM documents
        |), grid AS (
        |  SELECT CAST(g AS BIGINT) AS max_len
        |  FROM unnest([8, 16, 32, 64, 128]) t(g)
        |), per AS (
        |  SELECT max_len,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(CASE WHEN l > max_len THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_truncated,
        |    CAST(SUM(LEAST(l, max_len)) AS BIGINT) AS tokens_kept,
        |    CAST(SUM(GREATEST(l - max_len, 0)) AS BIGINT)
        |      AS tokens_lost,
        |    CAST(SUM(max_len - LEAST(l, max_len)) AS BIGINT)
        |      AS pad_waste
        |  FROM grid CROSS JOIN lens
        |  GROUP BY 1)
        |SELECT max_len, n_docs, n_truncated, tokens_kept, tokens_lost,
        |  pad_waste,
        |  round(CAST(tokens_kept AS DOUBLE)
        |    / CAST(tokens_kept + pad_waste AS DOUBLE), 6)
        |    AS utilization,
        |  CAST((tokens_kept + max_len - 1) // max_len AS BIGINT)
        |    AS min_sequences
        |FROM per ORDER BY max_len""".stripMargin),

    QuerySpec("q321_span_scrub", ((s, dir) => {
      // repeated n-gram SPAN REMOVAL (the rewrite q56's detector only
      // reports): trigrams in >= 10 distinct docs are corpus
      // boilerplate, and every covered token position is scrubbed. The
      // fixture plants a banner on doc_id%7 docs and a footer on
      // doc_id%9 docs (keys coprime with the source assignment so the
      // injection spreads across groups) — the audit reports per-source
      // tokens before/removed and the organic heavy trigrams fire too.
      TextAnalysis.repeatedSpanScrub(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          concat(
            when(col("doc_id") % 7 === 0,
                lit("subscribe to our newsletter now for updates "))
              .otherwise(lit("")),
            coalesce(col("text"), lit("")),
            when(col("doc_id") % 9 === 0,
                lit(" all rights reserved worldwide"))
              .otherwise(lit(""))).as("text")), minDocs = 10L)
    }),
      """WITH aug AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 7 = 0
        |      THEN 'subscribe to our newsletter now for updates '
        |      ELSE '' END
        |    || coalesce(text, '')
        |    || CASE WHEN doc_id % 9 = 0
        |      THEN ' all rights reserved worldwide' ELSE '' END AS text
        |  FROM documents
        |), tk AS (
        |  SELECT doc_id, source,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')
        |      AS raw
        |  FROM aug
        |), pos AS (
        |  SELECT doc_id, len(raw) AS m, raw,
        |    unnest(range(0, len(raw))) AS i
        |  FROM tk
        |), grams AS (
        |  SELECT doc_id, i,
        |    array_to_string(raw[CAST(i + 1 AS INT):CAST(i + 3 AS INT)],
        |      ' ') AS gram
        |  FROM pos WHERE i <= m - 3
        |), heavy AS (
        |  SELECT gram FROM grams
        |  GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 10
        |), cov AS (
        |  SELECT DISTINCT g.doc_id, g.i + d.d AS p
        |  FROM grams g JOIN heavy USING (gram)
        |  CROSS JOIN (SELECT unnest([0, 1, 2]) AS d) d
        |), per AS (
        |  SELECT t.doc_id, t.source, len(t.raw) AS m,
        |    COALESCE(c.removed, 0) AS removed
        |  FROM tk t LEFT JOIN
        |    (SELECT doc_id, COUNT(*) AS removed FROM cov GROUP BY 1) c
        |    USING (doc_id)
        |)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN removed > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS docs_touched,
        |  CAST(SUM(m) AS BIGINT) AS toks_before,
        |  CAST(SUM(removed) AS BIGINT) AS toks_removed,
        |  round(CAST(SUM(removed) AS DOUBLE)
        |    / greatest(CAST(SUM(m) AS DOUBLE), 1.0), 6) AS removal_rate
        |FROM per GROUP BY source ORDER BY source""".stripMargin),

    QuerySpec("q322_fertility_drift", ((s, dir) => {
      // tokenizer-fertility drift monitor: per (lang, source),
      // chars-per-token fertility vs the language-wide reference, with
      // a 2% drift flag — the rollout readout that catches a source
      // whose content mix (or encoding) shifted under a tokenizer.
      TextAnalysis.fertilityBracket(
        TextAnalysis.fertilityPartials(t(s, dir, "documents")))
    }),
      // integer (toks, chars) sums per (lang, source); the zero-token
      // branches are explicit in BOTH engines (the q311 oracle lesson)
      """WITH per AS (
        |  SELECT lang, source,
        |    CAST(SUM(len(list_filter(regexp_split_to_array(
        |      coalesce(text, ''), '\s+'), x -> x <> ''))) AS BIGINT)
        |      AS toks,
        |    CAST(SUM(length(coalesce(text, ''))) AS BIGINT) AS chars
        |  FROM documents GROUP BY 1, 2
        |), ref AS (
        |  SELECT lang, CASE WHEN SUM(toks) > 0
        |    THEN round(CAST(SUM(chars) AS DOUBLE)
        |      / CAST(SUM(toks) AS DOUBLE), 6)
        |    ELSE 0.0 END AS ref_fertility
        |  FROM per GROUP BY 1
        |), f AS (
        |  SELECT p.lang, p.source, p.toks, p.chars,
        |    CASE WHEN p.toks > 0
        |      THEN round(CAST(p.chars AS DOUBLE)
        |        / CAST(p.toks AS DOUBLE), 6)
        |      ELSE 0.0 END AS fertility,
        |    r.ref_fertility
        |  FROM per p JOIN ref r USING (lang)
        |)
        |SELECT lang, source, toks, chars, fertility, ref_fertility,
        |  CASE WHEN ref_fertility > 0
        |    THEN round(fertility / ref_fertility, 6) ELSE 0.0 END
        |    AS ratio,
        |  (abs(CASE WHEN ref_fertility > 0
        |    THEN round(fertility / ref_fertility, 6) ELSE 0.0 END
        |    - 1.0) > 0.02) AS drifted
        |FROM f ORDER BY lang, source""".stripMargin),

    QuerySpec("q323_dict_blocklist", ((s, dir) => {
      // DICTIONARY-scale blocklist (3375 phrase patterns = the full
      // trigram grid over a 15-word vocabulary, ~18k automaton nodes):
      // exercises BlocklistHits' sparse CSR representation — one
      // automaton walk per doc whatever the dictionary size, memory
      // O(trie edges) — where a LIKE-per-pattern plan would re-scan
      // every document 3375 times. Only (source, pattern) rows with
      // hits survive; zero-hit patterns are dropped in both engines.
      TextAnalysis.blocklistScan(t(s, dir, "documents"), dictBlocklistPatterns, dropZeroHits = true)
    }),
      // the replace()-count replay per (doc, pattern) over the full
      // 15^3 trigram dictionary; '//' is DuckDB integer division
      s"""WITH pats AS (
        |  SELECT a.w || ' ' || b.w || ' ' || c.w AS pattern
        |  FROM (SELECT unnest($dictVocabSql) AS w) a,
        |       (SELECT unnest($dictVocabSql) AS w) b,
        |       (SELECT unnest($dictVocabSql) AS w) c
        |), d AS (
        |  SELECT source, lower(coalesce(text, '')) AS t FROM documents
        |), h AS (
        |  SELECT d.source, p.pattern,
        |    (length(d.t) - length(replace(d.t, p.pattern, '')))
        |      // length(p.pattern) AS h
        |  FROM d CROSS JOIN pats p
        |)
        |SELECT source, pattern,
        |  CAST(SUM(CASE WHEN h > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS docs_hit,
        |  CAST(SUM(h) AS BIGINT) AS hits
        |FROM h GROUP BY 1, 2 HAVING SUM(h) > 0
        |ORDER BY source, pattern""".stripMargin),

    QuerySpec("q324_template_prefixes", ((s, dir) => {
      // template/boilerplate prefix audit: top-3 duplicated 24-char
      // lowercased prefixes per source with doc share — the "is this
      // source serving templated pages" detector. The fixture plants a
      // banner prefix on doc_id%7 docs (coprime with the source
      // assignment); organic prefixes are singletons, so the banner
      // dominates rank 1 wherever it lands and ties break on the
      // prefix text for a total order.
      TextAnalysis.templatePrefixes(
        t(s, dir, "documents").select(col("source"),
          concat(
            when(col("doc_id") % 7 === 0,
                lit("breaking news update now live "))
              .otherwise(lit("")),
            coalesce(col("text"), lit(""))).as("text")), prefixLen = 24, topK = 3)
    }),
      """WITH aug AS (
        |  SELECT source, CASE WHEN doc_id % 7 = 0
        |      THEN 'breaking news update now live ' ELSE '' END
        |    || coalesce(text, '') AS text
        |  FROM documents
        |), pre AS (
        |  SELECT source, substring(lower(text), 1, 24) AS prefix
        |  FROM aug
        |), counts AS (
        |  SELECT source, prefix, CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM pre GROUP BY 1, 2
        |), tot AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS total
        |  FROM pre GROUP BY 1
        |), ranked AS (
        |  SELECT source, prefix, n_docs,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY n_docs DESC, prefix ASC) AS BIGINT) AS rank
        |  FROM counts
        |)
        |SELECT r.source, r.rank, r.prefix, r.n_docs,
        |  round(CAST(r.n_docs AS DOUBLE) / CAST(t.total AS DOUBLE), 6)
        |    AS share
        |FROM ranked r JOIN tot t USING (source)
        |WHERE r.rank <= 3 ORDER BY r.source, r.rank""".stripMargin),

    QuerySpec("q325_content_funnel", ((s, dir) => {
      // the CONTENT-gate cleaning funnel: q110's cascade report rebuilt
      // from the native content gates (token count, the q316 encoding
      // detectors, the q318 char-entropy expression, the q315 blocklist
      // automaton as a boolean) — per-stage survivor/drop counts in ONE
      // corpus scan, each gate a conditional-sum column of a single
      // partial-combined aggregate. The fixture plants spam (%13
      // replacement) and encoding noise (%7/%9/%11 suffixes — keys
      // coprime with the source assignment) identically in both
      // engines so every stage has real attrition.
      val base = when(col("doc_id") % 13 === 0, expr("repeat('spam ', 40)"))
        .otherwise(coalesce(col("text"), lit("")))
      val injected = t(s, dir, "documents").select(col("doc_id"),
        concat(base,
          when(col("doc_id") % 7 === 0, lit(" caf\u00C3\u00A9"))
            .otherwise(lit("")),
          when(col("doc_id") % 9 === 0, lit("\u0007"))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 0, lit(" \uFFFD"))
            .otherwise(lit(""))).as("text"))
      // the SAME detector predicates q316 runs (shared helpers \u2014 the
      // funnel's encoding gate cannot drift from encodingAudit)
      val repl = TextAnalysis.hasReplacementChar(col("text"))
      val ctrl = TextAnalysis.hasControlJunk(col("text"))
      val moji = TextAnalysis.hasMojibake(col("text"))
      // zero greedy-count sum == no pattern occurs at all, so the
      // automaton doubles as a multi-phrase boolean gate in one walk
      val hitsum = aggregate(
        GraftFunctions.blocklist_hits(lower(col("text")),
          typedlit(funnelBlocklist)),
        lit(0L), (a, x) => a + x)
      operators.Sampling.filterFunnel(injected, Seq(
        "min_tokens" -> (TextAnalysis.tokenCount(col("text")) >= 20),
        "encoding_clean" -> (!repl && !ctrl && !moji),
        "entropy" ->
          (round(GraftFunctions.char_entropy(col("text")), 6) >= 3.0),
        "blocklist_clean" -> (hitsum === 0L)))
        .orderBy(col("stage_id"))
    }),
      // the content-gate funnel: spam/noise fixture, then the four gate
      // predicates replayed (token count; the q316 detectors; the q318
      // per-char entropy chain; multi-phrase containment = the zero-hit
      // automaton boolean), cascaded with FILTER counts
      ("""WITH aug AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 0 THEN repeat('spam ', 40)
        |      ELSE coalesce(text, '') END
        |    || CASE WHEN doc_id % 7 = 0
        |         THEN ' caf' || chr(195) || chr(169) ELSE '' END
        |    || CASE WHEN doc_id % 9 = 0 THEN chr(7) ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0
        |         THEN ' ' || chr(65533) ELSE '' END AS t
        |  FROM documents
        |), chars AS (
        |  SELECT doc_id, substring(t, CAST(i AS INT), 1) AS ch
        |  FROM aug, unnest(range(1, length(t) + 1)) u(i)
        |), hist AS (
        |  SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM chars GROUP BY 1, 2
        |), tot AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM hist GROUP BY 1
        |), ent AS (
        |  SELECT h.doc_id, round(CAST(SUM(CAST(round(
        |      (CAST(c AS DOUBLE) / n)
        |        * (ln(CAST(n AS DOUBLE) / c) / ln(2.0)), 9)
        |      AS DECIMAL(19,9))) AS DOUBLE), 6) AS h
        |  FROM hist h JOIN tot USING (doc_id) GROUP BY 1
        |), b AS (
        |  SELECT
        |    (len(list_filter(regexp_split_to_array(a.t, '\s+'),
        |      x -> x <> '')) >= 20) AS b1,
        |    (NOT (strpos(a.t, chr(65533)) > 0
        |       OR regexp_matches(a.t, '[\x00-\x08\x0B\x0C\x0E-\x1F]')
        |       OR regexp_matches(a.t, chr(195) || '[' || chr(160)
        |            || '-' || chr(191) || ']'))) AS b2,
        |    (COALESCE(e.h, 0.0) >= 3.0) AS b3,
        |    (NOT (""".stripMargin + funnelBlocklistSql + """)) AS b4
        |  FROM aug a LEFT JOIN ent e USING (doc_id)
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
        |  UNION ALL SELECT 1, 'min_tokens', s1, s0 - s1 FROM c
        |  UNION ALL SELECT 2, 'encoding_clean', s2, s1 - s2 FROM c
        |  UNION ALL SELECT 3, 'entropy', s3, s2 - s3 FROM c
        |  UNION ALL SELECT 4, 'blocklist_clean', s4, s3 - s4 FROM c)
        |ORDER BY stage_id""".stripMargin)),

    QuerySpec("q302_bm25_sweep", ((s, dir) => {
      // BM25 hyperparameter sweep as ONE query: 6 (k1, b) configs
      // score the same 3-term query from a single postings pass (the
      // config grid is a 6-row broadcast over the shared tf/df/stats
      // tables — grid search never re-reads the corpus), and each
      // config's top-10 is compared to the default (1.2, 0.75) by
      // RBO@10 — the "how sensitive is my ranking to k1/b" tuning
      // readout. The default's own row lands exactly at 1 − 0.9^10,
      // the identical-ranking RBO — a built-in self-check.
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val terms = Seq("spark", "join", "window")
      val toks = operators.TextAnalysis.tokens(col("text"))
      val dl = operators.Materializer.Local(t(s, dir, "documents")
        .select(col("doc_id"), size(toks).as("dl"),
          explode_outer(filter(toks, t => t.isInCollection(terms)))
            .as("t")))
      val stats = dl.groupBy(col("doc_id"))
        .agg(first(col("dl")).as("dl"))
        .agg(count(lit(1)).cast("double").as("n_docs"),
          (sum(col("dl")).cast("double") / count(lit(1)).cast("double"))
            .as("avgdl"))
      val tf = dl.filter(col("t").isNotNull)
        .groupBy(col("doc_id"), col("dl"), col("t"))
        .agg(count(lit(1)).cast("double").as("tf"))
      val df = tf.groupBy(col("t"))
        .agg(count(lit(1)).cast("double").as("df"))
      val cfgs = Seq(0.6, 1.2, 2.0).flatMap(k1 =>
        Seq(0.25, 0.75).map(b => (k1, b))).toDF("k1", "bb")
      val idf = log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5))
        / (col("df") + lit(0.5)))
      val tfn = col("tf") * (col("k1") + lit(1.0)) /
        (col("tf") + col("k1") * (lit(1.0) - col("bb")
          + col("bb") * col("dl").cast("double") / col("avgdl")))
      val wR = Window.partitionBy(col("k1"), col("bb"))
        .orderBy(col("score").desc, col("doc_id").asc)
      val ranked = operators.Materializer.Local(tf
        .join(operators.Hints.boundedBroadcast(df, "query_term_set"), Seq("t"))
        .crossJoin(broadcast(stats))
        .crossJoin(broadcast(cfgs))
        .select(col("k1"), col("bb"), col("doc_id"),
          (idf * tfn).as("s"))
        .groupBy(col("k1"), col("bb"), col("doc_id"))
        .agg(round(sum(col("s").cast("decimal(38,6)")).cast("double"),
          6).as("score"))
        .withColumn("rk", row_number().over(wR).cast("int"))
        .filter(col("rk") <= 10))
      val base = ranked.filter(col("k1") === 1.2 && col("bb") === 0.75)
        .select(col("doc_id"), col("rk").as("rb"))
      val w = rboWeights.toDF("m", "c")
      ranked
        .join(operators.Hints.boundedBroadcast(base, "topk_capped"), Seq("doc_id"))
        .select(col("k1"), col("bb"),
          greatest(col("rk"), col("rb")).as("m"))
        .join(broadcast(w), Seq("m"))
        .groupBy(col("k1"), col("bb"))
        .agg(count(lit(1)).cast("long").as("n_common"),
          round(sum(col("c").cast("decimal(14,12)")).cast("double"), 6)
            .as("rbo_vs_default"))
        .orderBy(col("k1"), col("bb"))
    }),
      {
      val wvals = rboWeights.map { case (m, c) => s"($m, $c)" }
        .mkString(", ")
      s"""WITH dl AS MATERIALIZED (
         |  SELECT doc_id, len($toksSql) AS dl FROM documents
         |), stats AS (
         |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         |    CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         |      AS avgdl
         |  FROM dl
         |), tfm AS (
         |  SELECT doc_id, t, CAST(COUNT(*) AS DOUBLE) AS tf
         |  FROM (SELECT doc_id, unnest($toksSql) AS t FROM documents)
         |  WHERE t IN ('spark', 'join', 'window') GROUP BY 1, 2
         |), dfc AS (
         |  SELECT t, CAST(COUNT(*) AS DOUBLE) AS df FROM tfm GROUP BY 1
         |), cfgs(k1, bb) AS (VALUES (0.6, 0.25), (0.6, 0.75),
         |  (1.2, 0.25), (1.2, 0.75), (2.0, 0.25), (2.0, 0.75)),
         |scored AS (
         |  SELECT k1, bb, tfm.doc_id,
         |    ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
         |      * (tf * (k1 + 1.0) / (tf + k1 * (1.0 - bb
         |        + bb * CAST(dl.dl AS DOUBLE) / avgdl))) AS s
         |  FROM tfm JOIN dfc USING (t) JOIN dl USING (doc_id)
         |  CROSS JOIN stats CROSS JOIN cfgs
         |), agg AS (
         |  SELECT k1, bb, doc_id,
         |    round(CAST(SUM(CAST(s AS DECIMAL(38,6))) AS DOUBLE), 6)
         |      AS score
         |  FROM scored GROUP BY 1, 2, 3
         |), ranked AS MATERIALIZED (
         |  SELECT k1, bb, doc_id, rk FROM (
         |    SELECT k1, bb, doc_id,
         |      CAST(row_number() OVER (PARTITION BY k1, bb
         |        ORDER BY score DESC, doc_id) AS INT) AS rk
         |    FROM agg)
         |  WHERE rk <= 10
         |), base AS (
         |  SELECT doc_id, rk AS rb FROM ranked
         |  WHERE k1 = 1.2 AND bb = 0.75
         |), w(m, c) AS (VALUES $wvals)
         |SELECT r.k1, r.bb, CAST(count(*) AS BIGINT) AS n_common,
         |  round(CAST(SUM(CAST(c AS DECIMAL(14,12))) AS DOUBLE), 6)
         |    AS rbo_vs_default
         |FROM ranked r JOIN base USING (doc_id)
         |JOIN w ON w.m = greatest(r.rk, rb)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    })
  )
}
