package graft
package registry

import org.apache.spark.sql.functions._

import graft.operators.{Similarity, TextAnalysis}

import SparkHelpers._
import SqlHelpers._

/** The suite's vector and sparse similarity search: exact kNN, ANN indexes,
  * retrieval and ranking (operators.Similarity, Retrieval). */
private[graft] object SimilarityQueries {

  val specs: Seq[QuerySpec] = Seq(

    QuerySpec("q57_vec_quantize", ((s, dir) => {
      val q = Similarity.quantizeInt8
      t(s, dir, "embeddings").select(col("vec_id"),
        array_join(q.getField("codes"), ",").as("codes"),
        q.getField("scale").as("scale"))
        .orderBy(col("vec_id"))
    }),
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) AS amax
        |  FROM embeddings)
        |SELECT vec_id,
        |  CASE WHEN amax = 0
        |    THEN array_to_string(list_transform(embedding, x -> 0), ',')
        |    ELSE array_to_string(list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) / (amax / 127.0) + 0.5)
        |        AS INT)), ',') END AS codes,
        |  round(amax / 127.0, 9) AS scale
        |FROM m ORDER BY vec_id""".stripMargin),

    QuerySpec("q40_knn_brute", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 30), k = 5,
          exact = true)
        .orderBy(col("query_id"), col("rk"))
    }),
      """WITH q AS (
        |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
        |  WHERE vec_id < 30
        |), c AS (
        |  SELECT vec_id AS cid, embedding AS cv FROM embeddings
        |), p AS (
        |  SELECT qid, cid,
        |    list_sum(list_transform(list_zip(qv, cv),
        |      z -> CAST(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)
        |        AS DECIMAL(38,20)))) AS dot,
        |    list_sum(list_transform(qv,
        |      x -> CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
        |        AS DECIMAL(38,20)))) AS nq,
        |    list_sum(list_transform(cv,
        |      x -> CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
        |        AS DECIMAL(38,20)))) AS nc
        |  FROM q, c WHERE qid <> cid
        |), scored AS (
        |  SELECT qid AS query_id, cid AS neighbor_id,
        |    round(CASE WHEN nq = 0 OR nc = 0 THEN 0.0
        |      ELSE CAST(dot AS DOUBLE)
        |        / (sqrt(CAST(nq AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE)))
        |      END, 6) AS sim
        |  FROM p
        |), ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id) AS INT) AS rk
        |  FROM scored)
        |SELECT query_id, neighbor_id, sim, rk FROM ranked WHERE rk <= 5
        |ORDER BY query_id, rk""".stripMargin),

    QuerySpec("q41_ann_lsh", ((s, dir) => {
      // LSH-bucketed ANN with exact re-rank — oracle-checkable (portable
      // md5-derived hyperplanes + decimal-exact cosine)
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 30))
        .orderBy(col("query_id"), col("rk"))
    }),
      s"""WITH ${bucketCtes(8)},
         |q AS (
         |  SELECT e.vec_id AS qid, e.embedding AS qv, b.bucket
         |  FROM embeddings e JOIN buckets b USING (vec_id)
         |  WHERE e.vec_id < 30
         |), c AS (
         |  SELECT e.vec_id AS cid, e.embedding AS cv, b.bucket
         |  FROM embeddings e JOIN buckets b USING (vec_id)
         |), p AS (
         |  SELECT qid, cid,
         |    ${dotSql("qv", "cv")} AS dot,
         |    ${normSql("qv")} AS nq,
         |    ${normSql("cv")} AS nc
         |  FROM q JOIN c USING (bucket) WHERE qid <> cid
         |), scored AS (
         |  SELECT qid AS query_id, cid AS neighbor_id,
         |    round($cosSql, 6) AS sim
         |  FROM p
         |), ranked AS (
         |  SELECT query_id, neighbor_id, sim,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id) AS INT) AS rk
         |  FROM scored)
         |SELECT query_id, neighbor_id, sim, rk FROM ranked WHERE rk <= 5
         |ORDER BY query_id, rk""".stripMargin),

    QuerySpec("q64_ann_lsh_multiprobe", ((s, dir) => {
      // multi-probe LSH (probeBits=1): each query additionally probes the
      // planes buckets at Hamming distance 1 — the recall knob,
      // correctness-pinned against the oracle's probe expansion
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 30), probeBits = 1)
        .orderBy(col("query_id"), col("rk"))
    }),
      s"""WITH ${bucketCtes(8)},
         |q AS (
         |  SELECT e.vec_id AS qid, e.embedding AS qv, b.bucket AS bucket0
         |  FROM embeddings e JOIN buckets b USING (vec_id)
         |  WHERE e.vec_id < 30
         |), qp AS (
         |  SELECT DISTINCT qid, qv, CASE WHEN i.range < 0 THEN bucket0
         |    ELSE xor(bucket0, CAST(pow(2, i.range) AS BIGINT)) END AS bucket
         |  FROM q, range(-1, 8) i
         |), c AS (
         |  SELECT e.vec_id AS cid, e.embedding AS cv, b.bucket
         |  FROM embeddings e JOIN buckets b USING (vec_id)
         |), p AS (
         |  SELECT qid, cid,
         |    ${dotSql("qv", "cv")} AS dot,
         |    ${normSql("qv")} AS nq,
         |    ${normSql("cv")} AS nc
         |  FROM qp JOIN c USING (bucket) WHERE qid <> cid
         |), scored AS (
         |  SELECT qid AS query_id, cid AS neighbor_id,
         |    round($cosSql, 6) AS sim
         |  FROM p
         |), ranked AS (
         |  SELECT query_id, neighbor_id, sim,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id) AS INT) AS rk
         |  FROM scored)
         |SELECT query_id, neighbor_id, sim, rk FROM ranked WHERE rk <= 5
         |ORDER BY query_id, rk""".stripMargin),

    QuerySpec("q89_hard_negatives", ((s, dir) => {
      // contrastive hard-negative mining: 5 nearest DIFFERENT-label
      // neighbors per query — the label-mismatch predicate rides the
      // broadcast join map-side; same bounded-heap shape as q40
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegativesTopK(emb, emb.filter(col("vec_id") < 30),
          k = 5)
        .orderBy(col("query_id"), col("rk"))
    }),
      s"""WITH q AS (
         |  SELECT vec_id AS qid, embedding AS qv, label AS ql
         |  FROM embeddings WHERE vec_id < 30
         |), c AS (
         |  SELECT vec_id AS cid, embedding AS cv, label AS cl
         |  FROM embeddings
         |), p AS (
         |  SELECT qid, cid,
         |    ${dotSql("qv", "cv")} AS dot,
         |    ${normSql("qv")} AS nq,
         |    ${normSql("cv")} AS nc
         |  FROM q, c WHERE qid <> cid AND ql IS DISTINCT FROM cl
         |), scored AS (
         |  SELECT qid AS query_id, cid AS neighbor_id,
         |    round($cosSql, 6) AS sim
         |  FROM p
         |), ranked AS (
         |  SELECT query_id, neighbor_id, sim,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id) AS INT) AS rk
         |  FROM scored)
         |SELECT query_id, neighbor_id, sim, rk FROM ranked WHERE rk <= 5
         |ORDER BY query_id, rk""".stripMargin),

    QuerySpec("q92_chunk_retrieval", ((s, dir) => {
      // the RAG indexing loop closed IN-ENGINE: chunk (q86) -> embed
      // (feature-hashing, md5-portable) -> exact cosine top-3 per query
      // chunk. Model-free baseline wired through the same interface a
      // real embedding column would use; queries = the chunks of docs
      // 0-2 against the whole chunk corpus.
      val chunks = TextAnalysis.chunkDocuments(t(s, dir, "documents"), chunkLen = 64, stride = 48)
        .select((col("doc_id") * 1000 + col("chunk_id")).cast("long")
          .as("vec_id"), TextAnalysis.tokens(col("chunk_text")).as("toks"))
      val vecs = Similarity.hashEmbeddings(chunks,
        dim = 32).withColumnRenamed("id", "vec_id")
      Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") < 3000),
          k = 3, exact = true)
        .orderBy(col("query_id"), col("rk"))
    }),
      s"""WITH base AS (
         |  SELECT doc_id, $toksSql AS tk FROM documents
         |), st AS (
         |  SELECT doc_id, tk, unnest(range(0, len(tk), 48)) AS s
         |  FROM base
         |), ck AS (
         |  SELECT doc_id * 1000 + s // 48 AS vec_id,
         |    tk[CAST(s + 1 AS INT):CAST(s + 64 AS INT)] AS ctk
         |  FROM st
         |), bk AS (
         |  SELECT vec_id, list_transform(ctk, t ->
         |    CAST(list_sum([CAST(round(pow(16, 7 - i)) AS BIGINT) *
         |      (strpos('0123456789abcdef', substr(md5(t), i + 1, 1)) - 1)
         |      for i in range(0, 8)]) % 32 AS BIGINT)) AS bl
         |  FROM ck
         |), vec AS (
         |  SELECT vec_id, [CAST(len(list_filter(bl, b -> b = i)) AS DOUBLE)
         |    for i in range(0, 32)] AS embedding
         |  FROM bk
         |), q AS (
         |  SELECT vec_id AS qid, embedding AS qv FROM vec
         |  WHERE vec_id < 3000
         |), c AS (SELECT vec_id AS cid, embedding AS cv FROM vec),
         |p AS (
         |  SELECT qid, cid,
         |    ${dotSql("qv", "cv")} AS dot,
         |    ${normSql("qv")} AS nq,
         |    ${normSql("cv")} AS nc
         |  FROM q, c WHERE qid <> cid
         |), scored AS (
         |  SELECT qid AS query_id, cid AS neighbor_id,
         |    round($cosSql, 6) AS sim
         |  FROM p
         |), ranked AS (
         |  SELECT query_id, neighbor_id, sim,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id) AS INT) AS rk
         |  FROM scored)
         |SELECT query_id, neighbor_id, sim, rk FROM ranked WHERE rk <= 3
         |ORDER BY query_id, rk""".stripMargin),

    QuerySpec("q72_ann_pq", ((s, dir) => {
      // PQ-compressed ANN: 64-dim floats become m=8 codes; the corpus scan
      // reads codes only. Approximate by nature, so the oracle gate is a
      // recall floor against the exact brute-force top-k computed in the
      // same job (the q19 pattern: the oracle emits TRUE, and a recall
      // collapse becomes a hash mismatch, not a vacuous row).
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 30)
      val cb = pqCodebookFor(s, dir, emb)
      val pq = Similarity.pqTopK(emb, qs, cb, k = 10)
      val exact = Similarity.bruteForceTopK(emb, qs, k = 10)
      // exact invariant: 10 results per query; approximate invariant: the
      // 30-query recall@10 total stays >= 45 (observed 86-100; chance level
      // for k=10 against this corpus is < 1) — both TRUE/constant in the
      // oracle, so a recall collapse or a short result set hash-mismatches
      val totalHits = pq.select(col("query_id"), col("neighbor_id"))
        .join(exact.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("th"))
      qs.select(col("vec_id").as("query_id"))
        .join(pq.groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_results")), Seq("query_id"), "left")
        .crossJoin(broadcast(totalHits))
        .select(col("query_id"),
          coalesce(col("n_results"), lit(0L)).cast("long").as("n_results"),
          (col("th") >= 45).as("recall_floor_ok"))
        .orderBy(col("query_id"))
    }),
      """SELECT vec_id AS query_id, CAST(10 AS BIGINT) AS n_results,
        |  TRUE AS recall_floor_ok
        |FROM embeddings WHERE vec_id < 30 ORDER BY query_id""".stripMargin,
      warmIndex = true),

    QuerySpec("q77_ann_ivfpq", ((s, dir) => {
      // IVF-PQ (the FAISS IVFPQ shape): coarse cell pruning (nprobe=3 of
      // 8 cells) over the shared persisted PQ codebook — per-query work
      // is the probed cells' code words, never the float corpus. The
      // (cell_id, codes) INDEX is a persisted parquet artifact (the q70
      // pattern: a real pipeline has yesterday's index on disk; built
      // once per corpus dir, untimed after the first pass), so the timed
      // body is probe + ADC only — the float vectors are never scanned
      // at search time. Gate = the q72 pattern: exact per-query result
      // counts + a recall floor vs the in-job brute-force ground truth.
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 30)
      val cb = pqCodebookFor(s, dir, emb)
      val seeds = emb.filter(col("vec_id") < 8)
      val idxDir = new java.io.File(
        s".bench/q77_index_${corpusKey(dir)}").getAbsolutePath
      val idxPath = ensurePersistedIndex(idxDir, emb.count()) {
        Similarity.ivfPqIndex(emb, seeds, cb)
      }
      val pq = Similarity.ivfPqSearch(s.read.parquet(idxPath), qs, seeds,
        cb, k = 10, nprobe = 3)
      val exact = Similarity.bruteForceTopK(emb, qs, k = 10)
      val totalHits = pq.select(col("query_id"), col("neighbor_id"))
        .join(exact.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("th"))
      qs.select(col("vec_id").as("query_id"))
        .join(pq.groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_results")), Seq("query_id"), "left")
        .crossJoin(broadcast(totalHits))
        .select(col("query_id"),
          coalesce(col("n_results"), lit(0L)).cast("long").as("n_results"),
          (col("th") >= 35).as("recall_floor_ok")) // observed 67-111
        .orderBy(col("query_id"))
    }),
      """SELECT vec_id AS query_id, CAST(10 AS BIGINT) AS n_results,
        |  TRUE AS recall_floor_ok
        |FROM embeddings WHERE vec_id < 30 ORDER BY query_id""".stripMargin,
      warmIndex = true),

    QuerySpec("q46_ann_ivf", ((s, dir) => {
      // IVF cell-probe ANN; seeds = first 8 vectors — oracle-checkable
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 30),
          emb.filter(col("vec_id") < 8))
        .orderBy(col("query_id"), col("rk"))
    }),
      s"""WITH seeds AS (
         |  SELECT vec_id AS cell_id, embedding AS s_vec FROM embeddings
         |  WHERE vec_id < 8
         |), assign_all AS (
         |  SELECT e.vec_id, s.cell_id,
         |    ${dotSql("e.embedding", "s.s_vec")} AS dot,
         |    ${normSql("e.embedding")} AS nq,
         |    ${normSql("s.s_vec")} AS nc
         |  FROM embeddings e, seeds s
         |), assigned AS (
         |  SELECT vec_id, cell_id FROM (
         |    SELECT vec_id, cell_id, ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY round($cosSql, 9) DESC, cell_id) AS rn
         |    FROM assign_all) sub
         |  WHERE rn = 1
         |), q AS (
         |  SELECT a.cell_id, e.vec_id AS qid, e.embedding AS qv
         |  FROM embeddings e JOIN assigned a USING (vec_id)
         |  WHERE e.vec_id < 30
         |), c AS (
         |  SELECT a.cell_id, e.vec_id AS cid, e.embedding AS cv
         |  FROM embeddings e JOIN assigned a USING (vec_id)
         |), p AS (
         |  SELECT qid, cid,
         |    ${dotSql("qv", "cv")} AS dot,
         |    ${normSql("qv")} AS nq,
         |    ${normSql("cv")} AS nc
         |  FROM q JOIN c USING (cell_id) WHERE qid <> cid
         |), scored AS (
         |  SELECT qid AS query_id, cid AS neighbor_id,
         |    round($cosSql, 6) AS sim
         |  FROM p
         |), ranked AS (
         |  SELECT query_id, neighbor_id, sim,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id) AS INT) AS rk
         |  FROM scored)
         |SELECT query_id, neighbor_id, sim, rk FROM ranked WHERE rk <= 5
         |ORDER BY query_id, rk""".stripMargin),

    QuerySpec("q116_emb_whiten", ((s, dir) => {
      // per-dimension standardization of the embedding corpus: one
      // partial-combined aggregate -> d stat rows broadcast back over the
      // element stream (the corpus shuffles once for the stats, never for
      // the transform). Moments in DECIMAL(38,20), z-scores in one fixed
      // IEEE op order -> oracle-exact.
      Similarity.whiten(t(s, dir, "embeddings"))
        .orderBy(col("vec_id"), col("pos"))
    }),
      """WITH el AS (
        |  SELECT vec_id, CAST(pos AS BIGINT) AS pos, CAST(v AS DOUBLE) AS x
        |  FROM (SELECT vec_id, unnest(embedding) AS v,
        |          generate_subscripts(embedding, 1) AS pos
        |        FROM embeddings) u
        |), st AS (
        |  SELECT pos,
        |    CAST(SUM(CAST(x AS DECIMAL(38,20))) AS DOUBLE) / COUNT(*)
        |      AS mean,
        |    CAST(SUM(CAST(x * x AS DECIMAL(38,20))) AS DOUBLE) / COUNT(*)
        |      AS ex2
        |  FROM el GROUP BY pos
        |), s2 AS (
        |  SELECT pos, mean, sqrt(ex2 - mean * mean) AS std FROM st
        |)
        |SELECT el.vec_id, el.pos,
        |  CASE WHEN s2.std = 0 THEN 0.0
        |       ELSE round((el.x - s2.mean) / s2.std, 9) END AS z
        |FROM el JOIN s2 USING (pos)
        |ORDER BY vec_id, pos""".stripMargin),

    QuerySpec("q128_ivfpq_append", ((s, dir) => {
      // incremental ANN index APPEND — the q70 incremental-dedup pattern
      // applied to IVF-PQ: new vectors (vec_id % 10 == 9) arrive after
      // the historical index was built and persisted; the append encodes
      // ONLY the new rows under the frozen codebook/seed model (no
      // retraining, history never re-scanned or re-encoded) and the
      // search runs over disk-index UNION fresh-codes. Per-row encoding
      // is deterministic under a frozen model, so the unioned index is
      // row-identical to a full rebuild (OperatorsSpec pins it); the
      // oracle gate is the q77 contract: exact per-query counts + a
      // recall floor vs in-job brute force.
      val emb = t(s, dir, "embeddings")
      val hist = emb.filter(col("vec_id") % 10 =!= 9)
      val fresh = emb.filter(col("vec_id") % 10 === 9)
      val qs = emb.filter(col("vec_id") < 30)
      val cb = pqCodebookFor(s, dir, emb)
      val seeds = emb.filter(col("vec_id") < 8)
      val idxDir = new java.io.File(
        s".bench/q128_hist_${corpusKey(dir)}").getAbsolutePath
      val idxPath = ensurePersistedIndex(idxDir, hist.count()) {
        Similarity.ivfPqIndex(hist, seeds, cb)
      }
      val index = s.read.parquet(idxPath)
        .unionByName(Similarity.ivfPqIndex(fresh, seeds, cb))
      val pq = Similarity.ivfPqSearch(index, qs, seeds, cb,
        k = 10, nprobe = 3)
      val exact = Similarity.bruteForceTopK(emb, qs, k = 10)
      val totalHits = pq.select(col("query_id"), col("neighbor_id"))
        .join(exact.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("th"))
      qs.select(col("vec_id").as("query_id"))
        .join(pq.groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_results")), Seq("query_id"), "left")
        .crossJoin(broadcast(totalHits))
        .select(col("query_id"),
          coalesce(col("n_results"), lit(0L)).cast("long").as("n_results"),
          (col("th") >= 35).as("recall_floor_ok")) // q77's observed band
        .orderBy(col("query_id"))
    }),
      """SELECT vec_id AS query_id, CAST(10 AS BIGINT) AS n_results,
        |  TRUE AS recall_floor_ok
        |FROM embeddings WHERE vec_id < 30 ORDER BY query_id""".stripMargin,
      warmIndex = true),

    QuerySpec("q138_bm25", ((s, dir) => {
      // BM25 lexical retrieval (the Lucene k1/b formulation): top 20
      // documents for a 3-term query. The exploded token stream is
      // trimmed to the broadcast query-term set MAP-SIDE, so the one
      // (doc, term) exchange carries only matching postings — scoring a
      // 10-term query over 100 TB shuffles 10 terms' postings, not the
      // corpus. df is a ≤|query|-row broadcast; N/avgdl ride a 1-row
      // broadcast cross join; the top-N is a bounded TakeOrdered.
      operators.Retrieval.bm25(t(s, dir, "documents"),
          Seq("spark", "join", "window"), topN = 20)
        .orderBy(col("rk"))
    }),
      bm25Sql("'spark', 'join', 'window'", 20)),

    QuerySpec("q139_sparse_cosine", ((s, dir) => {
      // all-pairs sparse cosine over tf-weighted 4-gram shingles through
      // the INVERTED INDEX (the Elsayed/Lin/Oard pairwise-similarity
      // shape): per-term partial products group-sum to the full dot
      // product, so pairs form only where a shared shingle exists — no
      // all-pairs product, recall 1.0 (given the df cap) where LSH
      // would sample. The df cap drops the Zipf head from the
      // similarity space BEFORE the pair join — the lever that bounds
      // per-term fanout at 100 TB.
      operators.Retrieval.sparseCosinePairs(t(s, dir, "documents"), maxDf = 1000L, threshold = 0.3, shingleN = 4)
        .orderBy(col("a_id"), col("b_id"))
    }),
      """WITH raws AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')
        |      AS raw
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, CASE WHEN len(raw) < 4
        |    THEN [array_to_string(raw, ' ')]
        |    ELSE [array_to_string(raw[i+1:i+4], ' ')
        |          for i in range(0, len(raw) - 3)] END AS grams
        |  FROM raws
        |), tf AS (
        |  SELECT doc_id, t, CAST(COUNT(*) AS DOUBLE) AS tf
        |  FROM (SELECT doc_id, unnest(grams) AS t FROM sh)
        |  GROUP BY 1, 2
        |), kept AS (
        |  SELECT tf.* FROM tf JOIN (
        |    SELECT t FROM tf GROUP BY 1 HAVING COUNT(*) <= 1000) d USING (t)
        |), nrm AS (
        |  SELECT doc_id,
        |    sqrt(CAST(SUM(CAST(tf * tf AS DECIMAL(38,20))) AS DOUBLE)) AS nrm
        |  FROM kept GROUP BY 1
        |), w AS (
        |  SELECT t, kept.doc_id, tf / nrm AS w
        |  FROM kept JOIN nrm USING (doc_id)
        |)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_shared,
        |  round(CAST(SUM(CAST(a.w * b.w AS DECIMAL(38,20))) AS DOUBLE), 6)
        |    AS sim
        |FROM w a JOIN w b ON a.t = b.t AND a.doc_id < b.doc_id
        |GROUP BY 1, 2
        |HAVING round(CAST(SUM(CAST(a.w * b.w AS DECIMAL(38,20))) AS DOUBLE),
        |    6) >= 0.3
        |ORDER BY a_id, b_id""".stripMargin),

    QuerySpec("q140_rrf_fusion", ((s, dir) => {
      // hybrid retrieval: the lexical BM25 ranking and the dense
      // exact-cosine ranking for the SAME query (id 0 plays the query —
      // its text supplies the terms, its embedding the vector; the two
      // tables share the id space) merged by reciprocal-rank fusion,
      // the calibration-free way production RAG stacks combine
      // retrievers. Both inputs are top-k lists, so the fusion itself
      // is one tiny partial-combined sum — the heavy work stays inside
      // the retrievers.
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val lex = operators.Retrieval.bm25(docs,
          Seq("merge", "sort", "hash"), topN = 30)
        .select(col("doc_id"), col("rk"))
      val dense = Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") === 0), k = 30, exact = true)
        .select(col("neighbor_id").as("doc_id"), col("rk"))
      operators.Retrieval.rrfFuse(Seq(lex, dense), topN = 10)
        .orderBy(col("rk"))
    }),
      s"""WITH lex AS (
        |  SELECT doc_id, rk FROM (${bm25Sql("'merge', 'sort', 'hash'", 30)})
        |), dense AS (
        |  SELECT doc_id, rk FROM (
        |    WITH q AS (
        |      SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
        |    ), c AS (
        |      SELECT vec_id AS cid, embedding AS cv FROM embeddings
        |      WHERE vec_id <> 0
        |    ), p AS (
        |      SELECT cid,
        |        list_sum(list_transform(list_zip(qv, cv),
        |          z -> CAST(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)
        |            AS DECIMAL(38,20)))) AS dot,
        |        list_sum(list_transform(qv,
        |          x -> CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
        |            AS DECIMAL(38,20)))) AS nq,
        |        list_sum(list_transform(cv,
        |          x -> CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
        |            AS DECIMAL(38,20)))) AS nc
        |      FROM q, c
        |    ), scored AS (
        |      SELECT cid AS doc_id,
        |        round(CASE WHEN nq = 0 OR nc = 0 THEN 0.0
        |          ELSE CAST(dot AS DOUBLE)
        |            / (sqrt(CAST(nq AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE)))
        |          END, 6) AS sim
        |      FROM p)
        |    SELECT doc_id,
        |      CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS INT)
        |        AS rk
        |    FROM scored ORDER BY sim DESC, doc_id LIMIT 30)
        |), u AS (
        |  SELECT doc_id,
        |    CAST(1.0 / (60.0 + CAST(rk AS DOUBLE)) AS DECIMAL(38,20)) AS s
        |  FROM lex
        |  UNION ALL
        |  SELECT doc_id,
        |    CAST(1.0 / (60.0 + CAST(rk AS DOUBLE)) AS DECIMAL(38,20)) AS s
        |  FROM dense
        |), agg AS (
        |  SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_lists,
        |    round(CAST(SUM(s) AS DOUBLE), 9) AS score
        |  FROM u GROUP BY 1
        |)
        |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id)
        |    AS INTEGER) AS rk,
        |  doc_id, n_lists, score
        |FROM agg ORDER BY score DESC, doc_id LIMIT 10""".stripMargin),

    QuerySpec("q142_emb_outliers", ((s, dir) => {
      // embedding-space cleaning gate: vectors whose distance to the
      // corpus centroid exceeds the exact p99 fence — the prune that
      // keeps encoder failures out of ANN indexes and clusterings. One
      // per-dim centroid aggregate broadcast back, map-side DECIMAL
      // distances, one tiny percentile fence — the corpus never joins
      // itself.
      Similarity.centroidOutliers(t(s, dir, "embeddings"), pct = 0.99)
        .orderBy(col("vec_id"))
    }),
      """WITH el AS (
        |  SELECT vec_id, pos, CAST(v AS DOUBLE) AS x
        |  FROM (SELECT vec_id, unnest(embedding) AS v,
        |          generate_subscripts(embedding, 1) AS pos
        |        FROM embeddings) u
        |), centroid AS (
        |  SELECT pos,
        |    round(CAST(SUM(CAST(x AS DECIMAL(38,20))) AS DOUBLE)
        |      / COUNT(*), 9) AS c
        |  FROM el GROUP BY pos
        |), dist AS (
        |  SELECT vec_id,
        |    round(sqrt(CAST(SUM(CAST((x - c) * (x - c) AS DECIMAL(38,20)))
        |      AS DOUBLE)), 6) AS dist
        |  FROM el JOIN centroid USING (pos)
        |  GROUP BY vec_id
        |), fence AS (
        |  SELECT quantile_cont(dist, 0.99) AS fence FROM dist
        |)
        |SELECT vec_id, dist, round(fence, 6) AS fence
        |FROM dist CROSS JOIN fence
        |WHERE dist > fence
        |ORDER BY vec_id""".stripMargin),

    QuerySpec("q144_retrieval_eval", ((s, dir) => {
      // offline ranking-quality certification (TREC methodology): the
      // exact-cosine retrieval run for 8 label-bearing queries is scored
      // against label-match relevance — recall@10, MRR, nDCG@10 per
      // query. The run is top-k and qrels are an eval set, so every
      // metric join is eval-set-sized regardless of corpus size: this is
      // the gate an index/tokenizer change must pass before swap-in.
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
      val run = Similarity.bruteForceTopK(emb, queries, k = 10,
          exact = true)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rk"))
      val qrels = queries
        .select(col("vec_id").as("query_id"), col("label").as("ql"))
        .join(emb.select(col("vec_id").as("doc_id"), col("label")),
          col("ql") === col("label"))
        .filter(col("query_id") =!= col("doc_id"))
        .select(col("query_id"), col("doc_id"), lit(1.0).as("rel"))
      operators.Retrieval.rankingMetrics(run, qrels, k = 10)
        .orderBy(col("query_id"))
    }),
      """WITH q AS (
        |  SELECT vec_id AS qid, embedding AS qv, label AS ql
        |  FROM embeddings WHERE vec_id < 8
        |), c AS (
        |  SELECT vec_id AS cid, embedding AS cv, label FROM embeddings
        |), p AS (
        |  SELECT qid, cid,
        |    list_sum(list_transform(list_zip(qv, cv),
        |      z -> CAST(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)
        |        AS DECIMAL(38,20)))) AS dot,
        |    list_sum(list_transform(qv,
        |      x -> CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
        |        AS DECIMAL(38,20)))) AS nq,
        |    list_sum(list_transform(cv,
        |      x -> CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
        |        AS DECIMAL(38,20)))) AS nc
        |  FROM q, c WHERE qid <> cid
        |), scored AS (
        |  SELECT qid AS query_id, cid AS doc_id,
        |    round(CASE WHEN nq = 0 OR nc = 0 THEN 0.0
        |      ELSE CAST(dot AS DOUBLE)
        |        / (sqrt(CAST(nq AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE)))
        |      END, 6) AS sim
        |  FROM p
        |), run AS (
        |  SELECT query_id, doc_id, rk FROM (
        |    SELECT query_id, doc_id,
        |      CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY sim DESC, doc_id) AS INT) AS rk
        |    FROM scored)
        |  WHERE rk <= 10
        |), qrels AS (
        |  SELECT q.qid AS query_id, c.cid AS doc_id,
        |    CAST(1.0 AS DOUBLE) AS rel
        |  FROM q JOIN c ON q.ql = c.label AND q.qid <> c.cid
        |), hits AS (
        |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_hits,
        |    CAST(SUM(CAST(rel / (ln(CAST(rk AS DOUBLE) + 1.0) / ln(2.0))
        |      AS DECIMAL(38,20))) AS DOUBLE) AS dcg,
        |    min(CASE WHEN rel > 0 THEN rk END) AS first_rel
        |  FROM run JOIN qrels USING (query_id, doc_id)
        |  GROUP BY 1
        |), ideal AS (
        |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel,
        |    CAST(list_sum(list_transform(
        |      list_slice(list_sort(list(CAST(rel AS DOUBLE)), 'DESC'),
        |        1, 10),
        |      (r, i) -> CAST(r / (ln(CAST(i AS DOUBLE) + 1.0) / ln(2.0))
        |        AS DECIMAL(38,20)))) AS DOUBLE) AS idcg
        |  FROM qrels GROUP BY 1
        |)
        |SELECT i.query_id, i.n_rel, coalesce(h.n_hits, 0) AS n_hits,
        |  round(CAST(coalesce(h.n_hits, 0) AS DOUBLE)
        |    / CAST(i.n_rel AS DOUBLE), 6) AS recall,
        |  round(coalesce(1.0 / CAST(h.first_rel AS DOUBLE), 0.0), 6)
        |    AS mrr,
        |  round(coalesce(h.dcg, 0.0) / i.idcg, 6) AS ndcg
        |FROM ideal i LEFT JOIN hits h USING (query_id)
        |ORDER BY query_id""".stripMargin),

    QuerySpec("q150_containment", ((s, dir) => {
      // directional containment dedup (Broder): |A ∩ B| / |A| over
      // 3-gram shingle sets through the inverted index — catches partial
      // copies (doc-inside-doc) that symmetric Jaccard under-scores.
      // maxDf drops corpus-frequent shingles BEFORE the pair join; the
      // ratio is an exact integer quotient, so nothing float-sensitive
      // crosses engines.
      operators.Retrieval.containmentPairs(t(s, dir, "documents"), maxDf = 50, threshold = 0.8)
        .orderBy(col("a_id"), col("b_id"))
    }),
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')
        |      AS raw
        |  FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, t FROM (
        |    SELECT doc_id,
        |      unnest(CASE WHEN len(raw) < 3
        |        THEN [array_to_string(raw, ' ')]
        |        ELSE [array_to_string(raw[i+1:i+3], ' ')
        |              for i in range(0, len(raw) - 2)] END) AS t
        |    FROM tk)
        |), kept AS (
        |  SELECT sh.doc_id, sh.t FROM sh
        |  JOIN (SELECT t FROM sh GROUP BY t HAVING count(*) <= 50) f
        |    USING (t)
        |), sz AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
        |  FROM kept GROUP BY 1
        |), shared AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM kept a JOIN kept b ON a.t = b.t AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT a_id, b_id, n_shared,
        |  round(CAST(n_shared AS DOUBLE) / CAST(sz AS DOUBLE), 6)
        |    AS containment
        |FROM shared JOIN sz ON sz.doc_id = shared.a_id
        |WHERE round(CAST(n_shared AS DOUBLE) / CAST(sz AS DOUBLE), 6)
        |  >= 0.8
        |ORDER BY a_id, b_id""".stripMargin),

    QuerySpec("q151_silhouette", ((s, dir) => {
      // clustering-quality audit: simplified (centroid-based) silhouette
      // per embedding label — the per-cluster cohesion/separation score
      // a pipeline publishes for a clustering or labeling run. Centroids
      // are one tiny per-(label,dim) aggregate assembled into a single
      // broadcast row; every distance computes map-side against it; the
      // corpus never shuffles.
      Similarity.simplifiedSilhouette(t(s, dir, "embeddings"))
        .orderBy(col("label"))
    }),
      """WITH el AS (
        |  SELECT vec_id, plabel, pos, CAST(v AS DOUBLE) AS x
        |  FROM (SELECT vec_id, label AS plabel, unnest(embedding) AS v,
        |          generate_subscripts(embedding, 1) AS pos
        |        FROM embeddings) u
        |), cent AS (
        |  SELECT plabel AS clabel, pos,
        |    round(CAST(SUM(CAST(x AS DECIMAL(38,20))) AS DOUBLE)
        |      / COUNT(*), 9) AS c
        |  FROM el GROUP BY 1, 2
        |), dist AS (
        |  SELECT e.vec_id, e.plabel, c.clabel,
        |    round(sqrt(CAST(SUM(CAST((x - c) * (x - c) AS DECIMAL(38,20)))
        |      AS DOUBLE)), 6) AS d
        |  FROM el e JOIN cent c USING (pos)
        |  GROUP BY 1, 2, 3
        |), ab AS (
        |  SELECT vec_id, plabel,
        |    max(CASE WHEN clabel = plabel THEN d END) AS a,
        |    min(CASE WHEN clabel <> plabel THEN d END) AS b
        |  FROM dist GROUP BY 1, 2
        |), s AS (
        |  SELECT plabel, CASE WHEN greatest(a, b) = 0 THEN 0.0
        |    ELSE round((b - a) / greatest(a, b), 6) END AS s
        |  FROM ab
        |)
        |SELECT plabel AS label, CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(SUM(CAST(s AS DECIMAL(38,6))) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS mean_sil
        |FROM s GROUP BY 1 ORDER BY label""".stripMargin),

    QuerySpec("q188_fisher", ((s, dir) => {
      // Fisher class-separation of the labeled embedding space: one
      // between/within scatter scalar — "do these cluster labels
      // actually separate" (the global complement of q151's per-point
      // silhouette). One (label, dim) exchange of exact DECIMAL sums.
      operators.Similarity.fisherSeparation(t(s, dir, "embeddings"))
    }),
      """WITH cell AS MATERIALIZED (
        |  SELECT label, u.pos,
        |    CAST(count(*) AS BIGINT) AS n_c,
        |    sum(CAST(round(CAST(u.x AS DOUBLE), 6) AS DECIMAL(15,6)))
        |      AS s_c,
        |    sum(CAST(round(CAST(u.x AS DOUBLE), 6) AS DECIMAL(15,6))
        |      * CAST(round(CAST(u.x AS DOUBLE), 6) AS DECIMAL(15,6)))
        |      AS ss_c
        |  FROM (SELECT label, g.i AS pos, embedding[g.i] AS x
        |        FROM embeddings,
        |          unnest(generate_series(1, len(embedding))) AS g(i))
        |    AS u
        |  GROUP BY 1, 2
        |), dim AS (
        |  SELECT pos, CAST(sum(n_c) AS BIGINT) AS n_t, sum(s_c) AS s_t
        |  FROM cell GROUP BY 1
        |), scat AS (
        |  SELECT
        |    round(CAST(n_c AS DOUBLE)
        |      * (CAST(s_c AS DOUBLE) / CAST(n_c AS DOUBLE)
        |        - CAST(s_t AS DOUBLE) / CAST(n_t AS DOUBLE))
        |      * (CAST(s_c AS DOUBLE) / CAST(n_c AS DOUBLE)
        |        - CAST(s_t AS DOUBLE) / CAST(n_t AS DOUBLE)), 9) AS bt,
        |    round(CAST(ss_c AS DOUBLE)
        |      - CAST(s_c AS DOUBLE) * CAST(s_c AS DOUBLE)
        |        / CAST(n_c AS DOUBLE), 9) AS wt
        |  FROM cell JOIN dim USING (pos)
        |), ks AS (
        |  SELECT CAST(count(DISTINCT label) AS INT) AS n_classes,
        |    CAST(max(pos) AS INT) AS n_dims
        |  FROM cell
        |), tot AS (
        |  SELECT
        |    round(CAST(sum(CAST(bt AS DECIMAL(38,9))) AS DOUBLE), 6)
        |      AS between_s,
        |    round(CAST(sum(CAST(wt AS DECIMAL(38,9))) AS DOUBLE), 6)
        |      AS within_s
        |  FROM scat
        |)
        |SELECT n_classes, n_dims, between_s AS "between",
        |  within_s AS "within",
        |  round(between_s / within_s, 6) AS fisher
        |FROM ks, tot""".stripMargin),

    QuerySpec("q198_pca_top_component", ((s, dir) => {
      // top principal component of the embedding space by power
      // iteration — the big-data PCA decomposition: one corpus pass
      // builds the d² second-moment cells (partial-combined pair
      // stream), the driver runs the O(d²·iters) eigen step on decimal-
      // exact arithmetic, and the eigenvector lands as a d-row table to
      // project against map-side. Fixed 5 iterations, sign pinned by
      // the max-|component| normalization.
      Similarity.pcaTopComponent(t(s, dir, "embeddings"))
    }),
      // DuckDB replays the full power iteration: decimal-exact moment
      // cells, covariance round(12), per-round matrix-vector products as
      // DECIMAL(38,12) sums of round(c·w, 12), normalization by the signed
      // max-|component| (tie: lowest index) — the q91/q107 unrolled-round
      // contract for a driver-resident model.
      {
      val d = 64
      val iters = 5
      val sb = new StringBuilder
      sb ++= s"""WITH cells AS MATERIALIZED (
         |  SELECT vec_id, i.range AS i,
         |    CAST(embedding[i.range + 1] AS DOUBLE) AS x
         |  FROM embeddings, range(0, $d) i
         |), mu AS MATERIALIZED (
         |  SELECT i, round(CAST(sum(CAST(x AS DECIMAL(38,20))) AS DOUBLE)
         |    / count(*), 12) AS mu
         |  FROM cells GROUP BY i
         |), m AS MATERIALIZED (
         |  SELECT a.i AS i, b.i AS j,
         |    round(CAST(sum(CAST(a.x * b.x AS DECIMAL(38,20))) AS DOUBLE)
         |      / count(*), 12) AS m
         |  FROM cells a JOIN cells b ON a.vec_id = b.vec_id
         |  GROUP BY 1, 2
         |), c AS MATERIALIZED (
         |  SELECT m.i, m.j, round(m.m - mi.mu * mj.mu, 12) AS c
         |  FROM m JOIN mu mi ON mi.i = m.i JOIN mu mj ON mj.i = m.j
         |), w0 AS (SELECT range AS i, 1.0 AS w FROM range(0, $d))
         |""".stripMargin
      for (t <- 1 to iters) {
        sb ++= s""", r$t AS MATERIALIZED (
         |  SELECT c.i,
         |    CAST(sum(CAST(round(c.c * w.w, 12) AS DECIMAL(38,12)))
         |      AS DOUBLE) AS raw
         |  FROM c JOIN w${t - 1} w ON w.i = c.j GROUP BY 1
         |), s$t AS (
         |  SELECT raw AS s FROM r$t ORDER BY abs(raw) DESC, i ASC LIMIT 1
         |), w$t AS (SELECT i, raw / (SELECT s FROM s$t) AS w FROM r$t)
         |""".stripMargin
      }
      sb ++= s"SELECT CAST(i AS INTEGER) AS i, round(w, 6) AS loading" +
        s" FROM w$iters ORDER BY i"
      sb.toString
    }),

    QuerySpec("q199_kcenter_coreset", ((s, dir) => {
      // Gonzalez greedy k-center coreset (k=5): diversity-first data
      // selection — each pick is the point farthest (decimal-exact
      // squared euclidean, round(6), ties to lowest id) from everything
      // already kept. k bounded TakeOrdered passes; centers ride as
      // plan literals.
      Similarity.kCenterCoreset(t(s, dir, "embeddings"), k = 5)
    }),
      // unrolled Gonzalez rounds: each center is the argmax of the running
      // least squared distance (decimal-exact terms, round(6), ties to the
      // lowest id) — identical algebra to the Spark literal-center passes.
      {
      def dist(a: String) = {
        val b = "c.embedding"
        s"""round(CAST(list_sum(list_transform(list_zip($a, $b),
           |    z -> CAST((CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))
           |      * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))
           |      AS DECIMAL(38,20)))) AS DOUBLE), 6)""".stripMargin
      }
      val k = 5
      val sb = new StringBuilder
      sb ++= s"""WITH e AS MATERIALIZED (
         |  SELECT vec_id, embedding FROM embeddings
         |), c0 AS (SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT 1
         |), m1 AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding,
         |    ${dist("e.embedding")} AS md
         |  FROM e, c0 c
         |)""".stripMargin
      for (r <- 1 until k) {
        sb ++= s"""
         |, c$r AS (SELECT vec_id, embedding, md FROM m$r
         |    ORDER BY md DESC, vec_id LIMIT 1)""".stripMargin
        if (r < k - 1)
          sb ++= s"""
         |, m${r + 1} AS MATERIALIZED (
         |  SELECT m.vec_id, m.embedding,
         |    least(m.md, ${dist("m.embedding")}) AS md
         |  FROM m$r m, c$r c
         |)""".stripMargin
      }
      sb ++= s"""
         |SELECT CAST(0 AS INTEGER) AS rk,
         |  (SELECT vec_id FROM c0) AS id, CAST(0.0 AS DOUBLE) AS dist
         |""".stripMargin
      for (r <- 1 until k)
        sb ++= s"""UNION ALL SELECT CAST($r AS INTEGER), vec_id, md FROM c$r
         |""".stripMargin
      sb ++= "ORDER BY rk"
      sb.toString
    }),

    QuerySpec("q204_rm3_retrieval", ((s, dir) => {
      // pseudo-relevance-feedback retrieval (RM3): BM25 for the 2-term
      // base query, top-5 docs feed back their 3 most frequent
      // non-query terms (integer tf rank — never a float weight), and
      // the expanded query reruns BM25 — the classic recall lever of a
      // lexical stack. Both passes ride q138's broadcast-trim shape.
      val docs = t(s, dir, "documents")
      val expanded = operators.Retrieval.rm3ExpandTerms(docs, Seq("spark", "join"), fbDocs = 5, fbTerms = 3)
      operators.Retrieval.bm25(docs, expanded, topN = 20)
        .orderBy(col("rk"))
    }),
      // two nested BM25 chains (the inner WITHs shadow; the expanded term
      // set rides the outer CTE scope) — run 1 with the literal base
      // query, expansion by integer tf rank over the feedback docs, run 2
      // with `t IN (SELECT t FROM allq)`.
      {
      val baseList = "'spark', 'join'"
      s"""WITH q0 AS (SELECT unnest([$baseList]) AS t),
         |run1 AS MATERIALIZED (
         |  SELECT * FROM (
         |${bm25Sql(baseList, 5)}
         |  )
         |), expt AS MATERIALIZED (
         |  SELECT t FROM (
         |    SELECT x.t, CAST(count(*) AS BIGINT) AS tf
         |    FROM (
         |      SELECT doc_id,
         |        unnest(list_filter(regexp_split_to_array(text, '\\s+'),
         |          x -> x <> '')) AS t
         |      FROM documents) x
         |    JOIN run1 ON run1.doc_id = x.doc_id
         |    WHERE x.t NOT IN (SELECT t FROM q0)
         |    GROUP BY 1
         |    ORDER BY tf DESC, t ASC LIMIT 3)
         |), allq AS MATERIALIZED (
         |  SELECT t FROM q0 UNION ALL SELECT t FROM expt
         |)
         |SELECT * FROM (
         |${bm25Sql("SELECT t FROM allq", 20)}
         |)""".stripMargin
    }),

    QuerySpec("q208_snippets", ((s, dir) => {
      // retrieval snippet generation: for q138's BM25 top-10, an
      // 8-token window opening 3 tokens before the first query-term hit
      // — the last mile of a lexical retrieval stack. Position find and
      // slice are map-side array ops over the 10 result docs only.
      val docs = t(s, dir, "documents")
      val terms = Seq("spark", "join", "window")
      val run = operators.Retrieval.bm25(docs, terms, topN = 10)
      val pos = least(terms.map(tm =>
        nullif(array_position(col("tk"), lit(tm)), lit(0L))): _*)
      val snips = docs
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
        .select(col("doc_id"), col("tk"), pos.as("p"))
        .select(col("doc_id"),
          array_join(slice(col("tk"),
            greatest(col("p") - lit(3L), lit(1L)).cast("int"), lit(8)),
            " ").as("snippet"))
      run.join(snips, Seq("doc_id"))
        .select(col("rk"), col("doc_id"), col("score"), col("snippet"))
        .orderBy(col("rk"))
    }),
      {
      s"""WITH tk AS MATERIALIZED (
         |  SELECT doc_id,
         |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')
         |      AS raw
         |  FROM documents
         |), run AS MATERIALIZED (
         |  SELECT * FROM (
         |${bm25Sql("'spark', 'join', 'window'", 10)}
         |  )
         |), sn AS (
         |  SELECT doc_id,
         |    array_to_string(
         |      raw[greatest(p - 3, 1) : greatest(p - 3, 1) + 7], ' ')
         |      AS snippet
         |  FROM (
         |    SELECT doc_id, raw,
         |      least(nullif(list_position(raw, 'spark'), 0),
         |            nullif(list_position(raw, 'join'), 0),
         |            nullif(list_position(raw, 'window'), 0)) AS p
         |    FROM tk)
         |)
         |SELECT run.rk, run.doc_id, run.score, sn.snippet
         |FROM run JOIN sn USING (doc_id) ORDER BY rk""".stripMargin
    }),

    QuerySpec("q218_grid_density", ((s, dir) => {
      // grid-density clustering of the embedding space's first two
      // components — the scalable DBSCAN shape: eps-cells count
      // map-side, dense cells (>= 6 points) merge via 8-neighbor CC
      // (pointer-jumping, the q54 machinery on the density-bounded cell
      // graph), everything else is noise. The density readout over a
      // corpus no point-to-point join could survive: one cell aggregate
      // + a broadcast label join back. cluster_id = min member vec_id;
      // the noise row is cluster_id = -1.
      val emb = t(s, dir, "embeddings").select(col("vec_id"),
        element_at(col("embedding"), 1).as("x"),
        element_at(col("embedding"), 2).as("y"))
      val asg = operators.Similarity.gridDensityClusters(
        emb, eps = 0.03, minPts = 6L)
      asg.groupBy(coalesce(col("ck"), lit(-1L)).as("g"))
        .agg(min(col("pid")).as("rep"),
          countDistinct(col("cx"), col("cy")).as("n_cells"),
          count(lit(1)).as("n_points"))
        .select(when(col("g") === lit(-1L), lit(-1L))
            .otherwise(col("rep")).as("cluster_id"),
          col("n_cells"), col("n_points"))
        .orderBy(col("cluster_id"))
    }),
      """WITH RECURSIVE p AS (
        |  SELECT vec_id,
        |    CAST(floor(CAST(embedding[1] AS DOUBLE) / 0.03) AS BIGINT) AS cx,
        |    CAST(floor(CAST(embedding[2] AS DOUBLE) / 0.03) AS BIGINT) AS cy
        |  FROM embeddings
        |), cells AS (
        |  SELECT cx, cy, COUNT(*) AS n,
        |    (cx + 1048576) * 2097152 + (cy + 1048576) AS k
        |  FROM p GROUP BY 1, 2
        |), dense AS (SELECT * FROM cells WHERE n >= 6),
        |e0 AS (
        |  SELECT d1.k AS a, d2.k AS b FROM dense d1 JOIN dense d2
        |  ON abs(d1.cx - d2.cx) <= 1 AND abs(d1.cy - d2.cy) <= 1
        |    AND d1.k < d2.k
        |), edges AS (
        |  SELECT a AS s, b AS d FROM e0
        |  UNION SELECT b, a FROM e0
        |), reach(s, d) AS (
        |  SELECT s, d FROM edges
        |  UNION SELECT r.s, e.d FROM reach r JOIN edges e ON e.s = r.d
        |), lab AS (SELECT s AS k, least(s, MIN(d)) AS ck
        |  FROM reach GROUP BY s
        |), dl AS (
        |  SELECT d.cx, d.cy, COALESCE(l.ck, d.k) AS ck
        |  FROM dense d LEFT JOIN lab l ON l.k = d.k
        |), asg AS (
        |  SELECT p.vec_id AS pid, p.cx, p.cy, dl.ck
        |  FROM p LEFT JOIN dl ON dl.cx = p.cx AND dl.cy = p.cy
        |), g AS (
        |  SELECT COALESCE(ck, -1) AS g, MIN(pid) AS rep,
        |    CAST(COUNT(DISTINCT (cx + 1048576) * 2097152 + (cy + 1048576))
        |      AS BIGINT) AS n_cells,
        |    CAST(COUNT(*) AS BIGINT) AS n_points
        |  FROM asg GROUP BY 1
        |)
        |SELECT CASE WHEN g = -1 THEN -1 ELSE rep END AS cluster_id,
        |  n_cells, n_points
        |FROM g ORDER BY cluster_id""".stripMargin),

    QuerySpec("q228_ann_recall_sweep", ((s, dir) => {
      // the ANN operating curve: recall@10 vs nprobe over the SAME
      // persisted IVF-PQ index q77 searches — the in-engine readout an
      // operator consults before picking the probe budget (the q209
      // pattern: the engine certifies its own approximate structure
      // against in-job exact ground truth). One brute-force pass pinned
      // once; each probe level re-joins the code table only — per-query
      // work stays probed-cells-only. Gates, not raw floats, cross the
      // oracle: exact result counts, per-level recall floors, and the
      // near-monotone ordering with a 10-hit slack (growing the probed
      // candidate set CAN displace a true neighbor under ADC error, so
      // exact monotonicity is not a theorem; observed 70/94/101 of 300
      // at sf0.01, 52/54/59 at sf0.1).
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 30)
      val cb = pqCodebookFor(s, dir, emb)
      val seeds = emb.filter(col("vec_id") < 8)
      val idxDir = new java.io.File(
        s".bench/q77_index_${corpusKey(dir)}").getAbsolutePath
      val idxPath = ensurePersistedIndex(idxDir, emb.count()) {
        Similarity.ivfPqIndex(emb, seeds, cb)
      }
      val idx = s.read.parquet(idxPath)
      val exact = operators.Materializer.Local(
        Similarity.bruteForceTopK(emb, qs, k = 10)
          .select(col("query_id"), col("neighbor_id")))
      val per = Seq(1, 2, 4).map { np =>
        val pq = operators.Materializer.Local(
          Similarity.ivfPqSearch(idx, qs, seeds, cb, k = 10, nprobe = np)
            .select(col("query_id"), col("neighbor_id")))
        val nr = pq.agg(count(lit(1)).cast("long").as("n_results"))
        val th = pq.join(exact, Seq("query_id", "neighbor_id"))
          .agg(count(lit(1)).cast("long").as("n_hits"))
        nr.crossJoin(broadcast(th))
          .select(lit(np).as("nprobe"), col("n_results"), col("n_hits"))
      }
      val u = per.reduce(_ unionAll _)
      val nq = qs.agg(count(lit(1)).cast("long").as("n_queries"))
      val h1 = per.head.select(col("n_hits").as("th1"))
      u.crossJoin(broadcast(nq)).crossJoin(broadcast(h1))
        .select(col("nprobe"), col("n_queries"), col("n_results"),
          (col("n_hits") >= when(col("nprobe") === 1, 30L)
            .when(col("nprobe") === 2, 35L).otherwise(40L))
            .as("recall_floor_ok"),
          (col("n_hits") + lit(10L) >= col("th1")).as("monotone_ok"))
        .orderBy(col("nprobe"))
    }),
      // the q77/q72 gate pattern: exact counts + boolean floors — the
      // probabilistic structure itself is certified in-job vs brute force
      """SELECT CAST(nprobe AS INT) AS nprobe,
        |  CAST(30 AS BIGINT) AS n_queries,
        |  CAST(300 AS BIGINT) AS n_results,
        |  TRUE AS recall_floor_ok, TRUE AS monotone_ok
        |FROM (VALUES (1), (2), (4)) v(nprobe)
        |ORDER BY nprobe""".stripMargin,
      warmIndex = true),

    QuerySpec("q237_mmr_rerank", ((s, dir) => {
      // MMR diversity re-rank (Carbonell & Goldstein 1998) over q138's
      // BM25 candidates: greedily pick 5 of 20, each maximizing
      // 0.7·relevance − 0.3·max-Jaccard-to-picked — the retrieval stack's
      // redundancy guard (near-dup hits waste result slots). Relevance
      // and the candidate-pair shingle-Jaccard matrix are computed
      // distributed (the pair table is 20×20 bounded); the greedy itself
      // is bounded driver work over collected constants (the
      // q199/q204 precedent), BigDecimal HALF_UP mirroring Column.round.
      val docs = t(s, dir, "documents")
      val cand = operators.Materializer.Local(
        operators.Retrieval.bm25(docs,
          Seq("spark", "join", "window"), topN = 20))
      val sh = operators.Materializer.Local(
        docs.join(broadcast(cand.select(col("doc_id"))), Seq("doc_id"))
          .select(col("doc_id"), array_distinct(
            operators.TextAnalysis.shingles(col("text"), 3)).as("sh")))
      val e = sh.select(col("doc_id"), explode(col("sh")).as("s1"))
      val inter = e.select(col("s1"), col("doc_id").as("a"))
        .join(e.select(col("s1"), col("doc_id").as("b")), Seq("s1"))
        .filter(col("a") < col("b"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).cast("long").as("i"))
      val szs = sh.select(col("doc_id"), size(col("sh")).cast("long")
        .as("n"))
      val sims = inter
        .join(szs.select(col("doc_id").as("a"), col("n").as("na")),
          Seq("a"))
        .join(szs.select(col("doc_id").as("b"), col("n").as("nb")),
          Seq("b"))
        .select(col("a"), col("b"),
          round(col("i").cast("double")
            / (col("na") + col("nb") - col("i")).cast("double"), 9)
            .as("sim"))
      val cands = cand.select(col("doc_id"), col("score")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toSeq
      val simMap = sims.collect()
        .flatMap(r => Seq((r.getLong(0), r.getLong(1)) -> r.getDouble(2),
          (r.getLong(1), r.getLong(0)) -> r.getDouble(2))).toMap
      def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
      import s.implicits._
      operators.Retrieval.mmrSelect(cands, simMap, k = 5, lambda = 0.7)
        .map { case (rk, id, rel, ms, m) => (rk, id, rel, r6(ms), r6(m)) }
        .toDF("rk", "doc_id", "score", "max_sim", "mmr")
        .orderBy(col("rk"))
    }),
      // unrolled 5-round greedy (the q199 pattern): each round excludes
      // the picked set and scores max-sim against it via the symmetric
      // bounded pair table
      {
      val rounds = (2 to 5).map { i =>
        s""", s$i AS (
           |  SELECT c.doc_id, c.score,
           |    coalesce((SELECT max(sim) FROM sims2 s
           |      WHERE s.a = c.doc_id
           |        AND s.b IN (SELECT doc_id FROM pk${i - 1})), 0.0) AS ms
           |  FROM cand c
           |  WHERE c.doc_id NOT IN (SELECT doc_id FROM pk${i - 1})
           |), p$i AS (
           |  SELECT doc_id, score, ms, 0.7 * score - 0.3 * ms AS mmr
           |  FROM s$i ORDER BY mmr DESC, doc_id LIMIT 1
           |), pk$i AS (
           |  SELECT doc_id FROM pk${i - 1}
           |  UNION ALL SELECT doc_id FROM p$i
           |)""".stripMargin
      }.mkString
      val out = (1 to 5).map { i =>
        s"""SELECT $i AS rk, doc_id, score, round(ms, 6) AS max_sim,
           |  round(mmr, 6) AS mmr FROM p$i""".stripMargin
      }.mkString("\n", "\nUNION ALL\n", "\n")
      s"""WITH cand AS MATERIALIZED (
         |${bm25Sql("'spark', 'join', 'window'", 20)}
         |), shd AS (
         |  SELECT d.doc_id,
         |    list_distinct(CASE WHEN len(list_filter(
         |        regexp_split_to_array(d.text, '\\s+'), x -> x <> '')) < 3
         |      THEN [array_to_string(list_filter(
         |        regexp_split_to_array(d.text, '\\s+'), x -> x <> ''), ' ')]
         |      ELSE [array_to_string(list_filter(
         |          regexp_split_to_array(d.text, '\\s+'),
         |          x -> x <> '')[i+1:i+3], ' ')
         |        for i in range(0, len(list_filter(
         |          regexp_split_to_array(d.text, '\\s+'),
         |          x -> x <> '')) - 2)] END) AS sh
         |  FROM documents d JOIN cand USING (doc_id)
         |), ex AS (SELECT doc_id, unnest(sh) AS s1 FROM shd
         |), inter AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b,
         |    CAST(count(*) AS BIGINT) AS i
         |  FROM ex a JOIN ex b ON a.s1 = b.s1 AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |), szs AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM shd
         |), sims AS (
         |  SELECT a, b, round(CAST(i AS DOUBLE)
         |    / CAST(na.n + nb.n - i AS DOUBLE), 9) AS sim
         |  FROM inter JOIN szs na ON na.doc_id = a
         |  JOIN szs nb ON nb.doc_id = b
         |), sims2 AS MATERIALIZED (
         |  SELECT a, b, sim FROM sims
         |  UNION ALL SELECT b, a, sim FROM sims
         |), p1 AS (
         |  SELECT doc_id, score, 0.0 AS ms,
         |    0.7 * score - 0.3 * 0.0 AS mmr
         |  FROM cand ORDER BY mmr DESC, doc_id LIMIT 1
         |), pk1 AS (SELECT doc_id FROM p1)$rounds
         |SELECT * FROM ($out) ORDER BY rk""".stripMargin
    }),

    QuerySpec("q263_lof", ((s, dir) => {
      // Local Outlier Factor (Breunig, Kriegel, Ng & Sander, SIGMOD
      // 2000) over the embedding set with cosine distance — the
      // DENSITY-relative outlier score that catches points q142's
      // global centroid distance misses (a point can sit near the
      // centroid yet in a locally sparse pocket). kNN comes from the
      // oracle-bitwise exact top-k (bounded query set broadcast, one
      // corpus stream — at 100 TB this audit runs on exactly such a
      // bounded sample, or swaps in the IVF/PQ candidate generator);
      // k-distances, reachability, lrd and LOF are all joins on the
      // bounded kNN table with DECIMAL(9,6)-exact distance sums.
      // ≥k duplicate points make lrd infinite in the paper's
      // definition — guarded to NULL here, identically in the oracle.
      val emb = t(s, dir, "embeddings")
      val k = 10
      val knn = operators.Materializer.Local(
        operators.Similarity.bruteForceTopK(emb, emb, k = k,
            exact = true, fanOutCorpus = true)
          .select(col("query_id"), col("neighbor_id"),
            (lit(1.0) - col("sim")).as("d"), col("rk")))
      val kdist = knn.filter(col("rk") === k)
        .select(col("query_id").as("neighbor_id"),
          col("d").as("kdist"))
      // per-point frames (kdist/lrd/nblrd are one row per vector, i.e.
      // SF-linear) ride unhinted equi-joins: inside the accepted exact-n2
      // audit ceiling the join strategy is not the binding cost, and a
      // forced broadcast would be the one part that OOMs first at scale
      val reach = knn.join(kdist, Seq("neighbor_id"))
        .select(col("query_id"),
          greatest(col("d"), col("kdist")).cast("decimal(9,6)")
            .as("reach"))
      val lrd = operators.Materializer.Local(reach
        .groupBy(col("query_id"))
        .agg(sum(col("reach")).as("sreach"))
        .select(col("query_id"),
          when(col("sreach").cast("double") > 0.0,
            round(lit(k.toDouble) / col("sreach").cast("double"), 9))
            .as("lrd")))
      val nblrd = knn.join(lrd
          .select(col("query_id").as("neighbor_id"),
            col("lrd").as("lrd_b")), Seq("neighbor_id"))
        .groupBy(col("query_id"))
        .agg(sum(col("lrd_b").cast("decimal(19,9)")).as("slrd"),
          count(col("lrd_b")).as("nb"))
      lrd.join(nblrd, Seq("query_id"))
        .join(kdist.select(col("neighbor_id")
          .as("query_id"), col("kdist")), Seq("query_id"))
        .select(col("query_id").as("vec_id"),
          round(col("kdist"), 6).as("kdist"), col("lrd"),
          when(col("lrd").isNotNull && col("nb") === k,
            round(col("slrd").cast("double")
              / (lit(k.toDouble) * col("lrd")), 6)).as("lof"))
        .orderBy(col("vec_id"))
    }),
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv
         |  FROM embeddings
         |), c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
         |), p AS (
         |  SELECT qid, cid,
         |    ${dotSql("qv", "cv")} AS dot,
         |    ${normSql("qv")} AS nq,
         |    ${normSql("cv")} AS nc
         |  FROM q, c WHERE qid <> cid
         |), scored AS (
         |  SELECT qid AS query_id, cid AS neighbor_id,
         |    round($cosSql, 6) AS sim
         |  FROM p
         |), knn AS (
         |  SELECT query_id, neighbor_id, 1.0 - sim AS d, rk
         |  FROM (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id) AS INT) AS rk
         |    FROM scored)
         |  WHERE rk <= 10
         |), kd AS (
         |  SELECT query_id AS neighbor_id, d AS kdist FROM knn
         |  WHERE rk = 10
         |), reach AS (
         |  SELECT k.query_id,
         |    CAST(greatest(k.d, kd.kdist) AS DECIMAL(9,6)) AS reach
         |  FROM knn k JOIN kd USING (neighbor_id)
         |), lrd AS (
         |  SELECT query_id,
         |    CASE WHEN CAST(sum(reach) AS DOUBLE) > 0.0
         |      THEN round(10.0 / CAST(sum(reach) AS DOUBLE), 9) END
         |      AS lrd
         |  FROM reach GROUP BY 1
         |), nb AS (
         |  SELECT k.query_id, sum(CAST(l.lrd AS DECIMAL(19,9))) AS slrd,
         |    CAST(count(l.lrd) AS BIGINT) AS nbc
         |  FROM knn k JOIN lrd l ON l.query_id = k.neighbor_id
         |  GROUP BY 1
         |)
         |SELECT l.query_id AS vec_id, round(kd2.kdist, 6) AS kdist,
         |  l.lrd,
         |  CASE WHEN l.lrd IS NOT NULL AND nbc = 10
         |    THEN round(CAST(slrd AS DOUBLE) / (10.0 * l.lrd), 6) END
         |    AS lof
         |FROM lrd l JOIN nb USING (query_id)
         |JOIN kd kd2 ON kd2.neighbor_id = l.query_id
         |ORDER BY vec_id""".stripMargin,
      tier = Some(Slice("embeddings", "vec_id", 8))),

    QuerySpec("q282_qlm_retrieval", ((s, dir) => {
      // Dirichlet-smoothed query-likelihood ranking (Ponte & Croft
      // 1998; Zhai & Lafferty 2001) for the same 3-term query as
      // q138's BM25 — the language-modeling side of the classic
      // lexical-ranking rivalry. Every document scores every term via
      // the background model, but the score DECOMPOSES (matched-term
      // adjustments + a 1-row scalar + per-doc length norm), so the
      // plan is exactly BM25's: broadcast-trimmed postings, one
      // bounded (doc,term) exchange, TakeOrdered — the |q|·N cross
      // product never materializes.
      operators.Retrieval.queryLikelihood(t(s, dir, "documents"), Seq("spark", "join", "window"),
          mu = 100.0, topN = 20)
        .orderBy(col("rk"))
    }),
      qlmSql("('spark'), ('join'), ('window')", 20)),

    QuerySpec("q290_rbo_rankers", ((s, dir) => {
      // rank-biased overlap (Webber, Moffat & Zobel, TOIS 2010) between
      // the BM25 (q138) and Dirichlet-QLM (q282) top-10 rankings for
      // three queries — the standard top-weighted agreement measure for
      // indefinite rankings, here the "do my two retrievers see the
      // same corpus" monitor. Truncated RBO@10 decomposes per SHARED
      // doc: a doc first covered at depth m = max(rank_a, rank_b)
      // contributes c(m) = (1-p)·Σ_{d=m..10} p^(d-1)/d, so the whole
      // measure is one broadcast join against the 10-row c(m) constant
      // table (decimal strings shared VERBATIM with the oracle) plus an
      // exact DECIMAL sum over ≤10 matched rows per query. The rankings
      // themselves reuse the bounded-postings BM25/QLM plans.
      import s.implicits._
      val docs = t(s, dir, "documents")
      val sets = Seq(("q1", Seq("spark", "join", "window")),
        ("q2", Seq("merge", "sort", "hash")),
        ("q3", Seq("scan", "filter", "batch")))
      // batch rankers: ONE shared postings pass for all three labels
      // AND both rankers (r14: BM25 and QLM trim to the same term union
      // over the same corpus, so the corpus is tokenized once, not
      // twice), bit-identical per label to the single-query operators
      // (q138's and q282's oracles pin those; RBO's oracle replays per
      // label)
      val shared = operators.Retrieval.trimmedPostings(docs, sets.flatMap(_._2).distinct)
      val a = operators.Retrieval.bm25Batch(shared, sets)
        .select(col("q"), col("doc_id"), col("rk").as("ra"))
      val b = operators.Retrieval.queryLikelihoodBatch(shared, sets,
          topN = 10)
        .select(col("q"), col("doc_id"), col("rk").as("rb"))
      val w = rboWeights.toDF("m", "c")
      a.join(b, Seq("q", "doc_id"))
        .select(col("q"), greatest(col("ra"), col("rb")).as("m"))
        .join(broadcast(w), Seq("m"))
        .groupBy(col("q"))
        .agg(count(lit(1)).cast("long").as("n_common"),
          round(sum(col("c").cast("decimal(14,12)")).cast("double"), 6)
            .as("rbo"))
        .orderBy(col("q"))
    }),
      {
      val wvals = rboWeights.map { case (m, c) => s"($m, $c)" }
        .mkString(", ")
      val sets = Seq(
        ("q1", "'spark', 'join', 'window'",
          "('spark'), ('join'), ('window')"),
        ("q2", "'merge', 'sort', 'hash'", "('merge'), ('sort'), ('hash')"),
        ("q3", "'scan', 'filter', 'batch'",
          "('scan'), ('filter'), ('batch')"))
      val aSql = sets.map { case (label, inList, _) =>
        s"""  SELECT '$label' AS q, doc_id, rk AS ra
           |  FROM (${bm25Sql(inList, 10)})""".stripMargin
      }.mkString("\n  UNION ALL\n")
      val bSql = sets.map { case (label, _, valuesList) =>
        s"""  SELECT '$label' AS q, doc_id, rk AS rb
           |  FROM (${qlmSql(valuesList, 10)})""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""WITH a AS MATERIALIZED (
         |$aSql
         |), b AS MATERIALIZED (
         |$bSql
         |), w(m, c) AS (VALUES $wvals),
         |mm AS (
         |  SELECT a.q, greatest(ra, rb) AS m
         |  FROM a JOIN b ON a.q = b.q AND a.doc_id = b.doc_id
         |)
         |SELECT q, CAST(count(*) AS BIGINT) AS n_common,
         |  round(CAST(SUM(CAST(c AS DECIMAL(14,12))) AS DOUBLE), 6)
         |    AS rbo
         |FROM mm JOIN w ON mm.m = w.m
         |GROUP BY 1 ORDER BY 1""".stripMargin
    }),

    QuerySpec("q286_nn_descent", ((s, dir) => {
      // NN-descent k-NN graph (Dong et al., WWW 2011) — the graph-ANN
      // build step, model-free where IVF/PQ (q46/q72/q77) train: 3
      // cross-cutting md5-bucket spaces seed a CONNECTED random graph,
      // then 3 rounds of "my neighbors' neighbors", each one id-keyed
      // equi-join + entity-bounded rank windows. Output: per-query
      // recall of the k=10 graph's edges against the exact top-5 (the
      // q40 ground truth) for vec_id < 30 — the build-quality readout
      // an ANN deployment gates on. On THIS corpus's near-random
      // embeddings the descent climbs 0.32→0.60→0.79 over the rounds —
      // the honest convergence the paper shows on structured data.
      val emb = t(s, dir, "embeddings")
      val g = Similarity.nnDescentGraph(emb, k = 10, rounds = 3)
      val truth = Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") < 30), k = 5, exact = true)
        .select(col("query_id"), col("neighbor_id"))
      truth
        .join(g.select(col("v").as("query_id"),
            col("u").as("neighbor_id"), lit(1L).as("hit")),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("hit"), lit(0L))).cast("long").as("found"))
        .select(col("query_id"), col("found"),
          round(col("found").cast("double") / lit(5.0), 6).as("recall"))
        .orderBy(col("query_id"))
    }),
      nnDescentSql(10, 3, 3, 16, 5),
      // the remaining audit ceiling: the NN-descent build-quality readout
      // runs on a half corpus slice, identical per-round plan, full-size
      // numbers stay certified at the graded sf dir.
      tier = Some(Slice("embeddings", "vec_id", 2))),

    QuerySpec("q295_nn_graph_append", ((s, dir) => {
      // incremental graph-ANN insert — the graph member of the
      // incremental-index family (q65/q70 minhash, q128 IVF-PQ): the
      // base corpus's NN-descent graph is a PERSISTED parquet artifact
      // (built once, row-count sidecar guards staleness); the arriving
      // batch (vec_id < 50) attaches via bucket mates + one hop through
      // the stored edges, never touching old-vs-old pairs. Readout:
      // exact-truth recall@5 of the inserted nodes' edges — 0.69 mean
      // at sf0.01: one hop through the CONVERGED graph buys most of
      // what the from-scratch build's 3 descent rounds reach (0.79)
      // at a fraction of the work, vs ~0.32 for a bucket-only probe
      // (q286's round-0 level).
      val emb = t(s, dir, "embeddings")
      val base = emb.filter(col("vec_id") >= 50)
      val fresh = emb.filter(col("vec_id") < 50)
      val idxDir = s".bench/q295_graph_${corpusKey(dir)}"
      val idxPath = ensurePersistedIndex(idxDir, base.count()) {
        Similarity.nnDescentGraph(base, k = 10, rounds = 3)
      }
      val g = s.read.parquet(idxPath)
      val ins = Similarity.nnGraphInsert(g, base, fresh, k = 10)
      val truth = Similarity.bruteForceTopK(base, fresh, k = 5,
          exact = true)
        .select(col("query_id"), col("neighbor_id"))
      truth
        .join(ins.select(col("v").as("query_id"),
            col("u").as("neighbor_id"), lit(1L).as("hit")),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("hit"), lit(0L))).cast("long").as("found"))
        .select(col("query_id"), col("found"),
          round(col("found").cast("double") / lit(5.0), 6).as("recall"))
        .orderBy(col("query_id"))
    }),
      nnInsertSql(10, 3, 3, 16, 5),
      warmIndex = true)
  )
}
