package graft
package registry

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal, TextAnalysis}

import SparkHelpers._
import SqlHelpers._

/** The suite's near-duplicate detection and clustering: exact,
  * MinHash/SimHash LSH, set joins, edit joins (operators.Dedup, EditJoin). */
private[graft] object DedupQueries {

  val specs: Seq[QuerySpec] = Seq(

    QuerySpec("q34_dedup_exact", ((s, dir) => {
      // exact dedup on the leading-64-char fingerprint (the crawl-dedup
      // "prefix collision" key): full-text exact dups don't exist at
      // sf0.01 (8 groups at sf0.1), so the full-text gate was vacuous at
      // verify scale. The prefix key keeps the operator exact-hash-
      // group-by and yields 22 groups at sf0.01.
      Dedup.exactDuplicateGroups(
          t(s, dir, "documents")
            .withColumn("text", substring(col("text"), 1, 64)))
        .orderBy(col("keep_id"))
    }),
      """SELECT md5(k) AS text_hash, min(doc_id) AS keep_id,
        |  COUNT(*) AS n_copies
        |FROM (SELECT doc_id, substr(text, 1, 64) AS k FROM documents) s
        |GROUP BY k HAVING COUNT(*) > 1
        |ORDER BY keep_id""".stripMargin),

    QuerySpec("q35_dedup_drop", ((s, dir) => {
      Dedup.dropExactDuplicates(t(s, dir, "documents"))
        .agg(count(lit(1)).as("n_unique"))
    }),
      "SELECT COUNT(*) AS n_unique FROM (SELECT DISTINCT text FROM documents) s"),

    QuerySpec("q36_jaccard_pairs", ((s, dir) => {
      val d = t(s, dir, "documents")
      val a = d.select(col("doc_id").as("a_id"), col("text").as("a_text"))
      val b = d.select(col("doc_id").as("b_id"), col("text").as("b_text"))
      a.join(b, col("b_id") === col("a_id") + 1)
        .select(col("a_id"), col("b_id"),
          round(Dedup.jaccardTokens, 6).as("sim"),
          round(Dedup.jaccardShingles, 6)
            .as("sim3"))
        .orderBy(col("a_id"))
    }),
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_distinct(list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> x <> '')) AS toks,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS raw
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, toks,
        |    list_distinct(CASE WHEN len(raw) < 3
        |      THEN [array_to_string(raw, ' ')]
        |      ELSE [array_to_string(raw[i+1:i+3], ' ')
        |            for i in range(0, len(raw) - 2)] END) AS tri
        |  FROM tk)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  round(CASE WHEN len(list_distinct(list_concat(a.toks, b.toks))) = 0
        |    THEN 0.0
        |    ELSE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |      / CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE)
        |    END, 6) AS sim,
        |  round(CASE WHEN len(list_distinct(list_concat(a.tri, b.tri))) = 0
        |    THEN 0.0
        |    ELSE CAST(len(list_intersect(a.tri, b.tri)) AS DOUBLE)
        |      / CAST(len(list_distinct(list_concat(a.tri, b.tri))) AS DOUBLE)
        |    END, 6) AS sim3
        |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        |ORDER BY a_id""".stripMargin),

    QuerySpec("q37_dedup_minhash_lsh", ((s, dir) => {
      Dedup.minhashLshPairs(t(s, dir, "documents"),
          bands = 4, threshold = 0.5, fast = false)
        .orderBy(col("a_id"), col("b_id"))
    }),
      minhashPairsSql,
      outputGrowthBound = true),

    QuerySpec("q38_dedup_simhash", ((s, dir) => {
      // portable md5-based SimHash — oracle-checkable hex signatures
      t(s, dir, "documents")
        .select(col("doc_id"), Dedup.simhashHex(col("text")).as("simhash"))
        .orderBy(col("doc_id"))
    }),
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_transform(list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> x <> ''), t -> md5(t)) AS hashes
        |  FROM documents
        |)
        |SELECT doc_id,
        |  array_to_string([
        |    substr('0123456789abcdef', 1 + list_sum([
        |      CASE WHEN list_sum([
        |        CASE WHEN ((strpos('0123456789abcdef',
        |            substr(h, jj + 1, 1)) - 1) >> b) & 1 = 1
        |          THEN 1 ELSE -1 END
        |        for h in hashes]) > 0 THEN (1 << b) ELSE 0 END
        |      for b in range(0, 4)])::INT, 1)
        |    for jj in range(0, 16)], '') AS simhash
        |FROM tk ORDER BY doc_id""".stripMargin),

    QuerySpec("q39_dedup_minhash_fast", ((s, dir) => {
      // the seeded-FNV scale path of q37; oracle = ground-truth all-pairs
      // Jaccard (equality doubles as an LSH recall=1.0 check on this data)
      Dedup.minhashLshPairs(t(s, dir, "documents"),
          bands = 4, threshold = 0.5, fast = true)
        .orderBy(col("a_id"), col("b_id"))
    }),
      // Ground-truth oracle for the seeded-FNV fast path: DuckDB cannot
      // replicate the FNV banding, but the path's exact-Jaccard verify means
      // its confirmed pairs are a subset of the true all-pairs >= threshold
      // set — and equality against that set is exactly "LSH recall 1.0 on
      // this data". The same-corpus q37 (md5 banding, faithfully replicated
      // in DuckDB) triangulates the pipeline itself.
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS raw
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(raw) < 3
        |      THEN [array_to_string(raw, ' ')]
        |      ELSE [array_to_string(raw[i+1:i+3], ' ')
        |            for i in range(0, len(raw) - 2)] END) AS shingles
        |  FROM tk
        |)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        |    / CAST(len(list_distinct(list_concat(a.shingles, b.shingles)))
        |        AS DOUBLE), 6) AS sim
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        |    / CAST(len(list_distinct(list_concat(a.shingles, b.shingles)))
        |        AS DOUBLE) >= 0.5
        |ORDER BY a_id, b_id""".stripMargin,
      outputGrowthBound = true),

    QuerySpec("q54_dedup_clusters", ((s, dir) => {
      // connected components of the confirmed near-dup pair graph (the
      // keep-one-representative step); pairs from the fast-FNV LSH path,
      // whose confirmed set equals ground truth on this corpus (q39)
      val pairs = Dedup.minhashLshPairs(t(s, dir, "documents"), bands = 4, threshold = 0.5,
        fast = true)
      Dedup.nearDupClusters(pairs).orderBy(col("doc_id"))
    }),
      // ground-truth near-dup edges (the q39 CTE) -> transitive closure ->
      // min reachable id per node = connected-component label
      """WITH RECURSIVE tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS raw
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(raw) < 3
        |      THEN [array_to_string(raw, ' ')]
        |      ELSE [array_to_string(raw[i+1:i+3], ' ')
        |            for i in range(0, len(raw) - 2)] END) AS shingles
        |  FROM tk
        |), pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        |      / CAST(len(list_distinct(list_concat(a.shingles, b.shingles)))
        |          AS DOUBLE) >= 0.5
        |), edges AS (
        |  SELECT a_id AS s, b_id AS d FROM pairs
        |  UNION SELECT b_id, a_id FROM pairs
        |), reach(s, d) AS (
        |  SELECT s, d FROM edges
        |  UNION
        |  SELECT r.s, e.d FROM reach r JOIN edges e ON e.s = r.d
        |)
        |SELECT s AS doc_id, least(s, min(d)) AS cluster_id
        |FROM reach GROUP BY s ORDER BY doc_id""".stripMargin,
      outputGrowthBound = true),

    QuerySpec("q75_dedup_keep_best", ((s, dir) => {
      // the SELECTION step a dedup pipeline ends with: per near-dup
      // cluster keep the best-quality member (ties: lowest id); singleton
      // docs cluster as themselves. Composition of the LSH pair generator,
      // the label-propagation components, and the quality scorer. The
      // argmax is two partial-combined aggregates (max quality per
      // cluster, then min id among the maxima) — no cluster-partitioned
      // window, so a million-member spam cluster can't funnel one task.
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashLshPairs(docs,
        bands = 4, threshold = 0.5, fast = true)
      Dedup.keepBest(docs, pairs, TextAnalysis.qualityScore)
        .orderBy(col("cluster_id"))
    }),
      (keepBestLabSql +
      """
        |SELECT b.cluster_id, MIN(l.doc_id) AS kept_id, b.n_members,
        |  b.best_q
        |FROM lab l JOIN best b
        |  ON l.cluster_id = b.cluster_id AND l.q = b.best_q
        |GROUP BY b.cluster_id, b.n_members, b.best_q
        |ORDER BY b.cluster_id""".stripMargin),
      outputGrowthBound = true),

    QuerySpec("q58_simhash_pairs", ((s, dir) => {
      // block-banded SimHash candidates + exact Hamming verify
      // (recall 1.0 for hamming <= 3 by pigeonhole over 4 blocks)
      Dedup.simhashNearDupPairs(t(s, dir, "documents"))
        .orderBy(col("a_id"), col("b_id"))
    }),
      // all-pairs hamming <= 3 IS the banded result: 4-block banding has
      // guaranteed recall at that threshold (pigeonhole), and the exact
      // verify removes any extra candidates — the sets are equal by
      // construction, so the oracle needs no banding replication
      simhashPairsSql),

    QuerySpec("q84_image_clusters", ((s, dir) => {
      // the image-dedup loop closed end to end: real decode -> dHash ->
      // banded-Hamming pairs (q81) -> connected components via the same
      // pointer-jumping label propagation as text dedup. One cluster id
      // per image that has at least one near-dup — the keep-one-
      // representative step for a media corpus.
      val media = Multimodal.dhashMediaFromDocuments(t(s, dir, "documents"))
      val hashes = Multimodal.extractImageHashes(media).toDF()
      val pairs = Dedup.imageNearDupPairs(hashes)
      Dedup.nearDupClusters(pairs).orderBy(col("doc_id"))
    }),
      """WITH RECURSIVE m AS (
        |  SELECT greatest(COUNT(*) // 20, 1) AS ng FROM documents
        |), ids AS (
        |  SELECT doc_id FROM documents WHERE doc_id % 100 <> 99
        |), bits AS (
        |  SELECT doc_id, CAST(j AS BIGINT) AS j,
        |    CAST((
        |      ((doc_id % ng) % (53 + j)) % 2
        |      + CASE WHEN ((doc_id // ng) % 3) >= 1
        |          AND j = (doc_id * 13) % 64 THEN 1 ELSE 0 END
        |      + CASE WHEN ((doc_id // ng) % 3) = 2
        |          AND j = (doc_id * 29 + 7) % 64 THEN 1 ELSE 0 END
        |    ) % 2 AS BIGINT) AS bit
        |  FROM ids, m, unnest(range(0, 64)) AS t(j)
        |), blocks AS (
        |  SELECT doc_id, j // 16 AS b, SUM(bit << (15 - (j % 16))) AS v
        |  FROM bits GROUP BY doc_id, j // 16
        |), cand AS (
        |  SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id
        |  FROM blocks l JOIN blocks r
        |    ON l.b = r.b AND l.v = r.v AND l.doc_id < r.doc_id
        |), pairs AS (
        |  SELECT c.a_id, c.b_id
        |  FROM cand c
        |  JOIN bits ba ON ba.doc_id = c.a_id
        |  JOIN bits bb ON bb.doc_id = c.b_id AND bb.j = ba.j
        |  GROUP BY c.a_id, c.b_id
        |  HAVING SUM(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END) <= 3
        |), edges AS (
        |  SELECT a_id AS s, b_id AS d FROM pairs
        |  UNION SELECT b_id, a_id FROM pairs
        |), reach(s, d) AS (
        |  SELECT s, d FROM edges
        |  UNION
        |  SELECT r.s, e.d FROM reach r JOIN edges e ON e.s = r.d
        |)
        |SELECT s AS doc_id, least(s, min(d)) AS cluster_id
        |FROM reach GROUP BY s ORDER BY doc_id""".stripMargin),

    QuerySpec("q85_semdedup", ((s, dir) => {
      // SemDeDup (greedy keep-lowest-id per LSH bucket): one aggregate
      // over the q42 pair stream — which vectors a semantic dedup pass
      // would DROP, and on whose account. threshold 0.4 for the same
      // reason as q42 (synthetic embeddings are near-orthogonal; the
      // positive path must be exercised at verify scale)
      Dedup.semanticDedupDrops(t(s, dir, "embeddings"), planes = 6, threshold = 0.4)
        .select(col("id").as("vec_id"), col("dup_of"), col("n_earlier"))
        .orderBy(col("vec_id"))
    }),
      s"""WITH ${bucketCtes(6)},
         |l AS (
         |  SELECT e.vec_id AS a_id, e.embedding AS av, b.bucket
         |  FROM embeddings e JOIN buckets b USING (vec_id)
         |), r AS (
         |  SELECT e.vec_id AS b_id, e.embedding AS bv, b.bucket
         |  FROM embeddings e JOIN buckets b USING (vec_id)
         |), p AS (
         |  SELECT a_id, b_id,
         |    ${dotSql("av", "bv")} AS dot,
         |    ${normSql("av")} AS nq,
         |    ${normSql("bv")} AS nc
         |  FROM l JOIN r USING (bucket) WHERE a_id < b_id
         |), scored AS (
         |  SELECT DISTINCT a_id, b_id, round($cosSql, 6) AS sim FROM p)
         |SELECT b_id AS vec_id, MIN(a_id) AS dup_of,
         |  CAST(COUNT(*) AS BIGINT) AS n_earlier
         |FROM scored WHERE sim >= 0.4
         |GROUP BY b_id ORDER BY vec_id""".stripMargin),

    QuerySpec("q94_semantic_decontaminate", ((s, dir) => {
      // embedding-space decontamination: the paraphrase-robust
      // complement of q68/q90's shingle overlap — corpus vectors whose
      // cosine vs ANY eval vector (vec_id < 30) clears 0.35, with the
      // best-matching eval item. Threshold 0.35 for the q42 reason
      // (near-orthogonal synthetic embeddings; the positive path must
      // be exercised at verify scale: 34 raw hits at sf0.01).
      val emb = t(s, dir, "embeddings")
      Dedup.semanticContamination(emb, emb.filter(col("vec_id") < 30), threshold = 0.35)
        .select(col("id").as("vec_id"), col("n_hits"), col("best_eval"),
          col("sim"))
        .orderBy(col("vec_id"))
    }),
      s"""WITH e AS (
         |  SELECT vec_id AS e_id, embedding AS ev FROM embeddings
         |  WHERE vec_id < 30
         |), c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings),
         |p AS (
         |  SELECT cid, e_id,
         |    ${dotSql("cv", "ev")} AS dot,
         |    ${normSql("cv")} AS nq,
         |    ${normSql("ev")} AS nc
         |  FROM c, e WHERE cid <> e_id
         |), scored AS (
         |  SELECT cid, e_id, round($cosSql, 6) AS sim FROM p
         |), hits AS (SELECT * FROM scored WHERE sim >= 0.35),
         |m AS (
         |  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_hits, MAX(sim) AS sim
         |  FROM hits GROUP BY cid
         |), b AS (
         |  SELECT h.cid, MIN(h.e_id) AS best_eval
         |  FROM hits h JOIN m ON h.cid = m.cid AND h.sim = m.sim
         |  GROUP BY h.cid)
         |SELECT m.cid AS vec_id, m.n_hits, b.best_eval, m.sim
         |FROM m JOIN b ON m.cid = b.cid ORDER BY vec_id""".stripMargin),

    QuerySpec("q65_dedup_incremental", ((s, dir) => {
      // incremental minhash dedup — the 100 TB operating mode: odd doc_ids
      // are "today's batch", even doc_ids the persisted historical index;
      // only pairs touching a new id form (old-vs-old never re-verifies).
      // Same index parameters as q37, so pairs(q37) =
      // pairs(even-only) ∪ this result.
      val docs = t(s, dir, "documents")
      Dedup.minhashLshPairsIncremental(
          Dedup.minhashIndex(docs.filter(col("doc_id") % 2 === 1), bands = 4, fast = false),
          Dedup.minhashIndex(docs.filter(col("doc_id") % 2 === 0), bands = 4, fast = false),
          threshold = 0.5)
        .orderBy(col("a_id"), col("b_id"))
    }),
      // q37's pipeline restricted to pairs touching a "new" (odd) doc id —
      // the incremental batch-vs-index contract: old-vs-old pairs never form
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS raw
        |  FROM documents
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
        |    AND (l.doc_id % 2 = 1 OR r.doc_id % 2 = 1)
        |), verified AS (
        |  SELECT a_id, b_id,
        |    round(CASE WHEN len(list_distinct(list_concat(a_sh, b_sh))) = 0
        |      THEN 0.0
        |      ELSE CAST(len(list_intersect(list_distinct(a_sh),
        |            list_distinct(b_sh))) AS DOUBLE)
        |        / CAST(len(list_distinct(list_concat(a_sh, b_sh))) AS DOUBLE)
        |      END, 6) AS sim
        |  FROM pairs)
        |SELECT a_id, b_id, sim FROM verified WHERE sim >= 0.5
        |ORDER BY a_id, b_id""".stripMargin),

    QuerySpec("q70_dedup_incr_fast", ((s, dir) => {
      // q65's PRODUCTION shape: fast seeded-FNV signatures (~10x cheaper
      // than md5) and a parquet-persisted historical index. The index is
      // built once per corpus dir (untimed after the first pass, like
      // q52's bucketed tables — a real pipeline already has yesterday's
      // index on disk), so the timed body is what a daily run pays:
      // signature the new batch and join it against on-disk buckets.
      // Oracle = ground-truth all-pairs Jaccard restricted to pairs
      // touching a new (odd) id — equality doubles as an LSH recall=1.0
      // check, exactly as q39 pins the full fast path.
      val docs = t(s, dir, "documents")
      val idxDir = new java.io.File(
        s".bench/q70_index_${corpusKey(dir)}").getAbsolutePath
      val idxPath = ensurePersistedIndex(idxDir, docs.count()) {
        Dedup.minhashIndex(docs.filter(col("doc_id") % 2 === 0), bands = 4, fast = true)
      }
      Dedup.minhashLshPairsIncremental(
          Dedup.minhashIndex(docs.filter(col("doc_id") % 2 === 1), bands = 4, fast = true),
          s.read.parquet(idxPath), threshold = 0.5)
        .orderBy(col("a_id"), col("b_id"))
    }),
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS raw
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(raw) < 3
        |      THEN [array_to_string(raw, ' ')]
        |      ELSE [array_to_string(raw[i+1:i+3], ' ')
        |            for i in range(0, len(raw) - 2)] END) AS shingles
        |  FROM tk
        |)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        |    / CAST(len(list_distinct(list_concat(a.shingles, b.shingles)))
        |        AS DOUBLE), 6) AS sim
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE (a.doc_id % 2 = 1 OR b.doc_id % 2 = 1)
        |  AND CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        |    / CAST(len(list_distinct(list_concat(a.shingles, b.shingles)))
        |        AS DOUBLE) >= 0.5
        |ORDER BY a_id, b_id""".stripMargin,
      warmIndex = true),

    QuerySpec("q42_emb_neardup", ((s, dir) => {
      // embedding-cosine near-dup pairs via LSH buckets — oracle-checkable.
      // threshold 0.4: the synthetic embeddings are near-orthogonal (max
      // same-bucket cosine 0.445 at sf0.01), so a production-style 0.9
      // returns zero rows at verify scale and the oracle match is vacuous;
      // 0.4 keeps the gate exercising the positive path (5 rows at sf0.01,
      // 57 at sf0.1) through the same bucket/verify machinery
      Dedup.embeddingNearDupPairs(t(s, dir, "embeddings"), planes = 6, threshold = 0.4)
        .orderBy(col("a_id"), col("b_id"))
    }),
      s"""WITH ${bucketCtes(6)},
         |l AS (
         |  SELECT e.vec_id AS a_id, e.embedding AS av, b.bucket
         |  FROM embeddings e JOIN buckets b USING (vec_id)
         |), r AS (
         |  SELECT e.vec_id AS b_id, e.embedding AS bv, b.bucket
         |  FROM embeddings e JOIN buckets b USING (vec_id)
         |), p AS (
         |  SELECT a_id, b_id,
         |    ${dotSql("av", "bv")} AS dot,
         |    ${normSql("av")} AS nq,
         |    ${normSql("bv")} AS nc
         |  FROM l JOIN r USING (bucket) WHERE a_id < b_id
         |), scored AS (
         |  SELECT DISTINCT a_id, b_id, round($cosSql, 6) AS sim FROM p)
         |SELECT a_id, b_id, sim FROM scored WHERE sim >= 0.4
         |ORDER BY a_id, b_id""".stripMargin),

    QuerySpec("q105_fuzzy_join", ((s, dir) => {
      // cross-TABLE record linkage: documents from sources src0-src9 (the
      // "crawl") fuzzy-joined to documents from src10-src19 (the
      // "reference corpus") by MinHash-banded blocking + exact shingle-
      // Jaccard verify. The two sides are independent tables with their
      // own id spaces — pairs are NOT canonicalized, and at scale the
      // right side is the reference corpus's PERSISTED minhash index
      // (the q70 artifact), so linking never re-signatures it.
      val docs = t(s, dir, "documents")
      val srcNum = expr("int(substring(source, 4))")
      Dedup.fuzzyJoin(
          Dedup.minhashIndex(docs.filter(srcNum < 10), bands = 4, fast = false),
          Dedup.minhashIndex(docs.filter(srcNum >= 10), bands = 4, fast = false),
          threshold = 0.3)
        .orderBy(col("left_id"), col("right_id"))
    }),
      // q37's md5 minhash algebra over two DISJOINT source slices, joined
      // across slices with no canonicalization — record linkage, not dedup
      """WITH tk AS (
        |  SELECT doc_id, CAST(substr(source, 4) AS INT) AS src_num,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS raw
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, src_num,
        |    CASE WHEN len(raw) < 3 THEN [array_to_string(raw, ' ')]
        |      ELSE [array_to_string(raw[i+1:i+3], ' ')
        |            for i in range(0, len(raw) - 2)] END AS shingles
        |  FROM tk
        |), sig AS (
        |  SELECT doc_id, src_num, shingles,
        |    [list_min([md5(CAST(i AS VARCHAR) || '|' || s) for s in shingles])
        |     for i in range(0, 16)] AS mh
        |  FROM sh
        |), banded AS (
        |  SELECT doc_id, src_num, shingles,
        |    unnest([CAST(b AS VARCHAR) || '_'
        |            || array_to_string(mh[b*4+1:b*4+4], '|')
        |            for b in range(0, 4)]) AS bandkey
        |  FROM sig
        |), pairs AS (
        |  SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id,
        |    l.shingles AS l_sh, r.shingles AS r_sh
        |  FROM banded l JOIN banded r ON l.bandkey = r.bandkey
        |  WHERE l.src_num < 10 AND r.src_num >= 10
        |), verified AS (
        |  SELECT left_id, right_id,
        |    round(CASE WHEN len(list_distinct(list_concat(l_sh, r_sh))) = 0
        |      THEN 0.0
        |      ELSE CAST(len(list_intersect(list_distinct(l_sh),
        |            list_distinct(r_sh))) AS DOUBLE)
        |        / CAST(len(list_distinct(list_concat(l_sh, r_sh))) AS DOUBLE)
        |      END, 6) AS sim
        |  FROM pairs)
        |SELECT left_id, right_id, sim FROM verified WHERE sim >= 0.3
        |ORDER BY left_id, right_id""".stripMargin),

    QuerySpec("q108_clusters_incr", ((s, dir) => {
      // the FULL incremental dedup pipeline in one query — q70's persisted
      // pair-index story completed with persisted CLUSTER LABELS: the
      // historical (even-id) corpus's minhash index AND its cluster-label
      // table live on disk (untimed after the first pass); the timed body
      // is exactly what a daily run pays — signature the odd-id batch,
      // band-join it against the on-disk index, and merge the confirmed
      // new pairs into the on-disk labels by graph contraction (CC runs
      // over the contracted batch-sized graph, never the historical one).
      // Oracle = q54's ground-truth recursive closure over the FULL
      // corpus: incremental == full recompute, by construction.
      val docs = t(s, dir, "documents")
      val evens = docs.filter(col("doc_id") % 2 === 0)
      val key = corpusKey(dir)
      val idxDir = new java.io.File(s".bench/q108_index_$key").getAbsolutePath
      val nRows = docs.count()
      val idxPath = ensurePersistedIndex(idxDir, nRows) {
        Dedup.minhashIndex(evens, bands = 4, fast = true)
      }
      val labDir = new java.io.File(s".bench/q108_labels_$key").getAbsolutePath
      val labPath = ensurePersistedIndex(labDir, nRows) {
        Dedup.nearDupClusters(Dedup.minhashLshPairs(evens,
          bands = 4, threshold = 0.5, fast = true))
      }
      val newPairs = Dedup.minhashLshPairsIncremental(
        Dedup.minhashIndex(docs.filter(col("doc_id") % 2 === 1), bands = 4, fast = true),
        s.read.parquet(idxPath), threshold = 0.5)
      Dedup.nearDupClustersIncremental(s.read.parquet(labPath), newPairs)
        .orderBy(col("doc_id"))
    }),
      // q54's ground-truth closure over the FULL corpus: the incremental
      // label update must land on exactly the full recompute's clusters
      """WITH RECURSIVE tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS raw
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(raw) < 3
        |      THEN [array_to_string(raw, ' ')]
        |      ELSE [array_to_string(raw[i+1:i+3], ' ')
        |            for i in range(0, len(raw) - 2)] END) AS shingles
        |  FROM tk
        |), pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        |      / CAST(len(list_distinct(list_concat(a.shingles, b.shingles)))
        |          AS DOUBLE) >= 0.5
        |), edges AS (
        |  SELECT a_id AS s, b_id AS d FROM pairs
        |  UNION SELECT b_id, a_id FROM pairs
        |), reach(s, d) AS (
        |  SELECT s, d FROM edges
        |  UNION
        |  SELECT r.s, e.d FROM reach r JOIN edges e ON e.s = r.d
        |)
        |SELECT s AS doc_id, least(s, min(d)) AS cluster_id
        |FROM reach GROUP BY s ORDER BY doc_id""".stripMargin,
      warmIndex = true,
      outputGrowthBound = true),

    QuerySpec("q141_edit_join", ((s, dir) => {
      // edit-distance similarity join via PassJoin segment blocking —
      // character-level record linkage with NO all-pairs product: the
      // q113-style deterministic fixture derives a short string per doc
      // (groups of 10 share an md5 base; variants apply one substitution
      // / deletion / insertion, or two substitutions that must NOT
      // match at maxDist=1), the real operator finds all pairs within
      // Levenshtein 1, and the oracle brute-forces the SAME fixture —
      // a genuine differential, not a replay of the blocking.
      val docs = t(s, dir, "documents")
      val base = substring(
        md5(floor(col("doc_id") / 10).cast("long").cast("string")), 1, 12)
      val pos = (col("doc_id") % 7 + 2).cast("int")
      val m = (col("doc_id") % 5).cast("int")
      val str = when(m === 0, base)
        .when(m === 1, concat(
          call_function("substring", base, lit(1), pos - 1), lit("z"),
          call_function("substring", base, pos + 1, lit(12))))
        .when(m === 2, call_function("substring", base, lit(1), lit(11)))
        .when(m === 3, concat(base, lit("q")))
        .otherwise(concat(lit("zz"),
          call_function("substring", base, lit(3), lit(10))))
      operators.EditJoin.editDistancePairs(
          docs.select(col("doc_id").as("id"), str.as("str")))
        .orderBy(col("a_id"), col("b_id"))
    }),
      """WITH f AS (
        |  SELECT doc_id AS id,
        |    CASE CAST(doc_id % 5 AS INTEGER)
        |      WHEN 0 THEN base
        |      WHEN 1 THEN substring(base, 1, pos - 1) || 'z'
        |        || substring(base, pos + 1, 12)
        |      WHEN 2 THEN substring(base, 1, 11)
        |      WHEN 3 THEN base || 'q'
        |      ELSE 'zz' || substring(base, 3, 10) END AS str
        |  FROM (
        |    SELECT doc_id,
        |      substring(md5(CAST(CAST(floor(doc_id / 10) AS BIGINT)
        |        AS VARCHAR)), 1, 12) AS base,
        |      CAST(doc_id % 7 + 2 AS INTEGER) AS pos
        |    FROM documents)
        |)
        |SELECT a.id AS a_id, b.id AS b_id,
        |  CAST(levenshtein(a.str, b.str) AS INTEGER) AS dist
        |FROM f a JOIN f b ON a.id < b.id
        |WHERE abs(len(a.str) - len(b.str)) <= 1
        |  AND levenshtein(a.str, b.str) <= 1
        |ORDER BY a_id, b_id""".stripMargin),

    QuerySpec("q190_dup_matrix", ((s, dir) => {
      // cross-source duplication matrix: which sources copy from which
      // — q37's MinHash+LSH near-dup pairs rolled up to unordered
      // source pairs (the curation readout deciding which feeds to
      // de-prioritize). Pair generation is the pinned band-key
      // equi-join; the source attach joins the doc_id->source map twice
      // UNHINTED — that map is corpus-cardinality (entity-scale at
      // 100 TB), where a forced broadcast bypasses the size check and
      // OOMs instead of falling back. The pair side is candidate-
      // bounded, so the shuffled attach is cheap; AQE still broadcasts
      // the map when it is genuinely small.
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashLshPairs(docs, bands = 4,
          threshold = 0.5, fast = false)
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("a_id"),
          col("source").as("src_a")), Seq("a_id"))
        .join(src.select(col("doc_id").as("b_id"),
          col("source").as("src_b")), Seq("b_id"))
        .groupBy(least(col("src_a"), col("src_b")).as("s1"),
          greatest(col("src_a"), col("src_b")).as("s2"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("s1"), col("s2"))
    }),
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS raw
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, raw,
        |    CASE WHEN len(raw) < 3 THEN [array_to_string(raw, ' ')]
        |      ELSE [array_to_string(raw[i+1:i+3], ' ')
        |            for i in range(0, len(raw) - 2)] END AS shingles
        |  FROM tk
        |), sig AS (
        |  SELECT doc_id, shingles,
        |    [list_min([md5(CAST(i AS VARCHAR) || '|' || s) for s in shingles])
        |     for i in range(0, 16)] AS mh
        |  FROM sh
        |), banded AS (
        |  SELECT doc_id, shingles,
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
        |  SELECT a_id, b_id
        |  FROM pairs
        |  WHERE round(CASE
        |    WHEN len(list_distinct(list_concat(a_sh, b_sh))) = 0 THEN 0.0
        |    ELSE CAST(len(list_intersect(list_distinct(a_sh),
        |          list_distinct(b_sh))) AS DOUBLE)
        |      / CAST(len(list_distinct(list_concat(a_sh, b_sh)))
        |        AS DOUBLE)
        |    END, 6) >= 0.5
        |)
        |SELECT least(sa.source, sb.source) AS s1,
        |  greatest(sa.source, sb.source) AS s2,
        |  CAST(count(*) AS BIGINT) AS n_pairs
        |FROM verified v
        |JOIN documents sa ON sa.doc_id = v.a_id
        |JOIN documents sb ON sb.doc_id = v.b_id
        |GROUP BY 1, 2
        |ORDER BY s1, s2""".stripMargin),

    QuerySpec("q201_setjoin_exact", ((s, dir) => {
      // EXACT all-pairs Jaccard join (AllPairs/PPJoin prefix filter):
      // every shingle-set pair with J >= 0.5, recall 1.0 GUARANTEED —
      // the exact counterpart to q37's LSH banding (which trades recall
      // for speed). Candidates form only where two docs share one of
      // their rarest shingles; the oracle BRUTE-FORCES the n² space, so
      // this is a genuine recall differential, not a blocking replay.
      val docs = t(s, dir, "documents")
      Dedup.prefixFilterJaccardPairs(docs)
        .orderBy(col("a_id"), col("b_id"))
    }),
      // brute-force n² differential (the q141/q178 pattern): DuckDB scores
      // EVERY pair exactly; the Spark side must recover the identical set
      // through the prefix filter — a genuine recall-1.0 check.
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')
        |      AS raw
        |  FROM documents
        |), sh AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(raw) < 3
        |      THEN [array_to_string(raw, ' ')]
        |      ELSE [array_to_string(raw[i+1:i+3], ' ')
        |            for i in range(0, len(raw) - 2)] END) AS sh
        |  FROM tk
        |), pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    len(list_intersect(a.sh, b.sh)) AS inter,
        |    len(list_distinct(list_concat(a.sh, b.sh))) AS uni
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |)
        |SELECT a_id, b_id,
        |  round(CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE), 6) AS jaccard
        |FROM pairs WHERE inter * 2 >= 1 * uni
        |ORDER BY a_id, b_id""".stripMargin,
      tier = Some(Slice("documents", "doc_id", 4))),

    QuerySpec("q209_lsh_recall_cert", ((s, dir) => {
      // the engine certifies its OWN LSH: q37's MinHash banding measured
      // against q201's exact prefix-filter join as ground truth —
      // precision/recall of the probabilistic dedup path computed
      // in-engine on real data (the offline gate an LSH config change
      // must pass). Both pair sets are bounded; the rollup is 3 scalars.
      val docs = t(s, dir, "documents")
      val exact = operators.Materializer.Local(
        Dedup.prefixFilterJaccardPairs(docs)
          .select(col("a_id"), col("b_id")))
      val lsh = operators.Materializer.Local(
        Dedup.minhashLshPairs(docs, bands = 4, threshold = 0.5, fast = false)
          .select(col("a_id"), col("b_id")))
      val common = exact.join(lsh, Seq("a_id", "b_id"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(broadcast(lsh.agg(count(lit(1)).as("n_lsh"))))
        .crossJoin(broadcast(common.agg(count(lit(1)).as("n_common"))))
        .select(col("n_exact"), col("n_lsh"), col("n_common"),
          round(col("n_common").cast("double")
            / col("n_lsh").cast("double"), 6).as("precision"),
          round(col("n_common").cast("double")
            / col("n_exact").cast("double"), 6).as("recall"))
    }),
      // ground truth = the brute-forced exact pair set (q201's oracle);
      // LSH = q190's banding chain; the rollup certifies q37's config
      """WITH tk AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')
        |      AS raw
        |  FROM documents
        |), shd AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(raw) < 3
        |      THEN [array_to_string(raw, ' ')]
        |      ELSE [array_to_string(raw[i+1:i+3], ' ')
        |            for i in range(0, len(raw) - 2)] END) AS sh
        |  FROM tk
        |), exactp AS MATERIALIZED (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM shd a JOIN shd b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.sh, b.sh)) * 2
        |    >= len(list_distinct(list_concat(a.sh, b.sh)))
        |), shn AS MATERIALIZED (
        |  SELECT doc_id, raw,
        |    CASE WHEN len(raw) < 3 THEN [array_to_string(raw, ' ')]
        |      ELSE [array_to_string(raw[i+1:i+3], ' ')
        |            for i in range(0, len(raw) - 2)] END AS shingles
        |  FROM tk
        |), sig AS (
        |  SELECT doc_id, shingles,
        |    [list_min([md5(CAST(i AS VARCHAR) || '|' || s)
        |      for s in shingles])
        |     for i in range(0, 16)] AS mh
        |  FROM shn
        |), banded AS (
        |  SELECT doc_id, shingles,
        |    unnest([CAST(b AS VARCHAR) || '_'
        |            || array_to_string(mh[b*4+1:b*4+4], '|')
        |            for b in range(0, 4)]) AS bandkey
        |  FROM sig
        |), pairs AS (
        |  SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id,
        |    l.shingles AS a_sh, r.shingles AS b_sh
        |  FROM banded l JOIN banded r ON l.bandkey = r.bandkey
        |  WHERE l.doc_id < r.doc_id
        |), verified AS MATERIALIZED (
        |  SELECT a_id, b_id
        |  FROM pairs
        |  WHERE round(CASE
        |    WHEN len(list_distinct(list_concat(a_sh, b_sh))) = 0 THEN 0.0
        |    ELSE CAST(len(list_intersect(list_distinct(a_sh),
        |          list_distinct(b_sh))) AS DOUBLE)
        |      / CAST(len(list_distinct(list_concat(a_sh, b_sh)))
        |        AS DOUBLE)
        |    END, 6) >= 0.5
        |)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM exactp) AS n_exact,
        |  (SELECT CAST(count(*) AS BIGINT) FROM verified) AS n_lsh,
        |  (SELECT CAST(count(*) AS BIGINT) FROM exactp e
        |     JOIN verified v ON e.a_id = v.a_id AND e.b_id = v.b_id)
        |    AS n_common,
        |  round(CAST((SELECT count(*) FROM exactp e JOIN verified v
        |      ON e.a_id = v.a_id AND e.b_id = v.b_id) AS DOUBLE)
        |    / CAST((SELECT count(*) FROM verified) AS DOUBLE), 6)
        |    AS precision,
        |  round(CAST((SELECT count(*) FROM exactp e JOIN verified v
        |      ON e.a_id = v.a_id AND e.b_id = v.b_id) AS DOUBLE)
        |    / CAST((SELECT count(*) FROM exactp) AS DOUBLE), 6)
        |    AS recall""".stripMargin,
      // q209 runs BOTH the LSH path and the exact PPJoin ground truth by
      // definition (it is the recall-certification gate), which makes it
      // the single largest line in the large budget (54.7 s at a 1/4
      // slice). Candidate volume is quadratic in the slice, so the 1/8
      // slice costs ~1/4 of the 1/4 one; the plan is identical and the
      // full-size recall number stays certified at the graded sf dir.
      tier = Some(Slice("documents", "doc_id", 8))),

    QuerySpec("q214_golden_record", ((s, dir) => {
      // golden-record entity resolution (the MDM survivorship step):
      // near-dup clusters (q54's pair graph + pointer-jumping CC) roll
      // up to one canonical record each — representative = lowest id,
      // dominant source by the two-step argmax, member/token mass. The
      // readout a dedup pipeline hands to curation: what each duplicate
      // family is, who contributes it, and which copy to keep.
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashLshPairs(docs,
        bands = 4, threshold = 0.5, fast = true)
      val clusters = Dedup.nearDupClusters(pairs)
      val mem = clusters.join(
        docs.select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("toks")),
        Seq("doc_id"))
      val agg1 = mem.groupBy(col("cluster_id")).agg(
        count(lit(1)).as("n_members"), min(col("doc_id")).as("rep_id"),
        sum(col("toks")).as("n_tokens"))
      val sc = mem.groupBy(col("cluster_id"), col("source"))
        .agg(count(lit(1)).as("n"))
      val mx = sc.groupBy(col("cluster_id")).agg(max(col("n")).as("mxn"))
      val top = sc.join(mx, Seq("cluster_id"))
        .filter(col("n") === col("mxn"))
        .groupBy(col("cluster_id"))
        .agg(min(col("source")).as("top_source"),
          max(col("mxn")).as("n_top_source"))
      agg1.join(top, Seq("cluster_id")).orderBy(col("cluster_id"))
    }),
      """WITH RECURSIVE tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS raw
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(raw) < 3
        |      THEN [array_to_string(raw, ' ')]
        |      ELSE [array_to_string(raw[i+1:i+3], ' ')
        |            for i in range(0, len(raw) - 2)] END) AS shingles
        |  FROM tk
        |), pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        |      / CAST(len(list_distinct(list_concat(a.shingles, b.shingles)))
        |          AS DOUBLE) >= 0.5
        |), edges AS (
        |  SELECT a_id AS s, b_id AS d FROM pairs
        |  UNION SELECT b_id, a_id FROM pairs
        |), reach(s, d) AS (
        |  SELECT s, d FROM edges
        |  UNION
        |  SELECT r.s, e.d FROM reach r JOIN edges e ON e.s = r.d
        |), cl AS MATERIALIZED (
        |  SELECT s AS doc_id, least(s, min(d)) AS cluster_id
        |  FROM reach GROUP BY s
        |), mem AS MATERIALIZED (
        |  SELECT cl.cluster_id, d.doc_id, d.source,
        |    CAST(len(list_filter(regexp_split_to_array(d.text, '\s+'),
        |      x -> x <> '')) AS BIGINT) AS toks
        |  FROM cl JOIN documents d USING (doc_id)
        |), a1 AS (
        |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
        |    min(doc_id) AS rep_id, CAST(sum(toks) AS BIGINT) AS n_tokens
        |  FROM mem GROUP BY 1
        |), sc AS MATERIALIZED (
        |  SELECT cluster_id, source, CAST(count(*) AS BIGINT) AS n
        |  FROM mem GROUP BY 1, 2
        |), mx AS (SELECT cluster_id, max(n) AS mxn FROM sc GROUP BY 1),
        |top AS (
        |  SELECT sc.cluster_id, min(sc.source) AS top_source,
        |    CAST(max(sc.n) AS BIGINT) AS n_top_source
        |  FROM sc JOIN mx USING (cluster_id) WHERE sc.n = mxn
        |  GROUP BY 1
        |)
        |SELECT a1.cluster_id, a1.n_members, a1.rep_id, a1.n_tokens,
        |  top.top_source, top.n_top_source
        |FROM a1 JOIN top USING (cluster_id)
        |ORDER BY cluster_id""".stripMargin),

    QuerySpec("q304_weighted_neardup", ((s, dir) => {
      // tf-WEIGHTED near-dup pairs via Ioffe consistent sampling
      // (weighted MinHash, ICDM 2010) — the round-6 backlog item: where
      // q37's set MinHash sees a 50×-repeated term once, the CWS sampler
      // collides with probability Σmin(w)/Σmax(w), so repetition-heavy
      // near-dups rank by their true weighted overlap. k=8 samples in 4
      // LSH bands generate candidates; the verify is exact integer
      // weighted Jaccard ≥ 3/5. The md5-seeded Gamma(2,1)/Uniform draws
      // are salted-md5 functions of (term, seed), so DuckDB replays the
      // sampler draw-for-draw (round(9) requantization after every libm
      // call, arg-min tie-break on term asc).
      Dedup.weightedMinhashPairs(t(s, dir, "documents"), k = 8, bands = 4)
        .orderBy(col("a_id"), col("b_id"))
    }),
      // Ioffe CWS replay: the same salted-md5 uniforms, Gamma(2,1) algebra
      // (r = −ln u1 − ln u2), t/ln-a quantization and arg-min tie-break as
      // Dedup.weightedMinhashSignatures — every libm output round(9)'d
      // before comparison, so both engines draw identical samples.
      """WITH tf AS MATERIALIZED (
        |  SELECT id, t, CAST(count(*) AS BIGINT) AS w
        |  FROM (SELECT doc_id AS id,
        |          unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |            x -> x <> '')) AS t
        |        FROM documents)
        |  GROUP BY 1, 2
        |), seeded AS (
        |  SELECT id, t, w, seed,
        |    md5(CAST(seed AS VARCHAR) || '|' || t || '|wmh') AS h1,
        |    md5('wmhb|' || CAST(seed AS VARCHAR) || '|' || t) AS h2
        |  FROM tf CROSS JOIN (SELECT unnest(range(0, 8)) AS seed)
        |), us AS (
        |  SELECT id, t, w, seed,
        |    (CAST(list_sum([CAST(round(pow(16, 7 - i)) AS BIGINT) *
        |      (strpos('0123456789abcdef', substr(h1, 1 + i, 1)) - 1)
        |      for i in range(0, 8)]) AS DOUBLE) + 0.5) / 4294967296.0 AS u1,
        |    (CAST(list_sum([CAST(round(pow(16, 7 - i)) AS BIGINT) *
        |      (strpos('0123456789abcdef', substr(h1, 9 + i, 1)) - 1)
        |      for i in range(0, 8)]) AS DOUBLE) + 0.5) / 4294967296.0 AS u2,
        |    (CAST(list_sum([CAST(round(pow(16, 7 - i)) AS BIGINT) *
        |      (strpos('0123456789abcdef', substr(h1, 17 + i, 1)) - 1)
        |      for i in range(0, 8)]) AS DOUBLE) + 0.5) / 4294967296.0 AS u3,
        |    (CAST(list_sum([CAST(round(pow(16, 7 - i)) AS BIGINT) *
        |      (strpos('0123456789abcdef', substr(h1, 25 + i, 1)) - 1)
        |      for i in range(0, 8)]) AS DOUBLE) + 0.5) / 4294967296.0 AS u4,
        |    (CAST(list_sum([CAST(round(pow(16, 7 - i)) AS BIGINT) *
        |      (strpos('0123456789abcdef', substr(h2, 1 + i, 1)) - 1)
        |      for i in range(0, 8)]) AS DOUBLE) + 0.5) / 4294967296.0 AS beta
        |  FROM seeded
        |), cws AS (
        |  SELECT id, t, seed,
        |    round(-ln(u1) - ln(u2), 9) AS r,
        |    round(ln(-ln(u3) - ln(u4)), 9) AS lnc,
        |    beta,
        |    round(ln(CAST(w AS DOUBLE)), 9) AS lnw
        |  FROM us
        |), tq AS (
        |  SELECT id, t, seed, r, lnc, beta,
        |    CAST(floor(round(lnw / r + beta, 9)) AS BIGINT) AS tq
        |  FROM cws
        |), pick AS (
        |  SELECT id, seed, t, tq,
        |    row_number() OVER (PARTITION BY id, seed ORDER BY
        |      round(lnc - r * (CAST(tq AS DOUBLE) + 1.0 - beta), 9), t)
        |      AS rn
        |  FROM tq
        |), sig AS (
        |  SELECT id, seed, t || '|' || CAST(tq AS VARCHAR) AS skey
        |  FROM pick WHERE rn = 1
        |), keyed AS (
        |  SELECT id, CAST(CAST(seed // 2 AS INT) AS VARCHAR) || '#'
        |      || max(CASE WHEN seed % 2 = 0 THEN skey END) || '#'
        |      || max(CASE WHEN seed % 2 = 1 THEN skey END) AS bk
        |  FROM sig GROUP BY id, seed // 2
        |), cands AS (
        |  SELECT DISTINCT a.id AS a_id, b.id AS b_id
        |  FROM keyed a JOIN keyed b ON a.bk = b.bk AND a.id < b.id
        |), sums AS (
        |  SELECT id, CAST(sum(w) AS BIGINT) AS sw FROM tf GROUP BY 1
        |), sm AS (
        |  SELECT c.a_id, c.b_id,
        |    CAST(sum(least(ta.w, tb.w)) AS BIGINT) AS smin
        |  FROM cands c
        |  JOIN tf ta ON ta.id = c.a_id
        |  JOIN tf tb ON tb.id = c.b_id AND tb.t = ta.t
        |  GROUP BY 1, 2
        |), outp AS (
        |  SELECT c.a_id, c.b_id, COALESCE(s.smin, 0) AS smin,
        |    sa.sw + sb.sw - COALESCE(s.smin, 0) AS smax
        |  FROM cands c
        |  LEFT JOIN sm s ON s.a_id = c.a_id AND s.b_id = c.b_id
        |  JOIN sums sa ON sa.id = c.a_id
        |  JOIN sums sb ON sb.id = c.b_id
        |)
        |SELECT a_id, b_id,
        |  round(CAST(smin AS DOUBLE) / CAST(smax AS DOUBLE), 6) AS jw
        |FROM outp WHERE smin * 5 >= 3 * smax
        |ORDER BY a_id, b_id""".stripMargin,
      // q304 is exact-verify set similarity like q201: ScaleUp's verbatim
      // clones make every candidate bucket quadratic in the clone factor
      // (the sf1 pair output grows ~100x), so the large tier prices the
      // identical plan on a 1/8 doc slice (candidate volume is quadratic
      // in the slice, so 1/8 costs ~1/4 of 1/4)
      tier = Some(Slice("documents", "doc_id", 8))),

    QuerySpec("q307_leakage_safe_split", ((s, dir) => {
      // leakage-safe train/test split: every document inherits its
      // near-dup CLUSTER's hash split (Dedup.clusterAwareSplit), so a
      // confirmed near-dup pair can never straddle train and test — the
      // eval-contamination mode q63's per-doc hash split cannot prevent
      // (a test doc with a near-verbatim twin in train leaks even after
      // exact dedup). The audit prices it: straddling-pair counts under
      // the cluster-blind assignment vs the cluster-aware one (0 by
      // construction — pair endpoints share a component). Pairs from the
      // fast-FNV LSH path, whose confirmed set equals ground truth on
      // this corpus (q39); straddle counts are two id-keyed equi-joins
      // of the bounded pair set against the assignment table, and the
      // only broadcasts are 1-row aggregates.
      val docs = t(s, dir, "documents")
      val pairs = operators.Materializer.Local(
        Dedup.minhashLshPairs(docs, bands = 4, threshold = 0.5, fast = true)
          .select(col("a_id"), col("b_id")))
      val asg = operators.Materializer.Local(
        Dedup.clusterAwareSplit(docs, pairs))
      def audit(splitCol: String, m: String) = {
        val sa = asg.select(col("doc_id").as("a_id"), col(splitCol).as("sa"))
        val sb = asg.select(col("doc_id").as("b_id"), col(splitCol).as("sb"))
        val strad = pairs.join(sa, Seq("a_id")).join(sb, Seq("b_id"))
          .agg(coalesce(sum(when(col("sa") =!= col("sb"), 1L)
            .otherwise(0L)), lit(0L)).as("n_straddle"))
        asg.agg(
            sum(when(col(splitCol) === "train", 1L).otherwise(0L))
              .as("n_train"),
            sum(when(col(splitCol) === "test", 1L).otherwise(0L))
              .as("n_test"))
          .crossJoin(broadcast(strad))
          .select(lit(m).as("method"), col("n_train"), col("n_test"),
            col("n_straddle"))
      }
      audit("naive_split", "naive_by_doc")
        .unionByName(audit("split", "by_cluster"))
        .orderBy(col("method"))
    }),
      // q54's recursive-CTE component replay plus the two md5-bucket split
      // assignments; pairs are the exact all-pairs >= 0.5 set, which the
      // fast LSH path's confirmed pairs equal on this corpus (q39)
      """WITH RECURSIVE tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS raw
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
        |  SELECT s AS doc_id, least(s, min(d)) AS cl FROM reach GROUP BY s
        |), asg AS (
        |  SELECT d.doc_id,
        |    CASE WHEN substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 1) < 'c'
        |      THEN 'train' ELSE 'test' END AS naive_split,
        |    CASE WHEN substring(md5(CAST(COALESCE(c.cl, d.doc_id)
        |        AS VARCHAR)), 1, 1) < 'c'
        |      THEN 'train' ELSE 'test' END AS safe_split
        |  FROM documents d LEFT JOIN clu c USING (doc_id)
        |)
        |SELECT 'by_cluster' AS method,
        |  CAST(SUM(CASE WHEN safe_split = 'train' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_train,
        |  CAST(SUM(CASE WHEN safe_split = 'test' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_test,
        |  CAST(COALESCE((SELECT SUM(CASE WHEN sa.safe_split <> sb.safe_split
        |      THEN 1 ELSE 0 END)
        |    FROM prs p JOIN asg sa ON p.a_id = sa.doc_id
        |    JOIN asg sb ON p.b_id = sb.doc_id), 0) AS BIGINT) AS n_straddle
        |FROM asg
        |UNION ALL
        |SELECT 'naive_by_doc',
        |  CAST(SUM(CASE WHEN naive_split = 'train' THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  CAST(SUM(CASE WHEN naive_split = 'test' THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  CAST(COALESCE((SELECT SUM(CASE WHEN sa.naive_split
        |      <> sb.naive_split THEN 1 ELSE 0 END)
        |    FROM prs p JOIN asg sa ON p.a_id = sa.doc_id
        |    JOIN asg sb ON p.b_id = sb.doc_id), 0) AS BIGINT)
        |FROM asg
        |ORDER BY method""".stripMargin),

    QuerySpec("q308_split_stratification", ((s, dir) => {
      // the q307 follow-up a curation pipeline asks next: cluster-keyed
      // hashing moves WHOLE near-dup groups between splits, so if
      // clusters correlate with a stratum the leakage-safe split can
      // skew the mixture. Per source: train share under the naive and
      // cluster-aware assignments plus each share's absolute deviation
      // from its method's corpus-wide share — the stratification audit
      // that says whether leakage safety cost mixture fidelity. One
      // pair+CC pass (the shared clusterAwareSplit operator), two
      // partial-combined aggregates; the overall shares ride a 1-row
      // broadcast.
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashLshPairs(docs,
          bands = 4, threshold = 0.5, fast = true)
        .select(col("a_id"), col("b_id"))
      val asg = operators.Materializer.Local(
        Dedup.clusterAwareSplit(docs, pairs)
          .join(docs.select(col("doc_id"), col("source")), Seq("doc_id")))
      def tr(c: String) = sum(when(col(c) === "train", 1L).otherwise(0L))
      val per = asg.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        round(tr("naive_split").cast("double") / count(lit(1)), 6)
          .as("train_frac_naive"),
        round(tr("split").cast("double") / count(lit(1)), 6)
          .as("train_frac_cluster"))
      val overall = asg.agg(
        round(tr("naive_split").cast("double") / count(lit(1)), 6)
          .as("o_naive"),
        round(tr("split").cast("double") / count(lit(1)), 6)
          .as("o_cluster"))
      per.crossJoin(broadcast(overall))
        .select(col("source"), col("n_docs"),
          col("train_frac_naive"), col("train_frac_cluster"),
          round(abs(col("train_frac_naive") - col("o_naive")), 6)
            .as("dev_naive"),
          round(abs(col("train_frac_cluster") - col("o_cluster")), 6)
            .as("dev_cluster"))
        .orderBy(col("source"))
    }),
      // q307's component replay, read per source: train shares under both
      // assignments and their deviation from each method's overall share
      """WITH RECURSIVE tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS raw
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
        |  SELECT s AS doc_id, least(s, min(d)) AS cl FROM reach GROUP BY s
        |), asg AS (
        |  SELECT d.doc_id, d.source,
        |    CASE WHEN substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 1) < 'c'
        |      THEN 'train' ELSE 'test' END AS naive_split,
        |    CASE WHEN substring(md5(CAST(COALESCE(c.cl, d.doc_id)
        |        AS VARCHAR)), 1, 1) < 'c'
        |      THEN 'train' ELSE 'test' END AS safe_split
        |  FROM documents d LEFT JOIN clu c USING (doc_id)
        |), per AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    round(CAST(SUM(CASE WHEN naive_split = 'train' THEN 1 ELSE 0
        |      END) AS DOUBLE) / COUNT(*), 6) AS train_frac_naive,
        |    round(CAST(SUM(CASE WHEN safe_split = 'train' THEN 1 ELSE 0
        |      END) AS DOUBLE) / COUNT(*), 6) AS train_frac_cluster
        |  FROM asg GROUP BY 1
        |), o AS (
        |  SELECT
        |    round(CAST(SUM(CASE WHEN naive_split = 'train' THEN 1 ELSE 0
        |      END) AS DOUBLE) / COUNT(*), 6) AS o_naive,
        |    round(CAST(SUM(CASE WHEN safe_split = 'train' THEN 1 ELSE 0
        |      END) AS DOUBLE) / COUNT(*), 6) AS o_cluster
        |  FROM asg
        |)
        |SELECT source, n_docs, train_frac_naive, train_frac_cluster,
        |  round(abs(train_frac_naive - o_naive), 6) AS dev_naive,
        |  round(abs(train_frac_cluster - o_cluster), 6) AS dev_cluster
        |FROM per, o ORDER BY source""".stripMargin),

    QuerySpec("q310_dedup_threshold_sweep", ((s, dir) => {
      // dedup cutoff governance: the pair generation (banded join +
      // exact verify — the expensive part) runs ONCE at the loosest
      // candidate threshold, and every stricter cutoff is priced from
      // the same pair stream: surviving pairs, documents touched, mean
      // survivor similarity per θ. The readout a pipeline reads BEFORE
      // committing to a Jaccard cutoff (q37 picks 0.5 by fiat; this
      // query shows what 0.3–0.8 would each have done). Banding recall
      // below the design threshold is part of the pinned semantics —
      // the oracle replays the identical signature/band/verify pipeline.
      val pairs = Dedup.minhashLshPairs(t(s, dir, "documents"), bands = 4,
        threshold = 0.3, fast = false)
      Dedup.dedupThresholdSweep(pairs,
        Seq(0.3, 0.4, 0.5, 0.6, 0.7, 0.8))
    }),
      dedupSweepSql,
      // q310 runs the same exact (fast=false) pair generation as
      // q201/q301 at the LOOSEST sweep threshold — clone-quadratic pair
      // volume on the sf1 corpus (18.1 s dry-run untiered) — so it gets
      // the same plan-identical 1/4 slice.
      tier = Some(Slice("documents", "doc_id", 4))),

    QuerySpec("q320_translit_neardup", ((s, dir) => {
      // cross-variant (transliteration-normalized) near-dup: the corpus
      // is scrambled into three surface variants per residue class —
      // accented (a/e/o -> diacritics), uppercased, re-punctuated
      // (space -> ", ") — identically in both engines; normalization
      // (lower + diacritic fold + punct squash + space collapse,
      // TextAnalysis.normalizeForDedup) makes all three variants
      // canonical again, so MinHash-LSH over the NORMALIZED text
      // recovers exactly the clean-corpus pair set that raw shingling
      // would miss across variant classes. Map-side normalization in
      // front of the standard banded pipeline — the scale shape is
      // q37's unchanged.
      val injected = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
            translate(col("text"), "aeo", "áéö"))
          .when(col("doc_id") % 3 === 1, upper(col("text")))
          .otherwise(expr("replace(text, ' ', ', ')")).as("text"))
      val norm = injected.select(col("doc_id"),
        TextAnalysis.normalizeForDedup.as("text"))
      Dedup.minhashLshPairs(norm, bands = 4, threshold = 0.5, fast = false)
        .orderBy(col("a_id"), col("b_id"))
    }),
      // the scramble (accent/upper/re-punctuate by residue class), the
      // normalization (lower + diacritic fold + punct squash + collapse),
      // and then the standard md5-MinHash banded replay over the
      // NORMALIZED relation — DuckDB regexp_replace needs the explicit
      // 'g' flag where Spark's replaces globally by default
      (minhashVerifiedCteFrom(s"""(
        |  SELECT doc_id, trim(regexp_replace(regexp_replace(
        |      translate(lower(
        |        CASE WHEN doc_id % 3 = 0
        |          THEN translate(text, 'aeo', 'áéö')
        |        WHEN doc_id % 3 = 1 THEN upper(text)
        |        ELSE replace(text, ' ', ', ') END),
        |      '$translitDia', '$translitFold'),
        |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS text
        |  FROM documents)""".stripMargin) +
        """
        |SELECT a_id, b_id, sim FROM verified WHERE sim >= 0.5
        |ORDER BY a_id, b_id""".stripMargin),
      // map-side translit normalization in FRONT of the q37 banded
      // pipeline: its output is the same clone-family pair class as
      // q37/q39 (quadratic true-pair growth under ScaleUp), so its honest
      // sf1/graded ratio grows with SF (measured ~5.6)
      outputGrowthBound = true),

    QuerySpec("q312_recipe_after_dedup", ((s, dir) => {
      // pipeline composition: the q311 recipe RE-PLANNED on the
      // deduplicated corpus — dedup shrinks sources unevenly (a
      // boilerplate-heavy feed loses most of its mass), so the honest
      // provisioning readout prices targets against KEPT tokens, with
      // each source's raw mass and duplicate-token fraction attached.
      // Composition of the q75 keep-best selection (LSH pairs -> CC ->
      // quality argmax) and the q311 integer recipe; the kept-id semi
      // join is UNHINTED (kept ids are SF-linear — one per cluster).
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashLshPairs(docs,
        bands = 4, threshold = 0.5, fast = true)
      val kept = Dedup.keepBest(docs, pairs, TextAnalysis.qualityScore)
        .select(col("kept_id").as("doc_id"))
      val toks = docs.select(col("doc_id"), col("source"),
        size(TextAnalysis.tokens(col("text"))).as("toks"))
      val plan = operators.Sampling.mixturePlan(
        toks.join(kept, Seq("doc_id"), "left_semi"), budget = 2000000L, maxEpochs = 4)
      val raw = toks.groupBy(col("source"))
        .agg(sum(col("toks").cast("long")).as("tokens_raw"))
      plan.join(raw, Seq("source"))
        .select(col("source"), col("n_docs"), col("tokens_avail"),
          col("target_tokens"), col("sampling_rate"), col("epochs"),
          col("capped_tokens"), col("achievable_share"),
          col("tokens_raw"),
          round(lit(1.0) - col("tokens_avail").cast("double")
            / col("tokens_raw").cast("double"), 6).as("dup_token_frac"))
        .orderBy(col("source"))
    }),
      (keepBestLabSql +
      """, keptid AS (
        |  SELECT MIN(l.doc_id) AS doc_id
        |  FROM lab l JOIN best b
        |    ON l.cluster_id = b.cluster_id AND l.q = b.best_q
        |  GROUP BY b.cluster_id
        |), perraw AS (
        |  SELECT d.source, CAST(SUM(len(t.raw)) AS BIGINT) AS tokens_raw
        |  FROM documents d JOIN tk t USING (doc_id) GROUP BY d.source
        |), perk AS (
        |  SELECT d.source, COUNT(*) AS n_docs,
        |    CAST(SUM(len(t.raw)) AS BIGINT) AS tokens_avail
        |  FROM documents d JOIN tk t USING (doc_id)
        |  JOIN keptid k USING (doc_id)
        |  GROUP BY d.source
        |), g AS (SELECT COUNT(*) AS n_groups FROM perk
        |), recipe AS (
        |  SELECT source, n_docs, tokens_avail,
        |    CAST(2000000 // n_groups AS BIGINT) AS target_tokens
        |  FROM perk CROSS JOIN g
        |), ep AS (
        |  -- the mixturePlan zero-token branch (see q311's oracle): a
        |  -- source whose KEPT docs are all empty must not divide by zero
        |  SELECT *, CASE WHEN tokens_avail > 0
        |      THEN LEAST((target_tokens + tokens_avail - 1)
        |        // tokens_avail, 4)
        |      ELSE 1 END AS epochs
        |  FROM recipe)
        |SELECT ep.source, CAST(ep.n_docs AS BIGINT) AS n_docs,
        |  ep.tokens_avail, ep.target_tokens,
        |  CASE WHEN ep.tokens_avail > 0
        |    THEN round(CAST(ep.target_tokens AS DOUBLE)
        |      / CAST(ep.tokens_avail AS DOUBLE), 6) END AS sampling_rate,
        |  CAST(ep.epochs AS BIGINT) AS epochs,
        |  CAST(CASE WHEN ep.tokens_avail > 0
        |    THEN LEAST(ep.target_tokens, ep.tokens_avail * ep.epochs)
        |    ELSE 0 END AS BIGINT) AS capped_tokens,
        |  round(CAST(CASE WHEN ep.tokens_avail > 0
        |    THEN LEAST(ep.target_tokens, ep.tokens_avail * ep.epochs)
        |    ELSE 0 END AS DOUBLE) / 2000000.0, 6) AS achievable_share,
        |  r.tokens_raw,
        |  round(1.0 - CAST(ep.tokens_avail AS DOUBLE)
        |    / CAST(r.tokens_raw AS DOUBLE), 6) AS dup_token_frac
        |FROM ep JOIN perraw r USING (source)
        |ORDER BY ep.source""".stripMargin)),

    QuerySpec("q301_dup_transitivity", ((s, dir) => {
      // near-dup transitivity audit: triangle census of the minhash
      // pair GRAPH itself (q37's edges through q145's degree-ordered
      // triangle machinery) — the "are my duplicate pairs cliques or
      // chains" gate that decides whether connected-components
      // clustering (q54) is safe: a high clustering coefficient means
      // components are tight duplicate groups; a low one means drift
      // chains, where transitive closure over-merges and q75's
      // keep-best needs a similarity re-check. Pair edges are already
      // the bounded equi-join output; the census adds the oriented
      // wedge join only.
      val pairs = Dedup.minhashLshPairs(t(s, dir, "documents"), bands = 4,
          threshold = 0.5, fast = false)
        .select(col("a_id").as("src"), col("b_id").as("dst"))
      operators.Graph.triangleStats(pairs)
    }),
      """WITH e AS MATERIALIZED (
        |  SELECT a_id AS u, b_id AS v FROM (@MH@)
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
        |FROM s, tri""".stripMargin
        .replace("@MH@", minhashPairsSql),
      // q301 runs the exact (fast=false) MinHash pair generation PLUS the
      // oriented wedge join — on ScaleUp's clone-quadratic sf1 graph it
      // became the largest large-budget line (39.8 s untiered). Same
      // recipe as q201/q209: identical plan over a deterministic 1/4 doc
      // slice (pair volume is quadratic in the slice, so ~1/16 the edges;
      // wedge volume shrinks superquadratically), full-size numbers stay
      // certified at the graded sf dir.
      tier = Some(Slice("documents", "doc_id", 4))),

    QuerySpec("q294_dedup_agreement", ((s, dir) => {
      // near-dup detector agreement: the three TEXT pair generators —
      // minhash-LSH (q37, Jaccard≥0.5), banded SimHash (q58,
      // hamming≤3), winnowing fingerprints (q224, ≥2 shared) — run on
      // the same corpus and their pair sets Venn'd by bitmask. The
      // "do my detectors see the same duplicates, and which family do
      // I ship" meta-audit: set-similarity, bit-similarity and
      // literal-run detectors genuinely disagree on borderline pairs,
      // and this query prices that disagreement. Each generator keeps
      // its own bounded equi-join plan; the Venn adds one (a, b)
      // exchange over the unioned pair sets.
      val d = t(s, dir, "documents")
      val mh = Dedup.minhashLshPairs(d,
          bands = 4, threshold = 0.5, fast = false)
        .select(col("a_id").as("a"), col("b_id").as("b"),
          lit(1L).as("bit"))
      val sh = Dedup.simhashNearDupPairs(d)
        .select(col("a_id").as("a"), col("b_id").as("b"),
          lit(2L).as("bit"))
      val fpd = operators.TextAnalysis.winnowingFingerprints(d)
        .select(col("id"), col("h")).distinct()
      val keep = fpd.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= 100)
      val f2 = fpd.join(keep.select(col("h")), Seq("h"))
      val wn = f2.select(col("h"), col("id").as("a"))
        .join(f2.select(col("h"), col("id").as("b")), Seq("h"))
        .filter(col("a") < col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
        .select(col("a"), col("b"), lit(4L).as("bit"))
      mh.unionAll(sh).unionAll(wn)
        .groupBy(col("a"), col("b")).agg(sum(col("bit")).as("mask"))
        .groupBy(col("mask")).agg(count(lit(1)).as("n_pairs"))
        .select(col("mask").cast("long").as("mask"),
          (col("mask").bitwiseAND(lit(1L)) > 0).as("in_minhash"),
          (col("mask").bitwiseAND(lit(2L)) > 0).as("in_simhash"),
          (col("mask").bitwiseAND(lit(4L)) > 0).as("in_winnowing"),
          col("n_pairs").cast("long").as("n_pairs"))
        .orderBy(col("mask"))
    }),
      // the shell strips its margins BEFORE the three ranker SQLs
      // substitute in: an interpolated query may itself contain a line
      // starting with '||' (string concat) that stripMargin would eat
      """WITH mh AS MATERIALIZED (
        |  SELECT a_id AS a, b_id AS b FROM (@MH@)
        |), sh AS MATERIALIZED (
        |  SELECT a_id AS a, b_id AS b FROM (@SH@)
        |), wn AS MATERIALIZED (
        |  SELECT doc_a AS a, doc_b AS b FROM (@WN@)
        |), u AS (
         |  SELECT a, b, CAST(1 AS BIGINT) AS bit FROM mh
         |  UNION ALL SELECT a, b, CAST(2 AS BIGINT) AS bit FROM sh
         |  UNION ALL SELECT a, b, CAST(4 AS BIGINT) AS bit FROM wn
         |), mk AS (
         |  SELECT a, b, CAST(SUM(bit) AS BIGINT) AS mask
         |  FROM u GROUP BY 1, 2
         |)
         |SELECT mask, (mask & 1) > 0 AS in_minhash,
         |  (mask & 2) > 0 AS in_simhash,
         |  (mask & 4) > 0 AS in_winnowing,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM mk GROUP BY 1 ORDER BY 1""".stripMargin
        .replace("@MH@", minhashPairsSql)
        .replace("@SH@", simhashPairsSql)
        .replace("@WN@", winnowingPairsSql))
  )
}
