package graft
package registry

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal}

import SparkHelpers._

/** The suite's image, audio and video plumbing (operators.Multimodal). */
private[graft] object MultimodalQueries {

  val specs: Seq[QuerySpec] = Seq(

    QuerySpec("q81_image_neardup", ((s, dir) => {
      // perceptual-hash image dedup: REAL PNG decode (javax.imageio) ->
      // area-averaged 9x8 dHash -> the simhash banded-Hamming machinery.
      // The gradient fixture encodes its own dHash bits as pixel steps,
      // so the oracle predicts every bit arithmetically while Spark
      // recovers them from actual pixels; doc_id % 100 == 99 rows carry
      // undecodable bytes and must be flagged out, not hashed.
      val media = Multimodal.dhashMediaFromDocuments(t(s, dir, "documents"))
      val hashes = Multimodal.extractImageHashes(media).toDF()
      Dedup.imageNearDupPairs(hashes)
        .orderBy(col("a_id"), col("b_id"))
    }),
      """WITH m AS (
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
        |), ham AS (
        |  SELECT c.a_id, c.b_id,
        |    CAST(SUM(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END)
        |      AS BIGINT) AS hamming
        |  FROM cand c
        |  JOIN bits ba ON ba.doc_id = c.a_id
        |  JOIN bits bb ON bb.doc_id = c.b_id AND bb.j = ba.j
        |  GROUP BY c.a_id, c.b_id
        |)
        |SELECT a_id, b_id, hamming FROM ham WHERE hamming <= 3
        |ORDER BY a_id, b_id""".stripMargin),

    QuerySpec("q82_image_neardup_incr", ((s, dir) => {
      // q81's PRODUCTION operating mode (the q70 pattern in the image
      // domain): even-id images form the historical hash index, persisted
      // as parquet once per corpus dir (untimed after the first pass);
      // the timed body decodes + hashes ONLY the odd-id new batch and
      // joins its blocks against the on-disk index — the historical
      // corpus is never re-decoded. Old-vs-old pairs never form.
      val docs = t(s, dir, "documents")
      val media = Multimodal.dhashMediaFromDocuments(docs)
      val idxDir = new java.io.File(
        s".bench/q82_index_${corpusKey(dir)}").getAbsolutePath
      val idxPath = ensurePersistedIndex(idxDir, docs.count()) {
        Multimodal.extractImageHashes(
            media.filter(_.doc_id % 2 == 0)).toDF()
          .filter(col("decoded"))
          .select(col("doc_id").as("id"), col("dhash").as("sig"))
      }
      val newSig = Multimodal.extractImageHashes(
          media.filter(_.doc_id % 2 == 1)).toDF()
        .filter(col("decoded"))
        .select(col("doc_id").as("id"), col("dhash").as("sig"))
      Dedup.bandedHammingPairsIncremental(newSig, s.read.parquet(idxPath))
        .orderBy(col("a_id"), col("b_id"))
    }),
      """WITH m AS (
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
        |  WHERE l.doc_id % 2 = 1 OR r.doc_id % 2 = 1
        |), ham AS (
        |  SELECT c.a_id, c.b_id,
        |    CAST(SUM(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END)
        |      AS BIGINT) AS hamming
        |  FROM cand c
        |  JOIN bits ba ON ba.doc_id = c.a_id
        |  JOIN bits bb ON bb.doc_id = c.b_id AND bb.j = ba.j
        |  GROUP BY c.a_id, c.b_id
        |)
        |SELECT a_id, b_id, hamming FROM ham WHERE hamming <= 3
        |ORDER BY a_id, b_id""".stripMargin,
      warmIndex = true),

    QuerySpec("q43_mm_features", ((s, dir) => {
      val media = Multimodal.mediaFromDocuments(t(s, dir, "documents"))
      // ALL THREE decodes are real: image rows are PNG payloads decoded by
      // javax.imageio (features from actual pixels); audio rows are WAV
      // payloads decoded by javax.sound.sampled (features from actual PCM
      // frames); video rows are raw-DIB AVI payloads decoded by the
      // VideoCodec RIFF walk (dims from the avih header, mean red from the
      // actual frame pixels — DIB is lossless, so the oracle predicts the
      // exact value). byte_len is encoder output size, not SQL-predictable,
      // so it is not part of the oracle-checked projection.
      Multimodal.extractFeatures(media)
        .select(col("doc_id"), col("modality"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"),
          col("channels").cast("long").as("channels"),
          col("mean_red"), col("decoded"))
        .orderBy(col("doc_id"))
    }),
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |      WHEN 1 THEN 'audio' ELSE 'video' END AS modality
        |  FROM documents)
        |SELECT doc_id, modality,
        |  CAST(CASE WHEN modality = 'image' THEN doc_id % 64 + 1
        |    WHEN modality = 'audio' THEN 8000 + (doc_id % 2) * 8000
        |    ELSE doc_id % 16 + 2 END AS BIGINT) AS width,
        |  CAST(CASE WHEN modality = 'image' THEN doc_id % 48 + 1
        |    WHEN modality = 'audio' THEN 0
        |    ELSE doc_id % 12 + 2 END AS BIGINT) AS height,
        |  CAST(CASE WHEN modality = 'image' THEN 1
        |    WHEN modality = 'audio' THEN doc_id % 500 + 50
        |    ELSE doc_id % 12 + 1 END AS BIGINT) AS n_frames,
        |  CAST(CASE WHEN modality = 'audio' THEN 1 ELSE 3
        |    END AS BIGINT) AS channels,
        |  CAST(CASE WHEN modality = 'image' THEN doc_id % 256
        |    WHEN modality = 'audio' THEN doc_id % 1000
        |    ELSE list_sum([(doc_id * 31 + f * 17) % 256
        |      for f in range(0, CAST(doc_id % 12 + 1 AS INT))])
        |      // (doc_id % 12 + 1) END AS BIGINT) AS mean_red,
        |  TRUE AS decoded
        |FROM m ORDER BY doc_id""".stripMargin),

    QuerySpec("q69_mm_decode", ((s, dir) => {
      // end-to-end pixel-exact decode: every document becomes a solid-
      // colour PNG whose dimensions and colour are pure functions of
      // doc_id, encoded with ImageIO.write in-cluster and decoded back
      // with ImageIO.read — so the oracle predicts every feature, and a
      // hash match proves the codec really ran over real pixels.
      val media = Multimodal.imageMediaFromDocuments(t(s, dir, "documents"))
      Multimodal.extractFeatures(media)
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"),
          col("mean_red"), col("decoded"))
        .orderBy(col("doc_id"))
    }),
      """SELECT doc_id,
        |  CAST(doc_id % 64 + 1 AS BIGINT) AS width,
        |  CAST(doc_id % 48 + 1 AS BIGINT) AS height,
        |  CAST(3 AS BIGINT) AS channels,
        |  CAST(doc_id % 256 AS BIGINT) AS mean_red,
        |  TRUE AS decoded
        |FROM documents ORDER BY doc_id""".stripMargin),

    QuerySpec("q44_mm_frames", ((s, dir) => {
      // REAL frame sampling: every third frame of each video row's AVI is
      // decoded (RIFF walk + raw-DIB pixels) and emits (frame_idx,
      // mean_red) — the oracle predicts both from the fixture formula
      // because DIB frames are lossless.
      Multimodal.sampleFrames(
          Multimodal.mediaFromDocuments(t(s, dir, "documents")), everyN = 3)
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("mean_red"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),
      """WITH m AS (
        |  SELECT doc_id FROM documents WHERE CAST(doc_id % 3 AS INT) = 2
        |)
        |SELECT doc_id,
        |  unnest(range(0, CAST(doc_id % 12 + 1 AS BIGINT), 3)) AS frame_idx,
        |  CAST((doc_id * 31 +
        |    unnest(range(0, CAST(doc_id % 12 + 1 AS BIGINT), 3)) * 17) % 256
        |    AS BIGINT) AS mean_red
        |FROM m ORDER BY doc_id, frame_idx""".stripMargin),

    QuerySpec("q114_audio_neardup", ((s, dir) => {
      // audio fingerprint dedup: REAL WAV decode (javax.sound.sampled) ->
      // 65-window energy envelope -> 64-bit gradient hash -> the shared
      // banded-Hamming machinery. The envelope fixture encodes the SAME
      // bit formula as q81's gradient PNGs (amplitude steps instead of
      // pixel steps), so the two modalities share one oracle algebra;
      // doc_id % 100 == 99 rows carry undecodable bytes and must be
      // flagged out, not hashed.
      val media = Multimodal.ahashMediaFromDocuments(t(s, dir, "documents"))
      val hashes = Multimodal.extractAudioHashes(media).toDF()
      Dedup.audioNearDupPairs(hashes)
        .orderBy(col("a_id"), col("b_id"))
    }),
      """WITH m AS (
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
        |), ham AS (
        |  SELECT c.a_id, c.b_id,
        |    CAST(SUM(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END)
        |      AS BIGINT) AS hamming
        |  FROM cand c
        |  JOIN bits ba ON ba.doc_id = c.a_id
        |  JOIN bits bb ON bb.doc_id = c.b_id AND bb.j = ba.j
        |  GROUP BY c.a_id, c.b_id
        |)
        |SELECT a_id, b_id, hamming FROM ham WHERE hamming <= 3
        |ORDER BY a_id, b_id""".stripMargin),

    QuerySpec("q118_video_neardup", ((s, dir) => {
      // video key-frame dedup completes the near-dup trio: REAL AVI
      // first-frame decode (RIFF walk, raw-DIB pixels) -> the SAME dHash
      // kernel as still images -> the shared banded-Hamming machinery.
      // Frame 0 of the fixture encodes the q81/q114 bit formula as pixel
      // steps (raw-DIB is lossless), so all three modalities verify
      // against one oracle algebra; doc_id % 100 == 99 rows carry
      // undecodable bytes and must be flagged out, not hashed.
      val media = Multimodal.vhashMediaFromDocuments(t(s, dir, "documents"))
      val hashes = Multimodal.extractVideoHashes(media).toDF()
      Dedup.videoNearDupPairs(hashes)
        .orderBy(col("a_id"), col("b_id"))
    }),
      """WITH m AS (
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
        |), ham AS (
        |  SELECT c.a_id, c.b_id,
        |    CAST(SUM(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END)
        |      AS BIGINT) AS hamming
        |  FROM cand c
        |  JOIN bits ba ON ba.doc_id = c.a_id
        |  JOIN bits bb ON bb.doc_id = c.b_id AND bb.j = ba.j
        |  GROUP BY c.a_id, c.b_id
        |)
        |SELECT a_id, b_id, hamming FROM ham WHERE hamming <= 3
        |ORDER BY a_id, b_id""".stripMargin),

    QuerySpec("q313_image_thumbnails", ((s, dir) => {
      // REAL thumbnail pipeline, end to end: every document's PNG is
      // decoded (javax.imageio), integer AREA-AVERAGED onto a 4x4 grid
      // (the dHash box rule — deterministic, no float kernel),
      // re-encoded as lossless PNG, and the RESIZED payload is decoded
      // AGAIN by the shared feature pass — so the oracle's prediction
      // (solid fixtures keep their exact colour under box averaging;
      // dims become 4x4) certifies the whole decode→resize→encode→
      // decode chain, not a metadata projection. Map-side only.
      import s.implicits._
      val media = Multimodal.imageMediaFromDocuments(
        t(s, dir, "documents"))
      Multimodal.extractFeatures(
          Multimodal.resizeImages(media, targetW = 4, targetH = 4))
        .select(col("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("mean_red"),
          col("decoded"))
        .orderBy(col("doc_id"))
    }),
      """SELECT doc_id, CAST(4 AS BIGINT) AS width,
        |  CAST(4 AS BIGINT) AS height,
        |  CAST(doc_id % 256 AS BIGINT) AS mean_red, TRUE AS decoded
        |FROM documents ORDER BY doc_id""".stripMargin),

    QuerySpec("q314_video_frame_sample", ((s, dir) => {
      // frame sampling over REAL AVI payloads: every 2nd stream-order
      // frame of each video document with its integer mean red — the
      // "pick representative frames before the expensive per-frame
      // model" step of a video curation pipeline. The RIFF walk and
      // per-frame DIB reads are real; the fixture's frame colours are a
      // doc_id formula, so the oracle predicts every sampled frame
      // exactly. Map-side flatMap; nothing shuffles but the readout.
      import s.implicits._
      val media = Multimodal.mediaFromDocuments(t(s, dir, "documents"))
      Multimodal.sampleVideoFrames(media)
        .select(col("doc_id"), col("frame_idx"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("red_mean"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),
      """SELECT doc_id, CAST(f AS INT) AS frame_idx,
        |  CAST(doc_id % 16 + 2 AS BIGINT) AS width,
        |  CAST(doc_id % 12 + 2 AS BIGINT) AS height,
        |  CAST((doc_id * 31 + f * 17) % 256 AS BIGINT) AS red_mean
        |FROM documents,
        |  unnest(range(0, CAST(doc_id % 12 + 1 AS BIGINT), 2)) AS t(f)
        |WHERE doc_id % 3 = 2
        |ORDER BY doc_id, frame_idx""".stripMargin)
  )
}
