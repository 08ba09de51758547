package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.streaming.EventStream

/** Structured Streaming front-door tests: static parquet driven through the
  * streaming reader with AvailableNow/processAllAvailable (SURVEY.md §2.8). */
class StreamingSpec extends SparkSpec {

  private def eventsDir: (String, org.apache.spark.sql.types.StructType) = {
    val s = spark
    import s.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000)
    val df = Seq(
      (0L, at(1), 1L, "click", 1.0),
      (1L, at(2), 1L, "click", 2.0),
      (2L, at(6), 2L, "view", 3.0),
      (3L, at(62), 1L, "click", 4.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val dir = Files.createTempDirectory("graft-stream").toString
    df.write.mode("overwrite").parquet(dir)
    (dir, df.schema)
  }

  test("windowed aggregate with watermark over a streaming read") {
    val (dir, schema) = eventsDir
    val agg = EventStream.windowedAgg(
      EventStream.readEvents(spark, dir, schema), "5 minutes", "10 minutes")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("win_out").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("win_out")
      .orderBy(col("window_start"), col("event_type")).collect()
    // append mode emits only windows the watermark has passed:
    // max ts = 01:02 => watermark 00:52 closes [00:00,00:05) and [00:05,00:10)
    assert(rows.length == 2)
    assert(rows(0).getAs[Long]("n_events") == 2)    // two clicks in minute 1-2
    assert(rows(1).getAs[Long]("n_events") == 1)    // one view at minute 6
  }

  test("session_window sessionization over a streaming read") {
    val (dir, schema) = eventsDir
    val agg = EventStream.sessionAgg(
      EventStream.readEvents(spark, dir, schema), "30 minutes", "10 minutes")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("sess_out").collect()
    // user 1's first session (minutes 1,2) closed by the watermark;
    // the minute-62 event opens a still-unclosed session (not emitted)
    val u1 = rows.filter(_.getAs[Long]("user_id") == 1L)
    assert(u1.length == 1 && u1(0).getAs[Long]("n_events") == 2)
  }

  test("flatMapGroupsWithState sessionizer closes sessions on gap and timeout") {
    val s = spark
    import s.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000)
    def us(min: Long) = at(min).getTime * 1000L
    val df = Seq(
      graft.streaming.SessionEvent(1L, at(1), us(1), 1.0),
      graft.streaming.SessionEvent(1L, at(5), us(5), 2.0),
      graft.streaming.SessionEvent(1L, at(90), us(90), 3.0),  // gap-close
      graft.streaming.SessionEvent(2L, at(2), us(2), 4.0)
    ).toDF()
    val dir = Files.createTempDirectory("graft-fmgws").toString
    df.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(df.schema).parquet(dir)
      .as[graft.streaming.SessionEvent]
    val out = graft.streaming.EventStream.statefulSessions(
      stream, gapSeconds = 1800, watermarkDelay = "10 minutes")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("fmgws_out").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("fmgws_out").collect()
    // user 1's first session (minutes 1..5, 2 events) closed by the gap
    val closed = rows.filter(r => r.getAs[Long]("user_id") == 1L)
    assert(closed.exists(r => r.getAs[Long]("n_events") == 2L
      && r.getAs[Double]("sum_value") == 3.0))
  }

  test("streaming dedup drops repeated ids within the watermark") {
    val s = spark
    import s.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000)
    val df = Seq(
      (0L, at(1), 1L, "click", 1.0),
      (0L, at(2), 1L, "click", 1.0),   // duplicate event_id
      (1L, at(3), 1L, "view", 2.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val dir = Files.createTempDirectory("graft-dedup-stream").toString
    df.write.mode("overwrite").parquet(dir)
    val deduped = EventStream.dedupedStream(
      EventStream.readEvents(spark, dir, df.schema), "event_id", "ts",
      "10 minutes")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    q.processAllAvailable(); q.stop()
    val ids = spark.table("dedup_out").collect().map(_.getAs[Long]("event_id"))
    assert(ids.sorted.toSeq == Seq(0L, 1L))
  }

  test("text analysis and content dedup compose unchanged over a streaming corpus") {
    // the text operators are narrow codegen'd projections, so the SAME
    // Column expressions run on a streaming DataFrame with no operator
    // changes; content-digest dedup uses dropDuplicatesWithinWatermark so
    // the digest state is actually watermark-bounded (plain
    // dropDuplicates("digest") without the event-time column in the subset
    // keeps UNBOUNDED state — the watermark only bounds dropDuplicates
    // when the subset includes the event-time column). Batch Spark rejects
    // the within-watermark form, so the batch differential side uses plain
    // dropDuplicates — same kept set here. Differential pin: streaming
    // output == the batch run of the same expressions over the kept
    // documents.
    val s = spark
    import s.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000)
    val longA = "the quick brown fox jumps over the lazy dog while owls watch"
    val df = Seq(
      (0L, at(1), longA),
      (1L, at(2), "der hund und die katze sind nicht da"),
      (2L, at(3), longA),                      // exact dup of 0 -> dropped
      (3L, at(4), "el perro y el gato que es un dia")
    ).toDF("doc_id", "ts", "text")
    val dir = Files.createTempDirectory("graft-doc-stream").toString
    df.write.mode("overwrite").parquet(dir)
    def analyze(d: org.apache.spark.sql.DataFrame) = {
      val digested = d.withColumn("digest", md5(col("text")))
      val deduped =
        if (d.isStreaming) digested.withWatermark("ts", "10 minutes")
          .dropDuplicatesWithinWatermark("digest")
        else digested.dropDuplicates("digest")
      deduped.select(col("doc_id"),
        graft.operators.TextAnalysis.langId.as("lang_pred"),
        graft.operators.TextAnalysis.qualityScore.as("q"),
        graft.operators.TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        // the native BPE tokenizer is a stateless projection, so it runs
        // on a streaming frame unchanged — part of the differential
        graft.operators.Bpe.tokenCount(col("text"),
          graft.operators.Bpe.FixtureMerges).as("n_bpe"))
    }
    val q = analyze(spark.readStream.schema(df.schema).parquet(dir))
      .writeStream.outputMode("append")
      .format("memory").queryName("doc_pipe_out").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("doc_pipe_out").orderBy("doc_id").collect().toSeq
    // exactly one of the identical pair {0, 2} survives (which one depends
    // on partition order — both analyze identically), plus 1 and 3
    val kept = got.map(_.getLong(0)).toSet
    assert(got.size == 3 && (kept - 0L - 2L) == Set(1L, 3L) &&
      kept.intersect(Set(0L, 2L)).size == 1)
    // differential vs batch, on the id-independent analysis columns
    def exId(rows: Seq[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getString(1), r.getDouble(2), r.getInt(3),
        r.getInt(4))).sortBy(_._1)
    val batch = analyze(df.filter(col("doc_id") =!= 2))
      .orderBy("doc_id").collect().toSeq
    assert(exId(got) == exId(batch))
  }

  test("streaming incremental minhash dedup == the batch pair set") {
    // the q70 production path's streaming face: each micro-batch is
    // signatured ONCE, joined against the accumulated parquet index via
    // minhashLshPairsIncremental inside foreachBatch, then appended to
    // the index. Old-vs-old pairs never form, so the union of per-batch
    // pair outputs must equal the full-batch pair set regardless of how
    // the stream was batched — the differential this test pins.
    val s = spark
    import s.implicits._
    import graft.operators.Dedup
    val longA = "the quick brown fox jumps over the lazy dog while " +
      "seven silent owls watch from the tall oak tree at midnight"
    val longB = longA.replace("dog", "cat") // near-dup of longA
    val batch1 = Seq((0L, longA), (1L, "completely different words here"))
    val batch2 = Seq((2L, longB), (3L, longA), (4L, "der hund und die katze"))
    val root = Files.createTempDirectory("graft-incr-stream")
    val srcDir = root.resolve("src").toString
    val idxDir = root.resolve("idx").toString
    val pairsDir = root.resolve("pairs").toString
    batch1.toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(srcDir)
    batch2.toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(srcDir)
    val schema = batch1.toDF("doc_id", "text").schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .writeStream.foreachBatch {
        (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val bIdx = Dedup.minhashIndex(batch,
            bands = 4, fast = true)
          val old =
            if (new java.io.File(idxDir).exists) spark.read.parquet(idxDir)
            else bIdx.limit(0)
          Dedup.minhashLshPairsIncremental(bIdx, old, threshold = 0.5)
            .write.mode("append").parquet(pairsDir)
          bIdx.write.mode("append").parquet(idxDir)
          ()
      }.start()
    q.processAllAvailable(); q.stop()
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2))).toSet
    val streamed = pairSet(spark.read.parquet(pairsDir))
    val full = pairSet(Dedup.minhashLshPairs(
      (batch1 ++ batch2).toDF("doc_id", "text"),
      bands = 4, threshold = 0.5, fast = true))
    assert(streamed.nonEmpty && streamed == full)
  }

  test("streaming ANALYZE refresh: per-batch value histograms folded " +
      "into a persisted synopsis give the batch V-optimal construction") {
    // the q305 merge's streaming face: each micro-batch ships only its
    // quantized value histogram (the associative synopsis), foreachBatch
    // folds it into the persisted histogram, and the V-optimal grid+DP
    // re-run over the refreshed synopsis must equal the construction
    // over all data seen so far — statistics maintenance without ever
    // rescanning the corpus, exact BECAUSE the histogram merge is exact.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, count, lit, sum => fsum}
    val batch1 = (1 to 40).map(i => (i.toLong, (i % 5 + 1).toLong * 100))
    val batch2 = (41 to 90).map(i => (i.toLong, (i % 9 + 3).toLong * 100))
    val root = Files.createTempDirectory("graft-analyze-stream")
    val srcDir = root.resolve("src").toString
    val synDir = root.resolve("synopsis").toString
    batch1.toDF("id", "v").coalesce(1).write.mode("append").parquet(srcDir)
    batch2.toDF("id", "v").coalesce(1).write.mode("append").parquet(srcDir)
    val schema = batch1.toDF("id", "v").schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .writeStream.foreachBatch {
        (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val bh = batch.groupBy(col("v")).agg(count(lit(1)).as("c"))
          val merged =
            if (new java.io.File(synDir).exists)
              spark.read.parquet(synDir).unionAll(bh)
                .groupBy(col("v")).agg(fsum(col("c")).as("c"))
            else bh
          // rewrite-then-swap would be the production move; overwrite
          // into a fresh subdir keeps the test simple
          val out = synDir + "_next"
          merged.write.mode("overwrite").parquet(out)
          spark.read.parquet(out).write.mode("overwrite").parquet(synDir)
          ()
      }.start()
    q.processAllAvailable(); q.stop()
    def buckets(hist: org.apache.spark.sql.DataFrame) = {
      val (grid, freqs) =
        graft.operators.Stats.equiRankGridFreqs(hist, 8)
      val gv = grid.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      graft.operators.Stats.vOptimalDp(freqs, g = 8, k = 3)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
          gv(r.getInt(2)), r.getLong(3), r.getDouble(4))).sortBy(_._1)
        .toSeq
    }
    val streamed = buckets(spark.read.parquet(synDir))
    val direct = buckets((batch1 ++ batch2).toDF("id", "v")
      .groupBy(col("v")).agg(count(lit(1)).as("c")))
    assert(streamed.nonEmpty && streamed == direct)
    assert(streamed.map(_._5).sum == 90L) // every row accounted for
  }

  test("crawl cleaning gate (URL canonical dedup + Gopher rules) composes over a stream") {
    // the canonicalizer and every Gopher rule are stateless codegen'd
    // projections, so they run on a streaming frame unchanged; canonical-
    // URL dedup becomes dropDuplicatesWithinWatermark on the canonical
    // key — watermark-bounded state, the streaming form of q113's
    // keep-first semantics. Differential pin vs the batch run.
    val s = spark
    import s.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000)
    val body = Seq.fill(30)("the and").mkString(" ")
    val df = Seq(
      (0L, at(1), "https://example.com/a?utm_source=x", body),
      (1L, at(2), "HTTPS://EXAMPLE.com:443/a", body),        // dup of 0
      (2L, at(3), "https://example.com/b", "zz zz"),          // fails rules
      (3L, at(4), "https://example.com/a#frag", body)         // dup of 0
    ).toDF("doc_id", "ts", "url", "text")
    val dir = Files.createTempDirectory("graft-url-stream").toString
    df.write.mode("overwrite").parquet(dir)
    def gate(d: org.apache.spark.sql.DataFrame) = {
      val canon = d.withColumn("canonical_url",
        graft.operators.Urls.canonical(col("url")))
      val deduped =
        if (d.isStreaming) canon.withWatermark("ts", "10 minutes")
          .dropDuplicatesWithinWatermark("canonical_url")
        else canon.dropDuplicates("canonical_url")
      // the struct key threads (doc_id, canonical_url) through the rule
      // projection, in the id column, without a stream-stream self-join
      // back
      graft.operators.TextAnalysis.gopherRules(
          deduped.select(struct(col("doc_id"), col("canonical_url"))
            .as("doc_id"), col("text")))
        .select(col("doc_id.doc_id").as("doc_id"),
          col("doc_id.canonical_url").as("canonical_url"),
          col("n_words"), col("word_chars"), col("stop_cnt"),
          col("alpha_words"), col("symbol_cnt"), col("n_fail"), col("keep"))
    }
    val q = gate(spark.readStream.schema(df.schema).parquet(dir))
      .writeStream.outputMode("append")
      .format("memory").queryName("url_gate_out").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("url_gate_out").collect().toSeq
    // one of {0,1,3} (same canonical) survives plus 2; the keeper's rule
    // verdict is keep=true, doc 2 fails
    assert(got.size == 2)
    val byKeep = got.map(r => r.getBoolean(8) -> r.getLong(0)).toMap
    assert(Set(0L, 1L, 3L).contains(byKeep(true)) && byKeep(false) == 2L)
    assert(got.map(_.getString(1)).toSet ==
      Set("https://example.com/a", "https://example.com/b"))
    // differential: batch over any single representative of the dup set
    // produces the same rule columns for the survivor
    def key(rows: Seq[org.apache.spark.sql.Row]) = rows.map(r =>
      r.getString(1) -> ((r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getBoolean(8)))).toMap
    val batch = gate(df.filter(col("doc_id").isin(0L, 2L))).collect().toSeq
    assert(key(got) == key(batch))
  }

  test("token-window chunking composes unchanged over a streaming corpus") {
    // chunkDocuments is split -> explode -> slice, all stateless
    // projections, so the SAME operator runs on a streaming frame with
    // no changes. Differential pin: streaming chunks == batch chunks.
    val s = spark
    import s.implicits._
    val df = Seq(
      (0L, "a b c d e f g h"),
      (1L, "x y"),
      (2L, "")
    ).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-chunk-stream").toString
    df.write.mode("overwrite").parquet(dir)
    val q = graft.operators.TextAnalysis
      .chunkDocuments(spark.readStream.schema(df.schema).parquet(dir), chunkLen = 5, stride = 3)
      .writeStream.outputMode("append")
      .format("memory").queryName("chunk_stream_out").start()
    q.processAllAvailable(); q.stop()
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("doc_id", "chunk_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3))).toSeq
    val got = rows(spark.table("chunk_stream_out"))
    val batch = rows(graft.operators.TextAnalysis
      .chunkDocuments(df, chunkLen = 5, stride = 3))
    assert(got.nonEmpty && got == batch)
  }

  test("content-defined chunking composes unchanged over a streaming corpus") {
    // the CdcPairs cut scan + digest projection is stateless map-side
    // work, so the dupCounts=false form runs on a streaming frame as-is;
    // only the corpus-wide dup-count window belongs to the batch side.
    val s = spark
    import s.implicits._
    val df = Seq(
      (0L, "the quick brown fox jumps over the lazy dog repeatedly"),
      (1L, "the quick brown fox jumps over the lazy dog repeatedly"),
      (2L, ""), (3L, "abc")
    ).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-cdc-stream").toString
    df.write.mode("overwrite").parquet(dir)
    val q = graft.operators.TextAnalysis
      .cdcChunks(spark.readStream.schema(df.schema).parquet(dir), dupCounts = false)
      .writeStream.outputMode("append")
      .format("memory").queryName("cdc_stream_out").start()
    q.processAllAvailable(); q.stop()
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("id", "chunk_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
          r.getString(4))).toSeq
    val got = rows(spark.table("cdc_stream_out"))
    val batch = rows(graft.operators.TextAnalysis
      .cdcChunks(df, dupCounts = false))
    assert(got.nonEmpty && got == batch)
  }

  test("image perceptual hashing composes over a streaming media source") {
    // extractImageHashes is a stateless mapPartitions kernel, so the SAME
    // operator runs on a streaming Dataset[MediaRow] with no changes —
    // the multimodal pipeline's streaming face. Differential pin:
    // streaming hashes == batch hashes, corrupt rows flagged not dropped.
    val s = spark
    import s.implicits._
    import graft.operators.Multimodal
    val docs = Seq((0L, "x"), (25L, "x"), (75L, "x"), (199L, "corrupt"))
      .toDF("doc_id", "text")
    val media = Multimodal.dhashMediaFromDocuments(docs, nGroups = 25L)
    val dir = Files.createTempDirectory("graft-media-stream").toString
    media.toDF().write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(media.schema).parquet(dir)
      .as[Multimodal.MediaRow]
    val q = Multimodal.extractImageHashes(stream).toDF()
      .writeStream.outputMode("append")
      .format("memory").queryName("media_hash_out").start()
    q.processAllAvailable(); q.stop()
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSet
    val got = key(spark.table("media_hash_out"))
    val batch = key(Multimodal.extractImageHashes(media).toDF())
    assert(got == batch && got.size == 4)
    assert(got.count(!_._3) == 1) // the corrupt row is flagged, not lost
  }

  test("checkpoint resume: restart processes only new files, no duplicates") {
    val s = spark
    import s.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000)
    val schema = Seq((0L, at(0), 0L, "x", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value").schema
    val src = Files.createTempDirectory("graft-resume-src").toString
    val out = Files.createTempDirectory("graft-resume-out").toString
    val cp = Files.createTempDirectory("graft-resume-cp").toString

    def run(): Unit = {
      val agg = EventStream.windowedAgg(
        EventStream.readEvents(spark, src, schema), "5 minutes", "0 seconds")
      val q = EventStream.writeToWarehouse(agg, s"$out/data", cp)
      q.awaitTermination(60000)
    }

    Seq((0L, at(1), 1L, "click", 1.0), (1L, at(2), 1L, "click", 2.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("append").parquet(src)
    run()
    // second batch arrives later, past the first window
    Seq((2L, at(30), 1L, "view", 3.0), (3L, at(40), 1L, "view", 4.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("append").parquet(src)
    run() // restart from the SAME checkpoint
    val table = spark.read.parquet(s"$out/data")
      .groupBy("window_start", "event_type")
      .agg(org.apache.spark.sql.functions.sum("n_events").as("n"))
      .collect()
    // window [00:00,00:05) x click must appear exactly once with n=2 —
    // a rerun without checkpoint state would double-write it
    val clicks = table.filter(_.getAs[String]("event_type") == "click")
    assert(clicks.length == 1 && clicks(0).getAs[Long]("n") == 2L)
  }

  test("batch replay is idempotent: rewriting a batch never duplicates rows") {
    val s = spark
    import s.implicits._
    val out = Files.createTempDirectory("graft-replay-out").toString
    val batch = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "click", 2L, 3.0),
      (java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), "view", 1L, 1.0))
      .toDF("window_start", "event_type", "n_events", "sum_value")
    EventStream.upsertBatch(batch, 7L, s"$out/data")
    // a foreachBatch replay after checkpoint recovery re-runs the SAME
    // batchId with the same data — the (day, batch_id) dynamic overwrite
    // must replace, not append
    EventStream.upsertBatch(batch, 7L, s"$out/data")
    val table = spark.read.parquet(s"$out/data")
    assert(table.count() == 2)
    // a different batch id lands alongside, untouched by the replay
    EventStream.upsertBatch(batch.limit(1), 8L, s"$out/data")
    assert(spark.read.parquet(s"$out/data").count() == 3)
    EventStream.upsertBatch(batch.limit(1), 8L, s"$out/data")
    assert(spark.read.parquet(s"$out/data").count() == 3)
  }

  test("foreachBatch warehouse sink writes day-partitioned parquet") {
    val (dir, schema) = eventsDir
    val out = Files.createTempDirectory("graft-stream-wh").toString
    val cp = Files.createTempDirectory("graft-stream-cp").toString
    val agg = EventStream.windowedAgg(
      EventStream.readEvents(spark, dir, schema), "5 minutes", "10 minutes")
    val q = EventStream.writeToWarehouse(agg, s"$out/data", cp)
    q.awaitTermination(60000)
    val table = spark.read.parquet(s"$out/data")
    assert(table.columns.contains("day"))
    assert(table.count() == 2)
  }

  test("streaming KMV sketch update == the batch sketch (order-invariant merge)") {
    // q123's monitoring face: the per-slice KMV sketch is an algebraic
    // aggregate (bounded KMinStringsAgg buffer), so maintaining it over
    // a document stream in complete mode must converge to EXACTLY the
    // batch sketch — the merge is order/batching-invariant by the
    // aggregator's sorted-set semantics. That is what makes the sketch a
    // maintainable artifact (today's stream vs yesterday's snapshot)
    // rather than a batch-only summary.
    val s = spark
    import s.implicits._
    val df = Seq(
      ("en", "the quick brown fox jumps over the lazy dog"),
      ("en", "the quick brown cat naps under the old tree"),
      ("de", "der hund und die katze sind nicht da heute")
    ).toDF("lang", "text")
    val dir = Files.createTempDirectory("graft-kmv-stream").toString
    // two files -> at least two micro-batches with maxFilesPerTrigger=1
    df.filter(col("lang") === "en").repartition(1)
      .write.mode("overwrite").parquet(dir)
    df.filter(col("lang") === "de").repartition(1)
      .write.mode("append").parquet(dir)
    def sketch(d: org.apache.spark.sql.DataFrame) = {
      val kmin = udaf(new graft.functions.KMinStringsAgg(4))
      d.select(col("lang").as("slice"),
          explode(graft.operators.TextAnalysis.shingles(col("text"), 3))
            .as("sh"))
        .select(col("slice"), md5(col("sh")).as("h"))
        .groupBy(col("slice")).agg(kmin(col("h")).as("hs"))
    }
    val q = sketch(spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1).parquet(dir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("kmv_out").start()
    q.processAllAvailable(); q.stop()
    def toMap(rows: Seq[org.apache.spark.sql.Row]) =
      rows.map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    val streamed = toMap(spark.table("kmv_out").collect().toSeq)
    val batch = toMap(sketch(df).collect().toSeq)
    assert(streamed == batch && batch("en").size == 4)
  }

  test("streaming DP release == the batch noisy counts (deterministic " +
    "noise over a complete-mode aggregate)") {
    // q195's monitoring face: the Laplace noise is a pure projection of
    // the group key, so maintaining the release over a stream (complete-
    // mode count + map-side noise) must produce EXACTLY the batch
    // release once the stream drains — which is what lets a privacy
    // dashboard publish continuously without a separate batch job.
    val s = spark
    import s.implicits._
    val df = (1 to 40).map(i => (i, if (i % 3 == 0) "a" else "b"))
      .toDF("id", "event_type")
    val dir = Files.createTempDirectory("graft-dp-stream").toString
    df.filter(col("id") <= 20).repartition(1)
      .write.mode("overwrite").parquet(dir)
    df.filter(col("id") > 20).repartition(1)
      .write.mode("append").parquet(dir)
    val q = graft.operators.Stats
      .dpNoisyCounts(spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1).parquet(dir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("dp_out").start()
    q.processAllAvailable(); q.stop()
    def toMap(rows: Seq[org.apache.spark.sql.Row]) =
      rows.map(r => r.getString(0) -> r.getDouble(1)).toMap
    val streamed = toMap(spark.table("dp_out").collect().toSeq)
    val batch = toMap(graft.operators.Stats
      .dpNoisyCounts(df).collect().toSeq)
    assert(streamed == batch && batch.size == 2)
  }

  test("stream-stream interval join matches the static BETWEEN join") {
    val s = spark
    import s.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000)
    // clicks (left) and purchases (right): purchase within 10 min of a
    // click by the same user correlates; user 2's purchase is too late,
    // user 3 has no click
    val clicks = Seq((1L, at(1), 100L), (1L, at(30), 101L),
      (2L, at(5), 102L)).toDF("user_id", "ts", "click_id")
    val buys = Seq((1L, at(4), 900L), (1L, at(35), 901L),
      (2L, at(40), 902L), (3L, at(6), 903L)).toDF("user_id", "ts", "buy_id")
    val cd = Files.createTempDirectory("graft-ssj-c").toString
    val bd = Files.createTempDirectory("graft-ssj-b").toString
    clicks.write.mode("overwrite").parquet(cd)
    buys.write.mode("overwrite").parquet(bd)
    val joined = EventStream.intervalJoinStreams(
      spark.readStream.schema(clicks.schema).parquet(cd),
      spark.readStream.schema(buys.schema).parquet(bd),
      "user_id", "ts", "10 minutes", "5 minutes")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    q.processAllAvailable(); q.stop()
    def pairs(rows: Seq[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[Long]("l_click_id"), r.getAs[Long]("r_buy_id")))
      .sorted
    val streamed = pairs(spark.table("ssj_out").collect().toSeq)
    // static truth: plain BETWEEN join over the same frames
    val static = clicks.alias("c").join(buys.alias("b"),
        expr("c.user_id = b.user_id AND b.ts >= c.ts " +
          "AND b.ts <= c.ts + INTERVAL 10 minutes"))
      .select(col("c.click_id"), col("b.buy_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(streamed == static)
    assert(static == Seq((100L, 900L), (101L, 901L)))
  }

  test("streaming count-min cells == the batch sketch (cell-wise " +
    "additive merge)") {
    // q215's mergeability contract end-to-end: the sketch a stream
    // maintains incrementally (groupBy over the shared cmsDepthBuckets
    // kernel, complete mode) must equal the batch sketch over the same
    // corpus cell for cell — CMS cells are additive counts, so
    // microbatch arrival order cannot matter
    val s = spark
    import s.implicits._
    val df = Seq((0L, "a b a c"), (1L, "b c d"), (2L, "a d e f g"),
      (3L, "c c c"), (4L, "h a b")).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-cms-stream").toString
    df.write.mode("overwrite").parquet(dir)
    def cells(src: org.apache.spark.sql.DataFrame) = src
      .select(explode(graft.operators.TextAnalysis.tokens(col("text")))
        .as("token"))
      .select(graft.operators.Stats.cmsDepthBuckets(col("token"), 3, 32)
        .as("db"))
      .select(col("db.depth").as("depth"), col("db.bucket").as("bucket"))
      .groupBy(col("depth"), col("bucket")).count()
    val h = cells(spark.readStream.schema(df.schema).parquet(dir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("cms_out").start()
    h.processAllAvailable(); h.stop()
    val streamed = spark.table("cms_out").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = cells(df).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == batch)
    assert(batch.values.sum == 3L * 18L, "3 depths x 18 tokens")
  }

  test("streaming DAU/WAU == batch activeUsers (complete-mode aggregate)") {
    // the q160 engagement series maintained over a stream: the same
    // map-side day fan-out (explode to the covered days) feeds a
    // distinct-user count per (covered day) — expressed as the
    // approx-free two-level aggregate (distinct (user, day) first, then
    // count) in COMPLETE output mode, the maintainable form of the
    // batch operator. Differential: the streaming table must equal the
    // batch activeUsers rows for every day the stream has fully covered.
    val s = spark
    import s.implicits._
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-03-$d%02d 10:00:00")
    val df = Seq((1L, ts(1)), (1L, ts(1)), (1L, ts(5)), (2L, ts(1)),
      (3L, ts(3)), (2L, ts(5))).toDF("u", "ts")
    val dir = Files.createTempDirectory("graft-au-stream").toString
    df.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(df.schema).parquet(dir)
    // two stacked aggregations need complete mode; state is bounded by
    // users x days (the same cardinality the batch operator shuffles)
    val wau = stream
      .select(col("u"), explode(sequence(to_date(col("ts")),
        date_add(to_date(col("ts")), 6))).as("day"))
      .groupBy(col("u"), col("day")).agg(count(lit(1)).as("k"))
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    // stacked aggregations trip the global-watermark heuristic even
    // though THIS query has no watermark and complete mode recomputes
    // from full state each batch — nothing can be late or dropped.
    // Scope the opt-out to this query and restore after.
    val ck = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val prev = spark.conf.getOption(ck)
    spark.conf.set(ck, "false")
    try {
      val h = wau.writeStream.outputMode("complete")
        .format("memory").queryName("au_out").start()
      h.processAllAvailable(); h.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(ck, v)
      case None => spark.conf.unset(ck)
    }
    val streamed = spark.table("au_out").collect()
      .map(r => (r.getDate(0).toString, r.getLong(1))).toMap
    val batch = graft.operators.TimeSeries
      .activeUsers(df.withColumnRenamed("u", "user_id"))
      .collect().map(r => (r.getDate(0).toString, r.getLong(2))).toMap
    // every day the batch operator reports must carry the identical WAU
    for ((d, w) <- batch) assert(streamed.get(d).contains(w), d)
  }
}
