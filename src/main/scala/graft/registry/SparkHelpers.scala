package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, TextAnalysis}

/** Spark-side helpers shared by the query bodies: table access, exact
  * decimal sums, persisted artifacts and bodies used by several queries. */
private[graft] object SparkHelpers {

  /** The table slice a tiered spec's bench body reads in place of the
    * whole table (see [[QuerySpec.tierBody]]); None outside that body. */
  val tableSlice = new scala.util.DynamicVariable[Option[Slice]](None)

  /** Input table `name` of the sf dir `dir`, or its [[tableSlice]] when one is
    * set for that table. */
  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = read(s, dir, name)
    tableSlice.value.filter(_.table == name)
      .fold(df)(sl => hashSample(df, sl.key, sl.n))
  }

  private def read(s: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts arrives in whatever physical type the generator chose for
    // this round — TIMESTAMP(NANOS) (Spark reads it only as a long, via
    // spark.sql.legacy.parquet.nanosAsLong) or TIMESTAMP(MICROS) without
    // the UTC flag (Spark reads TIMESTAMP_NTZ). Normalize both to the
    // session-UTC TimestampType DuckDB produces, so every downstream
    // epoch cast / window / interval op sees one type across rounds.
    if (name == "events") {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = s.read.parquet(s"$dir/$name.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts",
            col("ts").cast(org.apache.spark.sql.types.TimestampType))
        case _ => raw
      }
    } else s.read.parquet(s"$dir/$name.parquet")
  }

  /** The shared fact-fact join+agg body of q52/q53 (SMJ forced so the
    * variants differ ONLY in whether the join input partitioning comes
    * from bucket layout or a per-query shuffle). */
  def factJoinAgg(li: DataFrame, o: DataFrame): DataFrame =
    li.join(o.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))

  /** Bucketed persisted copies of lineitem/orders, keyed by the join key
    * with matching bucket counts (the BucketingSpec layout applied to the
    * bench tables). Written once per (warehouse, sf dir); later runs —
    * including the bench's best-of-N second pass — reuse the files. */
  def bucketedFacts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_").toLowerCase
    val specs = Seq(
      (s"li_bkt_$tag", "lineitem", "l_orderkey"),
      (s"o_bkt_$tag", "orders", "o_orderkey"))
    specs.foreach { case (nm, src, key) =>
      if (!s.catalog.tableExists(nm)) {
        // the in-memory catalog forgets tables across JVMs: clear any
        // stale directory, then (re)write the bucketed table
        val wh = new java.net.URI(s.conf.get("spark.sql.warehouse.dir"))
          .getPath
        val p = new org.apache.hadoop.fs.Path(wh, nm)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        t(s, dir, src).write.bucketBy(32, key).sortBy(key)
          .mode("overwrite").saveAsTable(nm)
      }
    }
    (s.table(specs(0)._1), s.table(specs(1)._1))
  }

  /** sum(CAST(c AS DECIMAL(38,6))) cast back to double — the engine-portable
    * exact sum. */
  def dsum(c: Column): Column =
    sum(c.cast("decimal(38,6)")).cast("double")

  /** The PQ codebook for a corpus dir — a persisted model artifact, trained
    * once (the q70 pattern: a real pipeline has yesterday's model on disk);
    * q72 and q77 share it, so the timed query bodies pay encode + ADC scan
    * + recall check, never training. */
  def pqCodebookFor(s: SparkSession, dir: String,
                            emb: DataFrame): Array[Array[Array[Float]]] = {
    // cache key = md5 of the absolute path (collision-resistant, unlike
    // the 32-bit String.hashCode), and a sidecar row-count fingerprint
    // guards validity: regenerated data under the same dir retrains
    // instead of silently reusing a stale codebook (which would surface
    // only as a confusing recall-gate failure)
    val cbDir = new java.io.File(
      s".bench/q72_cb_${corpusKey(dir)}").getAbsolutePath
    val nRows = emb.count()
    val metaFile = new java.io.File(s"$cbDir.rows")
    val cacheValid = new java.io.File(s"$cbDir/_SUCCESS").exists() &&
      metaFile.exists() &&
      scala.util.Try(new String(java.nio.file.Files
        .readAllBytes(metaFile.toPath), "UTF-8").trim.toLong)
        .toOption.contains(nRows)
    if (cacheValid) {
      s.read.parquet(cbDir).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
        .groupBy(_._1).toArray.sortBy(_._1)
        .map(_._2.sortBy(_._2).map(_._3))
    } else {
      val trained =
        Similarity.trainPqCodebooks(emb, m = 8, ksub = 32, iters = 3)
      val sess = s; import sess.implicits._
      trained.zipWithIndex.flatMap { case (cbj, j) =>
        cbj.zipWithIndex.map { case (v, c) => (j, c, v.toSeq) }
      }.toSeq.toDF("j", "c", "vec")
        .withColumn("vec", col("vec").cast("array<float>"))
        .coalesce(1).write.mode("overwrite").parquet(cbDir)
      java.nio.file.Files.write(metaFile.toPath,
        nRows.toString.getBytes("UTF-8"))
      trained
    }
  }

  /** Trained quality-classifier weights for a corpus dir — the same
    * persisted-model-artifact contract as [[pqCodebookFor]]: a real
    * pipeline trains the filter once and audits/scoring reuse it, so
    * the timed bodies of q91/q166 pay scoring (and q166's calibration
    * bins), not the T-scan GD train. Row-count fingerprint guards
    * staleness; full-precision doubles round-trip via
    * `java.lang.Double.toString` (shortest-exact). */
  def logRegWeightsFor(s: SparkSession, dir: String,
                               docs: DataFrame,
                               label: org.apache.spark.sql.Column,
                               iters: Int): Array[Double] = {
    val f = new java.io.File(
      s".bench/q91_w_${corpusKey(dir)}_$iters").getAbsoluteFile
    val nRows = docs.count()
    val cached = scala.util.Try {
      val lines = new String(java.nio.file.Files.readAllBytes(f.toPath),
        "UTF-8").trim.split("\n")
      require(lines(0).toLong == nRows)
      lines(1).split(",").map(_.toDouble)
    }.toOption
    cached.getOrElse {
      val w = operators.QualityClassifier.trainLogReg(docs, label,
        iters = iters)
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath,
        (nRows.toString + "\n" + w.map(_.toString).mkString(","))
          .getBytes("UTF-8"))
      w
    }
  }

  /** The messy-URL fixture column (q113/q120): per doc_id, one of four
    * fetch-URL variants of the same canonical page (explicit default
    * port, upper-case scheme+host+trailing slash, utm tracking params,
    * fragment) — groups of 4 consecutive ids share a canonical, hosts
    * cycle over 20 sites, a real `?page=` param survives
    * canonicalization. The oracle predicts canonical/host/domain
    * arithmetically from this derivation; Spark must recover them
    * through the real parser. */
  def messyUrlCol: org.apache.spark.sql.Column = {
    val g = expr("doc_id div 4")
    val base = concat(lit("www.site"), (g % 20).cast("string"),
      lit(".example.com"))
    val pageQ = concat(lit("?page="), (g % 3).cast("string"))
    when(col("doc_id") % 4 === 0,
        concat(lit("https://"), base, lit(":443/docs/"),
          g.cast("string"), pageQ))
      .when(col("doc_id") % 4 === 1,
        concat(lit("HTTPS://"), upper(base), lit("/docs/"),
          g.cast("string"), lit("/"), pageQ))
      .when(col("doc_id") % 4 === 2,
        concat(lit("https://"), base, lit("/docs/"), g.cast("string"),
          lit("?utm_source=feed&page="), (g % 3).cast("string"),
          lit("&utm_campaign=c")))
      .otherwise(
        concat(lit("https://"), base, lit("/docs/"), g.cast("string"),
          pageQ, lit("#sec-2")))
  }

  /** Collision-resistant per-corpus key for `.bench` artifact dirs — md5 of
    * the absolute path (String.hashCode is 32-bit and collides across real
    * corpus paths). */
  def corpusKey(dir: String): String = {
    val abs = new java.io.File(dir).getAbsolutePath
    java.security.MessageDigest.getInstance("MD5")
      .digest(abs.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(16)
  }

  /** Build-or-reuse a persisted parquet index artifact. A row-count sidecar
    * guards staleness: regenerated data under the same dir rebuilds the
    * index instead of silently searching a stale one (which would surface
    * only as a confusing recall/oracle failure). Returns the parquet path
    * of the materialized index. */
  def ensurePersistedIndex(idxDir: String, nRows: Long)
                                  (build: => DataFrame): String = {
    val idxPath = s"$idxDir/mat_0"
    val metaFile = new java.io.File(s"$idxDir.rows")
    val valid = new java.io.File(s"$idxPath/_SUCCESS").exists() &&
      metaFile.exists() &&
      scala.util.Try(new String(java.nio.file.Files
        .readAllBytes(metaFile.toPath), "UTF-8").trim.toLong)
        .toOption.contains(nRows)
    if (!valid) {
      graft.operators.Materializer.Persisted(idxDir)(build)
      java.nio.file.Files.write(metaFile.toPath,
        nRows.toString.getBytes("UTF-8"))
    }
    idxPath
  }

  /** Shared builder of the q300/q303 funnel survivorship table:
    * (doc_id, ntk, c1..c7) — c_k = survived stages 1..k (gates, exact
    * dedup keep-min, near-dup drop, decontamination, langid, quality).
    * Stage flags are computed once per doc on the full corpus. */
  def funnelCum(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val tk = operators.TextAnalysis.tokens(col("text"))
    val flags0 = d.select(col("doc_id"),
      (length(col("text")) >= 200 &&
        when(length(col("text")) > 0,
          length(regexp_replace(col("text"), "[^A-Za-z]", "")) * 10
            >= length(col("text")) * 6).otherwise(false) &&
        size(tk) >= 30).as("f_gates"),
      size(tk).cast("long").as("ntk"),
      (operators.TextAnalysis.langId === "en")
        .as("f_lang"),
      (round(operators.TextAnalysis.qualityScore, 6)
        >= 0.3).as("f_qual"),
      md5(col("text")).as("k"))
    val wk = d.groupBy(md5(col("text")).as("k"))
      .agg(min(col("doc_id")).as("keep"))
    val nd = Dedup.minhashLshPairs(d, bands = 4, threshold = 0.5, fast = false)
      .select(col("b_id")).distinct()
    val ov = TextAnalysis.contaminationOverlap(d,
        d.filter(col("doc_id") < 10))
      .select(col("id").as("doc_id"), col("n_overlap"))
    val cum = flags0.join(wk, Seq("k"))
      .join(nd, col("doc_id") === col("b_id"), "left")
      .join(ov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("ntk"),
        lit(true).as("c1"),
        col("f_gates").as("c2"),
        (col("f_gates") && col("doc_id") === col("keep")).as("c3"),
        (col("f_gates") && col("doc_id") === col("keep")
          && col("b_id").isNull).as("c4"),
        (col("f_gates") && col("doc_id") === col("keep")
          && col("b_id").isNull && col("doc_id") >= 10
          && coalesce(col("n_overlap"), lit(0L)) === 0).as("c5"),
        (col("f_gates") && col("doc_id") === col("keep")
          && col("b_id").isNull && col("doc_id") >= 10
          && coalesce(col("n_overlap"), lit(0L)) === 0
          && col("f_lang")).as("c6"),
        (col("f_gates") && col("doc_id") === col("keep")
          && col("b_id").isNull && col("doc_id") >= 10
          && coalesce(col("n_overlap"), lit(0L)) === 0
          && col("f_lang") && col("f_qual")).as("c7"))
    cum
  }

  /** Spark twin of the oracle's `orderGridCtes`: the synopsis family's
    * shared input — order totals in cents, value histogram (ONE corpus
    * exchange), 32-point equi-rank grid via exact integer rank
    * thresholds, dense (t, f) frequency sequence. Returns
    * (grid (t, gv), freqs (t, f)); both bounded, both checkpointed. */
  def orderGridFreqs(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    operators.Stats.equiRankGridFreqs(
      t(s, dir, "orders")
        .select((col("o_totalprice") * 100).cast("long").as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("c")),
      g = 32)

  /** Deterministic hash-sample: keep rows whose key xxhash64 lands in
    * residue 0 of `mod` — the engine-portable corpus slice the sf1-class
    * bench tier uses for the super-linear exact-audit queries. */
  def hashSample(df: DataFrame, keyCol: String, mod: Int): DataFrame =
    df.filter(pmod(xxhash64(col(keyCol)), lit(mod)) === 0)

  /** q315's blocklist — lowercase phrases over the corpus vocabulary,
    * including two ABSENT ones (exact zeros are part of the contract)
    * and a nested pair ("fast" / "fast fast") that exercises the
    * automaton's suffix-output links. Shared by the query and the
    * oracle's VALUES list. */
  val blocklistPatterns: Seq[String] = Seq(
    "big big", "buy now", "click here", "fast", "fast fast",
    "slow scan", "table", "table table")

  /** q323's dictionary-scale blocklist: every trigram phrase over a
    * fixed 15-word vocabulary (15^3 = 3375 patterns, ~18k trie nodes) —
    * large enough to force [[graft.functions.BlocklistHits]] onto its
    * sparse CSR representation, small enough for the oracle's
    * replace()-per-(doc, pattern) replay to stay cheap. */
  val dictBlocklistVocab: Seq[String] = Seq(
    "join", "hash", "row", "batch", "scan", "customer", "column",
    "filter", "small", "slow", "merge", "order", "vector", "line",
    "data")
  lazy val dictBlocklistPatterns: Seq[String] =
    for {
      a <- dictBlocklistVocab
      b <- dictBlocklistVocab
      c <- dictBlocklistVocab
    } yield s"$a $b $c"

  /** q325's funnel blocklist: multi-word phrases only (every doc of the
    * word-soup corpus contains single common words, which would zero
    * the funnel's tail). */
  val funnelBlocklist: Seq[String] = Seq(
    "big big", "buy now", "click here", "fast fast", "slow scan",
    "table table")

  /** The q325 oracle's containment OR-chain, generated from the SAME
    * Seq the Spark automaton gate consumes — the two sides cannot
    * drift. */
  lazy val funnelBlocklistSql: String =
    funnelBlocklist.map(p => s"contains(lower(a.t), '$p')")
      .mkString("\n       OR ")

  /** Oracle-side fragments shared with the Spark operators: q320's
    * diacritic fold table (must be the identical character mapping on
    * both sides) and q323's dictionary vocabulary as a DuckDB list
    * literal. */
  lazy val translitDia = TextAnalysis.diacritics
  lazy val translitFold = TextAnalysis.diacriticsFolded
  lazy val dictVocabSql =
    dictBlocklistVocab.map(w => s"'$w'").mkString("[", ", ", "]")

  /** The support>=2 co-purchase part graph q273 walks: one edge per part
    * pair that co-occurs in >= 2 orders. */
  /** (pa, pb, cm) co-purchase pair supports via ONE basket aggregation:
    * group lineitem by order (one exchange), enumerate the <=21 in-basket
    * index pairs map-side (baskets are <=7 items, so the fan-out is
    * bounded), then count. Replaces the orderkey SELF-JOIN shape (two
    * lineitem scans + two join exchanges + the pair aggregate) with one
    * scan + two exchanges — measured 2.9 s -> 1.5 s warm at sf0.1 on the
    * bare edge build, identical pair multiset (each unordered row pair
    * appears exactly once in both shapes; exceptAll both ways == 0). */
  def copurchasePairCounts(li: DataFrame): DataFrame =
    basketPairCounts(li.select(col("l_orderkey").as("ok"),
      col("l_partkey").as("pk")))

  /** Generalized in-basket pair supports — see [[operators.Baskets]]. */
  def basketPairCounts(bi: DataFrame): DataFrame = {
    val bkCol = "ok"
    val itCol = "pk"
    operators.Baskets.basketPairCounts(bi, bkCol, itCol)
  }

  /** The support>=2 co-purchase part graph (src < dst). */
  def copurchaseEdges(li: DataFrame): DataFrame =
    copurchasePairCounts(li)
      .filter(col("cm") >= 2)
      .select(col("pa").as("src"), col("pb").as("dst"))

  /** Brandes-Pich fixed pivot budget: the K lowest graph nodes by md5
    * hash-rank (node tiebreak) — a deterministic uniform sample whose
    * size is CONSTANT in the corpus, so sampled-betweenness work is
    * K x edges (linear) at every SF. Engine-portable: DuckDB's
    * `ORDER BY md5(CAST(node AS VARCHAR)), node LIMIT K` picks the
    * identical set. The K-row result is bounded-by-construction
    * (GlobalLimit), so the seed-side joins inside the BFS stay guard-
    * clean. */
  def betweennessPivots(edges: DataFrame): DataFrame = {
    val k = 16
    edges.select(col("src").as("node"))
      .unionAll(edges.select(col("dst").as("node"))).distinct()
      .orderBy(md5(col("node").cast("string")), col("node"))
      .limit(k)
  }

  /** Truncated rank-biased-overlap contribution table (Webber et al.
    * 2010), p = 0.9, depth 10: c(m) = (1-p)·Σ_{d=m..10} p^(d-1)/d is
    * what ONE shared doc first covered at depth m adds to RBO@10. Exact
    * decimal strings (12 places, HALF_UP at the division only — p^(d-1)
    * is exact), shared VERBATIM with the q290 oracle's VALUES table. */
  lazy val rboWeights: Seq[(Int, String)] = {
    val p = BigDecimal("0.9")
    (1 to 10).map { m =>
      val tail = (m to 10).map { d =>
        (p.pow(d - 1) / BigDecimal(d))
          .setScale(14, BigDecimal.RoundingMode.HALF_UP)
      }.sum
      m -> ((BigDecimal(1) - p) * tail)
        .setScale(12, BigDecimal.RoundingMode.HALF_UP).toString
    }
  }

  /** Exact Shapley coalition enumeration for 4 players shared VERBATIM
    * with the q264 oracle's VALUES table: (player g, coalition without
    * g as bitmask, coalition with g, weight |S|!(3−|S|)!/4!). */
  lazy val shapleyCoalitions: Seq[(Int, Int, Int, Double)] = {
    def fact(x: Int): Long = (1 to x).foldLeft(1L)(_ * _)
    for {
      g <- 0 until 4
      s <- 0 until 16
      if (s & (1 << g)) == 0
    } yield {
      val size = Integer.bitCount(s)
      (g, s, s | (1 << g),
        fact(size) * fact(3 - size) / 24.0)
    }
  }

  /** JL ±1 sign matrix (Achlioptas 2003) shared VERBATIM between the
    * q250 Spark projection and its oracle's VALUES table: sign(k)(j)
    * for target dim k < 16, source dim j < 64, + iff the first hex
    * char of md5("jl|k|j") is below '8'. */
  lazy val jlSigns: Array[Array[Double]] =
    Array.tabulate(16, 64) { (k, j) =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"jl|$k|$j".getBytes("UTF-8"))
      if ((h(0) & 0x80) == 0) 1.0 else -1.0
    }
}
