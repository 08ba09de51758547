package graft

import java.security.MessageDigest

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.operators.{Dedup, Sessionize, Similarity, TextAnalysis}
import graft.registry.SparkHelpers

class OperatorsSpec extends SparkSpec {

  private val longA = "the quick brown fox jumps over the lazy dog while " +
    "seven silent owls watch from the tall oak tree at midnight"
  private val longB = "the quick brown fox jumps over the lazy cat while " +
    "seven silent owls watch from the tall oak tree at midnight"

  private def docsDf = {
    val s = spark
    import s.implicits._
    Seq(
      (0L, longA),
      (1L, longB),                                            // near-dup of 0
      (2L, "completely different content about spark engines here"),
      (3L, longA),                                            // exact dup of 0
      (4L, "der hund und die katze sind nicht da")
    ).toDF("doc_id", "text")
  }

  test("tokens and shingles") {
    val r = docsDf.filter(col("doc_id") === 0)
      .select(TextAnalysis.tokens(col("text")).as("t"),
        TextAnalysis.shingles(col("text"), 3).as("s"))
      .collect()(0)
    assert(r.getSeq[String](0).length == 21)
    val sh = r.getSeq[String](1)
    assert(sh.length == 19 && sh.head == "the quick brown")
  }

  test("langId picks the profile with most stopword hits") {
    val r = docsDf.select(col("doc_id"),
        TextAnalysis.langId.as("lang"))
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r(4L) == "de")
    assert(r(0L) == "en")
  }

  test("fingerprint is deterministic and order-sensitive") {
    val fps = docsDf.select(col("doc_id"),
        TextAnalysis.fingerprint.as("fp"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(fps(0L) == fps(3L))   // identical docs
    assert(fps(0L) != fps(1L))   // one word differs
  }

  test("minhash_sig md5 variant matches a hand computation") {
    val sig = docsDf.filter(col("doc_id") === 4)
      .select(Dedup.minhashSignature(col("text"), k = 4, shingleN = 3))
      .collect()(0).getSeq[String](0)
    // hand-compute: shingles of the 8 german words, min md5("i|shingle")
    val words = "der hund und die katze sind nicht da".split(" ")
    val shingles = words.sliding(3).map(_.mkString(" ")).toArray
    val md = MessageDigest.getInstance("MD5")
    def md5hex(x: String) =
      md.digest(x.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val expected = (0 until 4).map(i => shingles.map(s => md5hex(s"$i|$s")).min)
    assert(sig == expected)
  }

  test("exact dedup groups and drop") {
    val groups = Dedup.exactDuplicateGroups(docsDf).collect()
    assert(groups.length == 1)
    assert(groups(0).getAs[Long]("keep_id") == 0L)
    assert(groups(0).getAs[Long]("n_copies") == 2L)
    assert(Dedup.dropExactDuplicates(docsDf).count() == 4)
  }

  test("minhash LSH finds the near-dup pair and the exact-dup pair") {
    // bands=16 (one row per band) makes candidate generation deterministic
    // for any pair sharing a single minhash — right for a 5-doc test
    val pairs = Dedup.minhashLshPairs(docsDf, bands = 16,
        threshold = 0.5, fast = true)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    assert(pairs.contains((0L, 3L))) // exact dup always collides
    assert(pairs.contains((0L, 1L)) || pairs.contains((1L, 3L))) // near-dup
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("simhashHex matches an independent hand computation") {
    val got = docsDf.filter(col("doc_id") === 4)
      .select(Dedup.simhashHex(col("text"))).collect()(0).getString(0)
    // independent reference computation
    val md = MessageDigest.getInstance("MD5")
    val votes = new Array[Int](64)
    "der hund und die katze sind nicht da".split(" ").foreach { t =>
      val v = java.lang.Long.parseUnsignedLong(
        md.digest(t.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString, 16)
      (0 until 64).foreach(b => votes(b) += (if (((v >>> b) & 1) == 1) 1 else -1))
    }
    var out = 0L
    (0 until 64).foreach(b => if (votes(b) > 0) out |= (1L << b))
    assert(got == f"$out%016x")
  }

  test("simhash of identical docs is identical; hamming reflects distance") {
    val sims = docsDf.select(col("doc_id"),
        Dedup.simhash64(col("text")).as("sh")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sims(0L) == sims(3L))
    val s = spark
    import s.implicits._
    val ham = Seq((sims(0L), sims(1L)), (sims(0L), sims(2L)))
      .toDF("a", "b").select(Dedup.hamming64(col("a"), col("b"))).collect()
    assert(ham(0).getInt(0) < ham(1).getInt(0))
  }

  test("cosine_sim native expression computes the right values") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (Array(1f, 0f, 0f), Array(1f, 0f, 0f)),
      (Array(1f, 0f, 0f), Array(0f, 1f, 0f)),
      (Array(1f, 2f, 3f), Array(4f, 5f, 6f)),
      (Array(0f, 0f, 0f), Array(1f, 1f, 1f))
    ).toDF("a", "b")
    val got = df.select(GraftFunctions.cosine_sim(col("a"), col("b")))
      .collect().map(_.getDouble(0))
    assert(got(0) == 1.0)
    assert(got(1) == 0.0)
    assert(math.abs(got(2) - 0.9746318461970762) < 1e-12)
    assert(got(3) == 0.0) // zero-norm guard
    // exact decimal variant agrees to rounding
    val exact = df.select(round(Similarity.cosineExact(col("a"), col("b")), 9))
      .collect().map(_.getDouble(0))
    assert(exact(2) == 0.974631846)
  }

  test("bruteForceTopK ranks by similarity with id tie-breaks") {
    val s = spark
    import s.implicits._
    val emb = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0f, 1f)), (3L, Array(1f, 0.01f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0), 2)
      .collect()
    assert(top.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(3L, 1L))
  }

  test("sessionize splits on gaps > threshold") {
    val s = spark
    import s.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000)
    val ev = Seq(
      (1L, at(0), 1.0, 100L), (1L, at(10), 2.0, 101L),
      (1L, at(90), 3.0, 102L),                       // new session (80m gap)
      (2L, at(5), 4.0, 103L)
    ).toDF("user_id", "ts", "value", "event_id")
    val sess = Sessionize.sessionSummary(ev)
      .collect()
    val byKey = sess.map(r => (r.getAs[Long]("user_id"),
      r.getAs[Long]("session_seq")) -> r.getAs[Long]("n_events")).toMap
    assert(byKey((1L, 1L)) == 2 && byKey((1L, 2L)) == 1 && byKey((2L, 1L)) == 1)
  }

  test("VectorAvg aggregator and IVF centroid training separate clusters") {
    val s = spark
    import s.implicits._
    // two obvious clusters around (1,0) and (0,1)
    val emb = Seq(
      (0L, Array(1f, 0.1f)), (1L, Array(0.1f, 1f)),
      (2L, Array(1f, 0f)), (3L, Array(0.9f, 0.2f)),
      (4L, Array(0f, 1f)), (5L, Array(0.2f, 0.9f))
    ).toDF("vec_id", "embedding")
    val cents = Similarity.trainIvfCentroids(emb, k = 2, iters = 3)
      .orderBy("cell_id").collect()
    assert(cents.length == 2)
    val c0 = cents(0).getSeq[Float](1)
    val c1 = cents(1).getSeq[Float](1)
    assert(c0(0) > c0(1))  // x-heavy cluster
    assert(c1(1) > c1(0))  // y-heavy cluster
    // vec_avg alone: mean of the x-cluster
    val avg = org.apache.spark.sql.functions.udaf(graft.functions.VectorAvg)
    val m = emb.filter($"vec_id".isin(0L, 2L, 3L))
      .agg(avg($"embedding")).collect()(0).getSeq[Float](0)
    assert(math.abs(m(0) - (1f + 1f + 0.9f) / 3) < 1e-6)
  }

  test("IVF training works on sparse/snowflake ids (hash-order seeding)") {
    val s = spark
    import s.implicits._
    // snowflake-style sparse ids: seeding by `id < k` would select an
    // EMPTY seed set here; hash-order seeding must still train k cells
    val emb = Seq(
      (913847561203L, Array(1f, 0.1f)), (7039581247790L, Array(0.1f, 1f)),
      (55511234987L, Array(1f, 0f)), (8123001247332L, Array(0.9f, 0.2f)),
      (661200999137L, Array(0f, 1f)), (4298771003456L, Array(0.2f, 0.9f))
    ).toDF("vec_id", "embedding")
    val cents = Similarity.trainIvfCentroids(emb, k = 2, iters = 4)
      .collect()
    assert(cents.length == 2)
    val vs = cents.map(_.getSeq[Float](1))
    // the two obvious clusters separate regardless of the id space
    assert(vs.count(v => v(0) > v(1)) == 1 && vs.count(v => v(1) > v(0)) == 1)
  }

  test("simhashNearDupPairs finds near-identical docs with exact hamming") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, longA), (2L, longA),            // identical -> hamming 0
      (3L, longB),                          // one word off longA
      (4L, "completely different content about databases and storage"))
      .toDF("doc_id", "text")
    val pairs = graft.operators.Dedup
      .simhashNearDupPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0L))
    // every returned pair respects the threshold
    assert(pairs.forall(_._3 <= 3))
    // the unrelated doc pairs with nothing
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("nearDupClusters labels connected components, including long chains") {
    val s = spark
    import s.implicits._
    // components: chain 1-2-3-4-5 (diameter 4 -> several propagation
    // rounds), pair {10,11}, triangle {20,21,22}; 99 is isolated (no pair)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("a_id", "b_id")
    val got = graft.operators.Dedup.nearDupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("nearDupClusters converges in O(log diameter) rounds on a 10k chain") {
    val s = spark
    import s.implicits._
    // the adversarial drift chain: doc_i pairs only with doc_{i+1}, so
    // diameter = n-1; plain min-label propagation needs ~n rounds, the
    // pointer-jumping loop must stay logarithmic
    val n = 10000
    val pairs = (1 until n).map(i => (i.toLong, (i + 1).toLong))
      .toDF("a_id", "b_id")
    val (labels, rounds) =
      graft.operators.Dedup.nearDupClustersWithRounds(pairs)
    val maxRounds = 2 * (math.log(n.toDouble) / math.log(2.0)).ceil.toInt
    assert(rounds <= maxRounds, s"rounds=$rounds > bound=$maxRounds")
    val distinctLabels = labels.select("cluster_id").distinct().collect()
    assert(distinctLabels.length == 1 && distinctLabels(0).getLong(0) == 1L)
    assert(labels.count() == n.toLong)
  }

  test("spanDedup cuts non-keeper duplicated spans, merging overlaps (hand-computed)") {
    val s = spark
    import s.implicits._
    // doc 1 repeats its own 6-token prefix at position 9; doc 3 repeats it
    // again. 3-gram spans "a b c".."d e f" each occur 3 times; keepers are
    // doc 1 positions 0..3, so doc 1 cuts its second run and doc 3 cuts
    // its prefix — four overlapping 3-token intervals each, which MUST
    // merge into one maximal span per doc.
    val docs = Seq(
      (1L, "a b c d e f x y z a b c d e f"),
      (2L, "p q r s t u v"),
      (3L, "a b c d e f m n")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .spanDedup(docs, n = 3)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getString(4)))
    assert(got.toSeq == Seq(
      (1L, 1L, 6L, "9:14", "a b c d e f x y z"),
      (3L, 1L, 6L, "0:5", "m n")))
  }

  test("quantizeInt8: symmetric int8 codes, zero-vector safe") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f)),
      (2L, Seq(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
    val q = df.select(col("vec_id"),
      graft.operators.Similarity.quantizeInt8.as("q"))
      .select(col("vec_id"), col("q.codes"), col("q.scale"))
      .orderBy(col("vec_id")).collect()
    assert(q(0).getSeq[Int](1) == Seq(127, -63, 32)) // floor(x/s + .5)
    assert(math.abs(q(0).getDouble(2) - 1.0 / 127.0) < 1e-9)
    assert(q(1).getSeq[Int](1) == Seq(0, 0, 0) && q(1).getDouble(2) == 0.0)
  }

  test("redactPii tags emails, IPs and SSNs; counts match") {
    val s = spark
    import s.implicits._
    val df = Seq("mail a.b+c@test.org or 192.168.0.1 ssn 123-45-6789 end")
      .toDF("text")
    val r = df.select(
      graft.operators.TextAnalysis.redactPii.as("red"),
      graft.operators.TextAnalysis.piiCounts.as("c"))
      .collect()(0)
    assert(r.getString(0) == "mail <EMAIL> or <IP> ssn <SSN> end")
    val c = r.getStruct(1)
    assert(c.getInt(0) == 1 && c.getInt(1) == 1 && c.getInt(2) == 1)
  }

  test("native cosine_exact equals the HOF decimal formulation bit-for-bit") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = emb.select(col("vec_id").as("a_id"), col("embedding").as("a"))
    val b = emb.select(col("vec_id").as("b_id"), col("embedding").as("b"))
    val pairs = a.join(b, col("b_id") === col("a_id") + 7)
    val bad = pairs.select(col("a_id"), col("b_id"),
      Similarity.cosineExact(col("a"), col("b")).as("native"),
      Similarity.cosineExactHof(col("a"), col("b")).as("hof"))
      .filter(col("native") =!= col("hof")) // bitwise double inequality
      .collect()
    bad.take(5).foreach(r => info(
      s"a=${r.getLong(0)} b=${r.getLong(1)} native=${r.getDouble(2)} " +
        s"(${java.lang.Double.doubleToLongBits(r.getDouble(2))}) " +
        s"hof=${r.getDouble(3)} " +
        s"(${java.lang.Double.doubleToLongBits(r.getDouble(3))})"))
    assert(bad.isEmpty)
  }

  test("multi-probe LSH and IVF nprobe raise recall@k against brute force") {
    val s = spark
    import s.implicits._
    // Clustered fixture (the regime ANN is for): 10 well-separated centers,
    // 20 members each with small noise. Deterministic seed.
    val rnd = new scala.util.Random(42)
    val dim = 16
    val centers = Array.fill(10)(Array.fill(dim)(rnd.nextGaussian()))
    val emb = (0 until 200).map { i =>
      val c = centers(i / 20)
      (i.toLong, c.map(x => (x + 0.15 * rnd.nextGaussian()).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>")
        .as("embedding"))
    val queries = emb.filter(col("vec_id") % 20 === 7) // one per cluster
    val gt = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("query_id", "neighbor_id")
    val gtN = gt.count().toDouble
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      df.select("query_id", "neighbor_id").intersect(gt).count() / gtN

    val single = recall(Similarity.lshTopK(emb, queries))
    val multi = recall(Similarity.lshTopK(emb, queries,
      probeBits = 1))
    assert(multi >= single, s"multi-probe $multi < single-probe $single")
    assert(multi >= 0.70, s"multi-probe recall@5 $multi below target")

    val seeds = emb.filter(col("vec_id") % 20 === 0) // near-center seeds
    val n1 = recall(Similarity.ivfTopK(emb, queries, seeds))
    val n3 = recall(Similarity.ivfTopK(emb, queries, seeds,
      nprobe = 3))
    assert(n3 >= n1, s"nprobe=3 $n3 < nprobe=1 $n1")
    assert(n3 >= 0.80, s"nprobe=3 recall@5 $n3 below target")
    // nprobe multiplies probed cells, never duplicates a candidate pair
    val dup = Similarity.ivfTopK(emb, queries, seeds, nprobe = 3)
      .groupBy("query_id", "neighbor_id").count()
      .filter(col("count") > 1).count()
    assert(dup == 0)
    info(f"recall@5 lsh single=$single%.2f multi=$multi%.2f " +
      f"ivf nprobe1=$n1%.2f nprobe3=$n3%.2f")
  }

  test("PQ codebooks compress the corpus and keep clustered recall") {
    val s = spark
    import s.implicits._
    // same clustered regime as the LSH/IVF recall test
    val rnd = new scala.util.Random(42)
    val dim = 16
    val centers = Array.fill(10)(Array.fill(dim)(rnd.nextGaussian()))
    val emb = (0 until 200).map { i =>
      val c = centers(i / 20)
      (i.toLong, c.map(x => (x + 0.15 * rnd.nextGaussian()).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>")
        .as("embedding"))
    val queries = emb.filter(col("vec_id") % 20 === 7)
    val cb = Similarity.trainPqCodebooks(emb, m = 4, ksub = 8, iters = 3)
    assert(cb.length == 4 && cb.forall(_.forall(_.length == 4)))
    assert(cb.forall(_.length <= 8))
    val pq = Similarity.pqTopK(emb, queries, cb, k = 5)
    // k rows per query, ranks 1..k
    val perQ = pq.groupBy("query_id").count().collect()
    assert(perQ.length == 10 && perQ.forall(_.getLong(1) == 5))
    // all members of a cluster encode to (nearly) the same code word, so
    // ADC cannot order WITHIN a cluster — the guarantee PQ actually makes
    // is retrieving the right region: neighbors from the query's cluster
    val sameCluster = pq
      .filter(expr("neighbor_id div 20 = query_id div 20")).count().toDouble
    val frac = sameCluster / (10 * 5)
    assert(frac >= 0.9,
      s"PQ same-cluster fraction $frac below target on clustered data")
    info(f"PQ same-cluster@5 = $frac%.2f (m=4, ksub=8)")
    // dimension must split evenly into subspaces
    intercept[IllegalArgumentException] {
      Similarity.trainPqCodebooks(emb, m = 3, ksub = 4, iters = 1)
    }
    // IVF-PQ: coarse pruning on top of the same codebooks — same
    // right-region guarantee, and raising nprobe can only add candidates
    val seeds = emb.filter(col("vec_id") % 20 === 0)
    val index = graft.operators.Materializer.Local(
      Similarity.ivfPqIndex(emb, seeds, cb))
    val ivfpq = Similarity.ivfPqSearch(index, queries, seeds, cb, k = 5,
      nprobe = 3)
    val sameCell = ivfpq
      .filter(expr("neighbor_id div 20 = query_id div 20")).count().toDouble
    assert(sameCell / ivfpq.count() >= 0.9,
      s"IVF-PQ same-cluster fraction ${sameCell / ivfpq.count()} low")
    val n1 = Similarity.ivfPqSearch(index, queries, seeds, cb, k = 5).count()
    assert(ivfpq.count() >= n1) // nprobe=3 candidate pool is a superset
    // a (query, neighbor) pair never duplicates under multi-probe
    assert(ivfpq.groupBy("query_id", "neighbor_id").count()
      .filter(col("count") > 1).count() == 0)
  }

  test("native pq_adc equals the HOF ADC formulation bit-for-bit") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val m = 4; val ksub = 8
    val rows = (0 until 50).map { i =>
      (i.toLong,
        Seq.fill(m)(rnd.nextInt(ksub).toLong),
        Seq.fill(m)(Seq.fill(ksub)(rnd.nextGaussian())),
        if (i == 0) 0.0 else math.abs(rnd.nextGaussian()) + 0.1) // row 0: zero-guard
    }
    val df = rows.toDF("id", "codes", "luts", "qnorm")
    val nsq = typedlit(Seq.fill(m)(Seq.fill(ksub)(math.abs(rnd.nextGaussian()))))
    val got = df.select(col("id"),
        graft.functions.GraftFunctions
          .pq_adc(col("codes"), col("luts"), col("qnorm"), nsq).as("a"),
        Similarity.adcCosineHof(col("codes"), col("luts"), col("qnorm"), nsq)
          .as("b"))
      .collect()
    got.foreach(r => assert(r.getDouble(1) == r.getDouble(2), r.getLong(0)))
  }

  test("unigramSurprisal matches hand computation; rare tokens score higher") {
    val s = spark
    import s.implicits._
    val docs = Seq((0L, "a a b"), (1L, "b c")).toDF("doc_id", "text")
    // corpus: N=5, count(a)=2, count(b)=2, count(c)=1
    val got = TextAnalysis.unigramSurprisal(docs)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def d6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP) // decimal(38,6) accum
    val ln = math.log _
    // mirror the engine exactly: decimal-exact SUM, then DOUBLE division
    val s0 = r6((d6(2 * ln(5.0 / 2)) + d6(ln(5.0 / 2))).toDouble / 3.0)
    val s1 = r6((d6(ln(5.0 / 2)) + d6(ln(5.0 / 1))).toDouble / 2.0)
    assert(got == Seq((0L, 3L, s0), (1L, 2L, s1)))
    assert(s1 > s0) // the doc with the rare token is more surprising
    // empty corpus -> empty result, schema intact
    val empty = TextAnalysis.unigramSurprisal(docs.limit(0))
    assert(empty.collect().isEmpty &&
      empty.columns.toSeq == Seq("doc_id", "n_tokens", "surprisal"))
  }

  test("keepBest selects the top-scored member per cluster, singletons keep themselves") {
    val s = spark
    import s.implicits._
    // pairs: {0,1,3} chained; {2} and {4} singletons (no pairs)
    val pairs = Seq((0L, 1L), (1L, 3L)).toDF("a_id", "b_id")
    // scores: doc 1 wins its cluster; 0 and 3 tie below it
    val scores = Map(0L -> 0.5, 1L -> 0.9, 2L -> 0.1, 3L -> 0.5, 4L -> 0.7)
    val scoreCol = element_at(
      typedlit(scores.map { case (k, v) => (k.toString, v) }),
      col("doc_id").cast("string"))
    val got = Dedup.keepBest(docsDf, pairs, scoreCol)
      .orderBy("cluster_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got == Seq(
      (0L, 1L, 3L, 0.9),   // cluster {0,1,3}: doc 1 has the best score
      (2L, 2L, 1L, 0.1),   // singletons keep themselves
      (4L, 4L, 1L, 0.7)))
    // tie-break: equal scores keep the lowest id
    val flat = Dedup.keepBest(docsDf, pairs, lit(1.0))
      .orderBy("cluster_id").collect()
    assert(flat.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 0L), (2L, 2L), (4L, 4L)))
  }

  test("stratified sample equals the naive per-group rank, small groups kept whole") {
    import org.apache.spark.sql.expressions.Window
    val s = spark
    import s.implicits._
    // skewed groups: 'big' 200 rows, 'mid' 17, 'tiny' 3 (< n)
    val rows = (0 until 200).map(i => (i.toLong, "big")) ++
      (200 until 217).map(i => (i.toLong, "mid")) ++
      (217 until 220).map(i => (i.toLong, "tiny"))
    val df = rows.toDF("doc_id", "lang")
    val n = 5
    val got = graft.operators.Sampling
      .stratifiedSample(df, n)
      .select("lang", "doc_id", "rk").orderBy("lang", "rk").collect().toSeq
    val h = substring(md5(col("doc_id").cast("string")), 1, 8)
    val naive = df.withColumn("rk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(h.asc, col("doc_id").asc))
        .cast("int"))
      .filter(col("rk") <= n)
      .select("lang", "doc_id", "rk").orderBy("lang", "rk").collect().toSeq
    assert(got == naive)
    assert(got.count(_.getString(0) == "big") == 5)
    assert(got.count(_.getString(0) == "tiny") == 3) // whole group, rk 1..3
    // margin 1.0 expects exactly n candidates per group, so hash variance
    // leaves groups short about half the time — whichever path runs, the
    // sufficiency fallback must keep the result identical
    val tight = graft.operators.Sampling
      .stratifiedSample(df, n, margin = 1.0)
      .select("lang", "doc_id", "rk").orderBy("lang", "rk").collect().toSeq
    assert(tight == naive)
    // a null group is a group like any other (an equi-join would drop it)
    val withNull = df.unionByName(
      (300 until 310).map(i => (i.toLong, null.asInstanceOf[String]))
        .toDF("doc_id", "lang"))
    val gotNull = graft.operators.Sampling
      .stratifiedSample(withNull, n, margin = 1.0)
    assert(gotNull.filter(col("lang").isNull).count() == n)
    assert(gotNull.count() == naive.size + n)
  }

  test("stratifiedSample keeps groups whose candidate set is empty") {
    val s = spark
    import s.implicits._
    // deterministically force zero candidates: pick ids whose md5 prefix
    // is >= 0x80000000 (top half), then ask for n=1 at margin=1.0 from a
    // 100-member group — the threshold is ~0x028f5c29, so no member
    // passes the trim and the group exists only via the re-rank fallback
    val dig = java.security.MessageDigest.getInstance("MD5")
    def h8(id: Long): String = {
      val d = dig.digest(id.toString.getBytes("UTF-8"))
      d.take(4).map(b => f"${b & 0xff}%02x").mkString
    }
    val highIds = Iterator.from(0).map(_.toLong)
      .filter(id => h8(id) >= "80000000").take(100).toSeq
    val df = highIds.map(id => (id, "hi"))
      .toDF("doc_id", "lang")
    val got = graft.operators.Sampling
      .stratifiedSample(df, 1, margin = 1.0)
      .select("doc_id").collect()
    val want = highIds.minBy(id => (h8(id), id))
    assert(got.length == 1 && got(0).getLong(0) == want)
  }

  test("native hex_hamming matches the HOF digit semantics, edges included") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    def hex(n: Int) = (0 until n).map(_ => "0123456789abcdef"(
      rnd.nextInt(16))).mkString
    val rows = (0 until 200).map(_ => (hex(16), hex(16))) ++ Seq(
      (hex(16), hex(16).take(9)),       // short string -> digit 0 past end
      ("deadbeefdeadbeef", "DEADBEEFDEADBEEF"), // non-hex (upper) -> -1
      ("z" * 16, hex(16)),              // all non-hex
      ("", ""))                         // both empty
    val df = rows.toDF("a_sig", "b_sig")
    val diff = df.select(
        Dedup.hammingHexStr.as("native"),
        Dedup.hammingHexStrHof(col("a_sig"), col("b_sig")).as("hof"))
      .filter(col("native") =!= col("hof") ||
        col("native").isNull =!= col("hof").isNull)
    assert(diff.count() == 0)
  }

  test("incremental minhash dedup: old index + new batch equals the full run") {
    // The 100 TB operating mode: the historical corpus is signatured once
    // (minhashIndex, persisted), each new batch joins against it. Band
    // keys and verify sims are per-document deterministic, so exactly:
    //   pairs(full corpus) == pairs(old) ∪ incremental(new, index(old))
    // with the two sides disjoint and every incremental pair touching a
    // new id.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val old = docs.filter(col("doc_id") % 2 === 0)
    val neu = docs.filter(col("doc_id") % 2 === 1)
    def toSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Double]("sim"))).toSet
    val th = 0.1
    val full = toSet(Dedup.minhashLshPairs(docs,
      threshold = th))
    val oldOnly = toSet(Dedup.minhashLshPairs(old,
      threshold = th))
    val incr = toSet(Dedup.minhashLshPairsIncremental(
      Dedup.minhashIndex(neu),
      Dedup.minhashIndex(old), threshold = th))
    assert(full.nonEmpty && incr.nonEmpty)
    assert(incr.forall { case (a, b, _) => a % 2 == 1 || b % 2 == 1 })
    assert((oldOnly & incr).isEmpty)
    assert(oldOnly ++ incr == full)
  }

  test("fuzzyJoin links across tables only, keeps both orientations distinct") {
    // record linkage: pairs form ONLY across the two tables — same-side
    // near-dups (left 1~2, right 10~11) must never appear, and ids are not
    // canonicalized (left_id always from the left table)
    val s = spark
    import s.implicits._
    val a = "the quick brown fox jumps over the lazy sleeping dog tonight"
    val b = "completely different words about deep sea fish and coral reefs"
    val left = Seq((1L, a), (2L, a + " extra"), (3L, b))
      .toDF("doc_id", "text")
    val right = Seq((10L, a), (11L, a + " extra"), (12L, "unrelated entirely"))
      .toDF("doc_id", "text")
    val out = Dedup.fuzzyJoin(
        Dedup.minhashIndex(left),
        Dedup.minhashIndex(right), threshold = 0.5)
      .collect()
      .map(r => (r.getAs[Long]("left_id"), r.getAs[Long]("right_id"),
        r.getAs[Double]("sim")))
    // exact cross-table dup at sim 1.0, both directions of the near-dup
    val pairs = out.map(p => (p._1, p._2)).toSet
    assert(pairs.contains((1L, 10L)) && pairs.contains((2L, 11L)))
    assert(out.find(p => p._1 == 1L && p._2 == 10L).get._3 == 1.0)
    // left ids only on the left, right ids only on the right, no same-side
    assert(out.forall(p => p._1 < 10L && p._2 >= 10L))
    // the unrelated right row links to nothing
    assert(!pairs.exists(_._2 == 12L))
  }

  test("nearDupClustersIncremental: merges, joins, untouched clusters, new-only") {
    val s = spark
    import s.implicits._
    // yesterday: clusters {1,3} -> 1, {2,8} -> 2, {5,6} -> 5
    val labels = Seq((1L, 1L), (3L, 1L), (2L, 2L), (8L, 2L), (5L, 5L),
      (6L, 5L)).toDF("doc_id", "cluster_id")
    // today: (3,8) merges clusters 1 and 2; new doc 9 joins via 8; an
    // internal (1,3) edge is a no-op; (10,11) is a brand-new cluster
    val newPairs = Seq((3L, 8L), (8L, 9L), (1L, 3L), (10L, 11L))
      .toDF("a_id", "b_id")
    val out = graft.operators.Dedup
      .nearDupClustersIncremental(labels, newPairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(1L -> 1L, 3L -> 1L, 2L -> 1L, 8L -> 1L, 9L -> 1L,
      5L -> 5L, 6L -> 5L, 10L -> 10L, 11L -> 10L))
  }

  test("incremental clustering equals the full recompute on the corpus") {
    // the q108 contract: persisted labels + incremental pairs == CC over
    // the full pair set (possible because every stored label is its
    // cluster's min member id — contraction preserves the component min)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val evens = docs.filter(col("doc_id") % 2 === 0)
    val odds = docs.filter(col("doc_id") % 2 === 1)
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"))).toMap
    val th = 0.3
    val full = toMap(Dedup.nearDupClusters(
      Dedup.minhashLshPairs(docs, threshold = th)))
    val labels = Dedup.nearDupClusters(
      Dedup.minhashLshPairs(evens, threshold = th))
    val incr = toMap(Dedup.nearDupClustersIncremental(labels,
      Dedup.minhashLshPairsIncremental(
        Dedup.minhashIndex(odds),
        Dedup.minhashIndex(evens), threshold = th)))
    assert(full.nonEmpty && incr == full)
  }

  test("pageRank: fixpoints, mass conservation, hub dominance") {
    val s = spark
    import s.implicits._
    // two-node symmetric graph: rank 1.0 is the exact fixpoint of
    // r' = 0.15 + 0.85 * r_other / 1, so 5 iterations stay at exactly 1.0
    val two = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val r2 = graft.operators.Graph.pageRank(two, iters = 5)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(r2 == Map("a" -> 1.0, "b" -> 1.0))
    // symmetrized star: the hub outranks every leaf, and total mass stays
    // ~N (teleport injects what damping removes — unnormalized ranks)
    val leaves = (1 to 9).map(i => s"l$i")
    val star = (leaves.map(l => ("hub", l)) ++ leaves.map(l => (l, "hub")))
      .toDF("src", "dst")
    val rs = graft.operators.Graph.pageRank(star, iters = 10)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(leaves.forall(l => rs("hub") > rs(l) * 5))
    assert(math.abs(rs.values.sum - 10.0) < 1e-6)
  }

  test("heavyHitters: exact counts at the share threshold, sketch gates hold") {
    val s = spark
    import s.implicits._
    // 20 tokens total: "hot" x 10 (50%), "warm" x 6 (30%), "a".."d" x 1
    val docs = Seq(
      (1L, "hot hot hot hot hot warm warm warm a b"),
      (2L, "hot hot hot hot hot warm warm warm c d"))
      .toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis
      .heavyHitters(docs, minShare = 0.25)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getBoolean(2), r.getBoolean(3))).sortBy(_._1)
    assert(out.map(t => (t._1, t._2)).toSeq ==
      Seq(("hot", 10L), ("warm", 6L)))        // singletons below 25% share
    assert(out.forall(t => t._3 && t._4))     // CM guarantees hold
  }

  test("incremental dedup joins a persisted index read in a fresh session") {
    // The daily-pipeline shape end-to-end: yesterday's run exported the
    // index via Materializer.Persisted; today's run is a DIFFERENT
    // session that knows nothing but the parquet path — reads it, and the
    // incremental join over the on-disk index matches the all-in-memory
    // run exactly (fast FNV signatures, the production mode).
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val old = docs.filter(col("doc_id") % 2 === 0)
    val neu = docs.filter(col("doc_id") % 2 === 1)
    val tmp = java.nio.file.Files.createTempDirectory("graft_idx").toString
    graft.operators.Materializer.Persisted(tmp)(
      Dedup.minhashIndex(old, fast = true))
    def toSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Double]("sim"))).toSet
    val inMem = toSet(Dedup.minhashLshPairsIncremental(
      Dedup.minhashIndex(neu, fast = true),
      Dedup.minhashIndex(old, fast = true),
      threshold = 0.1))
    // fresh session state: separate registry/catalog/conf, same cluster
    val s2 = spark.newSession()
    val docs2 = s2.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val fromDisk = toSet(Dedup.minhashLshPairsIncremental(
      Dedup.minhashIndex(docs2.filter(col("doc_id") % 2 === 1), fast = true),
      s2.read.parquet(s"$tmp/mat_0"), threshold = 0.1))
    assert(fromDisk.nonEmpty && fromDisk == inMem)
  }

  test("IVF-PQ search reads a persisted index in a fresh session (parquet feeds the cell join)") {
    // The ANN twin of the q70 pattern: yesterday's run persisted the
    // (cell_id, codes) index; today's search is a DIFFERENT session that
    // knows only the parquet path — results must match the all-in-memory
    // run exactly, and the plan must show the parquet scan feeding the
    // cell equi-join (no float-vector scan, no encode at search time).
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val seeds = emb.filter(col("vec_id") < 4)
    val qs = emb.filter(col("vec_id") < 6)
    val cb = Similarity.trainPqCodebooks(emb, m = 8, ksub = 16, iters = 2)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    graft.operators.Materializer.Persisted(tmp)(
      Similarity.ivfPqIndex(emb, seeds, cb))
    def toSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inMem = toSet(
      Similarity.ivfPqSearch(graft.operators.Materializer.Local(
        Similarity.ivfPqIndex(emb, seeds, cb)), qs, seeds, cb, k = 5,
        nprobe = 2))
    val s2 = spark.newSession()
    val emb2 = s2.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val fromDisk = Similarity.ivfPqSearch(
      s2.read.parquet(s"$tmp/mat_0"), emb2.filter(col("vec_id") < 6),
      emb2.filter(col("vec_id") < 4), cb, k = 5, nprobe = 2)
    val p = fromDisk.queryExecution.executedPlan.toString
    assert(p.contains("Scan parquet"), p.take(2000))
    assert(!p.contains("nearestcells(codes"), p.take(2000)) // no re-encode
    assert(p.contains("cell_id"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(toSet(fromDisk).nonEmpty && toSet(fromDisk) == inMem)
  }

  test("dHash: known-gradient image hashes to hand-computed hex; upscale-invariant") {
    import graft.operators.Multimodal
    // all-ascending rows -> every bit 1 -> ffff...f; all-descending -> 0
    val asc = Multimodal.ImageCodec.readImage({
      val img = new java.awt.image.BufferedImage(9, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 9) {
        val v = 64 + x * 8
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }).get
    assert(Multimodal.dHashHex(asc) == "ffffffffffffffff")
    // fixture generator: decode recovers exactly the formula bits, and
    // the 18x16 odd-id variant hashes identically to its 9x8 bits
    for (id <- Seq(0L, 1L, 26L, 51L, 77L)) {
      val img = Multimodal.ImageCodec.readImage(
        Multimodal.gradientPngFor(id, 25L)).get
      val bits = Multimodal.fixtureDHashBits(id, 25L)
      val expect = (0 until 16).map { c =>
        val nib = (0 until 4).map(t => bits(4 * c + t) << (3 - t)).sum
        "0123456789abcdef".charAt(nib)
      }.mkString
      assert(Multimodal.dHashHex(img) == expect, s"id=$id")
    }
  }

  test("imageNearDupPairs: corrupt rows excluded; hamming gate hand-checked") {
    val s = spark
    import s.implicits._
    import graft.operators.Multimodal
    // ids 0 and 75 share a base pattern with zero flips (hamming 0);
    // id 25 flips one bit off the same base (hamming 1 to both);
    // id 3 is a different base (far); id 199 is corrupt (text payload)
    val docs = Seq(0L, 75L, 25L, 3L, 199L)
      .map(id => (id, "not a png")).toDF("doc_id", "text")
    val hashes = Multimodal.extractImageHashes(
      Multimodal.dhashMediaFromDocuments(docs, nGroups = 25L)).toDF()
    val flags = hashes.collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(flags(199L) == false && flags.count(_._2) == 4)
    val pairs = Dedup.imageNearDupPairs(hashes)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((0L, 75L)) == 0L)
    assert(pairs((0L, 25L)) == 1L && pairs((25L, 75L)) == 1L)
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.keySet.exists(p => p._1 == 199L || p._2 == 199L))
  }

  test("incremental image dedup: full == old ∪ incremental, index from disk in a fresh session") {
    import graft.operators.Multimodal
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sig = Multimodal.extractImageHashes(
        Multimodal.dhashMediaFromDocuments(docs)).toDF()
      .filter(col("decoded"))
      .select(col("doc_id").as("id"), col("dhash").as("sig"))
    def toSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val full = toSet(Dedup.bandedHammingPairs(sig))
    val oldOnly = toSet(Dedup.bandedHammingPairs(sig.filter(col("id") % 2 === 0)))
    val tmp = java.nio.file.Files.createTempDirectory("graft_imgidx").toString
    graft.operators.Materializer.Persisted(tmp)(
      sig.filter(col("id") % 2 === 0))
    val s2 = spark.newSession()
    val docs2 = s2.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val newSig = Multimodal.extractImageHashes(
        Multimodal.dhashMediaFromDocuments(docs2)
          .filter(_.doc_id % 2 == 1)).toDF()
      .filter(col("decoded"))
      .select(col("doc_id").as("id"), col("dhash").as("sig"))
    val inc = toSet(Dedup.bandedHammingPairsIncremental(
      newSig, s2.read.parquet(s"$tmp/mat_0")))
    // exact algebra: the incremental run finds precisely the pairs the
    // full run finds beyond the historical-only ones, and nothing twice
    assert(inc.nonEmpty && oldOnly.intersect(inc).isEmpty)
    assert(oldOnly ++ inc == full)
  }

  test("bandedHammingPairsIncremental serves text simhash signatures too") {
    // the shared 64-bit banded-Hamming machinery is signature-agnostic:
    // the same incremental path that joins image dHashes joins text
    // simhashes — full == old ∪ incremental on the simhash index
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sig = docs.select(col("doc_id").as("id"),
      Dedup.simhashHex(col("text")).as("sig")).localCheckpoint(true)
    def toSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val full = toSet(Dedup.bandedHammingPairs(sig))
    val oldOnly = toSet(
      Dedup.bandedHammingPairs(sig.filter(col("id") % 2 === 0)))
    val inc = toSet(Dedup.bandedHammingPairsIncremental(
      sig.filter(col("id") % 2 === 1), sig.filter(col("id") % 2 === 0)))
    assert(inc.nonEmpty && oldOnly.intersect(inc).isEmpty)
    assert(oldOnly ++ inc == full)
  }

  test("Bpe.train learns merges by frequency with lexicographic tie-break") {
    val s = spark
    import s.implicits._
    // words: aa x3, ab x1, b x1 -> pair (a,a) count 3 beats (a,b) count 1;
    // after both merges no pairs remain, so training stops at 2 even when
    // asked for 3
    val docs = Seq("aa ab aa", "aa b").toDF("text")
    assert(graft.operators.Bpe.train(docs, nMerges = 3) ==
      Seq(("a", "a"), ("a", "b")))
    // exact tie on counts -> lexicographic (left, right) ascending wins
    val tied = Seq("ab cd ab cd").toDF("text")
    assert(graft.operators.Bpe.train(tied, nMerges = 1) ==
      Seq(("a", "b")))
  }

  test("native bpe_encode matches the reference encoder; roundtrip + fixpoint hold") {
    val s = spark
    import s.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val merges = graft.operators.Bpe.train(docs, nMerges = 30)
    assert(merges.size == 30)
    val enc = docs.select(col("text"),
      graft.operators.Bpe.encode(col("text"), merges).as("sub"))
      .collect()
    val mergeSet = merges.toSet
    enc.foreach { r =>
      val words = r.getString(0).split("\\s+").filter(_.nonEmpty)
      val subs = r.getSeq[String](1)
      // differential: native kernel == driver-side executable spec
      val ref = words.flatMap(w =>
        graft.operators.Bpe.encodeWordReference(w, merges))
      assert(subs == ref.toSeq)
      // roundtrip: subwords concatenate back to the original words
      assert(subs.mkString == words.mkString)
      // fixpoint within each word: no adjacent emitted pair is mergeable
      var i = 0
      for (w <- words) {
        val k = graft.operators.Bpe.encodeWordReference(w, merges).length
        val wordSubs = subs.slice(i, i + k)
        wordSubs.sliding(2).foreach {
          case Seq(a, b) => assert(!mergeSet.contains((a, b)),
            s"mergeable pair ($a,$b) left in $w")
          case _ => ()
        }
        i += k
      }
    }
    // fixture-table chained merges segment whole known words
    val one = Seq("table value join order group").toDF("text")
      .select(graft.operators.Bpe.encode(col("text"),
        graft.operators.Bpe.FixtureMerges))
      .collect()(0).getSeq[String](0)
    assert(one == Seq("table", "value", "join", "ord", "er", "g", "ro",
      "u", "p"))
  }

  test("boilerplateStats flags corpus-frequent passages") {
    // docs 0, 1, 3 share the longA/longB spine: every 3-gram common to
    // all three has df >= 3 and is boilerplate at minDf = 3; doc 2 shares
    // nothing. The exact dup pair (0, 3) must report identical stats.
    val got = TextAnalysis.boilerplateStats(docsDf, minDf = 3)
      .orderBy("doc_id").collect()
    assert(got.length == 5)
    val byId = got.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(byId(0L) == byId(3L))                  // exact dup: same stats
    assert(byId(0L)._2 > 0 && byId(1L)._2 > 0)    // spine shingles frequent
    assert(byId(2L)._2 == 0 && byId(2L)._3 == 0.0) // unique doc: none
    assert(byId(4L)._2 == 0)
    // longA vs longB differ in one token -> the 3 shingles spanning it are
    // not shared by doc 1, so doc 0's frequent count is distinct - 3
    assert(byId(0L)._2 == byId(0L)._1 - 3)
  }

  test("tfidfTopTerms ranks by (tf desc, df asc, term) with exact values") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, "apple apple banana"),
      (1L, "banana cherry"),
      (2L, "apple date date date")).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfTopTerms(docs, topN = 2)
      .orderBy("doc_id", "rk")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getInt(5)))
    val ln = (x: Double) => math.log(x)
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(got.toSeq == Seq(
      (0L, "apple", 2L, 2L, r6(2 * ln(3.0 / 2)), 1),
      (0L, "banana", 1L, 2L, r6(ln(3.0 / 2)), 2),
      (1L, "cherry", 1L, 1L, r6(ln(3.0)), 1),   // df asc: rarer term first
      (1L, "banana", 1L, 2L, r6(ln(3.0 / 2)), 2),
      (2L, "date", 3L, 1L, r6(3 * ln(3.0)), 1),
      (2L, "apple", 1L, 2L, r6(ln(3.0 / 2)), 2)))
    // empty corpus -> empty result, schema intact
    val empty = TextAnalysis.tfidfTopTerms(docs.limit(0))
    assert(empty.collect().isEmpty &&
      empty.columns.toSeq == Seq("doc_id", "term", "tf", "df", "tfidf", "rk"))
  }

  test("distributed sequence packing matches the naive global cumsum") {
    // differential pin: the two-phase prefix sum (bucketed windows +
    // broadcast bucket offsets) must equal a single global-window cumsum
    // for every doc, across bucket counts that do and don't divide the
    // id range evenly
    import org.apache.spark.sql.expressions.Window
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val naive = docs.select(col("doc_id").cast("long").as("id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(
        Window.orderBy(col("id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("id"), col("n_tokens"),
        expr("(cum - n_tokens) div 512L").as("pack_id"))
      .orderBy("id").collect().toSeq
    for (buckets <- Seq(1, 7, 64)) {
      val got = TextAnalysis.packSequences(docs,
          seqLen = 512, nBuckets = buckets)
        .orderBy("id").collect().toSeq
      assert(got == naive, s"nBuckets=$buckets")
    }
  }

  test("sequence packing handles sparse ids and empty buckets") {
    // the real documents table is dense 0..N; sparse ids leave id-range
    // buckets EMPTY, which the bucket-offset prefix map must skip without
    // shifting later buckets
    import org.apache.spark.sql.expressions.Window
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(42)
    val rows = Seq(3L, 10L, 11L, 997L, 1000L, 4999L, 5000L, 90001L)
      .map(id => (id, Seq.fill(1 + rng.nextInt(40))("w").mkString(" ")))
    val df = rows.toDF("doc_id", "text")
    val naive = df.select(col("doc_id").as("id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(
        Window.orderBy(col("id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("id"), col("n_tokens"),
        expr("(cum - n_tokens) div 16L").as("pack_id"))
      .orderBy("id").collect().toSeq
    for (buckets <- Seq(1, 5, 64, 1024)) {
      val got = TextAnalysis.packSequences(df,
          seqLen = 16, nBuckets = buckets)
        .orderBy("id").collect().toSeq
      assert(got == naive, s"nBuckets=$buckets")
    }
  }

  test("sequence packing buckets stay balanced under clustered ids") {
    // snowflake-style ids: three tight clusters in a ~2^62 id space.
    // Uniform id-range spans would drop every row into one bucket (one
    // window partition = the single-task funnel); quantile boundaries
    // must keep the largest bucket near the mean.
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(7)
    val clusters = Seq(1L << 20, 1L << 45, (1L << 61) + 12345L)
    val ids = clusters.flatMap(base => (0 until 400).map(i =>
      base + i * 3L + rng.nextInt(2)))
      .distinct
    val df = ids.map(id => (id, "w w w")).toDF("doc_id", "text")
    val nBuckets = 16
    val (n, bounds) = TextAnalysis.packBounds(df, nBuckets)
    assert(n == ids.length)
    // local replica of the row->bucket rule: #boundaries at or below id
    val sizes = ids.groupBy(id => bounds.count(id >= _)).values.map(_.size)
    val mean = ids.length.toDouble / (bounds.length + 1)
    assert(bounds.length >= nBuckets / 2, s"only ${bounds.length} bounds")
    assert(sizes.max <= 2 * mean,
      s"max bucket ${sizes.max} vs mean $mean — skew-collapsed")
    // and the packing itself still matches the naive single-window truth
    import org.apache.spark.sql.expressions.Window
    val naive = df.select(col("doc_id").as("id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(
        Window.orderBy(col("id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("id"), col("n_tokens"),
        expr("(cum - n_tokens) div 16L").as("pack_id"))
      .orderBy("id").collect().toSeq
    val got = TextAnalysis.packSequences(df,
        seqLen = 16, nBuckets = nBuckets)
      .orderBy("id").collect().toSeq
    assert(got == naive)
  }

  test("map-side nearest_cells matches the join+window assignment bit-for-bit") {
    // Differential pin for the NearestCells rewrite: the old corpus×seeds
    // join + row_number window formulation is reproduced here as the
    // executable spec; the map-side expression must choose identical cells
    // for every vector, in fast mode and in decimal-exact mode.
    import org.apache.spark.sql.expressions.Window
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val seeds = emb.filter(col("vec_id") < 8)
    val sd = seeds.select(col("vec_id").as("cell_id"),
      col("embedding").as("s_vec"))

    def oldAssign(probes: Int, exact: Boolean) = {
      val wf = Window.partitionBy(col("vec_id"))
        .orderBy(col("fsim").desc, col("cell_id").asc)
      val pre = emb.select(col("vec_id"), col("embedding"))
        .join(broadcast(sd))
        .withColumn("fsim",
          GraftFunctions.cosine_sim(col("embedding"), col("s_vec")))
        .withColumn("frk", row_number().over(wf))
      if (!exact) pre.filter(col("frk") <= probes)
        .select(col("vec_id"), col("cell_id"))
      else {
        val w = Window.partitionBy(col("vec_id"))
          .orderBy(col("cell_sim").desc, col("cell_id").asc)
        pre.filter(col("frk") <= probes + 1)
          .withColumn("cell_sim",
            round(GraftFunctions.cosine_exact(col("embedding"),
              col("s_vec")), 9))
          .withColumn("cell_rk", row_number().over(w))
          .filter(col("cell_rk") <= probes)
          .select(col("vec_id"), col("cell_id"))
      }
    }

    def newAssign(probes: Int, exact: Boolean) = {
      val rows = sd.collect()
      val cents: Seq[(Long, Seq[Float])] =
        rows.toSeq.map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
      emb.select(col("vec_id"),
        explode_outer(GraftFunctions.nearest_cells(col("embedding"),
          typedlit(cents), probes, exact)).as("cell_id"))
    }

    for ((probes, exact) <- Seq((1, false), (1, true), (2, false), (3, true))) {
      val old = oldAssign(probes, exact)
      val neu = newAssign(probes, exact)
      assert(old.exceptAll(neu).isEmpty && neu.exceptAll(old).isEmpty,
        s"assignment diverged at probes=$probes exact=$exact")
    }
  }

  test("nearest_cells evaluates through codegen, identical to interpreted") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    // class-level contract: the hottest ANN projection is no longer a
    // CodegenFallback (which would pay interpreted eval + row boxing)
    assert(!classOf[CodegenFallback].isAssignableFrom(
      classOf[graft.functions.NearestCells]))
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents: Seq[(Long, Seq[Float])] = emb.filter(col("vec_id") < 8)
      .collect().toSeq.map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
    def run(): Seq[String] =
      emb.select(col("vec_id"),
          GraftFunctions.nearest_cells(col("embedding"), typedlit(cents),
            probes = 2, exact = true).as("cells"))
        .collect().map(_.toString).sorted.toSeq
    def withConf(factory: String, wsc: String)(body: => Seq[String]) = {
      val conf = spark.conf
      val prev = (conf.getOption("spark.sql.codegen.factoryMode"),
        conf.getOption("spark.sql.codegen.wholeStage"))
      try {
        conf.set("spark.sql.codegen.factoryMode", factory)
        conf.set("spark.sql.codegen.wholeStage", wsc)
        body
      } finally {
        prev._1.fold(conf.unset("spark.sql.codegen.factoryMode"))(
          conf.set("spark.sql.codegen.factoryMode", _))
        prev._2.fold(conf.unset("spark.sql.codegen.wholeStage"))(
          conf.set("spark.sql.codegen.wholeStage", _))
      }
    }
    // CODEGEN_ONLY turns a broken doGenCode into a loud failure instead
    // of a silent interpreted fallback
    val gen = withConf("CODEGEN_ONLY", "true")(run())
    val interp = withConf("NO_CODEGEN", "false")(run())
    assert(gen.nonEmpty && gen == interp)
  }

  test("asofJoin picks the latest right row at-or-before each left row") {
    val s = spark
    import s.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000)
    val trades = Seq((1L, at(10), "t1"), (1L, at(30), "t2"), (2L, at(5), "t3"))
      .toDF("user_id", "ts", "trade")
    val quotes = Seq((1L, at(10), 100.0), (1L, at(20), 200.0),
      (2L, at(9), 300.0)).toDF("user_id", "ts", "px")
    val out = graft.operators.AsOfJoin
      .asofJoin(trades, quotes, "ts", "ts", Seq("px"))
      .collect().map(r => r.getAs[String]("trade") ->
        Option(r.getAs[Any]("px"))).toMap
    assert(out("t1").contains(100.0))  // equal ts matches (<=)
    assert(out("t2").contains(200.0))  // latest preceding, not first
    assert(out("t3").isEmpty)          // nothing at or before
  }

  test("salted join returns the same rows as a plain join") {
    val s = spark
    import s.implicits._
    // skewed fact: 90% of rows on key 1
    val fact = ((1 to 90).map(i => (1L, i)) ++ (1 to 10).map(i => (2L, i)))
      .toDF("user_id", "v")
    val dim = Seq((1L, "hot"), (2L, "cold"), (3L, "unused"))
      .toDF("user_id", "name")
    val plain = fact.join(dim, Seq("user_id")).select("user_id", "v", "name")
      .collect().map(_.toSeq).sortBy(_.toString)
    val salted = graft.operators.Skew.saltedJoin(fact, dim)
      .select("user_id", "v", "name").collect().map(_.toSeq)
      .sortBy(_.toString)
    assert(salted.toSeq == plain.toSeq)
  }

  test("multimodal features: real ImageIO/WAV/AVI decode for all modalities") {
    val s = spark
    import s.implicits._
    val docs = Seq((0L, "abcd"), (1L, "efghij"), (2L, "xy"), (3L, "pqrs"))
      .toDF("doc_id", "text")
    val feats = graft.operators.Multimodal.extractFeatures(
      graft.operators.Multimodal.mediaFromDocuments(docs)).collect()
    // doc 0 -> image: payload is a real PNG; width/height/channels come
    // from ImageIO-decoded pixels ((id%64)+1 x (id%48)+1 solid RGB)
    val f0 = feats.find(_.doc_id == 0L).get
    assert(f0.modality == "image" && f0.decoded
      && f0.width == 1 && f0.height == 1 && f0.channels == 3
      && f0.mean_red == 0L && f0.n_frames == 1)
    val f3 = feats.find(_.doc_id == 3L).get
    assert(f3.decoded && f3.width == 4 && f3.height == 4
      && f3.mean_red == 3L) // solid colour red channel = id % 256
    // doc 1 -> audio: payload is a real WAV; sample rate/samples/mean
    // |amplitude| come from javax.sound.sampled-decoded PCM frames
    val f1 = feats.find(_.doc_id == 1L).get
    assert(f1.modality == "audio" && f1.decoded
      && f1.width == 16000      // sample rate: 8000 + (1 % 2) * 8000
      && f1.n_frames == 51      // samples: 1 % 500 + 50
      && f1.channels == 1
      && f1.mean_red == 1L)     // constant amplitude = id % 1000
    // doc 2 -> video: payload is a real raw-DIB AVI; dims/frame count come
    // from the RIFF header walk and mean red from the decoded frame
    // pixels: 3 frames (2%12+1) of 4x4 (2%16+2 x 2%12+2), frame reds
    // (2*31 + f*17) % 256 = 62, 79, 96 -> mean (62+79+96)/3 = 79
    val f2 = feats.find(_.doc_id == 2L).get
    assert(f2.modality == "video" && f2.decoded
      && f2.width == 4 && f2.height == 4 && f2.n_frames == 3
      && f2.channels == 3 && f2.mean_red == 79L)
  }

  test("multimodal decode: corrupt video payload falls back, flagged") {
    val s = spark
    import s.implicits._
    import graft.operators.Multimodal
    implicit val enc = org.apache.spark.sql.Encoders
      .product[Multimodal.MediaRow]
    val media = Seq(
      Multimodal.MediaRow(12L, "video",
        "not an avi at all".getBytes("UTF-8")),
      // a RIFF header with a truncated body must not crash the walk
      Multimodal.MediaRow(13L, "video",
        "RIFF\u0004\u0000\u0000\u0000AVI ".getBytes("ISO-8859-1")))
      .toDS()
    val out = Multimodal.extractFeatures(media).collect()
    assert(out.forall(f => !f.decoded && f.channels == 0))
  }

  test("video codec: MJPEG frames decode through the ImageIO JPEG reader") {
    // grayscale solid frames survive JPEG's DCT exactly (constant blocks
    // quantize losslessly), so even the lossy path is value-checkable
    import graft.operators.Multimodal.VideoCodec
    val avi = VideoCodec.encodeAvi(16, 16,
      Array(0x505050, 0xa0a0a0), mjpeg = true)
    val d = VideoCodec.decode(avi).get
    assert(d.width == 16 && d.height == 16 && d.nFrames == 2)
    assert(math.abs(d.meanRed - 0x78L) <= 2) // (0x50+0xa0)/2, jpeg tolerance
  }

  test("video frame sampling: real per-frame decode, stride and means") {
    val s = spark
    import s.implicits._
    import graft.operators.Multimodal
    // doc 5 -> video fixture: 6 frames (5%12+1), reds (5*31+f*17)%256
    val docs = Seq((5L, "anything")).toDF("doc_id", "text")
    val frames = Multimodal.sampleFrames(
        Multimodal.mediaFromDocuments(docs), everyN = 2)
      .orderBy("frame_idx").collect()
    assert(frames.map(_.getInt(1)).toSeq == Seq(0, 2, 4))
    assert(frames.map(_.getLong(2)).toSeq ==
      Seq(155L, (155L + 34) % 256, (155L + 68) % 256))
  }

  test("multimodal decode: corrupt audio payload falls back, flagged") {
    val s = spark
    import s.implicits._
    implicit val enc = org.apache.spark.sql.Encoders
      .product[graft.operators.Multimodal.MediaRow]
    val media = Seq(
      graft.operators.Multimodal.MediaRow(7L, "audio",
        Array[Byte](1, 2, 3, 4)))                 // not a WAV
      .toDS()
    val f = graft.operators.Multimodal.extractFeatures(media).collect()(0)
    assert(!f.decoded && f.channels == 0 && f.mean_red == 0L
      && f.n_frames == 4 % 16000 + 1)             // audio stub: (n%16000)+1
  }

  test("multimodal decode: corrupt image payload falls back, flagged") {
    val s = spark
    import s.implicits._
    import graft.operators.Multimodal
    val media = Seq(
      Multimodal.MediaRow(10L, "image",
        Multimodal.ImageCodec.encodePng(7, 5, 0x204060)),
      Multimodal.MediaRow(11L, "image",
        Array[Byte](1, 2, 3, 4))) // not a decodable image
      .toDS()
    val out = Multimodal.extractFeatures(media).collect()
    val ok = out.find(_.doc_id == 10L).get
    assert(ok.decoded && ok.width == 7 && ok.height == 5
      && ok.channels == 3 && ok.mean_red == 0x20L)
    // the corrupt row does not fail the partition: fake-kernel fallback
    val bad = out.find(_.doc_id == 11L).get
    assert(!bad.decoded && bad.width == 5 && bad.height == 5
      && bad.channels == 0 && bad.byte_len == 4)
  }

  test("semanticDedupDrops: greedy keep-lowest-id, non-dups survive") {
    val s = spark
    import s.implicits._
    val embs = Seq(
      (10L, Seq(1.0f, 0.0f, 0.0f)),
      (11L, Seq(1.0f, 0.0f, 0.0f)),  // dup of 10 -> dropped on 10's account
      (12L, Seq(1.0f, 0.0f, 0.0f)),  // dup of 10 and 11
      (13L, Seq(0.0f, 1.0f, 0.0f))   // orthogonal: survives any bucket
    ).toDF("vec_id", "embedding")
    val drops = Dedup.semanticDedupDrops(embs,
        planes = 4, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(drops == Set((11L, 10L, 1L), (12L, 10L, 2L)))
  }

  test("chunkDocuments: overlap, short tail, sub-window and empty docs") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"), // 10 tokens
      (1L, "a b"),                           // shorter than one window
      (2L, "   ")                            // no tokens -> no chunks
    ).toDF("doc_id", "text")
    val r = TextAnalysis.chunkDocuments(docs,
        chunkLen = 4, stride = 3)
      .orderBy("doc_id", "chunk_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getString(3)))
    assert(r.toSeq == Seq(
      (0L, 0L, 4L, "t0 t1 t2 t3"),
      (0L, 1L, 4L, "t3 t4 t5 t6"),
      (0L, 2L, 4L, "t6 t7 t8 t9"),
      (0L, 3L, 1L, "t9"),
      (1L, 0L, 2L, "a b")))
  }

  test("chunkDocuments covers every token exactly per stride math (randomized)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    val lens = (0L until 50L).map(i => i -> rnd.nextInt(150)).toMap
    val docs = lens.toSeq.map { case (i, n) =>
      (i, (0 until n).map(j => s"w$j").mkString(" "))
    }.toDF("doc_id", "text")
    val (cl, st) = (16, 12)
    val out = TextAnalysis.chunkDocuments(docs, cl, st)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).groupBy(_._1)
    for ((i, n) <- lens) {
      val chunks = out.getOrElse(i, Array.empty).sortBy(_._2)
      if (n == 0) assert(chunks.isEmpty, s"doc $i")
      else {
        val starts = (0 until n by st).toSeq
        assert(chunks.map(_._2).toSeq == starts.indices.map(_.toLong),
          s"doc $i chunk ids")
        for ((c, start) <- chunks.zip(starts)) {
          val expected = (start until math.min(start + cl, n))
            .map(j => s"w$j")
          assert(c._3 == expected.size && c._4 == expected.mkString(" "),
            s"doc $i start $start")
        }
        // coverage: the union of windows is exactly [0, n)
        val covered = chunks.zip(starts)
          .flatMap { case (c, s0) => s0 until (s0 + c._3.toInt) }.toSet
        assert(covered == (0 until n).toSet, s"doc $i coverage")
      }
    }
  }

  test("dsirResample with an empty target returns empty, schema intact") {
    val s = spark
    import s.implicits._
    val docs = Seq((0L, "a b", "x")).toDF("doc_id", "text", "source")
    val r = graft.operators.Sampling.dsirResample(docs,
      docs.filter(col("source") === "nope"), n = 5)
    assert(r.collect().isEmpty &&
      r.columns.toSeq == Seq("rk", "id", "logw", "score"))
  }

  test("bigramSurprisal matches hand computation; short docs emit zero") {
    val s = spark
    import s.implicits._
    val docs = Seq((0L, "a b a b"), (1L, "a b"), (2L, "z"))
      .toDF("doc_id", "text")
    // bigrams: doc0 (a,b)x2 (b,a)x1; doc1 (a,b)x1. c2(a,b)=3, c2(b,a)=1;
    // c1(a)=3, c1(b)=1; V = |{a,b,z}| = 3, alpha = 0.5
    val got = TextAnalysis.bigramSurprisal(docs)
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSeq
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def d6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP) // decimal(38,6) accum
    val ln = math.log _
    val lpAB = ln((3 + 0.5) / (3 + 0.5 * 3))  // p(b|a)
    val lpBA = ln((1 + 0.5) / (1 + 0.5 * 3))  // p(a|b)
    val s0 = r6(-(d6(2 * lpAB) + d6(1 * lpBA)).toDouble / 3.0)
    val s1 = r6(-d6(1 * lpAB).toDouble / 1.0)
    assert(got == Seq((0L, 3L, s0), (1L, 1L, s1), (2L, 0L, 0.0)))
  }

  test("dsirResample: deterministic, exact-n, target-like docs weigh more") {
    val s = spark
    import s.implicits._
    val docs = (0L until 40L).map { i =>
      val txt = if (i % 2 == 0) "alpha alpha beta" else "gamma delta beta"
      (i, txt, if (i < 10 && i % 2 == 0) "tgt" else "other")
    }.toDF("doc_id", "text", "source")
    val target = docs.filter(col("source") === "tgt")
    def run() = graft.operators.Sampling
      .dsirResample(docs, target, n = 10)
    val r1 = run().collect().map(x =>
      (x.getInt(0), x.getLong(1), x.getDouble(2), x.getDouble(3))).toSeq
    assert(r1.size == 10 && r1.map(_._1) == (1 to 10))
    assert(r1 == run().collect().map(x =>
      (x.getInt(0), x.getLong(1), x.getDouble(2), x.getDouble(3))).toSeq)
    // importance weights: every alpha-doc (target-like) outweighs every
    // gamma-doc — check via a full-corpus selection (n = 40)
    val all = graft.operators.Sampling
      .dsirResample(docs, target, n = 40)
      .collect().map(x => x.getLong(1) -> x.getDouble(2)).toMap
    val evenMin = (0L until 40L by 2).map(all).min
    val oddMax = (1L until 40L by 2).map(all).max
    assert(evenMin > oddMax)
  }

  test("hardNegativesTopK never returns a same-label neighbor") {
    val s = spark
    import s.implicits._
    val embs = Seq(
      (0L, Seq(1.0f, 0.0f), 0),
      (1L, Seq(0.99f, 0.14f), 0),  // nearest overall but same label
      (2L, Seq(0.9f, 0.43f), 1),   // nearest different-label
      (3L, Seq(0.0f, 1.0f), 1),
      (4L, Seq(-1.0f, 0.0f), 2)
    ).toDF("vec_id", "embedding", "label")
    val r = Similarity.hardNegativesTopK(embs,
        embs.filter(col("vec_id") === 0), k = 2)
      .orderBy("rk").collect()
      .map(x => (x.getLong(x.fieldIndex("neighbor_id")),
        x.getInt(x.fieldIndex("rk"))))
    assert(r.toSeq == Seq((2L, 1), (3L, 2)))
  }

  test("semanticContamination flags cosine hits with the best eval match") {
    val s = spark
    import s.implicits._
    // eval items 0 and 1 (same direction); corpus items 10 and 11 are
    // scalar multiples -> cosine 1.0 against BOTH (best = min e_id);
    // 12 is orthogonal and must be absent
    val embs = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(1.0f, 0.0f)),
      (10L, Seq(2.0f, 0.0f)),
      (11L, Seq(0.9f, 0.0f)),
      (12L, Seq(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val evalSet = embs.filter(col("vec_id") < 2)
    val r = Dedup.semanticContamination(embs, evalSet, threshold = 0.95)
      .filter(col("id") >= 10)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getDouble(3))).toSet
    assert(r == Set((10L, 2L, 0L, 1.0), (11L, 2L, 0L, 1.0)))
  }

  test("temperature mix flattens the head: kept shares move toward uniform") {
    val r = SparkEntry.queries("q93_temperature_mix")(spark,
        "/root/testdata/sf0.01")
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(3)))
    val nTot = r.map(_._2).sum.toDouble
    val nKept = r.map(_._3).sum.toDouble
    // the dominant language's share must SHRINK, the rarest's must GROW
    val head = r.maxBy(_._2)
    val tail = r.minBy(_._2)
    assert(head._3 / nKept < head._2 / nTot, s"head $head")
    assert(tail._3 / nKept > tail._2 / nTot, s"tail $tail")
  }

  test("hashEmbeddings: md5-bucket counts match a hand computation") {
    val s = spark
    import s.implicits._
    val dim = 8
    def md5hex(x: String) = MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bucket(t: String) = (BigInt(md5hex(t).take(8), 16) % dim).toInt
    val toks = Seq("alpha", "beta", "alpha", "gamma")
    val df = Seq((7L, toks)).toDF("vec_id", "toks")
    val got = Similarity.hashEmbeddings(df, dim)
      .collect()(0)
    assert(got.getLong(0) == 7L)
    val expected = Array.fill(dim)(0f)
    toks.foreach(t => expected(bucket(t)) += 1f)
    assert(got.getSeq[Float](1).toArray.sameElements(expected))
    // empty-token rows have no content to embed and are dropped
    val empty = Similarity.hashEmbeddings(
      Seq((1L, Seq.empty[String])).toDF("vec_id", "toks"), dim)
    assert(empty.collect().isEmpty)
  }

  test("trainLogReg learns a separable rule and is run-to-run deterministic") {
    val s = spark
    import s.implicits._
    import graft.operators.QualityClassifier
    // long docs (len >= 500 -> x1 = 1.0) labeled 1, short ones 0: linearly
    // separable in the length feature
    val docs = (0L until 40L).map { i =>
      val txt = if (i % 2 == 0) ("word " * 120).trim else "tiny text"
      (i, txt, i % 2 == 0)
    }.toDF("doc_id", "text", "y")
    def train() = QualityClassifier.trainLogReg(docs,
      col("y").cast("double"), iters = 16)
    val w = train()
    assert(w.sameElements(train())) // bit-identical retrain
    val scored = QualityClassifier.score(docs, w,
        extra = Seq(col("y")))
      .collect().map(r => (r.getBoolean(r.fieldIndex("pred")),
        r.getBoolean(r.fieldIndex("y"))))
    assert(scored.forall { case (pred, y) => pred == y })
  }

  test("contaminationOverlapBloom equals the exact broadcast form") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val ev = docs.filter(col("doc_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val exact = rows(TextAnalysis
      .contaminationOverlap(docs, ev))
    val bloom = rows(TextAnalysis
      .contaminationOverlapBloom(docs, ev))
    assert(exact.nonEmpty && exact == bloom)
    // empty eval set: both paths agree on the empty result
    val none = docs.filter(col("doc_id") < 0)
    assert(TextAnalysis.contaminationOverlapBloom(docs, none).collect().isEmpty)
  }

  test("asofJoin rightTieBreak picks max id among equal-ts right rows") {
    val s = spark
    import s.implicits._
    // user 1: two touches at the SAME instant (ids 5, 9) before the
    // purchase at t=10 — the credit must go to id 9's type, always;
    // user 2: purchase with no preceding touch -> null carried value
    val left = Seq((1L, 10L, 100L), (2L, 10L, 200L))
      .toDF("user_id", "ts", "event_id")
    val right = Seq((1L, 7L, "a", 5L), (1L, 7L, "b", 9L),
        (1L, 12L, "c", 11L))
      .toDF("user_id", "ts", "touch_type", "event_id")
      .select(col("user_id"), col("ts"), col("touch_type"), col("event_id"))
    val got = graft.operators.AsOfJoin.asofJoin(
        left, right.select("user_id", "ts", "touch_type", "event_id"), "ts", "ts", Seq("touch_type"),
        rightTieBreak = Some("event_id"))
      .orderBy("user_id")
      .collect().map(r => (r.getLong(0), Option(r.getString(3)))).toSeq
    assert(got == Seq((1L, Some("b")), (2L, None)))
  }

  test("writeShards round trip: balanced, sorted, lossless") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = java.nio.file.Files.createTempDirectory("shards_").toString
    try {
      graft.operators.Sharding.writeShards(docs, "doc_id", 16, out)
      val back = spark.read.parquet(out)
      // lossless: every doc lands in exactly one shard
      assert(back.count() == docs.count())
      assert(back.select("doc_id").distinct().count() == docs.count())
      // manifest rows describe exactly the written directories
      val stats = graft.operators.Sharding
        .shardStats(docs)
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val perDir = back.groupBy("shard").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(perDir == stats)
      // uniform md5 keys balance the shards (no straggler file)
      val mean = docs.count().toDouble / 16
      assert(perDir.values.max <= mean * 1.5 && perDir.values.min >= mean * 0.5)
      // within a shard file, rows are sorted by (shard_key, doc_id)
      val one = spark.read
        .parquet(s"$out/shard=3")
        .select("shard_key", "doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(one == one.sorted)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }

  test("cappedByScore matches the window formulation; small groups intact") {
    val s = spark
    import s.implicits._
    // group a: 4 docs (cap 2 keeps best 2); b: 1 doc (under cap);
    // tie in a broken by smaller id
    val df = Seq(
      ("a", 1L, 0.9), ("a", 2L, 0.5), ("a", 3L, 0.9), ("a", 4L, 0.1),
      ("b", 9L, 0.2)
    ).toDF("source", "doc_id", "q")
    val got = graft.operators.Sampling
      .cappedByScore(df, col("q"), n = 2)
      .orderBy("source", "rk")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(3))).toSeq
    assert(got == Seq(("a", 1L, 1), ("a", 3L, 2), ("b", 9L, 1)))
    // differential vs the naive window on the real corpus
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val capped = graft.operators.Sampling.cappedByScore(
      docs, TextAnalysis.qualityScore, 50)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
      .orderBy(col("q").desc, col("doc_id").asc)
    val naive = docs
      .select(col("source"), col("doc_id"),
        TextAnalysis.qualityScore.as("q"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 50)
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("source", "doc_id", "rk").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(keys(capped) == keys(naive))
  }

  test("cdcChunks tiles each text exactly and counts duplicate chunks") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (0L, longA), (1L, longA),              // identical -> all chunks dup
      (2L, longB), (3L, ""), (4L, "abc")     // empty + shorter-than-window
    ).toDF("doc_id", "text")
    val ch = TextAnalysis.cdcChunks(df)
      .orderBy("id", "chunk_id").collect()
    val texts = Map(0L -> longA, 1L -> longA, 2L -> longB, 3L -> "", 4L -> "abc")
    // per doc: chunks start at 1, abut (start+len = next start), cover len
    for ((id, rows) <- ch.groupBy(_.getLong(0))) {
      val sorted = rows.sortBy(_.getInt(1))
      assert(sorted.head.getInt(2) == 1)
      val ends = sorted.map(r => r.getInt(2) + r.getInt(3))
      assert(sorted.tail.map(_.getInt(2)).sameElements(ends.init))
      assert(ends.last == texts(id).length + 1)
      // digest really is the md5 of the chunk substring
      for (r <- sorted) {
        val sub = texts(id).substring(r.getInt(2) - 1,
          r.getInt(2) - 1 + r.getInt(3))
        val md = MessageDigest.getInstance("MD5").digest(sub.getBytes("UTF-8"))
          .map(b => f"$b%02x").mkString
        assert(r.getString(4) == md)
      }
    }
    // identical docs chunk identically, and each shared digest counts both
    val c0 = ch.filter(_.getLong(0) == 0L).map(r => (r.getInt(2), r.getString(4)))
    val c1 = ch.filter(_.getLong(0) == 1L).map(r => (r.getInt(2), r.getString(4)))
    assert(c0.sameElements(c1) && c0.length > 1)
    assert(ch.filter(_.getLong(0) == 0L).forall(_.getLong(5) >= 2L))
    // content-defined: docs 0 and 2 share the "...lazy " prefix; the first
    // cut happens at the same content position in both
    val s2 = ch.filter(_.getLong(0) == 2L).map(r => (r.getInt(2), r.getString(4)))
    assert(c0.head == s2.head)
  }

  test("gopherRules: integer-exact components and verdicts, hand-computed") {
    val s = spark
    import s.implicits._
    import graft.operators.TextAnalysis
    val docs = Seq(
      // 60 stopwords, mean len 3 (boundary: word_chars == 3*n) -> keep
      10L -> Seq.fill(30)("the and").mkString(" "),
      // 10 short non-stop words -> fails words/mean-len/stopword rules
      11L -> Seq.fill(10)("zz").mkString(" "),
      // 2 stopwords + 48 11-char words: word_chars 534 > 10*50 -> one fail
      12L -> ("the the " + Seq.fill(48)("abcdefghijk").mkString(" ")),
      // 58 stopwords + 6 '#' + one '...': symbol rule 10*7 > 65 and
      // mean-len 183 < 3*65 fail; stopword/alpha/word-count pass
      13L -> (Seq.fill(58)("the").mkString(" ") + " # # # # # # ...")
    ).toDF("doc_id", "text")
    val rows = TextAnalysis.gopherRules(docs)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getBoolean(7)))).toMap
    assert(rows(10L) == ((60L, 180L, 60L, 60L, 0L, 0L, true)))
    assert(rows(11L) == ((10L, 20L, 0L, 10L, 0L, 3L, false)))
    assert(rows(12L) == ((50L, 534L, 2L, 50L, 0L, 1L, false)))
    assert(rows(13L) == ((65L, 183L, 58L, 58L, 7L, 2L, false)))
  }

  test("URL canonicalizer: RFC3986-subset normalizations hand-checked") {
    val s = spark
    import s.implicits._
    import graft.operators.Urls
    val cases = Seq(
      // scheme+host lowercased, path case preserved, default port and
      // trailing slash stripped
      "HTTP://ExAmple.COM:80/Path/" -> "http://example.com/Path",
      "https://example.com:443/" -> "https://example.com/",
      // empty path -> root
      "https://example.com" -> "https://example.com/",
      // non-default port kept
      "http://example.com:8080/a" -> "http://example.com:8080/a",
      // tracking-only query dropped entirely
      "https://example.com/a?utm_source=x" -> "https://example.com/a",
      // tracking stripped around a real param; fragment dropped
      "https://example.com/a?utm_source=x&b=1&gclid=z#f" ->
        "https://example.com/a?b=1",
      "https://example.com/a?b=1&utm_campaign=c" ->
        "https://example.com/a?b=1",
      // trailing slash before a query
      "https://example.com/a/?b=1" -> "https://example.com/a?b=1",
      // not a URL: passes through untouched
      "not a url" -> "not a url")
    val got = cases.map(_._1).toDF("url")
      .select(col("url"), Urls.canonical(col("url")).as("canon"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    for ((in, want) <- cases) assert(got(in) == want, s"url=$in")
    // host/domain extraction: lowercased, default port stripped, www cut
    val hd = Seq(
      "HTTP://WWW.ExAmple.COM:80/x" -> (("www.example.com", "example.com")),
      "https://sub.example.com:8443/x" ->
        (("sub.example.com:8443", "sub.example.com:8443")),
      "not a url" -> (("", "")))
    val gotHd = hd.map(_._1).toDF("url")
      .select(col("url"), Urls.host(col("url")).as("h"),
        Urls.domain(col("url")).as("d"))
      .collect().map(r => r.getString(0) -> ((r.getString(1),
        r.getString(2)))).toMap
    for ((in, want) <- hd) assert(gotHd(in) == want, s"url=$in")
  }

  test("audio envelope hash: fixture WAV decodes to formula bits; corrupt flagged; pairs gate") {
    val s = spark
    import s.implicits._
    import graft.operators.Multimodal
    // the envelope fixture and the gradient-PNG fixture share one bit
    // formula: real WAV decode + envHashHex must recover it exactly
    for (id <- Seq(0L, 1L, 26L, 51L, 77L)) {
      val env = Multimodal.decodeEnvelope(
        Multimodal.envelopeWavFor(id, 25L)).get
      val bits = Multimodal.fixtureDHashBits(id, 25L)
      val expect = (0 until 16).map { c =>
        val nib = (0 until 4).map(t => bits(4 * c + t) << (3 - t)).sum
        "0123456789abcdef".charAt(nib)
      }.mkString
      assert(Multimodal.envHashHex(env) == expect, s"id=$id")
    }
    // same cluster geometry as the image test: 0/75 hamming 0, 25 one
    // flip away, 3 a different base, 199 corrupt text bytes
    val docs = Seq(0L, 75L, 25L, 3L, 199L)
      .map(id => (id, "not a wav")).toDF("doc_id", "text")
    val hashes = Multimodal.extractAudioHashes(
      Multimodal.ahashMediaFromDocuments(docs, nGroups = 25L)).toDF()
    val flags = hashes.collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(flags(199L) == false && flags.count(_._2) == 4)
    val pairs = Dedup.audioNearDupPairs(hashes)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((0L, 75L)) == 0L)
    assert(pairs((0L, 25L)) == 1L && pairs((25L, 75L)) == 1L)
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.keySet.exists(p => p._1 == 199L || p._2 == 199L))
  }

  test("video first-frame hash: fixture AVI decodes to formula bits; corrupt flagged; pairs gate") {
    val s = spark
    import s.implicits._
    import graft.operators.Multimodal
    // frame 0 carries the shared bit formula as raw-DIB pixel steps:
    // real RIFF walk + dHash recovers it exactly
    for (id <- Seq(0L, 1L, 26L, 51L, 77L)) {
      val img = Multimodal.VideoCodec.firstFrameImage(
        Multimodal.gradientAviFor(id, 25L)).get
      val bits = Multimodal.fixtureDHashBits(id, 25L)
      val expect = (0 until 16).map { c =>
        val nib = (0 until 4).map(t => bits(4 * c + t) << (3 - t)).sum
        "0123456789abcdef".charAt(nib)
      }.mkString
      assert(Multimodal.dHashHex(img) == expect, s"id=$id")
    }
    // the full container still decodes as a 2-frame video
    val dec = Multimodal.VideoCodec.decode(
      Multimodal.gradientAviFor(5L, 25L)).get
    assert(dec.width == 9 && dec.height == 8 && dec.nFrames == 2)
    // same cluster geometry as the image/audio tests
    val docs = Seq(0L, 75L, 25L, 3L, 199L)
      .map(id => (id, "not an avi")).toDF("doc_id", "text")
    val hashes = Multimodal.extractVideoHashes(
      Multimodal.vhashMediaFromDocuments(docs, nGroups = 25L)).toDF()
    val flags = hashes.collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(flags(199L) == false && flags.count(_._2) == 4)
    val pairs = Dedup.videoNearDupPairs(hashes)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((0L, 75L)) == 0L)
    assert(pairs((0L, 25L)) == 1L && pairs((25L, 75L)) == 1L)
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.keySet.exists(p => p._1 == 199L || p._2 == 199L))
  }

  test("snapshot diff: added/removed/modified/unchanged classified by content hash") {
    val s = spark
    import s.implicits._
    import graft.operators.SnapshotDiff
    val oldSnap = Seq(1L -> "a", 2L -> "b", 3L -> "c").toDF("doc_id", "text")
    val newSnap = Seq(2L -> "b", 3L -> "cX", 4L -> "d").toDF("doc_id", "text")
    val got = SnapshotDiff.diff(oldSnap, newSnap)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.isNullAt(2), r.isNullAt(3)))).toMap
    assert(got(1L) == (("removed", false, true)))
    assert(got(2L) == (("unchanged", false, false)))
    assert(got(3L) == (("modified", false, false)))
    assert(got(4L) == (("added", true, false)))
  }

  test("tokenDrift: hand-computed KL contributions under add-1 smoothing") {
    val s = spark
    import s.implicits._
    import graft.operators.TextAnalysis
    // slice A: "x x y" (3 tokens), slice B: "x z" (2); union vocab 3.
    // pa(x)=3/6, pb(x)=2/5; pa(y)=2/6, pb(y)=1/5; pa(z)=1/6, pb(z)=2/5
    val docs = Seq(("a", "x x y"), ("b", "x z")).toDF("source", "text")
    val got = TextAnalysis.tokenDrift(docs,
        col("source") === "a", minCount = 1L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    def kl(pa: Double, pb: Double) =
      BigDecimal(pa * math.log(pa / pb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got("x") == ((2L, 1L, kl(3.0 / 6, 2.0 / 5))))
    assert(got("y") == ((1L, 0L, kl(2.0 / 6, 1.0 / 5))))
    assert(got("z") == ((0L, 1L, kl(1.0 / 6, 2.0 / 5))))
  }

  test("whiten: hand-computed z-scores; constant dimension maps to zero") {
    val s = spark
    import s.implicits._
    import graft.operators.Similarity
    // dim 1: {1,3} -> mean 2, std 1; dim 2: {2,4} -> mean 3, std 1;
    // dim 3 constant -> std 0 -> z = 0
    val emb = Seq(
      (10L, Seq(1.0f, 2.0f, 7.0f)),
      (11L, Seq(3.0f, 4.0f, 7.0f))).toDF("vec_id", "embedding")
    val z = Similarity.whiten(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(z((10L, 1L)) == -1.0 && z((11L, 1L)) == 1.0)
    assert(z((10L, 2L)) == -1.0 && z((11L, 2L)) == 1.0)
    assert(z((10L, 3L)) == 0.0 && z((11L, 3L)) == 0.0)
  }

  test("kmvOverlap: estimate is EXACT when k covers the union; k bounds it") {
    val s = spark
    import s.implicits._
    import graft.operators.Overlap
    // A shingles {a b c, b c d}; B shingles {a b c, b c x}:
    // union 3, intersection 1 -> exact Jaccard 1/3 once k >= 3
    val docs = Seq(("A", "a b c d"), ("B", "a b c x")).toDF("lang", "text")
    val r = Overlap.sliceOverlap(docs, k = 8)
      .collect()
    assert(r.length == 1)
    assert(r(0).getString(0) == "A" && r(0).getString(1) == "B")
    assert(r(0).getLong(2) == 3L && r(0).getLong(3) == 1L)
    assert(r(0).getDouble(4) == 0.333333)
    // k=1 truncates the merged sketch to one hash
    val r1 = Overlap.sliceOverlap(docs, 1).collect()(0)
    assert(r1.getLong(2) == 1L)
  }

  test("KMinStringsAgg dedupes, bounds at k, and is merge-order invariant") {
    val agg = new graft.functions.KMinStringsAgg(3)
    val b = Seq("d", "b", "b", "a", "c", "e").foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(b) == Seq("a", "b", "c"))
    val x = Seq("c", "a").foldLeft(agg.zero)(agg.reduce)
    val y = Seq("b", "a", "d").foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(agg.merge(x, y)) == Seq("a", "b", "c"))
    assert(agg.finish(agg.merge(x, y)) == agg.finish(agg.merge(y, x)))
    // warm-buffer fast path: a candidate above the current max is a no-op
    assert(agg.reduce(b, "zzz") eq b)
  }

  test("pmiCollocations: hand-computed contingency PMI") {
    val s = spark
    import s.implicits._
    // bigrams: "a b a b" -> (a,b),(b,a),(a,b); "b a" -> (b,a)
    // c(a,b)=2, c(b,a)=2, marginals all 2, N=4:
    // pmi = ln(2*4 / (2*2)) = ln 2 for both
    val docs = Seq("a b a b", "b a").toDF("text")
    val got = TextAnalysis.pmiCollocations(docs, minCount = 1L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    val ln2 = BigDecimal(math.log(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(("a", "b")) == ((2L, 2L, 2L, ln2)))
    assert(got(("b", "a")) == ((2L, 2L, 2L, ln2)))
    // the integer gate drops below-threshold bigrams entirely
    assert(TextAnalysis.pmiCollocations(docs, 3L).count() == 0)
  }

  test("HLL sketch union: merged per-batch sketches answer exactly at small n") {
    val s = spark
    import s.implicits._
    // batch 0 sees {u1,u2,u3}, batch 1 sees {u2,u3,u4}: the union
    // sketch must estimate 4 — at this cardinality the Datasketches
    // HLL is in exact (sparse) mode, so the estimate IS the answer and
    // pins that union-of-sketches == sketch-of-union
    val rows = Seq((0, "u1"), (0, "u2"), (0, "u3"), (1, "u2"), (1, "u3"),
      (1, "u4"), (1, "u4")).toDF("batch", "url")
    val sk = rows.groupBy(col("batch"))
      .agg(hll_sketch_agg(col("url"), 12).as("sk"))
    val est = sk.agg(
        hll_sketch_estimate(hll_union_agg(col("sk"), allowDifferentLgConfigK = false)))
      .collect()(0).getLong(0)
    assert(est == 4L)
  }

  test("zorder: hand-computed Morton interleave; shards bound both dims") {
    val s = spark
    import s.implicits._
    import graft.operators.Layout
    // x=0b11, y=0b01: x bits at even positions, y bits at odd ->
    // z = 1<<0 + 1<<2 + 1<<1 = 7; and (x=2,y=3) -> 0b1110 = 14
    val got = Seq((3, 1), (2, 3)).toDF("x", "y")
      .select(Layout.zorder(col("x"), col("y"), 2).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(7L, 14L))
    // locality: fixing the top 4 z-bits (16 shards over 8-bit dims)
    // pins each dim to a 64-cell span inside every shard
    val xs = (0 until 256 by 3).map(i => (i, (i * 7) % 24))
    val stats = Layout.zorderShardStats(xs.toDF("ub", "hb"))
      .collect()
    assert(stats.nonEmpty)
    stats.foreach { r =>
      assert(r.getAs[Int]("x_max") - r.getAs[Int]("x_min") < 64, r.toString)
      assert(r.getAs[Int]("y_max") - r.getAs[Int]("y_min") < 64, r.toString)
    }
  }

  test("IVF-PQ append: disk-index UNION fresh codes == full rebuild, search-identical") {
    // the q128 invariant: encoding is deterministic under a frozen
    // codebook/seed model, so appending newly-encoded rows to the
    // persisted historical index yields a row-identical index — and
    // therefore an identical search result — to rebuilding from scratch
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val hist = emb.filter(col("vec_id") % 10 =!= 9)
    val fresh = emb.filter(col("vec_id") % 10 === 9)
    val seeds = emb.filter(col("vec_id") < 4)
    val qs = emb.filter(col("vec_id") < 6)
    val cb = Similarity.trainPqCodebooks(emb, m = 8, ksub = 16, iters = 2)
    val tmp = java.nio.file.Files.createTempDirectory("graft_append").toString
    graft.operators.Materializer.Persisted(tmp)(
      Similarity.ivfPqIndex(hist, seeds, cb))
    val appended = spark.read.parquet(s"$tmp/mat_0")
      .unionByName(Similarity.ivfPqIndex(fresh, seeds, cb))
    val full = Similarity.ivfPqIndex(emb, seeds, cb)
    def idxSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
    assert(idxSet(appended) == idxSet(full) && idxSet(full).size == 500)
    def res(idx: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqSearch(idx, qs, seeds, cb, k = 5, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(res(appended).nonEmpty && res(appended) == res(full))
  }

  test("HTML extraction: script/style contents drop, paragraphs join, title") {
    val s = spark
    import s.implicits._
    val html = "<html><head><title>My Page</title>" +
      "<style type=\"text/css\">body{x:1}</style></head>" +
      "<body><nav>menu</nav><p>first para</p><script>var hidden=1;" +
      "</script><p>second\npara</p></body></html>"
    val r = Seq(html).toDF("html").select(
      TextAnalysis.htmlTitle.as("t"),
      TextAnalysis.htmlParagraphs.as("m"),
      TextAnalysis.stripHtml.as("f")).collect()(0)
    assert(r.getString(0) == "My Page")
    // both <p> blocks, in order, internal newline preserved
    assert(r.getString(1) == "first para second\npara")
    // script/style CONTENTS are gone (not just the tags), whitespace
    // collapsed — the strip-tags trap the operator must not fall into
    assert(r.getString(2) == "My Page menu first para second para")
  }

  test("groupTopK: bounded heap matches the window semantics, ties by id asc") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("a", 1L, 10.0), ("a", 2L, 30.0), ("a", 3L, 30.0), ("a", 4L, 5.0),
      ("b", 5L, 1.0)).toDF("g", "doc_id", "v")
    val got = graft.operators.TopK.groupTopK(df, "g", col("v"), 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(3)))
      .sortBy(t => (t._1, t._3)).toSeq
    // a: 30.0 tie between ids 2,3 -> id asc wins rank 1; b keeps its
    // single row even though k=2
    assert(got == Seq(("a", 2L, 1), ("a", 3L, 2), ("b", 5L, 1)))
  }

  test("bm25: scores match a hand computation of the Lucene formulation") {
    val s = spark
    import s.implicits._
    // corpus: N=3, dl = 3,2,1; avgdl = 2. Query = (x, y).
    val df = Seq((1L, "x x y"), (2L, "x z"), (3L, "z"))
      .toDF("doc_id", "text")
    val got = graft.operators.Retrieval
      .bm25(df, Seq("x", "y"),
        topN = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).toSeq
    def idf(dfreq: Double) = math.log(1.0 + (3.0 - dfreq + 0.5) / (dfreq + 0.5))
    def tfn(tf: Double, dl: Double) =
      tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 2.0))
    def r6(x: Double) =
      BigDecimal(BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 1: x tf=2 df=2, y tf=1 df=1; doc 2: x tf=1
    val s1 = r6(r6(idf(2.0) * tfn(2.0, 3.0)) + r6(idf(1.0) * tfn(1.0, 3.0)))
    val s2 = r6(idf(2.0) * tfn(1.0, 2.0))
    assert(got == Seq((1, 1L, 2, s1), (2, 2L, 1, s2)))
  }

  test("sparseCosinePairs: identical docs hit 1.0, df cap drops the stopword") {
    val s = spark
    import s.implicits._
    // 'the' appears in all 4 docs -> dropped by maxDf=3; docs 1/2 are
    // identical over the remaining terms -> sim 1.0; doc 4 shares
    // nothing that survives the cap
    val df = Seq((1L, "the alpha beta"), (2L, "the alpha beta"),
      (3L, "the alpha gamma"), (4L, "the delta")).toDF("doc_id", "text")
    val got = graft.operators.Retrieval
      .sparseCosinePairs(df, maxDf = 3L, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
    // (1,2): both vectors (alpha,beta)/sqrt2 -> sim 1.0, 2 shared terms
    // (1,3)/(2,3): share alpha only -> 0.5 * 1 = 0.5
    assert(got == Seq((1L, 2L, 2L, 1.0), (1L, 3L, 1L, 0.5),
      (2L, 3L, 1L, 0.5)))
  }

  test("rrfFuse: fused score sums 1/(c+rk) across lists, missing docs skip") {
    val s = spark
    import s.implicits._
    val l1 = Seq((10L, 1), (20L, 2)).toDF("doc_id", "rk")
    val l2 = Seq((20L, 1), (30L, 2)).toDF("doc_id", "rk")
    val got = graft.operators.Retrieval.rrfFuse(Seq(l1, l2),
        topN = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).toSeq
    def r9(x: Double) = BigDecimal(x)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val s20 = r9(1.0 / 61.0 + 1.0 / 62.0)
    val s10 = r9(1.0 / 61.0)
    val s30 = r9(1.0 / 62.0)
    // doc 20 is in both lists and wins; 10 beats 30 (rank 1 vs 2)
    assert(got == Seq((1, 20L, 2, s20), (2, 10L, 1, s10),
      (3, 30L, 1, s30)))
  }

  test("editDistancePairs: finds sub/ins/del pairs, rejects distance 2") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "abcdef"),  // base
      (2L, "abXdef"),  // substitution -> dist 1
      (3L, "abcdefg"), // insertion -> dist 1
      (4L, "abcde"),   // deletion -> dist 1
      (5L, "aXcdXf"),  // two substitutions vs 1 -> dist 2: excluded
      (6L, "zzzzzz")   // unrelated
    ).toDF("id", "str")
    val got = graft.operators.EditJoin
      .editDistancePairs(df)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    // (2,3)/(2,4)/(3,4) differ by 2 edits; only the base pairs survive
    assert(got == Seq((1L, 2L, 1), (1L, 3L, 1), (1L, 4L, 1)))
  }

  test("editDistancePairs: recall 1.0 vs brute force on a mutation corpus") {
    val s = spark
    import s.implicits._
    // deterministic corpus of md5-derived strings with seeded mutations —
    // the blocking must find EVERY pair a brute-force O(n^2) scan finds
    def md5s(x: Int) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(10)
    val rows = (0 until 120).map { i =>
      val base = md5s(i / 4)
      val v = i % 4 match {
        case 0 => base
        case 1 => base.updated(i % base.length, 'z').mkString
        case 2 => base.drop(1)
        case 3 => base + "q"
      }
      (i.toLong, v)
    }
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expected = (for {
      (ai, as) <- rows; (bi, bs) <- rows
      if ai < bi && lev(as, bs) <= 1
    } yield (ai, bi)).toSet
    val got = graft.operators.EditJoin
      .editDistancePairs(rows.toDF("id", "str"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
    assert(expected.nonEmpty) // the fixture really exercises the operator
  }

  test("centroidOutliers: the far vector is flagged against the p-fence") {
    val s = spark
    import s.implicits._
    // 9 vectors near the origin, one far away; pct=0.9 over 10 values
    // interpolates the fence between the 9th and 10th distance, so
    // exactly the far vector crosses it
    val vecs = (1 to 9).map(i => (i.toLong, Seq(0.001f * i, 0.0f))) :+
      (10L, Seq(100.0f, 100.0f))
    val got = graft.operators.Similarity
      .centroidOutliers(vecs.toDF("vec_id", "embedding"), pct = 0.9)
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(10L))
  }

  test("weightedSample: draws follow the weights; repeat runs are identical") {
    val s = spark
    import s.implicits._
    // 100 heavy (w=1000) + 100 light (w=0.1) rows in one group: Gumbel
    // noise (stddev ~1.3) cannot bridge the ln-weight gap of 9.2, so a
    // 20-row draw picks (deterministically) only heavy rows
    val rows = (0 until 100).map(i => ("g", i.toLong, 1000.0)) ++
      (100 until 200).map(i => ("g", i.toLong, 0.1))
    val df = rows.toDF("lang", "doc_id", "w")
    val got = graft.operators.Sampling
      .weightedSample(df, col("w"), n = 20)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(got.length == 20 && got.forall(_._1 < 100L))
    // determinism: a second run draws the identical sample
    val again = graft.operators.Sampling
      .weightedSample(df, col("w"), n = 20)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(got.toSeq.sorted == again.toSeq.sorted)
  }

  test("triangleStats: hand-computed census; dup/reversed/self edges collapse") {
    val s = spark
    import s.implicits._
    // triangles {1,2,3} and {3,4,5}; degrees 2,2,4,2,2 -> wedges 10,
    // cc = 3*2/10 = 0.6. Noise: a self loop, a duplicate, a reversal.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 3L), (2L, 1L), (1L, 2L), (4L, 4L)).toDF("src", "dst")
    val r = graft.operators.Graph.triangleStats(edges).collect()(0)
    assert(r.getLong(0) == 5L)   // n_nodes
    assert(r.getLong(1) == 6L)   // n_edges
    assert(r.getLong(2) == 10L)  // n_wedges
    assert(r.getLong(3) == 2L)   // n_triangles
    assert(math.abs(r.getDouble(4) - 0.6) < 1e-9)
  }

  test("rankingMetrics: hand-computed recall/MRR/nDCG incl. a zero-hit query") {
    val s = spark
    import s.implicits._
    // q1: run = a(rel 2, rk1), b(rel 0, rk2), c(rel 1, rk3); qrels also
    // hold unretrieved d(rel 3). q2: its one relevant doc never retrieved.
    val run = Seq((1L, "a", 1), (1L, "b", 2), (1L, "c", 3), (2L, "x", 1))
      .toDF("query_id", "doc_id", "rk")
    val qrels = Seq((1L, "a", 2.0), (1L, "c", 1.0), (1L, "d", 3.0),
      (2L, "y", 1.0)).toDF("query_id", "doc_id", "rel")
    val got = graft.operators.Retrieval.rankingMetrics(run, qrels, k = 3)
      .orderBy(col("query_id")).collect()
    val ln2 = math.log(2.0)
    val dcg = 2.0 / (math.log(2.0) / ln2) + 1.0 / (math.log(4.0) / ln2)
    val idcg = 3.0 / (math.log(2.0) / ln2) + 2.0 / (math.log(3.0) / ln2) +
      1.0 / (math.log(4.0) / ln2)
    val r1 = got(0)
    assert(r1.getLong(1) == 3L && r1.getLong(2) == 2L)
    assert(math.abs(r1.getDouble(3) - 2.0 / 3.0) < 1e-6)  // recall
    assert(r1.getDouble(4) == 1.0)                        // mrr
    assert(math.abs(r1.getDouble(5) - dcg / idcg) < 1e-6) // ndcg
    val r2 = got(1)
    assert(r2.getLong(2) == 0L && r2.getDouble(3) == 0.0 &&
      r2.getDouble(4) == 0.0 && r2.getDouble(5) == 0.0)
  }

  test("gapFillHourly: interior gaps interpolate linearly, known buckets keep their mean") {
    val s = spark
    import s.implicits._
    val ts = (h: Int, m: Int) =>
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // hour 0: two points (8, 12) -> mean 10; hours 1-2 empty; hour 3: 40.
    // Linear fill: h1 = 20, h2 = 30.
    val pts = Seq(("k", ts(0, 10), 8.0), ("k", ts(0, 50), 12.0),
      ("k", ts(3, 0), 40.0)).toDF("event_type", "ts", "value")
    val got = graft.operators.TimeSeries.gapFillHourly(pts)
      .orderBy(col("hour")).collect()
    assert(got.length == 4)
    assert(got.map(_.getLong(2)).toSeq == Seq(2L, 0L, 0L, 1L))
    assert(got.map(_.getDouble(3)).toSeq == Seq(10.0, 20.0, 30.0, 40.0))
    assert(got.map(_.getBoolean(4)).toSeq ==
      Seq(false, true, true, false))
  }

  test("scd2History: state runs collapse; same-ts ties break on the tie column") {
    val s = spark
    import s.implicits._
    val ts = (m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // u1: A,A,B,A -> three intervals; u2: two SAME-ts rows where the tie
    // column orders B before A, so history is B then A
    val rows = Seq(
      (1L, ts(1), "A", 10L), (1L, ts(2), "A", 11L),
      (1L, ts(3), "B", 12L), (1L, ts(4), "A", 13L),
      (2L, ts(5), "A", 21L), (2L, ts(5), "B", 20L))
      .toDF("user_id", "ts", "state", "eid")
    val got = graft.operators.TimeSeries
      .scd2History(rows.withColumnRenamed("eid", "event_id").withColumnRenamed("state", "event_type"))
      .orderBy(col("user_id"), col("version")).collect()
    assert(got.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "A"), (1L, "B"), (1L, "A"), (2L, "B"), (2L, "A")))
    // interval chaining: each valid_to equals the next valid_from
    assert(got(0).getTimestamp(3) == got(1).getTimestamp(2))
    assert(got(1).getTimestamp(3) == got(2).getTimestamp(2))
    assert(got(2).isNullAt(3) && got(2).getBoolean(4))
    // u2 ties: eid 20 (B) precedes eid 21 (A) at the same timestamp
    assert(got(3).getString(1) == "B" && !got(3).getBoolean(4))
    assert(got(4).getBoolean(4))
  }

  test("abZTest: hand-computed pooled z") {
    val s = spark
    import s.implicits._
    val df = Seq(("A", 1), ("A", 0), ("B", 0), ("B", 0))
      .toDF("arm", "converted")
    val r = graft.operators.Stats.abZTest(df)
      .collect()(0)
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(r.getLong(2) == 1L && r.getLong(3) == 0L)
    // z = (0.5 - 0) / sqrt(0.25 * 0.75 * (1/2 + 1/2)) = 1.154701
    assert(math.abs(r.getDouble(6) - 1.154701) < 1e-6)
  }

  test("columnProfile: null counts, exact distincts, native-order min/max") {
    val s = spark
    import s.implicits._
    val df = Seq((Some(2L), "b"), (Some(10L), "a"), (None, "a"))
      .toDF("x", "y")
    val got = graft.operators.Stats.columnProfile(df, Seq("x", "y"),
      (_, c) => c.cast("string")).collect()
    val x = got(0); val y = got(1)
    assert(x.getString(0) == "x" && x.getLong(1) == 3L)
    assert(x.getLong(2) == 1L && x.getLong(3) == 2L)
    // native numeric order: min 2 < 10 (string order would flip)
    assert(x.getString(4) == "2" && x.getString(5) == "10")
    assert(y.getLong(2) == 0L && y.getLong(3) == 2L &&
      y.getString(4) == "a" && y.getString(5) == "b")
  }

  test("containmentPairs: directional — short-in-long scores 1.0, reverse 0.6") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e f g"),
      (3L, "q r s t u v")).toDF("doc_id", "text")
    val got = graft.operators.Retrieval
      .containmentPairs(docs,
        maxDf = 100, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    // doc1 (3 shingles) fully inside doc2 (5 shingles): 1 in 2 = 3/3,
    // 2 in 1 = 3/5 = 0.6 < threshold; doc3 shares nothing
    assert(got.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("simplifiedSilhouette: tight well-separated clusters score near 1") {
    val s = spark
    import s.implicits._
    // label 0 near the origin, label 1 ten units away: a ~= 0.1,
    // b ~= 10 -> s ~= 0.99; hand values: (0.990099 + 0.989899) / 2
    val vecs = Seq(
      (1L, Seq(0.0f, 0.0f), 0), (2L, Seq(0.2f, 0.0f), 0),
      (3L, Seq(10.0f, 0.0f), 1), (4L, Seq(10.2f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = graft.operators.Similarity
      .simplifiedSilhouette(vecs)
      .orderBy(col("label")).collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(2L, 2L))
    got.foreach(r => assert(math.abs(r.getDouble(2) - 0.989999) < 1e-6))
  }

  test("equiDepthHistogram: exact interpolated deciles of 1..100") {
    val s = spark
    import s.implicits._
    val df = (1 to 100).map(_.toDouble).toDF("x")
    val got = graft.operators.Stats
      .equiDepthHistogram(df, Seq("x"))
      .collect().map(r => (r.getInt(1), r.getDouble(2)))
    assert(got.length == 9)
    // boundary at q: v[(n-1)q] interpolated -> 10.9, 20.8, ... 50.5 ...
    assert(got.head == ((10, 10.9)))
    assert(got(4) == ((50, 50.5)))
    assert(got.last == ((90, 90.1)))
  }

  test("kCore: pendant peels off, the triangle survives; a chain dissolves") {
    val s = spark
    import s.implicits._
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L))
      .toDF("src", "dst")
    val got = graft.operators.Graph.kCore(tri, k = 2, rounds = 2)
      .orderBy(col("node")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 2L), (2L, 2L), (3L, 2L)))
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    assert(graft.operators.Graph.kCore(chain, k = 2, rounds = 3)
      .count() == 0L)
  }

  test("labelPropagation: labels meet mid-path; min-label tie-break; seeds immutable") {
    val s = spark
    import s.implicits._
    // path 1-2-3-4-5 seeded A at 1, B at 5: round 1 labels 2<-A and
    // 4<-B (3 has no labeled neighbor yet); round 2 gives 3 the
    // tie {A, B} -> min -> A. Seed 5 stays B though its only
    // neighbor says B anyway.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val seeds = Seq((1L, "A"), (5L, "B")).toDF("node", "label")
    val got = graft.operators.Graph
      .labelPropagation(edges, seeds, rounds = 2)
      .orderBy(col("node")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "A"), (2L, "A"), (3L, "A"),
      (4L, "B"), (5L, "B")))
    // after ONE round node 3 is still unlabeled
    assert(graft.operators.Graph
      .labelPropagation(edges, seeds, rounds = 1).count() == 4L)
  }

  test("cTfIdf: hand-computed class keyword weights") {
    val s = spark
    import s.implicits._
    val docs = Seq(("X", "apple apple banana"), ("Y", "cherry banana"))
      .toDF("source", "text")
    val got = graft.operators.TextAnalysis
      .cTfIdf(docs, topK = 1)
      .orderBy(col("class")).collect()
    // masses X=3, Y=2, A=2.5; w(X,apple)=2*ln(1+2.5/2)=1.62186,
    // w(Y,cherry)=ln(1+2.5/1)=1.252763
    assert(got.map(_.getString(1)).toSeq == Seq("apple", "cherry"))
    assert(math.abs(got(0).getDouble(3) - 2.0 * math.log(2.25)) < 1e-6)
    assert(math.abs(got(1).getDouble(3) - math.log(3.5)) < 1e-6)
  }

  test("psiDrift: identical slices score 0; a hard shift crosses 0.25") {
    val s = spark
    import s.implicits._
    val ref = (1 to 100).map(_.toDouble).toDF("value")
    val same = (1 to 100).map(_.toDouble).toDF("value")
    val shifted = (51 to 150).map(_.toDouble).toDF("value")
    val psi0 = graft.operators.Stats.psiDrift(ref, same)
      .collect()(0).getDouble(6)
    assert(psi0 == 0.0)
    val psi1 = graft.operators.Stats.psiDrift(ref, shifted)
      .collect()(0).getDouble(6)
    assert(psi1 > 0.25)
  }

  test("theilSenTrend: a burst hour cannot move the median slope") {
    val s = spark
    import s.implicits._
    // hourly counts 2h+3 (slope 2, intercept 3) except hour 5 bursts to
    // 53 rows: least squares would bend, the pairwise median must not
    val rows = (0 until 10).flatMap { h =>
      val n = if (h == 5) 53 else 2 * h + 3
      (0 until n).map(i =>
        ("k", java.sql.Timestamp.valueOf(f"2024-03-01 $h%02d:15:00")))
    }
    val got = graft.operators.TimeSeries
      .theilSenTrend(rows.toDF("event_type", "ts")).collect()(0)
    assert(got.getLong(1) == 10L)
    assert(got.getDouble(2) == 2.0)
    assert(got.getDouble(3) == 3.0)
  }

  test("seasonalAnomalies: only the burst day of its slot is flagged") {
    val s = spark
    import s.implicits._
    // 20 days of the 03:00 slot: 19 quiet days (1 event) and one 100x
    // burst -> mean 5.95, sigma ~21.6, burst z ~4.35, quiet z ~0.23
    val rows = (0 until 20).flatMap { d =>
      val n = if (d == 19) 100 else 1
      (0 until n).map(_ =>
        ("k", java.sql.Timestamp.valueOf(f"2024-03-${d + 1}%02d 03:10:00")))
    }
    val got = graft.operators.TimeSeries
      .seasonalAnomalies(rows.toDF("event_type", "ts"))
      .collect()
    assert(got.length == 1)
    assert(got(0).getLong(2) == 100L && got(0).getInt(3) == 3)
    assert(got(0).getDouble(6) > 4.0)
  }

  test("cusumChangepoints: window identity == the sequential recurrence") {
    val s = spark
    import s.implicits._
    // 20 quiet hours at ~level 5 then 10 hours one notch up: per-hour z
    // never trips a 3-sigma gate, but the CUSUM accumulates the shift
    val rows = (0 until 30).flatMap { h =>
      val n = if (h >= 20) 7 else if (h % 2 == 0) 4 else 6
      (0 until n).map(_ =>
        ("k", java.sql.Timestamp.valueOf(f"2024-03-01 00:00:00")
          .toInstant.plusSeconds(h * 3600L))).map { case (k, i) =>
        (k, java.sql.Timestamp.from(i))
      }
    }
    val got = graft.operators.TimeSeries
      .cusumChangepoints(rows.toDF("event_type", "ts"))
      .orderBy(col("hour")).collect()
    assert(got.length == 30)
    // replay Page's recurrence S <- max(0, S + z - k) sequentially over
    // the returned z column; the prefix-sum/prefix-min window form must
    // land on identical values
    var sp = BigDecimal(0); var sm = BigDecimal(0)
    val k = BigDecimal("0.5")
    for (r <- got) {
      val z = BigDecimal(r.getDouble(3).toString)
      sp = (sp + z - k).max(0)
      sm = (sm - z - k).max(0)
      assert(math.abs(r.getDouble(4) - sp.toDouble) < 1e-9, r)
      assert(math.abs(r.getDouble(5) - sm.toDouble) < 1e-9, r)
    }
    // the sustained one-notch shift is flagged upward, never downward
    assert(got.exists(_.getBoolean(6)))
    assert(!got.exists(_.getBoolean(7)))
  }

  test("activeUsers: trailing window covers earlier days, stickiness exact") {
    val s = spark
    import s.implicits._
    def ts(d: Int) =
      java.sql.Timestamp.valueOf(f"2024-03-$d%02d 10:00:00")
    // user 1 on days 1 and 5, user 2 on day 1 only
    val rows = Seq((1L, ts(1)), (1L, ts(1)), (1L, ts(5)), (2L, ts(1)))
    val got = graft.operators.TimeSeries
      .activeUsers(rows.toDF("user_id", "ts"))
      .orderBy(col("day"))
      .collect()
    assert(got.length == 2)
    assert(got(0).getLong(1) == 2L && got(0).getLong(2) == 2L
      && got(0).getDouble(3) == 1.0)
    // day 5: only user 1 active that day, but both fall in [Feb 28, Mar 5]
    assert(got(1).getLong(1) == 1L && got(1).getLong(2) == 2L
      && got(1).getDouble(3) == 0.5)
  }

  test("adamicAdar: path wedges score 1/ln(2); hub centers are capped") {
    val s = spark
    import s.implicits._
    // path 1-2-3-4: non-edges (1,3) and (2,4) each share one degree-2
    // center -> score 1/ln(2); plus a hub 0 joined to 5 spokes that the
    // maxDegree=3 cap must exclude (its spokes would otherwise pair up)
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val hub = (10L to 14L).map(sp => (0L, sp))
    val got = graft.operators.Graph
      .adamicAdar((path ++ hub).toDF("src", "dst"), maxDegree = 3,
        topN = 10)
      .collect()
    assert(got.length == 2)
    val w = BigDecimal(1.0 / math.log(2.0))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    for (r <- got) assert(r.getDouble(2) == w, r)
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet
      == Set((1L, 3L), (2L, 4L)))
  }

  test("aucRankSum: tie-aware hand-computed AUC") {
    val s = spark
    import s.implicits._
    // pos scores {0.9, 0.8}, neg {0.8, 0.7}: 0.9 beats both negs, 0.8
    // beats 0.7 and ties 0.8 -> (2 + 1 + 0.5) / 4 = 0.875
    val rows = Seq((0.9, true), (0.8, true), (0.8, false), (0.7, false))
    val got = graft.operators.Stats
      .aucRankSum(rows.toDF("score", "pos")).collect()(0)
    assert(got.getLong(0) == 2L && got.getLong(1) == 2L)
    assert(got.getDouble(2) == 0.875)
  }

  test("rfmSegments: 5 separable customers land on the 5 diagonal cells") {
    val s = spark
    import s.implicits._
    // customer i: i orders of 100*i each, last order on day i -> most
    // recent + most frequent + highest spend is customer 5 across all
    // three axes; exact quintile fences separate the 5 distinct values
    val rows = (1 to 5).flatMap { i =>
      (1 to i).map(j =>
        (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-$i%02d 12:00:00"),
          100.0 * i))
    }
    val got = graft.operators.Stats
      .rfmSegments(rows.toDF("o_custkey", "o_orderdate", "o_totalprice"))
      .collect()
    assert(got.length == 5)
    for (r <- got) {
      val sc = r.getInt(0)
      assert(r.getInt(1) == sc && r.getInt(2) == sc)
      assert(r.getLong(3) == 1L)
      // segment (i,i,i) holds customer i: total spend i * 100 * i
      assert(r.getDouble(4) == 100.0 * sc * sc)
    }
  }

  test("cohenKappa: textbook 2x2 contingency") {
    val s = spark
    import s.implicits._
    // 20 yes/yes, 15 no/no, 10 yes/no, 5 no/yes: p_o = 0.7,
    // p_e = 0.6*0.5 + 0.4*0.5 = 0.5 -> kappa = 0.4
    val rows = Seq.fill(20)((true, true)) ++ Seq.fill(15)((false, false)) ++
      Seq.fill(10)((true, false)) ++ Seq.fill(5)((false, true))
    val got = graft.operators.Stats
      .cohenKappa(rows.toDF("a", "b")).collect()(0)
    assert(got.getLong(0) == 50L)
    assert(got.getDouble(1) == 0.7 && got.getDouble(2) == 0.5)
    assert(got.getDouble(3) == 0.4)
  }

  test("calibration: hand-computed bins, ECE and Brier") {
    val s = spark
    import s.implicits._
    // bin 8: conf 0.8, acc 0.5 -> |gap| 0.3 on half the mass;
    // bin 2: conf 0.2, acc 0.0 -> |gap| 0.2 on the other half
    val rows = Seq((0.8, true), (0.8, false), (0.2, false), (0.2, false))
    val got = graft.operators.Stats
      .calibration(rows.toDF("p", "is_hq"))
      .orderBy(col("bucket")).collect()
    assert(got.length == 2)
    assert(got(0).getInt(0) == 2 && got(0).getDouble(2) == 0.2
      && got(0).getDouble(3) == 0.0)
    assert(got(1).getInt(0) == 8 && got(1).getDouble(2) == 0.8
      && got(1).getDouble(3) == 0.5)
    // ece = 0.5*0.3 + 0.5*0.2 = 0.25; brier = (0.04+0.64+0.04+0.04)/4
    assert(got(0).getDouble(5) == 0.25)
    assert(got(0).getDouble(6) == 0.19)
  }

  test("giniConcentration: equal mass -> 0, single holder -> 1 - 1/n") {
    val s = spark
    import s.implicits._
    val eq = graft.operators.Stats
      .giniConcentration(Seq(5L, 5L, 5L, 5L).toDF("n_chars"))
      .collect()(0)
    assert(eq.getLong(0) == 4L && eq.getLong(1) == 20L
      && eq.getDouble(2) == 0.0)
    val one = graft.operators.Stats
      .giniConcentration(Seq(0L, 0L, 0L, 10L).toDF("n_chars"))
      .collect()(0)
    assert(one.getDouble(2) == 0.75)
  }

  test("kaplanMeierRetention: censored units stay at risk, never churn") {
    val s = spark
    import s.implicits._
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-03-$d%02d 09:00:00")
    // stream ends day 30; u1 t=10 churned, u2 t=20 churned, u3/u4 still
    // active in the last week -> censored (at risk, no churn rows)
    val rows = Seq((1L, ts(1)), (1L, ts(11)), (2L, ts(1)), (2L, ts(21)),
      (3L, ts(5)), (3L, ts(28)), (4L, ts(1)), (4L, ts(30)))
    val got = graft.operators.TimeSeries
      .kaplanMeierRetention(rows.toDF("unit", "ts"))
      .orderBy(col("t_days")).collect()
    assert(got.length == 2)
    assert(got(0).getLong(0) == 10L && got(0).getLong(1) == 4L
      && got(0).getLong(2) == 1L && got(0).getDouble(3) == 0.75)
    assert(got(1).getLong(0) == 20L && got(1).getLong(1) == 3L
      && got(1).getLong(2) == 1L && got(1).getDouble(3) == 0.5)
  }

  test("stlDecompose: pure 24h-periodic series decomposes with 0 residual") {
    val s = spark
    import s.implicits._
    // 48 hours at level 10 with a +5 spike every day at 03:00: every
    // full 24h window averages 245/24, the seasonal profile absorbs
    // the spike, residuals vanish
    val rows = (0 until 48).flatMap { h =>
      val n = if (h % 24 == 3) 15 else 10
      (0 until n).map(_ => ("k",
        java.sql.Timestamp.from(java.time.Instant
          .parse("2024-03-01T00:30:00Z").plusSeconds(h * 3600L))))
    }
    val got = graft.operators.TimeSeries
      .stlDecompose(rows.toDF("event_type", "ts"))
      .orderBy(col("hour")).collect()
    assert(got.length == 25) // hours 12..36 carry a full 24-term window
    val trend = BigDecimal(245.0 / 24)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    for (r <- got) {
      assert(r.getDouble(3) == trend, r)
      assert(r.getDouble(5) == 0.0, r)
    }
    val spike = got.filter(_.getLong(2) == 15L)
    assert(spike.length == 1
      && spike(0).getDouble(4) == math.rint((15 - trend) * 1e6) / 1e6)
  }

  test("benfordAudit: digit extraction and the Benford expectation") {
    val s = spark
    import s.implicits._
    val rows = Seq(123.45, 150.0, 234.5, 987.0, 1.99).toDF("o_totalprice")
    val got = graft.operators.Stats.benfordAudit(rows)
      .orderBy(col("digit")).collect()
    assert(got.map(r => (r.getInt(0), r.getLong(1))).toSeq
      == Seq((1, 3L), (2, 1L), (9, 1L)))
    val exp1 = BigDecimal(math.log(2.0) / math.log(10.0))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(0).getDouble(3) == exp1)
    assert(got(0).getDouble(5) > 0.0) // chi2 of a 5-row sample is not 0
  }

  test("bfsHops: min distance from multiple seeds, horizon respected") {
    val s = spark
    import s.implicits._
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val one = graft.operators.Graph
      .bfsHops(path, Seq(1L).toDF("node"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    // node 5 is 4 hops out -> beyond the horizon, absent
    assert(one == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
    val two = graft.operators.Graph
      .bfsHops(path, Seq(1L, 5L).toDF("node"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    // two sources: each node takes the MIN over both
    assert(two == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 1, 5L -> 0))
  }

  test("bloomPrunedJoin: exactly the plain join, pruning included") {
    val s = spark
    import s.implicits._
    val fact = (1L to 200L).map(i => (i, i % 10)).toDF("l_partkey", "grp")
    val dim = Seq((3L, "x"), (7L, "y"), (500L, "z")).toDF("p_partkey", "tag")
    val got = graft.operators.Skew.bloomPrunedJoin(fact, dim)
      .select(col("l_partkey"), col("tag")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((3L, "x"), (7L, "y")))
  }

  test("applyChangelog: latest event wins, deletes remove, inserts add") {
    val s = spark
    import s.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val ch = Seq(
      (2L, "b2", 10L, 1L, "U"),
      (2L, "b3", 10L, 2L, "U"), // same ts: the tie column must decide
      (3L, "gone", 5L, 1L, "D"),
      (4L, "d", 1L, 1L, "U"))   // insert of a key the base lacks
      .toDF("c_custkey", "v", "ts", "tie", "op")
    val got = graft.operators.SnapshotDiff
      .applyChangelog(base.withColumnRenamed("k", "c_custkey"), ch, Seq("v"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == Map(1L -> "a", 2L -> "b3", 4L -> "d"))
  }

  test("personalizedPageRank: teleport mass stays near the seeds") {
    val s = spark
    import s.implicits._
    // symmetrized path 1-2-3, seed {1}: after one round node 2 holds
    // the forwarded seed mass, node 3 none yet; deeper rounds decay
    // with distance
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
      .toDF("src", "dst")
    val r1 = graft.operators.Graph
      .personalizedPageRank(edges, Seq(1L).toDF("node"), iters = 1)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(r1 == Map(1L -> 0.15, 2L -> 0.85, 3L -> 0.0))
    val r3 = graft.operators.Graph
      .personalizedPageRank(edges, Seq(1L).toDF("node"), iters = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(r3(1L) > r3(2L) * 0 && r3(2L) > r3(3L) && r3(3L) > 0.0)
  }

  test("weightedQuantiles: mass-weighted, not row-weighted") {
    val s = spark
    import s.implicits._
    // values 1..4 with weights 1,1,1,7: half the MASS sits at value 4
    // even though the row median is 2.5
    val rows = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 7L))
      .map { case (v, w) => ("k", v, w) }.toDF("source", "v", "w")
    val got = graft.operators.Stats
      .weightedQuantiles(rows, "v", "w", Seq(25, 50, 75))
      .collect().map(r => (r.getInt(1), r.getLong(2))).toMap
    assert(got == Map(25 -> 3L, 50 -> 4L, 75 -> 4L))
  }

  test("contingencyStats: zero for independence, n and ln(2) for a 2x2 lock") {
    val s = spark
    import s.implicits._
    val indep = Seq.fill(20)(("x", "0")) ++ Seq.fill(20)(("x", "1")) ++
      Seq.fill(10)(("y", "0")) ++ Seq.fill(10)(("y", "1"))
    val gi = graft.operators.Stats
      .contingencyStats(indep.toDF("a", "b")).collect()(0)
    assert(gi.getLong(0) == 60L && gi.getLong(1) == 1L)
    assert(gi.getDouble(2) == 0.0 && gi.getDouble(3) == 0.0)
    // perfect dependence: chi2 = n, MI = ln 2
    val dep = Seq.fill(30)(("x", "0")) ++ Seq.fill(30)(("y", "1"))
    val gd = graft.operators.Stats
      .contingencyStats(dep.toDF("a", "b")).collect()(0)
    assert(gd.getDouble(2) == 60.0)
    assert(gd.getDouble(3) == BigDecimal(math.log(2.0))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("percentileRanks: midrank shares over the value histogram") {
    val s = spark
    import s.implicits._
    val got = graft.operators.Stats
      .percentileRanks(Seq(1L, 1L, 2L, 3L).toDF("n_chars"))
      .orderBy(col("v")).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(got == Seq((1L, 0.25), (2L, 0.625), (3L, 0.875)))
  }

  test("paretoFrontier: dominance with ties, no pairwise join semantics") {
    val s = spark
    import s.implicits._
    // (10, .5) dominated by (20, .5); (20, .5) and its exact twin both
    // survive; (15, .9) survives (nothing longer is better); (20, .4)
    // dominated by (20, .5)
    val rows = Seq((1L, 10L, 0.5), (2L, 20L, 0.5), (3L, 20L, 0.5),
      (4L, 15L, 0.9), (5L, 20L, 0.4), (6L, 30L, 0.1))
      .toDF("doc_id", "x", "y")
    val got = graft.operators.TopK
      .paretoFrontier(rows, col("x"), col("y"))
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(2L, 3L, 4L, 6L))
  }

  test("noveltyVsReference: known shingles subtract, unseen docs score 1") {
    val s = spark
    import s.implicits._
    val ref = Seq((100L, "a b c d")).toDF("doc_id", "text")
    // doc 1 shares shingle "a b c" with the reference (its other
    // shingle "b c x" is novel); doc 2 shares nothing
    val corpus = Seq((1L, "a b c x"), (2L, "q r s t"))
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .noveltyVsReference(corpus, ref)
      .orderBy(col("id")).collect()
    assert(got(0).getLong(1) == 2L && got(0).getLong(2) == 1L
      && got(0).getDouble(3) == 0.5)
    assert(got(1).getLong(2) == 0L && got(1).getDouble(3) == 1.0)
  }

  test("vocabGrowth: new types land in their first batch, TTR runs") {
    val s = spark
    import s.implicits._
    // ids 0..3 with max 3 -> 2 batches of 2 docs: batch 0 brings
    // {a, b, c}, batch 1 adds only {d}
    val docs = Seq((0L, "a b"), (1L, "b c"), (2L, "a d"), (3L, "d a"))
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .vocabGrowth(docs, batches = 2)
      .orderBy(col("batch")).collect()
    assert(got.length == 2)
    assert(got(0).getInt(0) == 0 && got(0).getLong(1) == 4L
      && got(0).getLong(2) == 3L && got(0).getLong(3) == 3L
      && got(0).getDouble(4) == 0.75)
    assert(got(1).getLong(1) == 4L && got(1).getLong(2) == 1L
      && got(1).getLong(3) == 4L && got(1).getDouble(4) == 0.5)
  }

  test("zipfFit: an exact power law recovers its exponent") {
    val s = spark
    import s.implicits._
    // frequencies 16, 8, 4, 2, 1 over ranks 1..5 under base 2:
    // ln f = ln 16 - (ln 2 / ln 2) ... slope in ln-ln space is
    // log2-linear with slope -ln(2)/... construct f = 2^(5-rank):
    // ln f = (5 - rank) ln 2, ln rank is NOT linear in rank, so use
    // f = 1/rank scaled: freq r = 60 / r for r in 1..5 -> ln f =
    // ln 60 - ln r -> slope exactly -1
    val words = Seq("a" -> 60, "b" -> 30, "c" -> 20, "d" -> 15, "e" -> 12)
    val text = words.flatMap { case (w, n) => Seq.fill(n)(w) }
      .mkString(" ")
    val got = graft.operators.TextAnalysis
      .zipfFit(Seq((1L, text)).toDF("doc_id", "text"))
      .collect()(0)
    assert(got.getLong(0) == 5L)
    assert(math.abs(got.getDouble(1) - (-1.0)) < 1e-6, got)
  }

  test("interEventBurstiness: metronome pins to -1, bursts go positive") {
    val s = spark
    import s.implicits._
    def ts(sec: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-03-01T00:00:00Z").plusSeconds(sec))
    // user 1: perfectly regular (sigma 0 -> B = -1); user 2: two
    // near-simultaneous bursts far apart (sigma >> mu -> B > 0)
    val rows = (0 until 5).map(i => (1L, ts(i * 60))) ++
      Seq((2L, ts(0)), (2L, ts(1)), (2L, ts(3600)), (2L, ts(3601)))
    val got = graft.operators.TimeSeries
      .interEventBurstiness(rows.toDF("user_id", "ts"))
      .orderBy(col("entity")).collect()
    assert(got(0).getLong(1) == 4L && got(0).getDouble(3) == -1.0)
    // gaps (1, 3599, 1): sigma/mu ~ 1.41 -> B ~ +0.17, clearly bursty
    // against the metronome's -1
    assert(got(1).getLong(1) == 3L && got(1).getDouble(3) > 0.1)
  }

  test("rakeKeywords: degree/frequency scoring picks the dense phrase") {
    val s = spark
    import s.implicits._
    // stopwords 'and'/'the' split the runs; phrases: "red apple",
    // "red apple pie", "sky". red/apple: freq 2, deg 2+3=5 -> 2.5;
    // pie: 3/1 = 3; sky: 1 -> "red apple pie" wins at 2.5+2.5+3 = 8
    val docs = Seq((1L, "red apple and red apple pie and the sky"))
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .rakeKeywords(docs).collect()
    assert(got.length == 1)
    assert(got(0).getString(1) == "red apple pie")
    assert(got(0).getDouble(2) == 8.0)
  }

  test("fdAudit: violating keys and their row mass") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a"), (1L, "a"), (1L, "b"), (2L, "c"))
      .toDF("k", "v")
    val got = graft.operators.Stats.fdAudit(df, Seq("k" -> "v"))
      .collect()(0)
    assert(got.getString(0) == "k->v")
    assert(got.getLong(1) == 2L && got.getLong(2) == 1L
      && got.getLong(3) == 3L)
  }

  test("correlationMatrix: perfect linear relations hit +/- 1") {
    val s = spark
    import s.implicits._
    val df = Seq((1.0, 2.0, 3.0), (2.0, 4.0, 2.0), (3.0, 6.0, 1.0))
      .toDF("x", "y", "z")
    val got = graft.operators.Stats
      .correlationMatrix(df, Seq("x", "y", "z"))
      .collect().map(r => ((r.getString(0), r.getString(1)),
        r.getDouble(2))).toMap
    assert(got(("x", "y")) == 1.0)
    assert(got(("x", "z")) == -1.0 && got(("y", "z")) == -1.0)
  }

  test("fisherSeparation: separated clusters dwarf overlapping ones") {
    val s = spark
    import s.implicits._
    def v(a: Double, b: Double) = Array(a.toFloat, b.toFloat)
    // two tight, far-apart clusters -> big between, tiny within
    val sep = Seq((0, v(0, 0)), (0, v(0.1, 0)), (1, v(10, 10)),
      (1, v(10.1, 10))).toDF("label", "embedding")
    val fs = graft.operators.Similarity
      .fisherSeparation(sep).collect()(0)
    assert(fs.getLong(0) == 2L && fs.getInt(1) == 2)
    assert(fs.getDouble(4) > 1000.0)
    // identical distributions -> between ~ 0
    val mix = Seq((0, v(0, 0)), (0, v(1, 1)), (1, v(0, 0)),
      (1, v(1, 1))).toDF("label", "embedding")
    val fm = graft.operators.Similarity
      .fisherSeparation(mix).collect()(0)
    assert(fm.getDouble(2) == 0.0)
  }

  test("associationLift: hand-computed support/confidence/lift") {
    val s = spark
    import s.implicits._
    val rows = Seq((1L, "A"), (1L, "B"), (1L, "C"), (2L, "A"), (2L, "B"),
      (3L, "A"), (3L, "B"), (4L, "C"))
    val got = graft.operators.Stats
      .associationLift(rows.toDF("l_orderkey", "l_partkey"),
        minCount = 2, topN = 10)
      .collect()
    // only (A,B) clears minCount=2: n_ab=3, N=4, n_A=3, n_B=3
    assert(got.length == 1)
    val r = got(0)
    assert(r.getString(0) == "A" && r.getString(1) == "B")
    assert(r.getLong(2) == 3L)
    assert(r.getDouble(3) == 0.75)
    assert(r.getDouble(4) == 1.0 && r.getDouble(5) == 1.0)
    assert(r.getDouble(6) == BigDecimal(4.0 * 3 / 9)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("naiveBayes: disjoint vocabularies classify the held-out slice " +
    "perfectly") {
    val s = spark
    import s.implicits._
    // two classes with disjoint vocab — any train/test split must yield a
    // diagonal confusion matrix (shares 1.0)
    val docs = (0L until 40L).map { i =>
      if (i % 2 == 0) (i, "alpha beta gamma alpha", "x")
      else (i, "delta epsilon zeta delta", "y")
    }.toDF("doc_id", "text", "lang")
    val cm = graft.operators.NaiveBayes
      .confusionMatrix(docs)
      .collect()
    assert(cm.nonEmpty)
    cm.foreach { r =>
      assert(r.getString(0) == r.getString(1))
      assert(r.getDouble(3) == 1.0)
    }
    // both classes appear in the held-out slice of this fixture
    assert(cm.map(_.getString(0)).toSet == Set("x", "y"))
  }

  test("naiveBayes: out-of-vocab test doc falls back to the prior " +
    "argmax with the smallest-label tie") {
    val s = spark
    import s.implicits._
    // build the fixture AROUND the md5 split: exactly 2 train docs per
    // class (equal priors) with equal token masses, and ONE held-out doc
    // whose tokens were never seen in training -> every class score
    // reduces to the identical lnPrior - n_tok*lnDenom -> tie -> the
    // smallest label 'x' wins
    def hex1(id: Long): Char = {
      val d = MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      "%02x".format(d(0)).charAt(0)
    }
    val ids = (0L to 300L)
    val trainIds = ids.filter(hex1(_) < 'c').take(4)
    val testId = ids.find(hex1(_) >= 'c').get
    val docs = (trainIds.zipWithIndex.map { case (id, i) =>
      if (i % 2 == 0) (id, "alpha beta", "x") else (id, "delta zeta", "y")
    } :+ ((testId, "omega omega", "y"))).toDF("doc_id", "text", "lab")
    val cm = graft.operators.NaiveBayes
      .confusionMatrix(docs.withColumnRenamed("lab", "lang"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(cm == Map(("y", "x") -> 1L))
  }

  test("fkGrade: hand-computed Flesch-Kincaid on a known sentence") {
    val s = spark
    import s.implicits._
    // "Hello world. This is fun!": words=5, sentences=2, vowel groups in
    // lowercase = e,o | o | i | i | u = 6
    // fk = 0.39*(5/2) + 11.8*(6/5) - 15.59 = 0.975 + 14.16 - 15.59
    val df = Seq(("s1", "Hello world. This is fun!")).toDF("source", "text")
    val got = graft.operators.TextAnalysis
      .readabilityBySource(df).collect()(0)
    val expect = BigDecimal(0.39 * (5.0 / 2.0) + 11.8 * (6.0 / 5.0) - 15.59)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.getLong(1) == 1L)
    assert(got.getDouble(2) == expect)
    assert(got.getDouble(3) == expect && got.getDouble(4) == expect)
    // empty doc: words floor 1, sentences floor 1, syllables 0
    val empty = Seq(("s1", "")).toDF("source", "text")
    val g2 = graft.operators.TextAnalysis
      .readabilityBySource(empty).collect()(0)
    assert(g2.getDouble(2) == BigDecimal(0.39 + 0.0 - 15.59)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("dpNoisyCounts: deterministic Laplace noise matching the " +
    "hand-computed inverse CDF") {
    val s = spark
    import s.implicits._
    val df = (0 until 100).map(i => Tuple1(if (i < 70) "a" else "b"))
      .toDF("event_type")
    val run1 = graft.operators.Stats.dpNoisyCounts(df)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val run2 = graft.operators.Stats.dpNoisyCounts(df)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(run1 == run2) // retry-stable
    // replay the draw for group "a" (count 70) in plain Scala
    def released(grp: String, n: Long): Double = {
      val d = MessageDigest.getInstance("MD5")
        .digest(s"dp|$grp".getBytes("UTF-8"))
      val hex8 = d.take(4).map("%02x".format(_)).mkString
      val u = (java.lang.Long.parseLong(hex8, 16).toDouble + 0.5) /
        4294967296.0
      val cu = u - 0.5
      val noise = BigDecimal(-1.0 * math.signum(cu)
        * math.log(1.0 - 2.0 * math.abs(cu)))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      BigDecimal(n + noise).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    }
    assert(run1("a") == released("a", 70L))
    assert(run1("b") == released("b", 30L))
    assert(run1("a") != 70.0) // noise actually applied
  }

  test("ewmaHourly: exact powers-of-two weighting, renormalized at the " +
    "series edge") {
    val s = spark
    import s.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:05:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 11:30:00")
    val rows = Seq.fill(2)(("A", t0)) ++ Seq.fill(4)(("A", t1))
    val got = graft.operators.TimeSeries
      .ewmaHourly(rows.toDF("event_type", "ts"))
      .collect().map(r => r.getString(1) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    // first hour: only itself in the window -> ewma = own count
    assert(got("2024-01-01 10:00") == ((2L, 2.0)))
    // second hour: (4*2^24 + 2*2^23) / (2^24 + 2^23) = 10/3
    assert(got("2024-01-01 11:00") == ((4L,
      BigDecimal(10.0 / 3.0).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)))
  }

  test("lDiversityAudit: low-diversity tuples counted with their rows") {
    val s = spark
    import s.implicits._
    // tuple (x,1): 3 rows, 1 distinct user -> risky at l=3
    // tuple (x,2): 3 rows, 3 distinct users -> fine
    val df = Seq(("x", 1, 10L), ("x", 1, 10L), ("x", 1, 10L),
      ("x", 2, 1L), ("x", 2, 2L), ("x", 2, 3L)).toDF("a", "b", "user_id")
    val got = graft.operators.Stats
      .lDiversityAudit(df, Seq("a", "b")).collect()(0)
    assert(got.getString(0) == "x")
    assert(got.getLong(1) == 2L)      // tuples
    assert(got.getLong(2) == 1L)      // low-diversity tuples
    assert(got.getLong(3) == 3L)      // rows at risk
    assert(got.getLong(4) == 1L)      // worst diversity
  }

  test("pcaTopComponent: recovers the dominant axis of a rank-1 cloud") {
    val s = spark
    import s.implicits._
    // points along (1, 0.1): covariance is rank-1 with eigenvector
    // (1, 0.1); max-|component| normalization pins loading_0 = 1.0
    val df = Seq((1L, Array(1f, 0.1f)), (2L, Array(2f, 0.2f)),
      (3L, Array(-1f, -0.1f)), (4L, Array(-2f, -0.2f)))
      .toDF("vec_id", "embedding")
    val got = graft.operators.Similarity
      .pcaTopComponent(df)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(got(0) == 1.0)
    assert(math.abs(got(1) - 0.1) < 1e-4)
  }

  test("kCenterCoreset: greedy farthest-first picks in order") {
    val s = spark
    import s.implicits._
    def v(x: Double) = Array(x.toFloat, 0f)
    val df = Seq((1L, v(0)), (2L, v(10)), (3L, v(1)), (4L, v(5)))
      .toDF("vec_id", "embedding")
    val got = graft.operators.Similarity
      .kCenterCoreset(df, k = 4)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    // seed = lowest id (pos 0); then pos 10 (d2=100); then pos 5
    // (min(25,25)=25); then pos 1 (d2=1)
    assert(got.toSeq == Seq((0, 1L, 0.0), (1, 2L, 100.0),
      (2, 4L, 25.0), (3, 3L, 1.0)))
  }

  test("weightedShortestPaths: min-plus relaxation over a weighted chain") {
    val s = spark
    import s.implicits._
    val edges = Seq((1L, 2L, 5L), (2L, 3L, 1L), (1L, 3L, 10L))
      .toDF("src", "dst", "cost")
    val seeds = Seq(Tuple1(1L)).toDF("node")
    val got = graft.operators.Graph
      .weightedShortestPaths(edges, seeds, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // direct 1->3 costs 10; via 2 costs 6 — two rounds find it
    assert(got == Map(1L -> 0L, 2L -> 5L, 3L -> 6L))
    // one round only sees the direct edge
    val one = graft.operators.Graph
      .weightedShortestPaths(edges, seeds, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one(3L) == 10L)
  }

  test("prefixFilterJaccardPairs: recall 1.0 against the brute-forced " +
    "pair set") {
    val s = spark
    import s.implicits._
    // 40 docs: 8 clusters of near-dup template docs + drifted tails
    val words = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    val docs = (0L until 40L).map { i =>
      val cl = (i % 8).toInt
      val base = (0 until 8).map(j => words((cl + j) % 10))
      val drift = if (i < 16) base
        else base.updated((i % 5).toInt, words(((i + cl) % 10).toInt))
      (i, drift.mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val got = Dedup.prefixFilterJaccardPairs(df)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force the same shingle algebra in Scala
    def sh(t: String): Set[String] = {
      val tk = t.split("\\s+").filter(_.nonEmpty)
      if (tk.length < 3) Set(tk.mkString(" "))
      else tk.sliding(3).map(_.mkString(" ")).toSet
    }
    val expect = (for {
      (a, ta) <- docs; (b, tb) <- docs if a < b
      inter = sh(ta).intersect(sh(tb)).size
      uni = sh(ta).union(sh(tb)).size
      if inter * 2 >= uni
    } yield (a, b)).toSet
    assert(expect.nonEmpty && got == expect)
  }

  test("crossValAccuracy: disjoint vocabularies score 1.0 on every fold") {
    val s = spark
    import s.implicits._
    val docs = (0L until 80L).map { i =>
      if (i % 2 == 0) (i, "alpha beta gamma", "x")
      else (i, "delta epsilon zeta", "y")
    }.toDF("doc_id", "text", "lang")
    val got = graft.operators.NaiveBayes
      .crossValAccuracy(docs)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(3)))
    assert(got.map(_._1).toSeq == Seq(0, 1, 2, 3))
    assert(got.map(_._2).sum == 80L) // folds partition the corpus
    got.foreach { case (_, _, acc) => assert(acc == 1.0) }
  }

  test("rm3ExpandTerms: expansion adds the feedback docs' top non-query " +
    "terms in tf order") {
    val s = spark
    import s.implicits._
    // docs about "spark": the feedback set shares "shuffle shuffle
    // partition"; "zebra" appears only in a non-matching doc
    val df = Seq(
      (1L, "spark shuffle shuffle partition"),
      (2L, "spark shuffle partition partition"),
      (3L, "zebra yak unrelated words here")).toDF("doc_id", "text")
    val got = graft.operators.Retrieval
      .rm3ExpandTerms(df, Seq("spark"),
        fbDocs = 2, fbTerms = 2)
    // tf over docs 1,2: shuffle=3, partition=3 -> tie breaks on term asc
    assert(got == Seq("spark", "partition", "shuffle"))
  }

  test("frequentTriples: Apriori prune keeps exactly the supported " +
    "triple") {
    val s = spark
    import s.implicits._
    // baskets: {A,B,C} x2, {A,B,D} x1 -> pairs AB(3) AC(2) BC(2) AD BD
    // (1 each); triple ABC support 2; ABD support 1 (and pair AD is
    // infrequent anyway)
    val rows = Seq((1L, "A"), (1L, "B"), (1L, "C"),
      (2L, "A"), (2L, "B"), (2L, "C"),
      (3L, "A"), (3L, "B"), (3L, "D"))
    val got = graft.operators.Stats
      .frequentTriples(rows.toDF("l_orderkey", "l_partkey"), topN = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    assert(got.toSeq == Seq(("A", "B", "C", 2L)))
  }

  test("joinCardinalityAudit: exact product-sum cardinality and the " +
    "uniformity estimate") {
    val s = spark
    import s.implicits._
    // left: key 1 x3, key 2 x1; right: key 1 x2, key 3 x1
    val l = Seq(1L, 1L, 1L, 2L).toDF("k")
    val r = Seq(1L, 1L, 3L).toDF("j")
    val got = graft.operators.Stats
      .joinCardinalityAudit(l, "k", r, "j", "e").collect()(0)
    assert(got.getLong(1) == 4L && got.getLong(2) == 2L) // n_l, d_l
    assert(got.getLong(3) == 3L && got.getLong(4) == 2L) // n_r, d_r
    assert(got.getDouble(5) == 6.0)   // 4*3 / max(2,2)
    assert(got.getLong(6) == 6L)      // 3*2 exact
    assert(got.getDouble(7) == 1.0)   // estimate happens to be exact
  }

  test("neighborhoodFunction: exact ball sizes on a chain, estimate " +
    "within the gate") {
    val s = spark
    import s.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = graft.operators.Graph.neighborhoodFunction(edges)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toMap
    assert(got(1L) == ((2L, 3L, true)))  // {1,2}, {1,2,3}
    assert(got(2L) == ((3L, 4L, true)))  // {1,2,3}, all
    assert(got(3L) == ((3L, 4L, true)))
    assert(got(4L) == ((2L, 3L, true)))
  }

  test("budgetSelect: greedy prefix by (score desc, id), boundary doc " +
    "included") {
    val s = spark
    import s.implicits._
    // order by score desc, id: 3(w=4), 1(w=4), 2(w=4), 4(w=4)
    // budget 9: cum_prev 0,4,8,12 -> selected 3,1,2 (2 crosses), not 4
    val df = Seq((1L, 4L, 0.8), (2L, 4L, 0.5), (3L, 4L, 0.9),
      (4L, 4L, 0.1)).toDF("doc_id", "w", "s")
    val got = graft.operators.Sampling
      .budgetSelect(df, col("w"), col("s"), budget = 9L,
        nBuckets = 2)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(got == Map(1L -> true, 2L -> true, 3L -> true, 4L -> false))
    // ties on score order by id: equal scores, budget covers first two
    val ties = Seq((10L, 5L, 0.5), (11L, 5L, 0.5), (12L, 5L, 0.5))
      .toDF("doc_id", "w", "s")
    val g2 = graft.operators.Sampling
      .budgetSelect(ties, col("w"), col("s"), budget = 10L,
        nBuckets = 4)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(g2 == Map(10L -> true, 11L -> true, 12L -> false))
  }

  test("distinctNgramDiversity: hand-computed type/occurrence ratios") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("a", "aa aa bb"),      // uni: 2 types / 3 occ; bi: {aa aa, aa bb} 2/2
      ("b", "x y x y"),       // uni: 2/4; bi: {x y, y x, x y} 2/3
      ("c", "solo")           // uni: 1/1; bi: none -> 0
    ).toDF("source", "text")
    val got = graft.operators.TextAnalysis
      .distinctNgramDiversity(df)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getLong(4), r.getLong(5), r.getDouble(6))).toMap
    assert(got("a") == ((2L, 3L, 0.666667, 2L, 2L, 1.0)))
    assert(got("b") == ((2L, 4L, 0.5, 2L, 3L, 0.666667)))
    assert(got("c") == ((1L, 1L, 1.0, 0L, 0L, 0.0)))
  }

  /** The CMS bucket Stats.cmsHeavyHitters derives: first 8 md5 hex
    * digits of "depth|token" as an integer, mod width. */
  private def cmsBucket(depth: Int, token: String, width: Int): Long = {
    val hex = MessageDigest.getInstance("MD5")
      .digest(s"$depth|$token".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8)
    java.lang.Long.parseLong(hex, 16) % width
  }

  test("cmsHeavyHitters: batch sketches merge to corpus counts; " +
    "collisions overcount exactly by the colliding mass") {
    val s = spark
    import s.implicits._
    // "a" split across batches (mergeability), "b" in one batch
    val toks = (Seq.fill(5)((0L, "a")) ++ Seq.fill(3)((1L, "a")) ++
      Seq.fill(2)((0L, "b"))).toDF("batch", "token")
    // wide sketch: no collisions (verified below) -> est == exact
    assert((0 until 3).forall(d =>
      cmsBucket(d, "a", 32) != cmsBucket(d, "b", 32)))
    val wide = graft.operators.Stats
      .cmsHeavyHitters(toks,
        depth = 3, width = 32, minShare = 0.01)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(wide("a") == ((8L, 8L, 0L)))
    assert(wide("b") == ((2L, 2L, 0L)))
    // narrow sketch: predict the estimate from the bucket map — when
    // the two tokens collide at a depth the cell carries both masses
    val w2 = 2
    def cell(d: Int, tok: String): Long =
      Seq("a" -> 8L, "b" -> 2L)
        .filter { case (t, _) => cmsBucket(d, t, w2) == cmsBucket(d, tok, w2) }
        .map(_._2).sum
    val expected = Map(
      "a" -> (0 until 1).map(d => cell(d, "a")).min,
      "b" -> (0 until 1).map(d => cell(d, "b")).min)
    val narrow = graft.operators.Stats
      .cmsHeavyHitters(toks,
        depth = 1, width = w2, minShare = 0.01)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(narrow("a") == expected("a"))
    assert(narrow("b") == expected("b"))
    // the one-sided guarantee: never undercounts
    assert(narrow("a") >= 8L && narrow("b") >= 2L)
  }

  test("groupOls: exact line recovered; degenerate variances -> NULL") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("g1", 1.0, 3.0), ("g1", 2.0, 5.0), ("g1", 3.0, 7.0), // y = 2x+1
      ("g2", 1.0, 1.0), ("g2", 2.0, 1.0), ("g2", 3.0, 1.0), // flat y
      ("g3", 2.0, 1.0), ("g3", 2.0, 5.0)                    // x constant
    ).toDF("g", "x", "y")
    val got = graft.operators.Stats.groupOls(df, "g", "x", "y")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), Option(r.get(2)), Option(r.get(3)),
          Option(r.get(4)))).toMap
    assert(got("g1") == ((3L, Some(2.0), Some(1.0), Some(1.0))))
    // flat y: slope/intercept defined (0, 1), r2 NULL (varY = 0)
    assert(got("g2") == ((3L, Some(0.0), Some(1.0), None)))
    // constant x: nothing is identifiable
    assert(got("g3") == ((2L, None, None, None)))
  }

  test("ksDrift: hand-computed CDF gap, smallest attaining value; " +
    "identical samples -> 0") {
    val s = spark
    import s.implicits._
    val ref = Seq(1L, 2L, 3L, 4L).toDF("sv")
    val cur = Seq(3L, 4L, 5L, 6L).toDF("sv")
    val r = graft.operators.Stats.ksDrift(ref, cur).collect()(0)
    // |F_ref - F_cur|: v=1: .25, v=2: .5, v=3: .5, v=4: .5, v=5: .25
    assert(r.getLong(0) == 4L && r.getLong(1) == 4L)
    assert(r.getDouble(2) == 0.5 && r.getLong(3) == 2L)
    val same = graft.operators.Stats.ksDrift(ref, ref).collect()(0)
    assert(same.getDouble(2) == 0.0 && same.getLong(3) == 1L)
  }

  test("olsResidualOutliers: the gross outlier off a tight line is the " +
    "only flagged row; perfect-fit groups flag nothing") {
    val s = spark
    import s.implicits._
    // 20 points exactly on y = 3x + 2, one gross outlier
    val line = (1 to 20).map(i => ("g", i.toDouble, 3.0 * i + 2.0))
    val df = (line :+ (("g", 21.0, 500.0)) :+
      (("perfect", 1.0, 5.0)) :+ (("perfect", 2.0, 6.0))).toDF("g", "toks", "n_chars")
    val got = graft.operators.Stats
      .olsResidualOutliers(df.withColumnRenamed("g", "source"), keepCols = Seq())
      .collect()
    assert(got.length == 1)
    assert(got(0).getString(0) == "g" && got(0).getDouble(1) == 21.0)
    assert(got(0).getDouble(4) > 2.0, "z of the outlier clears k")
    // the perfect-fit group (rmse = 0) contributes no flags — verified
    // by the single-row result above
  }

  test("ksDriftByGroup: per-segment statistics match the single-sample " +
    "operator; one-sided groups are omitted") {
    val s = spark
    import s.implicits._
    // g1 drifts (disjoint supports -> KS 1.0 at the ref max), g2 is
    // identical across slices, g3 exists only in ref -> omitted
    val ref = Seq(("g1", 1L), ("g1", 2L), ("g2", 5L), ("g2", 6L),
      ("g3", 9L)).toDF("g", "v")
    val cur = Seq(("g1", 10L), ("g1", 11L), ("g2", 5L), ("g2", 6L))
      .toDF("event_type", "sv")
    val got = graft.operators.Stats.ksDriftByGroup(ref.withColumnRenamed("v", "sv").withColumnRenamed("g", "event_type"), cur)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4))).toMap
    assert(got.keySet == Set("g1", "g2"))
    assert(got("g1") == ((2L, 2L, 1.0, 2L)))
    assert(got("g2") == ((2L, 2L, 0.0, 5L)))
  }

  test("gridDensityClusters: adjacent dense cells merge, isolated dense " +
    "cell self-labels, sparse cells are noise") {
    val s = spark
    import s.implicits._
    // eps=0.05 cells: (0,0) and (1,0) dense and 8-adjacent -> one
    // cluster; (10,10) dense but isolated -> its own cluster; (5,5)
    // holds one point -> noise
    val pts = Seq(
      (1L, 0.01, 0.01), (2L, 0.02, 0.02), (3L, 0.03, 0.01),   // cell (0,0)
      (4L, 0.06, 0.01), (5L, 0.07, 0.02), (6L, 0.09, 0.01),   // cell (1,0)
      (7L, 0.51, 0.51), (8L, 0.52, 0.52), (9L, 0.53, 0.51),   // cell (10,10)
      (10L, 0.26, 0.26)                                        // cell (5,5)
    ).toDF("vec_id", "x", "y")
    val asg = graft.operators.Similarity
      .gridDensityClusters(pts, eps = 0.05, minPts = 3L)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    val key00 = (0L + (1L << 20)) * (1L << 21) + (0L + (1L << 20))
    val key1010 = (10L + (1L << 20)) * (1L << 21) + (10L + (1L << 20))
    // cells (0,0) and (1,0) merge under the min key = key of (0,0)
    for (id <- 1L to 6L) assert(asg(id) == Some(key00), s"id $id")
    // the isolated dense cell keeps its own key as the label
    for (id <- 7L to 9L) assert(asg(id) == Some(key1010), s"id $id")
    assert(asg(10L).isEmpty, "sparse cell must be noise")
  }

  test("partitionSkewAudit: same key lands in one partition; empty " +
    "partitions report zero; ratios against the uniform ideal") {
    val s = spark
    import s.implicits._
    val df = (Seq.fill(4)("a") ++ Seq.fill(2)("b") ++ Seq("c")).toDF("user_id")
    val nParts = 4
    def part(k: String): Long = {
      val hex = MessageDigest.getInstance("MD5")
        .digest(k.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % nParts
    }
    val got = graft.operators.Skew.partitionSkewAudit(df, nParts)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got.size == nParts, "every partition reports, empty included")
    val expRows = Map("a" -> 4L, "b" -> 2L, "c" -> 1L)
      .groupBy { case (k, _) => part(k) }
      .map { case (p, m) => p -> m.values.sum }
    for (p <- 0L until nParts.toLong) {
      val rows = expRows.getOrElse(p, 0L)
      assert(got(p)._1 == rows, s"part $p rows")
      assert(got(p)._3 == math.rint(rows / (7.0 / nParts) * 1e6) / 1e6,
        s"part $p ratio")
    }
    assert(got.values.map(_._1).sum == 7L)
    assert(got.values.map(_._2).sum == 3L)
  }

  test("modularityByCommunity: hand-computed triangle + pendant pair; " +
    "unlabeled nodes thin degree sums but never intra edges") {
    val s = spark
    import s.implicits._
    // triangle {1,2,3} + edge {4,5} + bridge 3-4: m = 5
    // deg: 1->2 2->2 3->3 4->2 5->1
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (3L, 4L))
      .toDF("src", "dst")
    val labels = Seq((1L, "A"), (2L, "A"), (3L, "A"), (4L, "B"), (5L, "B"))
      .toDF("node", "label")
    val got = graft.operators.Graph.modularityByCommunity(edges, labels)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // A: e=3, d=7 -> 3/5 - (7/10)^2 = 0.11 ; B: e=1, d=3 -> 1/5 - 0.09
    assert(got("A") == ((3L, 3L, 7L, 0.11)))
    assert(got("B") == ((2L, 1L, 3L, 0.11)))
    // drop 5's label: B loses its intra edge (4-5 is now cross), and
    // only 4's degree counts toward B
    val part = graft.operators.Graph.modularityByCommunity(edges,
        labels.filter($"node" =!= 5L))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(part("B") == ((1L, 0L, 2L)))
    assert(part("A") == ((3L, 3L, 7L)))
  }

  test("shapleyAttribution: hand-computed 2-channel game; credits sum " +
    "to v(full) when v(empty)=0") {
    val s = spark
    import s.implicits._
    // v(a)=1/2, v(b)=0, v(a,b)=1, v(empty) unobserved -> 0
    // phi_a = 1/2*(v(a)-0) + 1/2*(v(ab)-v(b)) = 0.25 + 0.5 = 0.75
    // phi_b = 1/2*(v(b)-0) + 1/2*(v(ab)-v(a)) = 0   + 0.25 = 0.25
    val js = Seq(("a", 2L, 1L), ("b", 2L, 0L), ("a,b", 2L, 2L))
      .toDF("set_key", "n", "conv")
    val got = graft.operators.Stats.shapleyAttribution(js, Seq("b", "a"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got("a") == ((4L, 3L, 0.75)))
    assert(got("b") == ((4L, 2L, 0.25)))
    // subsets enumerate over SORTED channels regardless of input order
    val sub = graft.operators.Stats.shapleySubsets(Seq("b", "a"))
    assert(sub.size == 4 && sub.forall { case (ch, sk, tk, w) =>
      val union = (tk.split(",").filter(_.nonEmpty) :+ ch).sorted
      sk == union.mkString(",") && w == 1L
    })
  }

  test("hrwNode: matches a Scala md5 argmax replay; reshard 8->9 only " +
    "moves keys onto the new node") {
    val s = spark
    import s.implicits._
    val keys = (1L to 200L).map(_.toString)
    def hrw(k: String, n: Int): Int = (0 until n).map { i =>
      val hex = MessageDigest.getInstance("MD5")
        .digest(s"n$i:$k".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (hex + "#" + f"$i%02d", i)
    }.max._2
    val df = keys.toDF("k")
    val got = df.select($"k",
        graft.operators.Sharding.hrwNode(8).as("h8"),
        graft.operators.Sharding.hrwNode(9).as("h9"))
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getInt(2)))
      .toMap
    for (k <- keys) assert(got(k) == ((hrw(k, 8), hrw(k, 9))), s"key $k")
    // minimal disruption: a key moves iff the NEW node wins it
    for ((k, (h8, h9)) <- got if h8 != h9) assert(h9 == 8, s"key $k")
    val audit = graft.operators.Sharding.reshardAudit(df.withColumnRenamed("k", "doc_id"))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(audit("hrw") == got.count { case (_, (a, b)) => a != b })
  }

  test("winnowingFingerprints: exact Scala replay (rightmost-min ties); " +
    "a shared w+k-1 token run guarantees a shared fingerprint") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    def words(n: Int, tag: String) =
      (0 until n).map(_ => tag + rnd.nextInt(40)).mkString(" ")
    val shared = "alpha beta gamma delta epsilon zeta eta" // 7 = w+k-1
    val docs = Seq(
      (1L, words(30, "a") + " " + shared + " " + words(25, "b")),
      (2L, words(18, "c") + " " + shared + " " + words(33, "d")),
      (3L, words(40, "e")),
      (4L, "tiny doc"), // < k tokens -> whole-text fallback
      (5L, words(3, "f"))
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .winnowingFingerprints(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    def md5hex8(x: String) = MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    def replay(id: Long, text: String) = {
      val tk = text.split("\\s+").filter(_.nonEmpty)
      val hs = if (tk.length < 4) Array(md5hex8(tk.mkString(" ")))
        else tk.sliding(4).map(g => md5hex8(g.mkString(" "))).toArray
      val starts = 0 to math.max(hs.length - 4, 0)
      starts.map { i =>
        val win = (i until math.min(i + 4, hs.length))
        val mn = win.map(hs).min
        val p = win.filter(hs(_) == mn).max // rightmost tie
        (id, p.toLong, hs(p))
      }.toSet
    }
    // replay every doc from the same source rows
    val src = docs.select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val full = src.flatMap { case (id, tx) => replay(id, tx) }.toSet
    assert(got == full)
    // guarantee: docs 1 and 2 share at least one fingerprint hash
    val h1 = got.collect { case (1L, _, h) => h }
    val h2 = got.collect { case (2L, _, h) => h }
    assert(h1.intersect(h2).nonEmpty)
    // the whole-text fallback emits exactly one fingerprint at pos 0
    assert(got.collect { case (4L, p, _) => p } == Set(0L))
  }

  test("quantileNormalize: shifted groups land on the pooled quantiles " +
    "(hand-computed inverse-CDF steps)") {
    val s = spark
    import s.implicits._
    val df = Seq(("A", 1L), ("A", 2L), ("A", 3L), ("A", 4L),
      ("B", 11L), ("B", 12L), ("B", 13L), ("B", 14L)).toDF("source", "n_chars")
    val got = graft.operators.Stats.quantileNormalize(df)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3))
      .toMap
    // pooled CDF steps at 1..4,11..14 in 1/8 increments; each group
    // quantile k/4 maps to the pooled value at cum 2k/8
    assert(got == Map(("A", 1L) -> 2L, ("A", 2L) -> 4L,
      ("A", 3L) -> 12L, ("A", 4L) -> 14L, ("B", 11L) -> 2L,
      ("B", 12L) -> 4L, ("B", 13L) -> 12L, ("B", 14L) -> 14L))
  }

  test("targetEncodeLoo: hand-computed leave-one-out means; singleton " +
    "category encodes to the prior") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
      .toDF("doc_id", "cat", "n_chars")
    val got = graft.operators.Stats
      .targetEncodeLoo(df.withColumnRenamed("cat", "source"), m = 1L)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // prior = 20; a/10 -> (20*3+60)/(2*3) = 20; a/20 -> 90/6 = 15
    assert(got == Map(1L -> 20.0, 2L -> 15.0, 3L -> 20.0))
  }

  test("bigramCrossEntropy: hand-computed held-out scores; unseen " +
    "bigrams hit the smoothing floor; train docs never scored") {
    val s = spark
    import s.implicits._
    // train "a b a b": c2(a,b)=2 c2(b,a)=1 c1(a)=2 c1(b)=1, V=2
    val df = Seq((1L, "a b a b", true), (2L, "a b c", false),
      (3L, "a a", false), (4L, "z", false)).toDF("doc_id", "text", "tr")
    val got = graft.operators.TextAnalysis
      .bigramCrossEntropy(df, isTrain = $"tr")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(!got.contains(1L), "train docs are not scored")
    // doc 2: -[ln(3/4) + ln(1/3)]/2 = ln(4)/2 = ln 2
    assert(got(2L) == ((2L, 0.693147)))
    // doc 3: unseen bigram with seen context -> -ln(1/4)
    assert(got(3L) == ((1L, 1.386294)))
    // doc 4: no bigrams -> (0, 0.0) surfaced, not dropped
    assert(got(4L) == ((0L, 0.0)))
  }

  test("kneserNeyXent: hand-computed discount/continuation algebra; " +
    "unseen context backs off to P_cont; OOV continuation excluded") {
    val s = spark
    import s.implicits._
    // train: "a b a b" -> (a,b)x2 (b,a)x1; "b c" -> (b,c)x1
    // model: c2t {(a,b):2,(b,a):1,(b,c):1}, bb=3 types
    //        ctx a:(c1=2,n1f=1) b:(c1=2,n1f=2); cont a/b/c: n1b=1
    val df = Seq((1L, "a b a b", true), (2L, "b c", true),
      (3L, "a b", false), (4L, "c a", false), (5L, "a z", false))
      .toDF("doc_id", "text", "tr")
    val r = graft.operators.TextAnalysis
      .kneserNeyXent(df, isTrain = $"tr")
      .collect()(0)
    // (a,b): (2-.75)/2 + .75*1/2*(1/3) = 0.75
    // (c,a): context c unseen -> P_cont(a) = 1/3
    // (a,z): z never a continuation -> OOV, excluded from xent
    assert(r.getLong(0) == 3L && r.getLong(1) == 2L && r.getLong(2) == 1L)
    assert(r.getDouble(3) == 0.333333)
    // xent = -[ln .75 + ln(1/3)]/2 = ln(2) -> ppl exactly 2
    assert(r.getDouble(4) == 0.693147 && r.getDouble(5) == 2.0)
  }

  test("queryLikelihood: matches a hand replay of the decomposed " +
    "Dirichlet score; zero-match docs still ranked; collection-absent " +
    "query terms dropped") {
    val s = spark
    import s.implicits._
    // corpus: dl = 3,2,1; |C|=6; cf(x)=3 cf(y)=1; 'nope' absent -> dropped
    val df = Seq((1L, "x x y"), (2L, "x z"), (3L, "z"))
      .toDF("doc_id", "text")
    val got = graft.operators.Retrieval
      .queryLikelihood(df, Seq("x", "y", "nope"),
        mu = 2.0, topN = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).toSeq
    def r9(x: Double) = BigDecimal(x)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r12(x: Double) = BigDecimal(x)
      .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (pwx, pwy) = (r12(3.0 / 6.0), r12(1.0 / 6.0))
    val c0 = r9(math.log(2.0 * pwx)) + r9(math.log(2.0 * pwy))
    def adj(tf: Double, pw: Double) =
      r9(math.log(tf + 2.0 * pw) - math.log(2.0 * pw))
    def score(a: BigDecimal, dl: Double, nq: Double) =
      r6((c0 + a).toDouble - nq * math.log(dl + 2.0))
    val s1 = score(adj(2.0, pwx) + adj(1.0, pwy), 3.0, 2.0)
    val s2 = score(adj(1.0, pwx), 2.0, 2.0)
    val s3 = score(BigDecimal(0), 1.0, 2.0)
    assert(got == Seq((1, 1L, 2, s1), (2, 2L, 1, s2), (3, 3L, 0, s3)))
  }

  test("degreeAssortativity: a star is exactly -1; a regular graph has " +
    "no degree variance (NULL)") {
    val s = spark
    import s.implicits._
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val r1 = graft.operators.Graph.degreeAssortativity(star).collect()(0)
    assert(r1.getLong(0) == 3L && r1.getDouble(2) == -1.0)
    // 4-cycle: every degree 2 -> zero variance -> guarded NULL
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val r2 = graft.operators.Graph.degreeAssortativity(cyc).collect()(0)
    assert(r2.getLong(0) == 4L && r2.isNullAt(2))
  }

  test("mmrSelect: the diversity penalty flips the second pick away " +
    "from the near-duplicate of the first") {
    val cands = Seq(1L -> 1.0, 2L -> 0.8, 3L -> 0.5)
    val sims = Map((1L, 2L) -> 0.95, (2L, 1L) -> 0.95)
    val got = graft.operators.Retrieval.mmrSelect(cands, sims, k = 3,
      lambda = 0.7)
    // pick1 = 1 (mmr 0.7); then 2 scores .56-.285=.275 < 3's .35 ->
    // the redundant high-rel doc loses to the diverse one
    assert(got.map(_._2) == Seq(1L, 3L, 2L))
    assert(got(1)._5 == 0.35 && got(2)._4 == 0.95)
    // lambda=1 degenerates to pure relevance order
    val rel = graft.operators.Retrieval.mmrSelect(cands, sims, 3, 1.0)
    assert(rel.map(_._2) == Seq(1L, 2L, 3L))
  }

  test("cuped: perfect pre/post correlation gives theta=1, drives the " +
    "adjusted variance to zero, and lands both arms on the pooled mean") {
    val s = spark
    import s.implicits._
    val df = Seq(("A", 1.0, 1.0), ("A", 2.0, 2.0), ("A", 3.0, 3.0),
      ("B", 4.0, 4.0), ("B", 5.0, 5.0), ("B", 6.0, 6.0))
      .toDF("arm", "x", "y")
    val got = graft.operators.Stats.cuped(df).collect()
    val a = got(0); val b = got(1)
    assert(a.getString(0) == "A" && a.getLong(1) == 3L)
    assert(a.getDouble(2) == 2.0 && a.getDouble(3) == 3.5)
    assert(a.getDouble(4) == 1.0 && a.getDouble(5) == 0.0)
    assert(a.getDouble(6) == 1.0 && a.getDouble(7) == 1.0)
    // Y==X means the "treatment difference" was pure pre-period
    // imbalance: both arms adjust onto the same pooled mean
    assert(b.getString(0) == "B" && b.getDouble(3) == 3.5)
  }

  test("jackknifeRatio: matches a Scala replay of the md5-bucket " +
    "leave-one-out algebra on a 20-unit fixture") {
    val s = spark
    import s.implicits._
    val df = (1 to 20).map(i => (i.toLong, i.toDouble, 1.0))
      .toDF("id", "rev", "cnt")
    val got = graft.operators.Stats
      .jackknifeRatio(df.withColumnRenamed("id", "user_id"), b = 4).collect()(0)
    def bucket(k: String): Long = {
      val h = MessageDigest.getInstance("MD5").digest(k.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(h, 16) % 4
    }
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val per = (1 to 20).groupBy(i => bucket(i.toString))
      .map { case (_, is) => (is.map(_.toDouble).sum, is.size.toDouble) }
      .toSeq
    val (tn, td) = (per.map(_._1).sum, per.map(_._2).sum)
    val nb = per.size.toDouble
    val looBD = per.map { case (nv, dv) =>
      BigDecimal((tn - nv) / (td - dv))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP) }
    val mean = looBD.sum.toDouble / nb
    val sq = looBD.map { l =>
      val d = l.toDouble - mean
      BigDecimal(d * d).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    }.sum.toDouble
    val se = math.sqrt((nb - 1.0) / nb * sq)
    assert(got.getLong(0) == per.size.toLong)
    assert(got.getDouble(1) == r6(tn / td))
    assert(got.getDouble(2) == r6(se))
    assert(got.getDouble(3) == r6(tn / td - 1.96 * se))
    assert(got.getDouble(4) == r6(tn / td + 1.96 * se))
  }

  test("isotonicCalibration: the minimax fit equals pool-adjacent-" +
    "violators on a fixture with violations; monotone input unchanged") {
    val s = spark
    import s.implicits._
    // rates .1 .5 .3 .2 .8 -> PAV pools bins 1-3 to 10/30
    val bins = Seq((0L, 10L, 1L), (1L, 10L, 5L), (2L, 10L, 3L),
      (3L, 10L, 2L), (4L, 10L, 8L)).toDF("bin", "n", "pos")
    val got = graft.operators.Stats
      .isotonicCalibration(bins)
      .collect().map(r => (r.getLong(0), r.getDouble(4)))
    assert(got.toSeq == Seq(0L -> 0.1, 1L -> 0.333333, 2L -> 0.333333,
      3L -> 0.333333, 4L -> 0.8))
    assert(got.map(_._2).sliding(2).forall(p => p(0) <= p(1)))
    // already-monotone input: iso == raw rate everywhere
    val mono = Seq((0L, 10L, 1L), (1L, 10L, 4L), (2L, 10L, 9L))
      .toDF("bin", "n", "pos")
    val g2 = graft.operators.Stats
      .isotonicCalibration(mono)
      .collect().map(r => (r.getDouble(3), r.getDouble(4)))
    assert(g2.forall(p => p._1 == p._2))
  }

  test("hits: hand-computed one-iteration scores on a tiny bipartite " +
    "graph; L1 normalization per role; hub ranking follows coverage") {
    val s = spark
    import s.implicits._
    // h1 -> {a1, a2}, h2 -> {a1}: a1 collects both hubs, h1 covers both
    val edges = Seq(("h1", "a1"), ("h2", "a1"), ("h1", "a2"))
      .toDF("src", "dst")
    val one = graft.operators.Graph.hits(edges, iters = 1)
      .collect().map(r => (r.getString(0), r.getString(2)) ->
        r.getDouble(1)).toMap
    // auth: raw (2,1)/3; hub: raw (a1+a2, a1) = (1.0, 2/3)/(5/3)
    assert(math.abs(one(("a1", "authority")) - 2.0 / 3) < 1e-9)
    assert(math.abs(one(("a2", "authority")) - 1.0 / 3) < 1e-9)
    assert(math.abs(one(("h1", "hub")) - 0.6) < 1e-9)
    assert(math.abs(one(("h2", "hub")) - 0.4) < 1e-9)
    val four = graft.operators.Graph.hits(edges, iters = 4).collect()
    val hubs = four.filter(_.getString(2) == "hub")
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val auths = four.filter(_.getString(2) == "authority")
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(hubs("h1") > hubs("h2") && auths("a1") > auths("a2"))
    assert(math.abs(hubs.values.sum - 1.0) < 1e-9)
    assert(math.abs(auths.values.sum - 1.0) < 1e-9)
  }

  test("fellegiSunterEm: matches an exact Scala replay of the rounded " +
    "EM rounds; full-agreement patterns score highest") {
    val s = spark
    import s.implicits._
    val pats = Seq((Seq(true, true), 10L), (Seq(false, false), 90L),
      (Seq(true, false), 40L), (Seq(false, true), 20L))
    val df = pats.map { case (b, n) => (b(0), b(1), n) }
      .toDF("g0", "g1", "n")
    val got = graft.operators.Stats
      .fellegiSunterEm(df, Seq("g0", "g1"))
      .collect()
      .map(r => (r.getBoolean(0), r.getBoolean(1)) ->
        (r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    def rd(x: Double, sc: Int) = BigDecimal(x)
      .setScale(sc, BigDecimal.RoundingMode.HALF_UP).toDouble
    var p = 0.1; var m = Array(0.9, 0.9); var u = Array(0.1, 0.1)
    for (_ <- 1 to 5) {
      val scored = pats.map { case (bits, n) =>
        val pm = bits.zipWithIndex
          .map { case (b, i) => if (b) m(i) else 1.0 - m(i) }
          .reduce(_ * _)
        val pu = bits.zipWithIndex
          .map { case (b, i) => if (b) u(i) else 1.0 - u(i) }
          .reduce(_ * _)
        (bits, n, rd(p * pm / (p * pm + (1.0 - p) * pu), 12))
      }
      def bd(x: Double) = BigDecimal(x)
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)
      val sw = scored.map { case (_, n, w) => BigDecimal(n) * bd(w) }.sum
      val sn = BigDecimal(pats.map(_._2).sum)
      p = rd(sw.toDouble / sn.toDouble, 12)
      m = Array.tabulate(2) { i =>
        val swb = scored.filter(_._1(i))
          .map { case (_, n, w) => BigDecimal(n) * bd(w) }.sum
        rd(swb.toDouble / sw.toDouble, 12) }
      u = Array.tabulate(2) { i =>
        val swn = scored.filter(_._1(i))
          .map { case (_, n, w) => BigDecimal(n) * bd(1.0 - w) }.sum
        rd(swn.toDouble / (sn - sw).toDouble, 12) }
    }
    pats.foreach { case (bits, _) =>
      val pm = bits.zipWithIndex
        .map { case (b, i) => if (b) m(i) else 1.0 - m(i) }.reduce(_ * _)
      val pu = bits.zipWithIndex
        .map { case (b, i) => if (b) u(i) else 1.0 - u(i) }.reduce(_ * _)
      val exp = (rd(p, 6), rd(p * pm / (p * pm + (1.0 - p) * pu), 6),
        rd(math.log(pm / pu), 6))
      assert(got((bits(0), bits(1))) == exp, s"pattern $bits")
    }
    val w = got.map { case (k, v) => k -> v._2 }
    assert(w((true, true)) > w((true, false))
      && w((true, true)) > w((false, true))
      && w((false, false)) < w((false, true)))
  }

  test("logisticGdHist: matches an exact Scala replay of the pinned GD " +
    "rounds; learns a separable toy (positive weight, high accuracy)") {
    val s = spark
    import s.implicits._
    val rows = Seq((-1.0, false, 50L), (1.0, true, 50L),
      (-1.0, true, 5L), (1.0, false, 5L))
    val df = rows.toDF("x1", "y", "n")
    val got = graft.operators.Stats
      .logisticGdHist(df, Seq("x1"), "y", rounds = 10)
      .collect().head
    def rd(x: Double, sc: Int) = BigDecimal(x)
      .setScale(sc, BigDecimal.RoundingMode.HALF_UP).toDouble
    val nTot = rows.map(_._3).sum.toDouble
    var w0 = 0.0; var w1 = 0.0
    for (_ <- 1 to 10) {
      def p(x: Double) = 1.0 / (1.0 + math.exp(-(w0 + w1 * x)))
      val g0 = rows.map { case (x, y, n) =>
        BigDecimal(rd(n.toDouble * ((if (y) 1.0 else 0.0) - p(x)), 9))
      }.sum.toDouble
      val g1 = rows.map { case (x, y, n) =>
        BigDecimal(rd(n.toDouble * ((if (y) 1.0 else 0.0) - p(x)) * x,
          9))
      }.sum.toDouble
      val nw0 = rd(w0 + 2.0 * g0 / nTot, 12)
      val nw1 = rd(w1 + 2.0 * g1 / nTot, 12)
      w0 = nw0; w1 = nw1
    }
    assert(got.getLong(0) == 110L)
    assert(got.getDouble(1) == rd(w0, 6), "intercept replay")
    assert(got.getDouble(2) == rd(w1, 6), "weight replay")
    assert(got.getDouble(2) > 0.5, "separable toy learns sign")
    assert(got.getDouble(3) > 0.9, "accuracy on the separable toy")
    assert(got.getDouble(4) < 0.69, "log-loss beats the w=0 ln2")
  }

  test("coxNewtonBinary: dense-grid risk sets (a stratum absent at an " +
    "event time is still at risk) and an exact Newton replay") {
    val s = spark
    import s.implicits._
    // subjects: C(x=1,t=1,death) B(x=0,t=2,death) A(x=1,t=3,death)
    // D(x=0,t=3,censored). At t=2 no x=1 row exists in the histogram,
    // but A is still at risk — the dense grid must see n1r=1 there.
    val hist = Seq((1L, true, 1L, 1L), (2L, false, 1L, 1L),
      (3L, true, 1L, 1L), (3L, false, 0L, 1L))
      .toDF("t", "x", "deaths", "total")
    val got = graft.operators.Stats
      .coxNewtonBinary(hist)
      .collect().head
    def rd(x: Double, sc: Int) = BigDecimal(x)
      .setScale(sc, BigDecimal.RoundingMode.HALF_UP).toDouble
    // event times with (d, d1, n1r, n0r) after densifying
    val et = Seq((1L, 1.0, 1.0, 2.0, 2.0), (2L, 1.0, 0.0, 1.0, 2.0),
      (3L, 1.0, 1.0, 1.0, 1.0))
    var beta = 0.0
    var info = 0.0
    for (_ <- 1 to 4) {
      def mu(n1r: Double, n0r: Double) = {
        val s1 = n1r * math.exp(beta); s1 / (n0r + s1)
      }
      val g = et.map { case (_, d, d1, n1r, n0r) =>
        BigDecimal(rd(d1 - d * mu(n1r, n0r), 9)) }.sum.toDouble
      info = et.map { case (_, d, _, n1r, n0r) =>
        BigDecimal(rd(d * mu(n1r, n0r) * (1.0 - mu(n1r, n0r)), 9))
      }.sum.toDouble
      beta = rd(beta + g / info, 12)
    }
    val finInfo = et.map { case (_, d, _, n1r, n0r) =>
      val s1 = n1r * math.exp(beta)
      val m = s1 / (n0r + s1)
      BigDecimal(rd(d * m * (1.0 - m), 9)) }.sum.toDouble
    assert(got.getLong(0) == 4L && got.getLong(1) == 3L)
    assert(got.getDouble(2) == rd(beta, 6), "beta replay")
    assert(got.getDouble(3) == rd(math.exp(beta), 6), "hr replay")
    assert(got.getDouble(4) == rd(1.0 / math.sqrt(finInfo), 6),
      "se replay")
  }

  test("betweennessSampled: Brandes dependencies on a path graph, " +
    "multi-seed accumulation, and depth bounding") {
    val s = spark
    import s.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    // single seed 1 on the path 1-2-3-4: delta(2)=2, delta(3)=1,
    // delta(4)=0 (dropped by bc>0)
    val one = graft.operators.Graph
      .betweennessSampled(edges, Seq(1L).toDF("node"), maxDepth = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(one == Map(2L -> 2.0, 3L -> 1.0))
    // seeds at both ends: node 2 gets 2 (from 1) + 1 (from 4) and
    // symmetrically node 3
    val both = graft.operators.Graph
      .betweennessSampled(edges, Seq(1L, 4L).toDF("node"), maxDepth = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(both == Map(2L -> 3.0, 3L -> 3.0))
    // depth 1: no intermediate vertex lies on a length<=1 path
    val shallow = graft.operators.Graph
      .betweennessSampled(edges, Seq(1L).toDF("node"), maxDepth = 1)
      .collect()
    assert(shallow.isEmpty)
    // star center carries every pairwise path from a leaf seed
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    val c = graft.operators.Graph
      .betweennessSampled(star, Seq(1L).toDF("node"), maxDepth = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(c == Map(0L -> 2.0))
  }

  test("poissonWeight (q277): exact inverse-CDF banding, Poisson(1) " +
    "thresholds, and ~1 mean weight over md5 uniforms") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    // band edges: a uniform just below/above each threshold maps to
    // the exact weight the CDF dictates
    val cdf = graft.operators.Stats.poissonCdf1
    assert(cdf.size == 8 && cdf.zip(cdf.tail).forall(p => p._1 < p._2))
    val probes = cdf.zipWithIndex.flatMap { case (t, k) =>
      Seq((t - 1e-12, k), (t + 1e-12, k + 1)) } :+ (0.9999999, 8)
    val got = probes.map(_._1).toDF("u")
      .select(graft.operators.Stats.poissonWeight(col("u")).as("w"))
      .collect().map(_.getInt(0)).toSeq
    assert(got == probes.map(_._2), "inverse-CDF banding")
    // exact Poisson(1) pmf check on the replayable md5 uniform: over
    // 20k draws the weight histogram matches e^-1/k! within 2%
    val n = 20000
    val hist = (0 until n).map(_.toLong).toDF("id")
      .select(graft.operators.Stats.poissonWeight(
        (conv(substring(md5(concat(lit("t|"), col("id"))), 1, 8),
          16, 10).cast("double") + lit(0.5)) / lit(4294967296.0))
        .as("w"))
      .groupBy("w").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val pmf0 = math.exp(-1.0)
    assert(math.abs(hist(0).toDouble / n - pmf0) < 0.02)
    assert(math.abs(hist(1).toDouble / n - pmf0) < 0.02)
    assert(math.abs(hist(2).toDouble / n - pmf0 / 2) < 0.02)
    val mean = hist.map { case (k, c) => k.toDouble * c }.sum / n
    assert(math.abs(mean - 1.0) < 0.03, s"mean weight $mean")
  }

  test("ols2Beta (q279): recovers an exact plane from sufficient sums " +
    "and matches a hand 1-feature fit with x2 constant-zero") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    // y = 2 + 3*x1 - x2 exactly on 4 non-degenerate points
    val pts = Seq((0.0, 0.0), (1.0, 0.0), (0.0, 1.0), (2.0, 3.0))
      .map { case (x1, x2) => (x1, x2, 2.0 + 3.0 * x1 - x2) }
    val sums = pts.map { case (x1, x2, y) =>
      (1L, x1, x2, x1 * x1, x1 * x2, x2 * x2, y, x1 * y, x2 * y) }
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3,
        a._4 + b._4, a._5 + b._5, a._6 + b._6, a._7 + b._7,
        a._8 + b._8, a._9 + b._9))
    val df = Seq(sums).toDF("n", "sx1", "sx2", "sx11", "sx12", "sx22",
      "sy", "sx1y", "sx2y")
    val beta = graft.operators.Stats.ols2Beta(df.withColumn("tr", col("n")))
      .collect()(0)
    assert(beta.getDouble(1) == 2.0 && beta.getDouble(2) == 3.0 &&
      beta.getDouble(3) == -1.0, s"exact plane: $beta")
  }

  test("nnGraphInsert (q295): a fresh session attaches a batch via the " +
    "persisted graph parquet — new-vs-base edges only, matching the " +
    "in-memory insert exactly") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = emb.filter(col("vec_id") >= 10)
    val fresh = emb.filter(col("vec_id") < 10)
    val g = graft.operators.Similarity.nnDescentGraph(base, k = 5,
      rounds = 2)
    val tmp = java.nio.file.Files.createTempDirectory("graft_nng").toString
    graft.operators.Materializer.Persisted(tmp)(g)
    def toSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    val inMem = toSet(graft.operators.Similarity.nnGraphInsert(
      g, base, fresh, k = 5))
    val s2 = spark.newSession()
    val emb2 = s2.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val fromDisk = graft.operators.Similarity.nnGraphInsert(
      s2.read.parquet(s"$tmp/mat_0"), emb2.filter(col("vec_id") >= 10),
      emb2.filter(col("vec_id") < 10), k = 5)
    val p = fromDisk.queryExecution.executedPlan.toString
    assert(p.contains("Scan parquet"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    val got = toSet(fromDisk)
    assert(got.nonEmpty && got == inMem)
    // the incremental contract: inserted edges go new -> base only
    assert(got.forall { case (v, u, _, _) => v < 10 && u >= 10 })
  }

  test("q298 wavelet synopsis satisfies Parseval: grid energy equals " +
    "DC + kept + dropped coefficient energy") {
    val dir = "/root/testdata/sf0.001"
    val (_, freqs) = SparkHelpers.orderGridFreqs(spark, dir)
    val fs = freqs.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val sumF2 = (1 to 32).map(t => { val f = fs.getOrElse(t, 0L).toDouble
      f * f }).sum
    val out = SparkEntry.queries("q298_wavelet_synopsis")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(3),
        r.getDouble(4)))
    val dc = out.find(_._1 == 0L).get
    val keptEnergy = out.filter(_._1 > 0).map { case (_, lvl, c, _) =>
      c * c * (1L << lvl) }.sum
    val total = 32.0 * dc._3 * dc._3 + keptEnergy + dc._4
    assert(math.abs(total - sumF2) <= 1e-4 * math.max(sumF2, 1.0),
      s"Parseval: $total vs $sumF2")
  }

  test("vOptimalDp (q297): finds the zero-SSE split on a two-plateau " +
    "frequency sequence; bucket rows/SSE exact") {
    val s = spark
    import s.implicits._
    // [10,10,10,1,1,1] with k=2: the only zero-SSE split is after t=3
    val freqs = Seq((1, 10L), (2, 10L), (3, 10L), (4, 1L), (5, 1L),
      (6, 1L)).toDF("t", "f")
    val got = graft.operators.Stats.vOptimalDp(freqs, g = 6, k = 2)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getDouble(4))).sortBy(_._1)
    assert(got.toSeq == Seq((1, 1, 3, 30L, 0.0), (2, 4, 6, 3L, 0.0)),
      got.mkString(", "))
    // k=3 on the same input must keep total SSE at 0 (splitting a
    // plateau costs nothing) and partition 1..6 contiguously
    val g3 = graft.operators.Stats.vOptimalDp(freqs, g = 6, k = 3)
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getDouble(4)))
      .sortBy(_._1)
    assert(g3.map(_._3).sum == 0.0, g3.mkString(", "))
    assert(g3.head._1 == 1 && g3.last._2 == 6 &&
      g3.sliding(2).forall(p => p(1)._1 == p(0)._2 + 1))
  }

  test("vOptimalMerged (q305): per-shard exact histograms merged then " +
    "re-DP'd equal the direct single-pass construction bucket-for-bucket") {
    val s = spark
    import s.implicits._
    // skewed value stream split across 3 shards with values REPEATED
    // across shards (the row-partitioned worst case for any grid-level
    // merge: no shard sees a value's full count)
    val rows = (1 to 300).map { i =>
      val v = if (i % 7 == 0) 100L else if (i % 3 == 0) 5L + (i % 4) else 1L
      (i % 3, v) // shard by row index, NOT value
    }
    val vals = rows.toDF("shard", "v")
    val shardHists = vals.groupBy($"shard", $"v")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("c"))
    val merged = graft.operators.Stats
      .vOptimalMerged(shardHists, g = 8, k = 3)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).sortBy(_._1)
    // direct path: one global histogram -> same grid -> same DP
    val hist = vals.groupBy($"v")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("c"))
    val (grid, freqs) = graft.operators.Stats.equiRankGridFreqs(hist, 8)
    val gv = grid.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val direct = graft.operators.Stats.vOptimalDp(freqs, g = 8, k = 3)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
        gv(r.getInt(2)), r.getLong(3), r.getDouble(4))).sortBy(_._1)
    assert(merged.toSeq == direct.toSeq,
      s"merged=${merged.mkString(", ")} direct=${direct.mkString(", ")}")
    // the buckets cover all 300 rows contiguously
    assert(merged.map(_._5).sum == 300L)
  }

  test("mergedGridIntervals (q306): single shard reproduces its own " +
    "cells exactly; multi-shard merge conserves total mass and tiles " +
    "the value range contiguously") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, count, lit}
    // single shard: union boundaries == its own boundaries, so every
    // interval is a cell and the uniform split is the identity
    val one = Seq.tabulate(60)(i => (0, (i % 6 + 1).toLong))
      .toDF("shard", "v")
      .groupBy(col("shard"), col("v")).agg(count(lit(1)).as("c"))
    val ivOne = graft.operators.Stats.mergedGridIntervals(one, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(ivOne.map(_._3).sum == 60.0, ivOne.mkString(", "))
    assert(ivOne.forall { case (a, b, m) => b > a && m > 0 })
    // g=3 equi-rank on values 1..6 (10 rows each): cells end at 2, 4, 6
    assert(ivOne.map(_._2).toSeq == Seq(2L, 4L, 6L), ivOne.mkString(", "))
    // two shards with DIFFERENT boundaries: mass conserved to the
    // round(9) contract, intervals contiguous and sorted
    val rows = (1 to 200).map { i =>
      (i % 2, if (i % 2 == 0) (i % 10 + 1).toLong else (i % 7 + 3).toLong)
    }
    val two = rows.toDF("shard", "v")
      .groupBy(col("shard"), col("v")).agg(count(lit(1)).as("c"))
    val iv2 = graft.operators.Stats.mergedGridIntervals(two, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(math.abs(iv2.map(_._3).sum - 200.0) < 1e-6,
      s"mass not conserved: ${iv2.map(_._3).sum}")
    assert(iv2.sliding(2).forall(p =>
      p.length < 2 || p(1)._1 == p(0)._2), iv2.mkString(", "))
  }

  test("equiRankGridFreqs: grid values ascend, cell frequencies " +
    "reconstruct the histogram total, last grid point is the max value") {
    val s = spark
    import s.implicits._
    val hist = Seq((2L, 5L), (7L, 1L), (9L, 10L), (30L, 4L))
      .toDF("v", "c")
    val (grid, freqs) = graft.operators.Stats.equiRankGridFreqs(hist, 4)
    val g = grid.collect().map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
    assert(g.map(_._2).toSeq == g.map(_._2).sorted.toSeq, g.mkString(","))
    assert(g.last._2 == 30L, g.mkString(","))
    assert(freqs.collect().map(_.getLong(1)).sum == 20L)
  }

  test("resizeImages: integer box averaging on a NON-uniform image " +
    "(the solid-colour oracle cannot distinguish a broken kernel), " +
    "non-image and corrupt rows pass through") {
    import java.awt.image.BufferedImage
    val s = spark
    import s.implicits._
    // 2x2 with distinct reds: (10, 30 / 50, 70) -> 1x1 mean red = 40;
    // greens/blues constant so only the red path is under test
    val img = new BufferedImage(2, 2, BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, (10 << 16) | (5 << 8) | 1)
    img.setRGB(1, 0, (30 << 16) | (5 << 8) | 1)
    img.setRGB(0, 1, (50 << 16) | (5 << 8) | 1)
    img.setRGB(1, 1, (70 << 16) | (5 << 8) | 1)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val rows = Seq(
      graft.operators.Multimodal.MediaRow(1L, "image", bos.toByteArray),
      graft.operators.Multimodal.MediaRow(2L, "audio", Array[Byte](1, 2)),
      graft.operators.Multimodal.MediaRow(3L, "image", Array[Byte](9)))
    val ds = s.createDataset(rows)(
      org.apache.spark.sql.Encoders.product[
        graft.operators.Multimodal.MediaRow])
    val out = graft.operators.Multimodal.resizeImages(ds, 1, 1)
      .collect().map(r => r.doc_id -> r).toMap
    val feat = graft.operators.Multimodal.extractFeatures(
        graft.operators.Multimodal.resizeImages(ds, 1, 1))
      .collect().map(f => f.doc_id -> f).toMap
    assert(feat(1L).width == 1 && feat(1L).height == 1)
    assert(feat(1L).mean_red == 40L, s"box average broke: ${feat(1L)}")
    // 2x1 downscale: columns average vertically -> reds (30, 50)
    val half = graft.operators.Multimodal.extractFeatures(
        graft.operators.Multimodal.resizeImages(ds.filter(_.doc_id == 1L),
          2, 1)).collect().head
    assert(half.width == 2 && half.height == 1 && half.mean_red == 40L)
    // pass-through: audio untouched, corrupt image untouched
    assert(out(2L).payload.toSeq == Seq[Byte](1, 2))
    assert(out(3L).payload.toSeq == Seq[Byte](9))
  }

  test("sampleVideoFrames: every-k sampling keeps stream order and " +
    "exact per-frame means; undecodable payloads yield no rows") {
    val s = spark
    // 5 frames, reds 0,17,34,51,68 (the aviFor formula with doc-part 0)
    val colours = Array.tabulate(5)(f => ((f * 17) % 256) << 16)
    val avi = graft.operators.Multimodal.VideoCodec
      .encodeAvi(4, 3, colours)
    val rows = Seq(
      graft.operators.Multimodal.MediaRow(7L, "video", avi),
      graft.operators.Multimodal.MediaRow(8L, "video", Array[Byte](1)))
    val ds = s.createDataset(rows)(
      org.apache.spark.sql.Encoders.product[
        graft.operators.Multimodal.MediaRow])
    val out = graft.operators.Multimodal.sampleVideoFrames(ds)
      .collect().sortBy(_.frame_idx)
      .map(f => (f.doc_id, f.frame_idx, f.width, f.height, f.red_mean))
    assert(out.toSeq == Seq((7L, 0, 4, 3, 0L), (7L, 2, 4, 3, 34L),
      (7L, 4, 4, 3, 68L)))
  }

  test("dedupThresholdSweep (q310): per-theta counts from one pair " +
    "table, zero-survivor thetas report (0, 0, null)") {
    val s = spark
    import s.implicits._
    val pairs = Seq(
      (1L, 2L, 0.35), (2L, 3L, 0.55), (4L, 5L, 0.55), (6L, 7L, 0.80))
      .toDF("a_id", "b_id", "sim")
    val out = graft.operators.Dedup
      .dedupThresholdSweep(pairs, Seq(0.3, 0.5, 0.9))
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq
    assert(out == Seq(
      (0.3, 4L, 7L, Some(0.5625)),   // four pairs; doc 2 is in two of
                                     // them, so 7 distinct docs
      (0.5, 3L, 6L, Some(0.633333)), // the 0.35 pair drops
      (0.9, 0L, 0L, None)))          // empty theta still reports a row
  }

  test("mixturePlan (q311): integer-exact targets, epoch cap surfaces " +
    "the unachievable share instead of over-repeating") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    // src_a has plenty (600 tokens), src_b is tiny (40 tokens): at a
    // 1000-token budget each owes 500; src_b can reach only 40*4=160
    // under the 4-epoch cap
    val docs = (Seq.fill(6)(("src_a", 100L)) ++ Seq.fill(4)(("src_b", 10L))
      ++ Seq(("src_c", 0L)))
      .toDF("source", "toks")
    val out = graft.operators.Sampling
      .mixturePlan(docs, budget = 999L,
        maxEpochs = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        r.getLong(5), r.getLong(6), r.getDouble(7))).toSeq
    // 999 div 3 groups = 333 target each (integer division, remainder
    // deliberately unassigned); the zero-token source reports
    // (rate null, 1 epoch, 0 tokens, share 0) instead of dividing by 0
    assert(out == Seq(
      ("src_a", 6L, 600L, 333L, Some(0.555), 1L, 333L, 0.333333),
      ("src_b", 4L, 40L, 333L, Some(8.325), 4L, 160L, 0.16016),
      ("src_c", 1L, 0L, 333L, None, 1L, 0L, 0.0)))
  }

  test("dedupThresholdSweep: randomized cross-check against a scala " +
    "brute force, and counts are non-increasing in theta") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(310)
    val pairs = (1 to 200).map { _ =>
      val a = rnd.nextInt(60).toLong
      val b = a + 1 + rnd.nextInt(20)
      (a, b, math.rint(rnd.nextDouble() * 1e6) / 1e6)
    }.distinct
    val thetas = Seq(0.1, 0.35, 0.6, 0.85)
    val out = graft.operators.Dedup
      .dedupThresholdSweep(pairs.toDF("a_id", "b_id", "sim"), thetas)
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
      .toSeq
    val brute = thetas.map { th =>
      val hit = pairs.filter(_._3 >= th)
      (th, hit.size.toLong,
        hit.flatMap(p => Seq(p._1, p._2)).distinct.size.toLong)
    }
    assert(out == brute)
    assert(out.map(_._2) == out.map(_._2).sorted.reverse, "pairs rose")
    assert(out.map(_._3) == out.map(_._3).sorted.reverse, "docs rose")
  }

  test("mixturePlan invariants: capped <= target, capped <= avail x " +
    "epochs, epochs <= cap, achievable <= target share") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(311)
    val docs = (1 to 300).map(_ =>
      (s"src${rnd.nextInt(7)}", (1 + rnd.nextInt(500)).toLong))
      .toDF("source", "toks")
    val rows = graft.operators.Sampling
      .mixturePlan(docs, budget = 50000L,
        maxEpochs = 3)
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (avail, target, epochs, capped) =
        (r.getLong(2), r.getLong(3), r.getLong(5), r.getLong(6))
      assert(capped <= target, r.toString)
      assert(capped <= avail * epochs, r.toString)
      assert(epochs >= 1 && epochs <= 3, r.toString)
      assert(r.getDouble(7) <= target.toDouble / 50000.0 + 1e-9,
        r.toString)
      // a source that can cover its target must fully cover it
      if (avail * epochs >= target) assert(capped == target, r.toString)
    }
  }

  test("clusterAwareSplit (q307): every cluster lands wholly in one " +
    "split, the split is the representative's own hash split, and no " +
    "pair straddles under the cluster-aware assignment") {
    val s = spark
    import s.implicits._
    val docs = (1L to 10L).toDF("doc_id")
    val pairEdges = Seq((1L, 2L), (2L, 3L), (5L, 6L))
    val pairs = pairEdges.toDF("a_id", "b_id")
    val asg = graft.operators.Dedup.clusterAwareSplit(docs, pairs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getString(3)))).toMap
    // components: {1,2,3} rep 1, {5,6} rep 5; everything else singleton
    assert(asg(2L)._1 == 1L && asg(3L)._1 == 1L && asg(6L)._1 == 5L)
    assert(asg(4L)._1 == 4L && asg(10L)._1 == 10L)
    // each member's cluster-aware split equals its representative's own
    // per-doc hash split (the rep's naive_split IS md5(cluster_id))
    for ((id, (cl, _, split)) <- asg)
      assert(split == asg(cl)._2, s"doc $id (cluster $cl)")
    // the property the operator exists for: zero straddling pairs
    for ((a, b) <- pairEdges) assert(asg(a)._3 == asg(b)._3, s"($a,$b)")
    // a caller whose docs already carries cluster_id/cs_id columns must
    // not hit an ambiguous-reference analysis error: the operator
    // projects docs down to the id before the join
    val noisy = docs.withColumn("cluster_id",
        org.apache.spark.sql.functions.lit(99L))
      .withColumn("cs_id", org.apache.spark.sql.functions.lit(-1L))
    val asg2 = graft.operators.Dedup
      .clusterAwareSplit(noisy, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(asg2 == asg.map { case (k, v) => k -> v._1 },
      "pre-existing cluster_id/cs_id columns changed the assignment")
  }

  test("histCumSum: the bucketed two-phase prefix sum equals the " +
    "single-task window exactly on a wide skewed domain — global and " +
    "per-shard — and the synopsis operators are invariant to the cap") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, count, lit, sum => fsum}
    // wide skewed domain: most distinct values clustered in a narrow
    // band plus a sparse heavy tail — uniform bucket spans would
    // collapse into one giant bucket; the quantile boundaries must not
    val vals = (1 to 20000).map { i =>
      val v = if (i % 5 == 0) 1000000L + i else (i % 997).toLong * 3
      (i % 4, v)
    }
    val hist = vals.toDF("shard", "v")
      .groupBy(col("shard"), col("v")).agg(count(lit(1)).as("c"))
    // per-shard form: cap 1 forces the bucketed path on every shard
    val byWindow = graft.operators.Stats.histCumSum(hist, Seq("shard"),
      domainCap = Long.MaxValue)
    val byBuckets = graft.operators.Stats.histCumSum(hist, Seq("shard"),
      domainCap = 1L, nBuckets = 16)
    assert(byWindow.exceptAll(byBuckets).isEmpty &&
      byBuckets.exceptAll(byWindow).isEmpty,
      "bucketed per-shard cumulative diverged from the window path")
    // global form through equiRankGridFreqs: identical (grid, freqs)
    val ghist = hist.groupBy(col("v")).agg(fsum(col("c")).as("c"))
    def gf(cap: Long) = {
      val (g, f) = graft.operators.Stats.equiRankGridFreqs(ghist, 16, cap)
      (g.collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).toSeq,
        f.collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).toSeq)
    }
    assert(gf(Long.MaxValue) == gf(1L),
      "equiRankGridFreqs changed under the bucketed cumulative")
    // per-shard form through mergedGridIntervals: identical intervals
    def iv(cap: Long) = graft.operators.Stats
      .mergedGridIntervals(hist, 8, cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(iv(Long.MaxValue) == iv(1L),
      "mergedGridIntervals changed under the bucketed cumulative")
  }

  test("adjustedRandIndex (q293): identical partitions score exactly " +
    "1.0; the orthogonal 2x2 split scores exactly -0.5") {
    val s = spark
    import s.implicits._
    val same = Seq((1L, "x", "p"), (2L, "x", "p"), (3L, "y", "q"),
      (4L, "y", "q")).toDF("id", "la", "lb")
    val r1 = graft.operators.Stats.adjustedRandIndex(same)
      .collect()(0)
    assert(r1.getLong(0) == 4 && r1.getLong(1) == 2 && r1.getLong(2) == 2)
    assert(r1.getDouble(3) == 1.0, s"identical: $r1")
    // A = {1,2}{3,4}, B = {1,3}{2,4}: every contingency cell is a
    // singleton -> tij = 0, ta = tb = 4, tn = 12, ARI = -0.5 by hand
    val orth = Seq((1L, "x", "p"), (2L, "x", "q"), (3L, "y", "p"),
      (4L, "y", "q")).toDF("id", "la", "lb")
    val r2 = graft.operators.Stats.adjustedRandIndex(orth)
      .collect()(0)
    assert(r2.getDouble(3) == -0.5, s"orthogonal: $r2")
  }

  test("Elias gamma/delta bit formulas (q292): binary-digit-count " +
    "algebra matches the hand-coded lengths for gaps 1..8") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{length => slen}
    val lb = slen(conv(col("g"), 10, 2)).cast("long")
    val lbl = slen(conv(lb, 10, 2)).cast("long")
    val got = (1L to 8L).toDF("g")
      .select(col("g"), (lb * 2 - 1).as("gamma"),
        (lb + lbl * 2 - 2).as("delta"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // gamma(g) = 2*floor(log2 g)+1; delta(g) = gamma(L)+L-1, L=|bin(g)|
    val want = Seq((1L, 1L, 1L), (2L, 3L, 4L), (3L, 3L, 4L),
      (4L, 5L, 5L), (5L, 5L, 5L), (6L, 5L, 5L), (7L, 5L, 5L),
      (8L, 7L, 8L))
    assert(got.toSeq == want, got.mkString(", "))
  }

  test("nnDescentGraph (q286): on clustered vectors the converged " +
    "graph is all in-cluster; edges carry exact round-6 sims and " +
    "dense ranks") {
    val s = spark
    import s.implicits._
    // two well-separated clusters in 8-dim: cluster = axis direction
    // with a small deterministic per-point wobble on a second axis
    val pts = (0L until 40L).map { i =>
      val cl = (i % 2).toInt              // even ids -> cluster 0
      val base = Array.fill(8)(0.0f)
      base(cl) = 1.0f
      base(cl + 2) = 0.01f * ((i % 7).toInt + 1)  // wobble, keeps ties away
      (i, base.toSeq)
    }.toDF("vec_id", "embedding")
    val g = graft.operators.Similarity
      .nnDescentGraph(pts, k = 5, rounds = 2,
        bucketTarget = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3)))
    assert(g.nonEmpty)
    // cosine(cluster0, cluster1) ~ 0 << in-cluster ~ 1: a converged
    // graph never keeps a cross-cluster edge
    assert(g.forall { case (v, u, _, _) => v % 2 == u % 2 },
      g.filter { case (v, u, _, _) => v % 2 != u % 2 }.take(5).mkString)
    // per-vector ranks are 1..k over distinct neighbors
    g.groupBy(_._1).foreach { case (_, es) =>
      assert(es.map(_._4).sorted.toSeq == (1 to es.length))
      assert(es.map(_._2).distinct.length == es.length)
    }
    // sims are round-6 quantized and sorted consistently with rank
    g.groupBy(_._1).foreach { case (_, es) =>
      val byRk = es.sortBy(_._4).map(_._3)
      assert(byRk.zip(byRk.tail).forall(p => p._1 >= p._2))
    }
  }

  test("minKSurprisal (q287): worst-k mean dominates the plain mean; " +
    "duplicated text scores as a member; k is exact integer ceil") {
    val s = spark
    import s.implicits._
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val rows = Seq((0L, dup), (1L, dup), (2L, dup),
      (3L, "zeta xylo qumquat verdant echoes murmur beneath glacial"),
      (4L, dup)).toDF("doc_id", "text")
    val r = graft.operators.TextAnalysis
      .minKSurprisal(rows)
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getDouble(3), x.getDouble(4))))
      .toMap
    // Min-K takes the HIGHEST-surprisal types, so mink >= mean always
    assert(r.values.forall { case (_, _, mink, mean) => mink >= mean })
    // k = ceil(n_types / 5): the dup doc has 11 distinct bigrams -> 3
    assert(r(0)._1 == 11L && r(0)._2 == 3L, s"k math: ${r(0)}")
    // the 4x-duplicated doc's worst bigrams are still corpus-frequent;
    // the novel doc's worst bigrams are singletons -> member signal
    assert(r(0)._3 < r(3)._3,
      s"member ${r(0)._3} must score below novel ${r(3)._3}")
    // duplicates of the same text score identically
    assert(r(0) == r(1) && r(1) == r(4))
  }

  test("facilityLocationSelect (q289): greedy picks cluster exemplars " +
    "by size with id tie-break; gains shrink, objective accumulates") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "one two three four five"),
      (4L, "one two three four five"),
      (5L, "solo unique words entirely here")).toDF("doc_id", "text")
    val got = graft.operators.Sampling
      .facilityLocationSelect(rows, nCand = 6, k = 2)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    // round 1: any of docs 0/1/2 covers 3 docs (gain 3.0) — tie-break
    // picks cid 0; round 2: the 2-doc cluster (gain 2.0, cid 3)
    assert(got.toSeq == Seq((1, 0L, 3.0, 3.0), (2, 3L, 2.0, 5.0)),
      got.mkString(", "))
  }

  test("bradleyTerry (q285): two-player game hits the closed form in " +
    "one MM round; a transitive sweep orders strengths; zero-win items " +
    "converge to 0") {
    val s = spark
    import s.implicits._
    // A beats B 7-3: BT closed form s_A/(s_A+s_B)=0.7, mean-1 norm →
    // (1.4, 0.6), a fixed point of the MM update (round 2+ must not move)
    val g2 = Seq(("A", "B", 10L, 7L, 3L)).toDF("i", "j", "n", "wi", "wj")
    val r2 = graft.operators.Stats.bradleyTerry(g2)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(r2("A") == 1.4 && r2("B") == 0.6, s"closed form: $r2")
    // transitive sweep A>B>C with C winless: strengths order, C → 0
    val g3 = Seq(("A", "B", 2L, 2L, 0L), ("B", "C", 2L, 2L, 0L),
      ("A", "C", 2L, 2L, 0L)).toDF("i", "j", "n", "wi", "wj")
    val r3 = graft.operators.Stats.bradleyTerry(g3)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(r3("A") > r3("B") && r3("B") > r3("C"), s"order: $r3")
    assert(r3("C") == 0.0, s"winless floor: $r3")
    // BT is a ratio model: tripling every count leaves strengths fixed
    val g2x3 = Seq(("A", "B", 30L, 21L, 9L)).toDF("i", "j", "n", "wi",
      "wj")
    val rScaled = graft.operators.Stats.bradleyTerry(g2x3)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(rScaled == r2, s"scale invariance: $rScaled vs $r2")
  }

  test("rboWeights (q290): identical top-10 lists sum to 1 - p^10; " +
    "weights strictly decrease in first-covered depth") {
    val w = SparkHelpers.rboWeights.map { case (m, c) => m -> c.toDouble }
    assert(w.map(_._1) == (1 to 10))
    val full = w.map(_._2).sum
    assert(math.abs(full - (1.0 - math.pow(0.9, 10))) < 1e-9,
      s"identical-list RBO: $full")
    assert(w.map(_._2).sliding(2).forall(p => p(0) > p(1)),
      "earlier-covered docs must weigh more")
    // the deepest weight is exactly (1-p)·p^9/10 (single-term tail)
    assert(math.abs(w.last._2 - 0.1 * math.pow(0.9, 9) / 10) < 1e-12)
  }

  test("shapleyCoalitions (q264): 8 coalitions per player, weights sum " +
    "to 1 per player, with-mask = without-mask | player bit") {
    val cs = SparkHelpers.shapleyCoalitions
    assert(cs.size == 32)
    for (g <- 0 until 4) {
      val mine = cs.filter(_._1 == g)
      assert(mine.size == 8)
      assert(math.abs(mine.map(_._4).sum - 1.0) < 1e-12)
      assert(mine.forall { case (_, s0, s1, _) =>
        (s0 & (1 << g)) == 0 && s1 == (s0 | (1 << g)) })
    }
  }

  test("weighted MinHash (Ioffe CWS): collision rate tracks weighted " +
    "Jaccard, identical docs collide everywhere, tf actually matters") {
    val s = spark
    import s.implicits._
    def sigMap(docs: org.apache.spark.sql.DataFrame, k: Int) =
      Dedup.weightedMinhashSignatures(docs, "doc_id", "text", k)
        .collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[Int]("seed")) ->
          r.getAs[String]("skey")).toMap
    def matchFrac(a: String, b: String, k: Int): Double = {
      val m = sigMap(Seq((1L, a), (2L, b)).toDF("doc_id", "text"), k)
      (0 until k).count(i => m((1L, i)) == m((2L, i))).toDouble / k
    }
    // identical weighted sets -> identical signature at every seed, and
    // the pairs operator verifies exact jw = 1.0
    assert(matchFrac("x x y z", "x x y z", 32) == 1.0)
    val ident = Dedup.weightedMinhashPairs(
      Seq((1L, "x x y z"), (2L, "x x y z")).toDF("doc_id", "text"), k = 8, bands = 4)
      .collect()
    assert(ident.length == 1 && ident(0).getDouble(2) == 1.0)
    // CWS unbiasedness: P[collision] = Jw. A={x:4,y:4}, B={x:4,z:4} has
    // Jw = 4/12 = 1/3; k=128 draws give sigma ~0.042, tolerance 0.2 ~ 5σ
    val jwThird = matchFrac("x x x x y y y y", "x x x x z z z z", 128)
    assert(math.abs(jwThird - 1.0 / 3.0) < 0.2, s"got $jwThird")
    // tf-weighting is the point: C={x:1,y:1} vs D={x:9,y:1} have SET
    // Jaccard 1.0 but weighted Jaccard (1+1)/(9+1) = 0.2 — the sampler
    // must disagree on most seeds where set MinHash would always agree
    val jwSkew = matchFrac("x y", "x x x x x x x x x y", 128)
    assert(jwSkew < 0.45 && jwSkew > 0.0, s"got $jwSkew")
    // and the exact verify arithmetic: pin the integer Σmin/Σmax on a
    // pair with Jw = 5/7 ({x:3,y:2,z:1} vs {x:3,y:2,w:1} — smin 5,
    // smax 6+6−5 = 7). 32 bands of 2 make a full candidacy miss
    // P ≈ (1 − (5/7)²)³² ≈ 1e-10; threshold 3/5 keeps the pair, and jw
    // must be exactly round(5/7, 6)
    val p = Dedup.weightedMinhashPairs(
      Seq((1L, "x x x y y z"), (2L, "x x x y y w")).toDF("doc_id", "text"), k = 64, bands = 32)
      .collect()
    assert(p.length == 1 && p(0).getDouble(2) == 0.714286)
  }

  test("queryLikelihoodBatch: a label whose terms are ALL absent from " +
    "the corpus keeps its rows, identical to the single-query path") {
    // the round-6 advice edge: cScalar's inner join produced no row for
    // an all-absent label, so the label silently vanished from the batch
    // result while the single-query path still emitted topN rows (NULL
    // score, n_match 0). The left-join fix makes batch == single here too.
    val s = spark
    import s.implicits._
    import graft.operators.Retrieval
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha alpha delta"),
      (3L, "beta beta beta")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("rk"), col("doc_id"), col("n_match"), col("score"))
        .collect().map(r => (r.getInt(0), r.getLong(1),
          r.getInt(2), Option(r.get(3)).map(_.toString))).toSeq
    val labels = Seq("hit" -> Seq("alpha"), "ghost" -> Seq("zzz_not_a_word"))
    val batch = Retrieval.queryLikelihoodBatch(Retrieval.trimmedPostings(
      docs, labels.flatMap(_._2).distinct), labels, topN = 3)
    val ghost = rows(batch.filter(col("q") === "ghost"))
    val singleGhost = rows(Retrieval.queryLikelihood(docs, Seq("zzz_not_a_word"), mu = 100.0, topN = 3))
    assert(ghost.size == 3 && ghost == singleGhost)
    assert(ghost.forall { case (_, _, nm, sc) => nm == 0 && sc.isEmpty })
    val hit = rows(batch.filter(col("q") === "hit"))
    val singleHit = rows(Retrieval.queryLikelihood(docs,
      Seq("alpha"), mu = 100.0, topN = 3))
    assert(hit == singleHit)
  }

  test("incremental clustering (q108): a fresh session merges new pairs " +
    "into ON-DISK labels via the on-disk index == full recompute") {
    // the last member of the incremental-index family to get the q70
    // fresh-session contract: yesterday's run persisted BOTH artifacts —
    // the minhash band index AND the cluster-label table; today's run is
    // a DIFFERENT session that knows only the two parquet paths. The
    // merged labels must equal the from-scratch clustering of the full
    // corpus (incremental == full recompute, the q108 oracle invariant).
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val evens = docs.filter(col("doc_id") % 2 === 0)
    val idxTmp = java.nio.file.Files.createTempDirectory("graft_q108i").toString
    val labTmp = java.nio.file.Files.createTempDirectory("graft_q108l").toString
    graft.operators.Materializer.Persisted(idxTmp)(
      Dedup.minhashIndex(evens,
        bands = 4, fast = true))
    graft.operators.Materializer.Persisted(labTmp)(
      Dedup.nearDupClusters(Dedup.minhashLshPairs(evens,
        bands = 4, threshold = 0.5, fast = true)))
    def labSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"))).toSet
    val full = labSet(Dedup.nearDupClusters(
      Dedup.minhashLshPairs(docs, bands = 4, threshold = 0.5,
          fast = true)))
    // fresh session: separate registry/catalog/conf, same cluster
    val s2 = spark.newSession()
    val docs2 = s2.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val newPairs = Dedup.minhashLshPairsIncremental(
      Dedup.minhashIndex(docs2.filter(col("doc_id") % 2 === 1), bands = 4, fast = true),
      s2.read.parquet(s"$idxTmp/mat_0"), threshold = 0.5)
    val merged = labSet(Dedup.nearDupClustersIncremental(
      s2.read.parquet(s"$labTmp/mat_0"), newPairs))
    assert(merged.nonEmpty && merged == full)
  }

  test("IVF-PQ append (q128): a fresh session appends to the ON-DISK " +
    "index — union == full rebuild, search-identical, no re-encode of " +
    "history") {
    // the q128 invariant upgraded to the fresh-session contract: the
    // append side is a DIFFERENT session that knows only the parquet
    // path and the frozen codebook; history is never re-scanned, yet the
    // unioned index is row-identical to a from-scratch rebuild
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val seeds = emb.filter(col("vec_id") < 4)
    val cb = Similarity.trainPqCodebooks(emb, m = 8, ksub = 16, iters = 2)
    val tmp = java.nio.file.Files.createTempDirectory("graft_q128f").toString
    graft.operators.Materializer.Persisted(tmp)(
      Similarity.ivfPqIndex(emb.filter(col("vec_id") % 10 =!= 9), seeds, cb))
    def idxSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
    val full = idxSet(Similarity.ivfPqIndex(emb, seeds, cb))
    val s2 = spark.newSession()
    val emb2 = s2.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val appended = s2.read.parquet(s"$tmp/mat_0")
      .unionByName(Similarity.ivfPqIndex(
        emb2.filter(col("vec_id") % 10 === 9),
        emb2.filter(col("vec_id") < 4), cb))
    assert(idxSet(appended) == full)
    def res(s: org.apache.spark.sql.SparkSession,
            idx: org.apache.spark.sql.DataFrame,
            e: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqSearch(idx, e.filter(col("vec_id") < 6),
          e.filter(col("vec_id") < 4), cb, k = 5, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    val fromDisk = res(s2, appended, emb2)
    assert(fromDisk.nonEmpty &&
      fromDisk == res(spark, Similarity.ivfPqIndex(emb, seeds, cb), emb))
  }

  test("blocklistScan (q315): the Aho-Corasick native expression counts " +
    "greedy leftmost non-overlapping occurrences per pattern — " +
    "differential vs a replace()-based brute force on randomized text, " +
    "plus the overlap and suffix-output edges") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, typedlit}
    def hits(text: String, pats: Seq[String]): Seq[Long] =
      Seq(text).toDF("t")
        .select(GraftFunctions.blocklist_hits(col("t"), typedlit(pats)))
        .collect()(0).getSeq[Long](0)
    // replace-based brute force: exactly what the DuckDB oracle computes
    def brute(text: String, pats: Seq[String]): Seq[Long] =
      pats.map(p =>
        ((text.length - text.replace(p, "").length) / p.length).toLong)
    // self-overlap: "aaa" has TWO 'aa' occurrences but greedy counts one
    assert(hits("aaa", Seq("aa")) == Seq(1L))
    assert(hits("aaaa", Seq("aa")) == Seq(2L))
    // nested patterns: "fast" fires inside "fast fast" via suffix links
    assert(hits("fast fast x", Seq("fast", "fast fast"))
      == Seq(2L, 1L))
    // absent pattern -> exact zero; empty text -> all zeros
    assert(hits("table scan", Seq("buy now", "table")) == Seq(0L, 1L))
    assert(hits("", Seq("a", "bb")) == Seq(0L, 0L))
    // multi-byte UTF-8 pattern: byte-level matching equals char matching
    assert(hits("caf\u00e9 au lait caf\u00e9", Seq("caf\u00e9"))
      == Seq(2L))
    // randomized differential over a small alphabet (dense matches,
    // overlapping pattern set including prefixes/suffixes of each other)
    val pats = Seq("ab", "aba", "ba", "bab", "aa", "abab")
    val rnd = new scala.util.Random(315)
    for (_ <- 1 to 60) {
      val t = (1 to (rnd.nextInt(40) + 1))
        .map(_ => if (rnd.nextBoolean()) 'a' else 'b').mkString
      assert(hits(t, pats) == brute(t, pats), s"text=$t")
    }
    // the operator rollup over a tiny corpus
    val docs = Seq(
      (1L, "srcA", "fast fast table"),
      (2L, "srcA", "slow scan slow scan"),
      (3L, "srcB", "nothing here")).toDF("doc_id", "source", "text")
    val out = graft.operators.TextAnalysis
      .blocklistScan(docs,
        Seq("fast", "slow scan", "table"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(out == Seq(
      ("srcA", "fast", 1L, 2L),
      ("srcA", "slow scan", 1L, 2L),
      ("srcA", "table", 1L, 1L),
      ("srcB", "fast", 0L, 0L),
      ("srcB", "slow scan", 0L, 0L),
      ("srcB", "table", 0L, 0L)))
    // NULL text is a zero-hit doc, not a dropped one (the oracle's
    // CROSS JOIN keeps it; a null hits array under posexplode would
    // silently delete it from the rollup)
    val withNull = Seq((1L, "srcN", "fast lane"), (2L, "srcN", null))
      .toDF("doc_id", "source", "text")
    val nOut = graft.operators.TextAnalysis
      .blocklistScan(withNull, Seq("fast"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(nOut == Seq(("srcN", "fast", 1L, 1L)))
  }

  test("BlocklistHits: a dictionary-scale blocklist switches to the " +
    "sparse CSR automaton — transition memory scales with trie edges, " +
    "not nodes*256 — and the sparse walk is differentially equal to " +
    "the replace() brute force across the representation threshold") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, typedlit}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(323)
    def word(n: Int): String =
      (1 to n).map(_ => ('a' + rnd.nextInt(6)).toChar).mkString
    // ~2000 distinct 6-12 byte patterns -> ~17k trie nodes, well past
    // the dense limit (the flat DFA would be nodes*256 ints = ~17 MB)
    val big = (1 to 2000).map(_ => word(6 + rnd.nextInt(7))).distinct
    val textLit = Literal(UTF8String.fromString("x"), StringType)
    def patsLit(ps: Seq[String]) = Literal.create(ps,
      org.apache.spark.sql.types.ArrayType(StringType))
    val bigShape = graft.functions
      .BlocklistHits(textLit, patsLit(big)).automatonShape
    assert(!bigShape._3, "dictionary-scale blocklist must go sparse")
    assert(bigShape._1 > graft.functions.BlocklistHits.denseNodeLimit)
    // memory-shape pin: exactly one stored transition per trie edge
    // (= nNodes - 1), bounded by total pattern bytes — NOT nodes*256
    assert(bigShape._2 == bigShape._1 - 1L)
    assert(bigShape._2 <= big.map(_.length).sum.toLong)
    // a phrase-scale blocklist keeps the measured flat-DFA fast path
    val smallShape = graft.functions
      .BlocklistHits(textLit, patsLit(big.take(64))).automatonShape
    assert(smallShape._3, "small blocklist must stay on the flat DFA")
    assert(smallShape._2 == smallShape._1.toLong * 256)
    // randomized differential THROUGH the full Spark eval path: texts
    // woven from dictionary entries + filler so matches (and junction
    // overlaps) actually occur; replace() brute force is the semantic
    // oracle on both sides of the threshold
    def brute(text: String, pats: Seq[String]): Seq[Long] =
      pats.map(p =>
        ((text.length - text.replace(p, "").length) / p.length).toLong)
    val texts = (1 to 12).map(_ =>
      (1 to 30).map(_ =>
        if (rnd.nextBoolean()) big(rnd.nextInt(big.size))
        else word(rnd.nextInt(5) + 1)).mkString)
    val got = texts.toDF("t")
      .select(col("t"),
        GraftFunctions.blocklist_hits(col("t"), typedlit(big)))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    for (t <- texts)
      assert(got(t) == brute(t, big), s"sparse mismatch on text=$t")
    // q323's trigram dictionary is exactly the scale this exists for:
    // pin that it genuinely lands on the sparse path (a vocabulary
    // tweak that silently dropped it under the dense limit would
    // un-exercise the representation the query documents)
    val dictShape = graft.functions
      .BlocklistHits(textLit, patsLit(SparkHelpers.dictBlocklistPatterns))
      .automatonShape
    assert(!dictShape._3
      && dictShape._1 > graft.functions.BlocklistHits.denseNodeLimit,
      s"q323 dictionary should be sparse: $dictShape")
  }

  test("encodingAudit (q316): replacement/control/mojibake detectors " +
    "fire exactly, tab/newline/CR stay clean, and a legit accented " +
    "digraph outside the mojibake range stays clean") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      ("g", "perfectly clean text"),
      ("g", "tabs\tand\nnewlines\rare fine"),
      ("g", "decoder gave up \uFFFD here"),
      ("g", "binary junk\u0001inside"),
      ("g", "mojibake caf\u00C3\u00A9 classic"),
      ("g", "\u00C3x is NOT the mojibake digraph"))
      .toDF("src", "text")
    val out = graft.operators.TextAnalysis
      .encodingAudit(docs.withColumnRenamed("src", "source"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))).toSeq
    // 6 docs: 1 repl, 1 ctrl, 1 moji, 3 clean (incl. tab/newline and
    // the non-mojibake accent)
    assert(out == Seq(("g", 6L, 1L, 1L, 1L, 3L, 0.5)))
    // NULL text counts as a clean doc (the oracle's CASE chain folds
    // every NULL predicate to 0), not as neither-flagged-nor-clean
    val withNull2 = Seq(("n", "ok text"), ("n", null))
      .toDF("source", "text")
    val nOut2 = graft.operators.TextAnalysis
      .encodingAudit(withNull2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(5),
        r.getDouble(6))).toSeq
    assert(nOut2 == Seq(("n", 2L, 2L, 1.0)))
  }

  test("curriculumPlan (q317): cumulative tier pools, proportional " +
    "stage budgets, epoch cap, and the empty-top-tier zero-token " +
    "branch") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    // tier 3 EMPTY; tier 2: 2x100 toks; tier 1: 1x50; tier 0: 1x1000
    val docs = Seq((2, 100L), (2, 100L), (1, 50L), (0, 1000L))
      .toDF("tier", "toks")
    val out = graft.operators.Sampling
      .curriculumPlan(docs, budget = 1000L)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5),
        if (r.isNullAt(6)) None else Some(r.getDouble(6)),
        r.getLong(7), r.getLong(8), r.getDouble(9))).toSeq
    assert(out == Seq(
      // stage 1 = top tier only, which is EMPTY: rate null, 1 epoch,
      // 0 capped, share 0 — the shortfall must surface, not vanish
      (1, 3, 0L, 0L, 0L, 100L, None, 1L, 0L, 0.0),
      // stage 2 adds tier 2: 200 avail vs 200 budget -> exactly 1 epoch
      (2, 2, 1L, 2L, 200L, 200L, Some(1.0), 1L, 200L, 0.2),
      // stage 3 adds tier 1: 250 avail vs 300 budget -> 2 epochs,
      // capped at the budget itself
      (3, 1, 2L, 3L, 250L, 300L, Some(1.2), 2L, 300L, 0.3),
      // stage 4 = everything: under-asked, 1 epoch
      (4, 0, 3L, 4L, 1250L, 400L, Some(0.32), 1L, 400L, 0.4)))
  }

  test("entropyGate (q318): the native char-entropy expression matches " +
    "a decimal-pinned brute force on randomized strings, known-entropy " +
    "fixtures land exactly, and the rollup flags degenerate docs") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, round}
    def h(text: String): Double =
      Seq(text).toDF("t")
        .select(round(GraftFunctions.char_entropy(col("t")), 6))
        .collect()(0).getDouble(0)
    def brute(text: String): Double = {
      val counts = text.groupBy(identity).view.mapValues(_.length)
      val n = text.length.toDouble
      val acc = counts.values.map { c =>
        new java.math.BigDecimal(
          (c / n) * (math.log(n / c) / math.log(2.0)))
          .setScale(9, java.math.RoundingMode.HALF_UP)
          .unscaledValue().longValueExact()
      }.sum
      math.rint(acc / 1e9 * 1e6) / 1e6
    }
    assert(h("") == 0.0)
    assert(h("aaaa") == 0.0)          // single symbol: zero bits
    assert(h("abab") == 1.0)          // two symbols uniform: exactly 1
    assert(h("spam " * 40) == brute("spam " * 40))
    // 5 uniform symbols: log2(5) = 2.321928...
    assert(math.abs(h("spam " * 40) - 2.321928) < 1e-9)
    val rnd = new scala.util.Random(318)
    for (_ <- 1 to 40) {
      val t = (1 to (rnd.nextInt(60) + 1))
        .map(_ => ('a' + rnd.nextInt(6)).toChar).mkString
      assert(h(t) == brute(t), s"text=$t")
    }
    // rollup: the degenerate doc is flagged, natural text is not, and a
    // NULL-text doc scores 0.0 (coalesced, like the oracle's LEFT JOIN
    // + COALESCE replay) — counted in n_docs AND below every threshold
    val docs = Seq[(String, String)](
      ("g", "the quick brown fox jumps over the lazy dog"),
      ("g", "aa aa aa aa aa aa aa aa"),
      ("g", null)).toDF("src", "text")
    val out = graft.operators.TextAnalysis
      .entropyGate(docs.withColumnRenamed("src", "source"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    assert(out.toSeq == Seq(("g", 3L, 2L)))
  }

  test("normalizeForDedup (q320): accented, uppercased, and " +
    "re-punctuated variants of the same text normalize to ONE " +
    "canonical string, and the diacritic fold table is aligned") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    // a misaligned translate() table would silently mis-fold — pin it
    assert(TextAnalysis.diacritics.length
      == TextAnalysis.diacriticsFolded.length)
    def norm(t: String): String =
      Seq(t).toDF("text")
        .select(TextAnalysis.normalizeForDedup)
        .collect()(0).getString(0)
    val base = "fast table scan over a value"
    assert(norm(base) == base)
    assert(norm("fást táble scán över á válue")
      == "fast table scan over a value")
    assert(norm("FAST TABLE SCAN OVER A VALUE") == base)
    assert(norm("fast, table, scan, over, a, value") == base)
    assert(norm("  fast   table!! scan?? over -- a value  ") == base)
    // ñ/ç/ý fold; digits survive; empty stays empty
    assert(norm("mañana façade lýr1c")
      == "manana facade lyr1c")
    assert(norm("") == "")
  }

  test("repeatedSpanScrub (q321): corpus-heavy n-grams are discovered, " +
    "every covered position is removed exactly once (overlapping " +
    "occurrences union, not double-count), and light docs are " +
    "untouched") {
    val s = spark
    import s.implicits._
    // 4 docs carry the banner "aaa bbb ccc" (minDocs=4 -> heavy);
    // doc 99 additionally extends it with "ddd" so BOTH "aaa bbb ccc"
    // and "bbb ccc ddd"... only the first is heavy (the second occurs
    // once) — coverage is positions 0..2 there, and the banner+tail
    // doc 98 has it at a NON-ZERO offset
    val docs = Seq(
      (1L, "g1", "aaa bbb ccc xxx yyy"),
      (2L, "g1", "aaa bbb ccc zzz"),
      (99L, "g1", "aaa bbb ccc ddd"),
      (98L, "g2", "ppp aaa bbb ccc"),
      (3L, "g2", "nothing shared here at all")).toDF(
      "doc_id", "grp", "text")
    val out = graft.operators.TextAnalysis
      .repeatedSpanScrub(docs.withColumnRenamed("grp", "source"), minDocs = 4L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    assert(out == Seq(
      // g1: 3 docs, all touched, 5+4+4=13 toks, 3 removed each
      ("g1", 3L, 3L, 13L, 9L, 0.692308),
      // g2: banner at offset 1 covers positions 1..3; doc 3 untouched
      ("g2", 2L, 1L, 9L, 3L, 0.333333)))
    // overlap union: two heavy grams sharing tokens in ONE doc cover
    // the union of their positions (4), never the sum (6)
    val ov = Seq(
      (1L, "g", "aaa bbb ccc ddd"), (2L, "g", "aaa bbb ccc ddd"),
      (3L, "g", "aaa bbb ccc ddd"), (4L, "g", "aaa bbb ccc ddd"))
      .toDF("doc_id", "source", "text")
    val ovOut = graft.operators.TextAnalysis
      .repeatedSpanScrub(ov, minDocs = 4L)
      .collect().map(r => (r.getLong(3), r.getLong(4))).toSeq
    assert(ovOut == Seq((16L, 16L)),
      "both trigrams are heavy; coverage is the union = all 4 positions")
  }

  test("fertilityBracket (q322): exact integer fertility algebra, the " +
    "lang reference, the drift flag, zero-token and NULL-text branches " +
    "— and partial-stream associativity (the streaming-face contract)") {
    val s = spark
    import s.implicits._
    val docs = Seq[(String, String, String)](
      ("en", "src_a", "ab cd ef gh"),          // 11 chars, 4 toks
      ("en", "src_a", "abc def gha"),          // 11 chars, 3 toks
      ("xx", "src_z", null)).toDF("lang", "source", "text")
    val partials = graft.operators.TextAnalysis
      .fertilityPartials(docs)
    val got = partials.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == Seq(("en", "src_a", 4L, 11L),
      ("en", "src_a", 3L, 11L), ("xx", "src_z", 0L, 0L)),
      got.mkString(", "))
    val out = graft.operators.TextAnalysis.fertilityBracket(partials)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
        r.getBoolean(7))).toSeq
    // en/src_a: 22 chars / 7 toks = 3.142857; ref identical -> ratio 1.0
    // xx/src_z: zero toks -> fertility 0.0, ref 0.0, ratio 0.0, drifted
    assert(out == Seq(
      ("en", "src_a", 7L, 22L, 3.142857, 3.142857, 1.0, false),
      ("xx", "src_z", 0L, 0L, 0.0, 0.0, 0.0, true)), out.mkString(", "))
    // associativity: pre-aggregated per-batch partials produce the
    // bit-identical bracket (what makes the streaming face exact) —
    // here batch 1 carried doc 1, batch 2 pre-summed docs 2 and 3
    val preSummed = Seq(("en", "src_a", 4L, 11L),
      ("en", "src_a", 3L, 11L), ("xx", "src_z", 0L, 0L))
      .toDF("lang", "source", "toks", "chars")
    val out2 = graft.operators.TextAnalysis.fertilityBracket(preSummed)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
        r.getBoolean(7))).toSeq
    assert(out2 == out)
  }

  test("templatePrefixes (q324): the dominant template prefix ranks " +
    "first with its doc share, ties break on the prefix text, and " +
    "only topK rows per group survive") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      ("g", "TEMPLATE HEADER alpha tail one"),
      ("g", "template header alpha tail two"),
      ("g", "template header alpha other"),
      ("g", "zz unique doc"),
      ("g", "aa unique doc"),
      ("h", "solo doc")).toDF("grp", "text")
    val out = graft.operators.TextAnalysis
      .templatePrefixes(docs.withColumnRenamed("grp", "source"), prefixLen = 21, topK = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(out == Seq(
      // 21-char lowercased prefix "template header alph" + 'a' = 21:
      // "template header alpha" counts 3 of 5 docs; rank-2 tie between
      // the two singletons breaks on prefix asc -> "aa unique doc"
      ("g", 1L, "template header alpha", 3L, 0.6),
      ("g", 2L, "aa unique doc", 1L, 0.2),
      ("h", 1L, "solo doc", 1L, 1.0)))
  }

  test("temperatureMixture (q326): the dyadic T grid is exact sqrt " +
    "algebra — T=1 reproduces natural shares, lower T boosts small " +
    "sources, every T's shares sum to ~1, and the zero branch holds") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq.fill(9)(("big", "a b c d e f g h i j")) ++
      Seq(("small", "a b c d e f g h i j"))
    val df = docs.toDF("source", "text")
    val out = graft.operators.Sampling
      .temperatureMixture(df,
        graft.operators.TextAnalysis.tokenCount(col("text")))
      .collect().map(r => (r.getDouble(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
    // expected values computed with the SAME arithmetic (sqrt chains,
    // round 6) the operator pins — p = 0.9 / 0.1
    def rd(x: Double) = math.rint(x * 1e6) / 1e6
    def row(t: Double, p: Double, other: Double) = {
      val k = (math.log(1.0 / t) / math.log(2.0)).round.toInt
      def sq(x: Double, n: Int): Double =
        (1 to n).foldLeft(x)((a, _) => math.sqrt(a))
      val w = sq(p, k); val sw = sq(p, k) + sq(other, k)
      (rd(p), rd(w / sw), rd(rd(w / sw) / rd(p)))
    }
    for ((t, src, toks, natural, sampled, boost) <- out) {
      val p = if (src == "big") 0.9 else 0.1
      val (en, es, eb) = row(t, p, 1.0 - p)
      assert(toks == (p * 100).round && natural == en
        && sampled == es && boost == eb,
        s"t=$t src=$src got ($natural, $sampled, $boost) want " +
          s"($en, $es, $eb)")
    }
    // T=1 is proportional; flattening monotonically boosts the small
    // source toward (but never past) parity
    val smallBoosts = out.filter(_._2 == "small").sortBy(-_._1)
      .map(_._6)
    assert(smallBoosts.head == 1.0 && smallBoosts == smallBoosts.sorted
      && smallBoosts.last < 5.0)
    // per-T shares sum to 1 within rounding
    for ((t, rows) <- out.groupBy(_._1))
      assert(math.abs(rows.map(_._5).sum - 1.0) < 2e-6, s"T=$t")
  }

  test("content funnel gates (q325): the automaton zero-hit sum is a " +
    "multi-phrase boolean, and the cascade drops exactly the docs each " +
    "gate condemns") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{aggregate => hofAgg, _}
    val pats = Seq("buy now", "fast fast")
    val docs = Seq(
      "plenty of clean text in this document right here",
      "buy now spam spam spam spam spam spam spam spam",
      "short doc",
      "fast fast duplicated phrase with enough other words here")
      .toDF("text")
    val hitsum = hofAgg(
      GraftFunctions.blocklist_hits(lower(col("text")), typedlit(pats)),
      lit(0L), (a, x) => a + x)
    val out = graft.operators.Sampling.filterFunnel(docs, Seq(
      "min_tokens" ->
        (graft.operators.TextAnalysis.tokenCount(col("text")) >= 4),
      "blocklist_clean" -> (hitsum === 0L)))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSeq
    // 4 docs; "short doc" dies at min_tokens; the two phrase carriers
    // die at the automaton gate; 1 survivor
    assert(out == Seq((0, "total", 4L, 0L), (1, "min_tokens", 3L, 1L),
      (2, "blocklist_clean", 1L, 2L)))
  }

  test("seqLenSweep (q319): exact truncation/padding/utilization " +
    "algebra per candidate cap, computed from one corpus pass") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    // doc token counts 3, 10, 10, 20 against caps 8 and 16
    val docs = Seq(3L, 10L, 10L, 20L).toDF("toks")
    val out = graft.operators.TextAnalysis
      .seqLenSweep(docs, col("toks"), Seq(8L, 16L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6),
        r.getLong(7))).toSeq
    assert(out == Seq(
      // L=8: kept 3+8+8+8=27, lost 2+2+12=16, pad 5, util 27/32,
      // perfect packing needs ceil(27/8)=4 sequences
      (8L, 4L, 3L, 27L, 16L, 5L, 0.84375, 4L),
      // L=16: kept 3+10+10+16=39, lost 4, pad 13+6+6=25, util 39/64
      (16L, 4L, 1L, 39L, 4L, 25L, 0.609375, 3L)))
  }
}
