package graft

import java.time.{Duration, Instant}

import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

import graft.schema.ExportSchema
import graft.service.ConfigLoader
import graft.transform.ExportTransform

/** Property-based laws for the schema/transform/scheduler core
  * (SURVEY.md §5: reconcile idempotence, arity preservation, alignment). */
class PropertySpec extends AnyFunSuite {

  def check(p: Prop, minSuccessful: Int = 100): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default
        .withMinSuccessfulTests(minSuccessful), p)
    assert(res.passed, res.status.toString)
  }

  private val canonicalNames = ExportSchema.baseFields.map(_.dbName)

  /** live column lists: mixtures of canonical names (random case), the
    * legacy rename, and unknown user columns — in random order, no dups. */
  private val liveColumnsGen: Gen[List[String]] = for {
    canon <- Gen.someOf(canonicalNames)
    cased <- Gen.sequence[List[String], String](canon.map(n =>
      Gen.oneOf(n, n.toLowerCase, n.toUpperCase)).toList)
    legacy <- Gen.oneOf(List.empty[String], List("PageAgent"))
    unknown <- Gen.listOfN(2, Gen.alphaStr.suchThat(_.nonEmpty).map("X_" + _))
    shuffled <- Gen.const(scala.util.Random.shuffle(
      (cased ++ legacy ++ unknown).distinct))
  } yield shuffled

  test("reconcile is idempotent") {
    check(Prop.forAll(liveColumnsGen) { live =>
      val once = ExportSchema.reconcileWithExisting(live)
      val twice = ExportSchema.reconcileWithExisting(once.map(_.dbName))
      once.map(_.dbName) == twice.map(_.dbName)
    })
  }

  test("reconcile preserves live order as a prefix and appends the rest") {
    check(Prop.forAll(liveColumnsGen) { live =>
      val rec = ExportSchema.reconcileWithExisting(live)
      rec.take(live.size).map(_.dbName) == live
    })
  }

  test("reconcile covers every canonical source field, appending none twice") {
    check(Prop.forAll(liveColumnsGen) { live =>
      val rec = ExportSchema.reconcileWithExisting(live)
      val sources = rec.map(_.sourceName).filter(_.nonEmpty)
      // full coverage as a set (a live table holding BOTH the legacy
      // PageAgent and canonical PageUserAgent maps two columns to one
      // source, as in the reference)
      sources.toSet == canonicalNames.toSet &&
        // and the appended tail itself never duplicates a live source
        rec.drop(live.size).map(_.sourceName)
          .forall(s => sources.count(_ == s) == 1)
    })
  }

  test("TopKAgg is arrival-order and partitioning independent") {
    import graft.functions.{Scored, TopKAgg, TopKBuf}
    val scoredGen = for {
      n <- Gen.choose(0, 40)
      ids <- Gen.pick(n, 0L until 200L)
      sims <- Gen.listOfN(n, Gen.chooseNum(-1.0, 1.0))
    } yield ids.toList.zip(sims).map { case (id, s) => Scored(s, id) }
    val kGen = Gen.choose(1, 8)
    check(Prop.forAll(scoredGen, kGen, Gen.choose(0L, 1000L)) {
      (items, k, seed) =>
      val agg = new TopKAgg(k)
      def reduceAll(xs: Seq[Scored]): TopKBuf =
        xs.foldLeft(agg.zero)(agg.reduce)
      // ground truth: full sort under (sim desc, id asc), take k
      val expect = items.sortBy(s => (-s.sim, s.id)).take(k)
      // arbitrary shuffle + arbitrary 3-way partitioning, merged pairwise
      val rnd = new scala.util.Random(seed)
      val shuffled = rnd.shuffle(items)
      val (p1, rest) = shuffled.splitAt(shuffled.size / 3)
      val (p2, p3) = rest.splitAt(rest.size / 2)
      val merged = agg.merge(agg.merge(reduceAll(p1), reduceAll(p2)),
        reduceAll(p3))
      Prop(agg.finish(merged).items == expect) :| s"k=$k n=${items.size}"
    })
  }

  test("nextEndTime is aligned, later than last, and within one window") {
    val gen = for {
      epoch <- Gen.choose(0L, 4102444800L) // 1970..2100
      durHours <- Gen.oneOf(1L, 2L, 3L, 4L, 6L, 8L, 12L, 24L)
    } yield (Instant.ofEpochSecond(epoch), Duration.ofHours(durHours))
    check(Prop.forAll(gen) { case (last, dur) =>
      val end = ExportTransform.nextEndTime(last, dur)
      val n = dur.toMillis
      end.toEpochMilli % n == 0 &&
        end.isAfter(last) &&
        !end.isAfter(last.plus(dur))
    })
  }

  test("parseDuration round-trips hours/minutes/seconds combinations") {
    val gen = for {
      h <- Gen.choose(0, 48); m <- Gen.choose(0, 59); s <- Gen.choose(0, 59)
      if h + m + s > 0
    } yield (h, m, s)
    check(Prop.forAll(gen) { case (h, m, s) =>
      val lit = (if (h > 0) s"${h}h" else "") +
        (if (m > 0) s"${m}m" else "") + (if (s > 0) s"${s}s" else "")
      ConfigLoader.parseDuration(lit) ==
        Duration.ofHours(h).plusMinutes(m).plusSeconds(s)
    })
  }

  test("AdcCosine kernel matches the reference fold, edges included") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}
    val gen = for {
      m <- Gen.choose(1, 6); ksub <- Gen.choose(1, 8)
      // -1 and ksub are deliberately OUT of range: a model/codes mismatch
      // must contribute nothing, never throw
      codes <- Gen.listOfN(m, Gen.choose(-1, ksub))
      luts <- Gen.listOfN(m, Gen.listOfN(ksub, Gen.choose(-5.0, 5.0)))
      nsq <- Gen.listOfN(m, Gen.listOfN(ksub, Gen.choose(0.0, 5.0)))
      qn <- Gen.oneOf(Gen.const(0.0), Gen.choose(0.1, 3.0))
    } yield (codes, luts, nsq, qn)
    check(Prop.forAll(gen) { case (codes, luts, nsq, qn) =>
      val tab = ArrayType(ArrayType(DoubleType))
      val e = graft.functions.AdcCosine(
        Literal.create(codes.map(_.toLong), ArrayType(LongType)),
        Literal.create(luts, tab),
        Literal.create(qn, DoubleType),
        Literal.create(nsq, tab))
      val got = e.kernel(
        new GenericArrayData(codes.map(_.toLong).toArray),
        new GenericArrayData(luts.map(l =>
          new GenericArrayData(l.toArray)).toArray),
        qn)
      val dot = codes.zip(luts).map { case (c, l) =>
        if (c >= 0 && c < l.length) l(c) else 0.0 }.sum
      val rn = codes.zip(nsq).map { case (c, n) =>
        if (c >= 0 && c < n.length) n(c) else 0.0 }.sum
      val want = if (qn == 0.0 || rn == 0.0) 0.0
                 else dot / (qn * math.sqrt(rn))
      got == want
    })
  }

  test("CdcPairs kernel matches a per-window md5 reference, tiles exactly") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val gen = for {
      w <- Gen.choose(1, 12)
      // mostly ASCII, some multibyte to force the codepoint slow path
      s <- Gen.oneOf(
        Gen.listOf(Gen.alphaNumChar).map(_.mkString),
        Gen.listOf(Gen.oneOf('a', 'b', ' ', 'é', 'ß', '中')).map(_.mkString))
    } yield (w, s)
    check(Prop.forAll(gen) { case (w, s) =>
      val e = graft.functions.CdcPairs(Literal(s),
        Literal(w))
      val got = e.kernel(UTF8String.fromString(s))
      val pairs = (0 until got.numElements()).map { i =>
        val r = got.getStruct(i, 2); (r.getInt(0), r.getInt(1))
      }
      // reference: substr-by-codepoint + md5 per window
      val cps = s.codePoints().toArray
      val md = java.security.MessageDigest.getInstance("MD5")
      val cuts = (1 to math.max(cps.length - w + 1, 1)).filter { i =>
        if (cps.length == 0) false
        else {
          val win = new String(cps, i - 1, math.min(w, cps.length - (i - 1)))
          val d = md.digest(win.getBytes("UTF-8"))
          ((d(0) >> 4) & 0xf) == 0 && i + w <= cps.length
        }
      }.map(_ + w)
      val starts = 1 +: cuts
      val want = starts.zip(starts.drop(1) :+ (cps.length + 1))
      pairs == want &&
        // tiling invariant: abutting, covering [1, len+1)
        pairs.head._1 == 1 && pairs.last._2 == cps.length + 1 &&
        pairs.zip(pairs.drop(1)).forall { case (a, b) => a._2 == b._1 }
    })
  }

  test("stratified-sample threshold always admits the whole group when it is small") {
    // the hex threshold derivation (the q67/q74 keep rule): groups at or
    // below margin*n must produce the max threshold, keeping every row
    val gen = for {
      n <- Gen.choose(1, 100); total <- Gen.choose(1L, 1000000L)
      margin <- Gen.choose(1.0, 8.0)
    } yield (n, total, margin)
    check(Prop.forAll(gen) { case (n, total, margin) =>
      val thr = math.min(
        math.ceil(margin * n / total * 4294967296.0).toLong, 4294967295L)
      val hex = f"$thr%08x"
      (total > margin * n || hex == "ffffffff") && hex.length == 8
    })
  }
}

/** Spark-dependent properties (shared session). */
class TransformPropertySpec extends SparkSpec {

  def check(p: Prop, minSuccessful: Int = 100): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default
        .withMinSuccessfulTests(minSuccessful), p)
    assert(res.passed, res.status.toString)
  }

  test("paretoFrontier equals the brute-force dominance scan") {
    val s = spark
    import s.implicits._
    val ptsGen = Gen.listOfN(40, for {
      x <- Gen.choose(0L, 12L)
      y <- Gen.choose(0, 8).map(_ / 8.0)
    } yield (x, y))
    check(Prop.forAll(ptsGen) { pts =>
      val rows = pts.zipWithIndex.map { case ((x, y), i) =>
        (i.toLong, x, y) }
      val got = graft.operators.TopK
        .paretoFrontier(rows.toDF("doc_id", "x", "y"),
          org.apache.spark.sql.functions.col("x"),
          org.apache.spark.sql.functions.col("y"))
        .collect().map(_.getLong(0)).toSet
      val brute = rows.filter { case (_, x, y) =>
        !rows.exists { case (_, ox, oy) =>
          (ox > x && oy >= y) || (ox >= x && oy > y) }
      }.map(_._1).toSet
      got == brute
    }, minSuccessful = 15)
  }

  test("weightedQuantiles matches the sequential cumulative-weight scan") {
    val s = spark
    import s.implicits._
    val gen = Gen.nonEmptyListOf(for {
      v <- Gen.choose(1L, 15L)
      w <- Gen.choose(1L, 9L)
    } yield (v, w))
    check(Prop.forAll(gen, Gen.oneOf(25, 50, 75, 90)) { (vw, p) =>
      val rows = vw.map { case (v, w) => ("k", v, w) }
      val got = graft.operators.Stats
        .weightedQuantiles(rows.toDF("source", "v", "w"), "v", "w",
          Seq(p))
        .collect()(0).getLong(2)
      // sequential truth: smallest v whose cumulative weight reaches
      // p% of the total
      val hist = vw.groupBy(_._1).view.mapValues(_.map(_._2).sum)
        .toSeq.sortBy(_._1)
      val total = hist.map(_._2).sum
      val expected = hist.scanLeft((0L, 0L)) { case ((_, c), (v, w)) =>
        (v, c + w) }.drop(1)
        .find { case (_, cw) => 100L * cw >= p * total }.get._1
      got == expected
    }, minSuccessful = 20)
  }

  test("staged output arity and order always equal the reconciled schema") {
    val s = spark
    import s.implicits._
    val df = Seq(("2020-08-27T06:00:00Z", "click", 7L, "x"))
      .toDF("EventStart", "EventType", "UserId", "evt_a_str")
    val liveGen = Gen.someOf(ExportSchema.baseFields.map(_.dbName))
      .map(_.toList)
    check(Prop.forAll(liveGen) { live =>
      val schema = ExportSchema.reconcileWithExisting(live)
      val out = ExportTransform.toStagedStrings(df, schema)
      out.columns.toSeq == schema.map(_.dbName)
    }, minSuccessful = 15)
  }

  test("BPE reference encoder: lossless roundtrip and merge-set fixpoint for any word") {
    // a corpus-trained table is well-formed by construction; against it,
    // encoding ANY word (in or out of the training vocabulary) must
    // concatenate back to the word, and leave no adjacent mergeable pair
    val merges = graft.operators.Bpe.FixtureMerges
    val mergeSet = merges.toSet
    val wordGen = Gen.chooseNum(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
    check(Prop.forAll(wordGen) { w =>
      val subs = graft.operators.Bpe.encodeWordReference(w, merges)
      subs.mkString == w &&
        subs.sliding(2).forall {
          case Seq(a, b) => !mergeSet.contains((a, b))
          case _         => true
        }
    })
  }

  test("dHash fixture: generated pixels always decode back to the formula bits") {
    // for ANY (doc id, group count), writing the gradient PNG and running
    // the real decode + dHash kernel recovers exactly the formula's 64
    // bits — the generator/kernel pair can never drift apart
    import graft.operators.Multimodal
    val gen = for {
      id <- Gen.chooseNum(0L, 1000000L)
      ng <- Gen.chooseNum(1L, 500L)
    } yield (id, ng)
    check(Prop.forAll(gen) { case (id, ng) =>
      val img = Multimodal.ImageCodec.readImage(
        Multimodal.gradientPngFor(id, ng)).get
      val bits = Multimodal.fixtureDHashBits(id, ng)
      val expect = (0 until 16).map { c =>
        val nib = (0 until 4).map(t => bits(4 * c + t) << (3 - t)).sum
        "0123456789abcdef".charAt(nib)
      }.mkString
      Multimodal.dHashHex(img) == expect
    }, minSuccessful = 50)
  }

  test("envelope-WAV fixture: decoded audio always hashes to the formula bits") {
    // the audio twin of the dHash fixture property: for ANY (doc id,
    // group count), encoding the envelope WAV and running the real
    // javax.sound.sampled decode + envHashHex recovers exactly the
    // formula's 64 bits — generator and kernel can never drift apart
    import graft.operators.Multimodal
    val gen = for {
      id <- Gen.chooseNum(0L, 1000000L)
      ng <- Gen.chooseNum(1L, 500L)
    } yield (id, ng)
    check(Prop.forAll(gen) { case (id, ng) =>
      val env = Multimodal.decodeEnvelope(
        Multimodal.envelopeWavFor(id, ng)).get
      val bits = Multimodal.fixtureDHashBits(id, ng)
      val expect = (0 until 16).map { c =>
        val nib = (0 until 4).map(t => bits(4 * c + t) << (3 - t)).sum
        "0123456789abcdef".charAt(nib)
      }.mkString
      Multimodal.envHashHex(env) == expect
    }, minSuccessful = 50)
  }

  test("gradient-AVI fixture: decoded first frames always hash to the formula bits") {
    // the video member of the fixture-drift family: real RIFF walk +
    // raw-DIB pixel decode + dHash recovers exactly the formula's bits
    import graft.operators.Multimodal
    val gen = for {
      id <- Gen.chooseNum(0L, 1000000L)
      ng <- Gen.chooseNum(1L, 500L)
    } yield (id, ng)
    check(Prop.forAll(gen) { case (id, ng) =>
      val img = Multimodal.VideoCodec.firstFrameImage(
        Multimodal.gradientAviFor(id, ng)).get
      val bits = Multimodal.fixtureDHashBits(id, ng)
      val expect = (0 until 16).map { c =>
        val nib = (0 until 4).map(t => bits(4 * c + t) << (3 - t)).sum
        "0123456789abcdef".charAt(nib)
      }.mkString
      Multimodal.dHashHex(img) == expect
    }, minSuccessful = 50)
  }

  test("URL canonicalization is idempotent and diff-of-self is all-unchanged") {
    // canonical(canonical(u)) == canonical(u): a canonicalizer that moves
    // on re-application would make incremental crawls re-dedup endlessly
    import graft.operators.{SnapshotDiff, Urls}
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val urls = Seq(
      "HTTP://ExAmple.COM:80/Path/",
      "https://example.com:443/",
      "https://example.com",
      "http://example.com:8080/a",
      "https://example.com/a?utm_source=x",
      "https://example.com/a?utm_source=x&b=1&gclid=z#f",
      "https://example.com/a/?b=1",
      "not a url").toDF("url")
    val twice = urls.select(Urls.canonical(col("url")).as("c1"))
      .select(col("c1"), Urls.canonical(col("c1")).as("c2"))
      .collect()
    for (r <- twice) assert(r.getString(0) == r.getString(1),
      s"not idempotent: ${r.getString(0)}")
    // SnapshotDiff of a corpus against itself: everything 'unchanged'
    val docs = Seq(1L -> "a", 2L -> "b").toDF("doc_id", "text")
    val d = SnapshotDiff.diff(docs, docs).collect()
    assert(d.length == 2 && d.forall(_.getString(1) == "unchanged"))
  }

  test("token drift sums to a non-negative KL divergence") {
    // Gibbs' inequality: with add-1 smoothing over the union vocab both
    // slices are proper distributions, so Σ p_a·ln(p_a/p_b) >= 0 for ANY
    // corpus split — a sign error in the probability algebra flips this
    import graft.operators.TextAnalysis
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val words = Vector("x", "y", "z", "w", "v")
    val gen = Gen.listOfN(12, for {
      n <- Gen.chooseNum(1, 8)
      ws <- Gen.listOfN(n, Gen.oneOf(words))
      a <- Gen.oneOf(true, false)
    } yield (a, ws.mkString(" ")))
    check(Prop.forAll(gen) { rows =>
      // need both slices non-empty for two proper distributions
      if (!rows.exists(_._1) || !rows.exists(!_._1)) true
      else {
        val df = rows.toDF("in_a", "text")
        val kl = TextAnalysis.tokenDrift(df, col("in_a"),
            minCount = 1L)
          .agg(org.apache.spark.sql.functions.sum(col("kl_term")))
          .collect()(0).getDouble(0)
        kl >= -1e-9
      }
    }, minSuccessful = 30)
  }

  test("CMS estimates never undercount and are batching-invariant") {
    val s = spark
    import s.implicits._
    // width 4 / depth 2 forces real collisions; the two CMS laws under
    // stress: est >= exact always, and the merged sketch (hence every
    // estimate) is independent of how the stream was batched
    val gen = for {
      toks <- Gen.nonEmptyListOf(
        Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "h"))
      nb <- Gen.choose(1, 4)
    } yield (toks, nb)
    check(Prop.forAll(gen) { case (toks, nb) =>
      def run(rows: Seq[(Long, String)]) = graft.operators.Stats
        .cmsHeavyHitters(rows.toDF("batch", "token"),
          depth = 2, width = 4, minShare = 1e-9)
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val split = run(toks.zipWithIndex
        .map { case (t, i) => ((i % nb).toLong, t) })
      val one = run(toks.map(t => (0L, t)))
      split.forall { case (_, (exact, est)) => est >= exact } &&
        split == one
    }, minSuccessful = 8)
  }

  test("ksDrift equals the sequential CDF scan and sits in [0, 1]") {
    val s = spark
    import s.implicits._
    val gen = for {
      a <- Gen.nonEmptyListOf(Gen.choose(0L, 10L))
      b <- Gen.nonEmptyListOf(Gen.choose(0L, 10L))
    } yield (a, b)
    check(Prop.forAll(gen) { case (a, b) =>
      val r = graft.operators.Stats
        .ksDrift(a.toDF("sv"), b.toDF("sv")).collect()(0)
      val ks = r.getDouble(2)
      val expected = (a ++ b).distinct.map { v =>
        math.abs(a.count(_ <= v).toDouble / a.size
          - b.count(_ <= v).toDouble / b.size)
      }.max
      ks >= 0.0 && ks <= 1.0 && math.abs(ks - expected) < 1e-6
    }, minSuccessful = 10)
  }

  test("vOptimalMerged equals the direct construction for ARBITRARY " +
    "histograms and shard splits (q305's exact-merge claim)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, count, lit}
    // values from a small domain, each row randomly assigned to one of
    // 3 shards — so shards see arbitrary partial counts of every value
    val gen = for {
      n <- Gen.choose(20, 80)
      vs <- Gen.listOfN(n, Gen.choose(1L, 15L))
      sh <- Gen.listOfN(n, Gen.choose(0, 2))
    } yield vs.zip(sh)
    check(Prop.forAll(gen) { rows =>
      val df = rows.toDF("v", "shard")
      val shardHists = df.groupBy(col("shard"), col("v"))
        .agg(count(lit(1)).as("c"))
      val merged = graft.operators.Stats
        .vOptimalMerged(shardHists, g = 6, k = 3)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
          r.getLong(3), r.getLong(4), r.getDouble(5))).sortBy(_._1).toSeq
      val hist = df.groupBy(col("v")).agg(count(lit(1)).as("c"))
      val (grid, freqs) = graft.operators.Stats.equiRankGridFreqs(hist, 6)
      val gv = grid.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val direct = graft.operators.Stats.vOptimalDp(freqs, g = 6, k = 3)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
          gv(r.getInt(2)), r.getLong(3), r.getDouble(4))).sortBy(_._1)
        .toSeq
      merged == direct &&
        merged.map(_._5).sum == rows.size.toLong
    }, minSuccessful = 10)
  }
}
