package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** Edit-distance similarity self-join — character-level record linkage
  * (titles, names, URLs, product codes), complementing the token-level
  * [[Dedup.fuzzyJoin]]: all pairs of rows whose strings are within
  * Levenshtein distance `maxDist`, found WITHOUT an all-pairs product.
  *
  * Candidate generation is the PassJoin segment scheme (Li, Deng, Wang,
  * Feng — VLDB 2011): split every string into `maxDist + 1` contiguous
  * segments; by pigeonhole, any pair within `maxDist` edits has at least
  * one segment of one string occurring VERBATIM in the other, shifted by
  * at most `maxDist` positions (at most `maxDist` edits precede it in an
  * optimal alignment, and each shifts positions by at most one). So the
  * index side emits its own `K+1` segments keyed by (own length, segment
  * index, segment text), the probe side emits every substring that could
  * equal an indexed segment — lengths within ±K, shifts within ±K — and
  * candidates form on a plain equi-join of those keys. Recall is 1.0 by
  * construction (the shift bound here is the loose ±K one — a superset
  * of PassJoin's multi-match-aware windows — trading a few extra
  * candidates for a simpler portable key algebra).
  *
  * Scale shape: both key sets are map-side explodes of O(K²) short keys
  * per row (18 probe keys at K=1); the equi-join shuffles (key, id)
  * pairs, never full rows; the exact `levenshtein` verify — O(len²) per
  * pair — runs on candidates only, with the strings re-attached by id.
  * Zero-length strings are excluded (they are exact-dup territory, q34).
  *
  * Returns (a_id, b_id, dist), a_id < b_id, dist <= maxDist. */
object EditJoin {

  def editDistancePairs(df: DataFrame): DataFrame = {
    val idCol = "id"
    val strCol = "str"
    // segment blocking is practical for maxDist in [1, 4]
    val maxDist = 1
    val K = maxDist
    // (id, str, len) pinned once: segments, probes, and both verify
    // re-attach sides all read it
    val s = Materializer.Local(df
      .select(col(idCol).as("id"), col(strCol).as("str"),
        length(col(strCol)).as("l"))
      .filter(col("l") >= 1))
    // segment i of a length-l string spans [floor(i*l/(K+1)),
    // floor((i+1)*l/(K+1))) — non-negative ints, so floor(double div)
    // is exact integer division in both engines
    def segStart(l2: org.apache.spark.sql.Column, i: Int) =
      floor((l2 * lit(i)) / lit(K + 1)).cast("int")
    val segs = (0 to K).map { i =>
      val p = segStart(col("l"), i)
      val e = segStart(col("l"), i + 1)
      struct(col("l").as("kl"), lit(i).as("ki"),
        call_function("substring", col("str"), p + 1, e - p).as("ks"))
    }
    val indexed = s
      .select(col("id"), explode(array(segs: _*)).as("k"))
      .select(col("id").as("a_id"), col("k.kl"), col("k.ki"), col("k.ks"))
    // probe: for every plausible indexed length l2 = len ± dl and every
    // segment index, the substrings of THIS string at the segment's
    // position shifted by up to ±K — invalid (out-of-range) combos are
    // dropped before the explode
    val probes = for {
      dl <- -K to K
      i <- 0 to K
      d <- -K to K
    } yield {
      val l2 = col("l") + lit(dl)
      val p = segStart(l2, i)
      val e = segStart(l2, i + 1)
      val start = p + lit(d)
      val m = e - p
      struct((l2 >= 1 && start >= 0 && m >= 0 && start + m <= col("l"))
          .as("v"),
        l2.as("kl"), lit(i).as("ki"),
        call_function("substring", col("str"), start + 1, m).as("ks"))
    }
    val probed = s
      .select(col("id"),
        explode(filter(array(probes: _*), x => x.getField("v"))).as("k"))
      .select(col("id").as("b_id"), col("k.kl"), col("k.ki"), col("k.ks"))
    val cands = indexed.join(probed, Seq("kl", "ki", "ks"))
      .filter(col("a_id") =!= col("b_id"))
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"))
      .distinct()
    cands
      .join(s.select(col("id").as("a_id"), col("str").as("a_s")), Seq("a_id"))
      .join(s.select(col("id").as("b_id"), col("str").as("b_s")), Seq("b_id"))
      .withColumn("dist", levenshtein(col("a_s"), col("b_s")))
      .filter(col("dist") <= K)
      .select(col("a_id"), col("b_id"), col("dist"))
  }
}
