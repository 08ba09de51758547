package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenization for the training-data pipeline:
  * a corpus-trained merge table (Sennrich et al. 2016) plus the native
  * [[graft.functions.BpeEncode]] tokenize expression. Token counts drive
  * packing (q66), mixture rebalancing (q67) and corpus cards (q78), so
  * they should come from a real subword tokenizer, not a regex proxy.
  *
  * Scale design: training runs on the corpus WORD-FREQUENCY table, not
  * the corpus — one distributed partial-combined (word, count) shuffle,
  * then a driver-side merge loop over the collected frequency head
  * (`vocabHead` rows, bounded; the Zipf tail beyond it contributes
  * negligible pair mass — the standard practice of training a tokenizer
  * on a corpus sample made deterministic). The learned merge table is a
  * driver-resident model artifact exactly like the PQ codebooks: persist
  * it, ship it as a literal in the plan, and tokenization is a map-side
  * projection over any corpus size.
  */
object Bpe {

  /** Train a BPE merge table: `nMerges` (left, right) pairs in rank
    * order. Deterministic — the most frequent adjacent symbol pair wins
    * each round, ties broken by (left, right) lexicographic ascending. */
  def train(docs: DataFrame, nMerges: Int)
      : Seq[(String, String)] = {
    val textCol = "text"
    val vocabHead = 10000
    require(nMerges >= 0)
    val wc = docs
      .select(explode_outer(TextAnalysis.tokens(col(textCol))).as("w"))
      .filter(col("w").isNotNull && col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc)
      .limit(vocabHead)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    var words: Array[(Array[String], Long)] =
      wc.map { case (w, c) => (w.map(String.valueOf).toArray, c) }
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var round = 0
    var done = false
    while (round < nMerges && !done) {
      val counts = scala.collection.mutable.HashMap[(String, String), Long]()
      for ((syms, c) <- words; i <- 0 until syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        counts(p) = counts.getOrElse(p, 0L) + c
      }
      if (counts.isEmpty) done = true
      else {
        val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        words = words.map { case (syms, c) =>
          (mergePass(syms, best._1, best._2), c)
        }
        round += 1
      }
    }
    merges.toSeq
  }

  /** One left-to-right non-overlapping merge pass (the executable spec of
    * [[graft.functions.BpeEncode]]'s inner pass; shared by training so
    * the trainer and the tokenizer see identical segmentations). */
  private[graft] def mergePass(syms: Array[String], a: String, b: String)
      : Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += syms(i) + syms(i + 1); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Reference (driver-side) encode of one word — the executable spec the
    * native expression is differentially tested against. */
  private[graft] def encodeWordReference(w: String,
                                         merges: Seq[(String, String)])
      : Seq[String] = {
    var syms = w.map(String.valueOf).toArray
    for ((a, b) <- merges if syms.length > 1) syms = mergePass(syms, a, b)
    syms.toSeq
  }

  /** Subword tokens of a text column under a merge table: the native
    * one-pass expression over the whitespace tokens; the merge table
    * travels as a foldable literal. */
  def encode(text: Column, merges: Seq[(String, String)]): Column =
    graft.functions.GraftFunctions.bpe_encode(
      TextAnalysis.tokens(text),
      typedlit(merges.map(p => Seq(p._1, p._2))))

  /** Real BPE token count (replaces the regex proxy where a trained merge
    * table is available). */
  def tokenCount(text: Column, merges: Seq[(String, String)]): Column =
    size(encode(text, merges))

  /** Fixture merge table for engine-portable oracle checks: a small,
    * fixed, pretrained-model-style table (rank order) whose replay in SQL
    * is a chain of `replace` calls — exercises chained multi-level merges
    * ("t a b l e" -> "ta b l e" -> "ta bl e" -> "tabl e" -> "table") and
    * left-to-right pass semantics. A real deployment would ship a
    * corpus-trained table from [[train]] the same way. */
  val FixtureMerges: Seq[(String, String)] = Seq(
    ("t", "a"), ("b", "l"), ("ta", "bl"), ("tabl", "e"),
    ("s", "c"), ("sc", "a"), ("sca", "n"),
    ("r", "o"), ("ro", "w"),
    ("v", "a"), ("va", "l"), ("val", "u"), ("valu", "e"),
    ("j", "o"), ("jo", "i"), ("joi", "n"),
    ("e", "r"), ("r", "d"), ("o", "rd"))

  /** The q80 oracle's DuckDB replay of [[encode]] under a merge table:
    * chars joined by a separator, then one `replace` per merge in rank
    * order (replace == a left-to-right non-overlapping merge pass).
    * Returns a SQL expression counting subwords of one word `expr`. */
  def replaySqlTokenCount(merges: Seq[(String, String)]): String = {
    val wordExpr = "word"
    // chr(1) separates symbols; a word never contains it (corpus text is
    // whitespace-tokenized printable text)
    val charsSep =
      s"rtrim(regexp_replace($wordExpr, '(.)', '\\1' || chr(1), 'g'), chr(1))"
    val replayed = merges.foldLeft(charsSep) { case (acc, (a, b)) =>
      s"replace($acc, '$a' || chr(1) || '$b', '$a$b')"
    }
    s"len(string_split($replayed, chr(1)))"
  }
}
