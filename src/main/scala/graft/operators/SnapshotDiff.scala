package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus snapshot diffing — the data-versioning primitive of an iterated
  * training-data pipeline: between two corpus snapshots, classify every
  * document as added / removed / modified / unchanged by content hash.
  * A retraining run wants exactly this delta (re-tokenize only
  * added+modified, drop removed from indexes), and a data audit wants it
  * as the changelog.
  *
  * Scale shape: the content hash is computed MAP-SIDE on each snapshot's
  * scan, so the full-outer join shuffles (id, 16-byte hash) rows — never
  * document bodies. One shuffle per side on the id, then a sort-merge
  * full-outer; at 100 TB both sides prune to the two columns at the
  * parquet scan.
  */
object SnapshotDiff {

  /** Per-id diff of two snapshots: `(idCol, status, old_hash, new_hash)`
    * with status in added|removed|modified|unchanged. */
  def diff(oldDf: DataFrame, newDf: DataFrame): DataFrame = {
    val idCol = "doc_id"
    val contentCol = "text"
    val o = oldDf.select(col(idCol), md5(col(contentCol)).as("old_hash"))
    val n = newDf.select(col(idCol), md5(col(contentCol)).as("new_hash"))
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("old_hash").isNull, lit("added"))
          .when(col("new_hash").isNull, lit("removed"))
          .when(col("old_hash") === col("new_hash"), lit("unchanged"))
          .otherwise(lit("modified")).as("status"),
        col("old_hash"), col("new_hash"))
  }

  /** Changelog compaction (the batch MERGE/upsert): fold a stream of
    * keyed change events — upserts (`op = 'U'`) and deletes
    * (`op = 'D'`) — onto a base snapshot and emit the next snapshot.
    * Per key the LATEST event by the (tsCol, tieCol) total order wins
    * (base rows rank below every change); a winning delete removes the
    * key. `tieCol` must make the order total per key (a changelog
    * offset / event id), so replays and engine swaps produce
    * bit-identical snapshots. Both inputs must share `payloadCols`.
    * Returns (key, payloadCols...).
    *
    * Scale shape: ONE key-partitioned exchange; the winner is a
    * partial-combined `max_by(payload-struct, order-struct)` aggregate —
    * no per-key window sort, so a hot key (a million-event entity)
    * combines map-side instead of funneling one task. */
  def applyChangelog(base: DataFrame, changes: DataFrame,
                     payloadCols: Seq[String]): DataFrame = {
    val keyCol = "c_custkey"
    val tsCol = "ts"
    val tieCol = "tie"
    val opCol = "op"
    val pay = struct(payloadCols.map(col): _*)
    // base rows carry rank (-inf, -inf): any change outranks them
    val b = base.select(col(keyCol).as("k"), pay.as("p"),
      lit(Long.MinValue).as("o_ts"), lit(Long.MinValue).as("o_tie"),
      lit("U").as("op"))
    val c = changes.select(col(keyCol).as("k"), pay.as("p"),
      col(tsCol).cast("long").as("o_ts"), col(tieCol).cast("long")
        .as("o_tie"), col(opCol).as("op"))
    b.unionAll(c)
      .groupBy(col("k"))
      .agg(max_by(struct(col("op"), col("p")),
        struct(col("o_ts"), col("o_tie"))).as("w"))
      .filter(col("w.op") === "U")
      .select(col("k").as(keyCol) +: payloadCols.map(n =>
        col(s"w.p.$n").as(n)): _*)
  }
}
