package graft.operators

import org.apache.spark.sql.DataFrame

/** How operators and query bodies pin an intermediate (the minhash/simhash
  * index, per-round component labels, a count table that feeds both a
  * driver action and the output) so it is computed once and lineage stays
  * flat across rounds.
  *
  *   - [[Materializer.Local]]: eager `localCheckpoint` — blocks live in
  *     executor storage. No DFS round-trip, but a lost or preempted
  *     executor makes the job unrecoverable mid-iteration. Every operator
  *     pins this way; none takes a materializer as a parameter.
  *   - [[Materializer.Persisted]]: write parquet and re-read — the index
  *     becomes a durable, reusable artifact (survives executor AND driver
  *     loss, shareable across runs). At 100 TB the minhash/simhash index
  *     is exactly the thing a pipeline persists once and joins against for
  *     every later incremental dedup, so this is the index-export path.
  */
object Materializer {

  /** Eager executor-memory materialization (`localCheckpoint(true)`). */
  object Local {
    def apply(df: DataFrame): DataFrame = df.localCheckpoint(true)
  }

  /** Write `df` as parquet to `<dir>/mat_0` and read it back. */
  object Persisted {
    def apply(dir: String)(df: DataFrame): DataFrame = {
      val path = s"$dir/mat_0"
      df.write.mode("overwrite").parquet(path)
      df.sparkSession.read.parquet(path)
    }
  }
}
