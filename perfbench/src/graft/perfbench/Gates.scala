package graft.perfbench

import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.schema.ExportSchema
import graft.service.BundleProcessed
import graft.sinks.ParquetWarehouse

/** Correctness gates. Each failed gate fails the run and counts as a
  * failure in the result line. */
final case class GateResult(checked: Int, failures: Seq[String])

object Gates {

  /** Expected-table checksum of the generator's first day at seed 1,
    * pinned so a change to the generator or its expected-row rendering
    * cannot pass unnoticed. */
  val GenPinDay0: (Int, BigInt) = (3306, BigInt("602384658432624213949"))

  /** Order-independent checksum of a frame: row count and the exact sum of
    * xxhash64 over every column. */
  def checksum(df: DataFrame): (Long, BigInt) = {
    val r = df.select(xxhash64(df.columns.map(df(_)).toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .collect()(0)
    (r.getLong(0),
      Option(r.getDecimal(1)).map(d => BigInt(d.toBigInteger)).getOrElse(0))
  }

  def pipeline(spark: SparkSession, wh: ParquetWarehouse, stageDir: String,
               done: Seq[BundleProcessed],
               byStart: Map[Instant, Bundle]): GateResult = {
    val fails = Seq.newBuilder[String]
    val expected = done.map(b => byStart(b.start))

    // the service's own record counts agree with what was served
    done.zip(expected).foreach { case (b, e) =>
      if (b.records != e.records)
        fails += s"bundle ${b.start}: service counted ${b.records}, " +
          s"served ${e.records}"
    }

    // per-day row counts
    val table = wh.readTable()
    val got = table.groupBy(col("day").cast("string")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = expected.groupBy(_.day).map { case (d, bs) =>
      d -> bs.map(_.records.toLong).sum }
    if (got != want)
      fails += s"per-day rows: warehouse ${got.toSeq.sorted} vs " +
        s"generated ${want.toSeq.sorted}"

    // the committed sync point is the last window's end
    val sync = wh.lastSyncPoint()
    if (sync != done.lastOption.map(_.end))
      fails += s"sync point $sync, expected ${done.lastOption.map(_.end)}"

    // nothing staged is left behind
    val left = Option(new java.io.File(stageDir).list()).toSeq.flatten
      .filter(n => n.endsWith(".csv") || n.startsWith("_tmp_"))
    if (left.nonEmpty) fails += s"staged files left: ${left.sorted}"

    // the loaded rows, every column, against the generator's rendering
    val cols = ExportSchema.baseFields.map(f => col(f.dbName)) :+
      col("day").cast("string")
    val (n, sum) = checksum(table.select(cols: _*))
    val wantN = expected.map(_.records.toLong).sum
    val wantSum = expected.map(_.hashSum).sum
    if (n != wantN || sum != wantSum)
      fails += s"table checksum ($n, $sum), expected ($wantN, $wantSum)"

    val day0 = Gen.bundle(1L, Gen.Epoch, Gen.Epoch.plusSeconds(86400L))
    if ((day0.records, day0.hashSum) != GenPinDay0)
      fails += s"generator drifted: seed-1 day 0 is " +
        s"(${day0.records}, ${day0.hashSum}), pinned $GenPinDay0"

    GateResult(checked = 6, failures = fails.result())
  }
}
