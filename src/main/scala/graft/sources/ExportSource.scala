package graft.sources

import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The source-connector contract, mirroring the reference's
  * `DataExportClient` (reference: client/client.go:30-44): an asynchronous
  * create -> poll -> fetch scan protocol with projection (field list) and
  * predicate (time range) pushdown executed AT the source.
  */
trait DataExportSource {

  /** Request an export of [start, end) restricted to `fields` (wildcards
    * like `evt_*` allowed); returns an operation id
    * (reference: client/export.go:50-89). */
  def createExport(start: Instant, end: Instant, fields: Seq[String]): String

  /** Poll an operation: (percent complete, export id once finished)
    * (reference: client/export.go:91-100). */
  def getExportProgress(operationId: String): (Int, Option[String])

  /** Fetch a finished export as a DataFrame of flat records
    * (reference: client/export.go:102-134 returns a gzipped JSON stream;
    * here the decompress+decode collapses into the reader). */
  def getExport(exportId: String): DataFrame

  /** Free what `getExport(exportId)` holds, e.g. a staged download. Called
    * once the export's bundle is committed (or has failed; a retry fetches
    * the window anew), after the last action on its frame. */
  def release(exportId: String): Unit = ()
}

/** Local fixture-backed source with the exact semantics of the reference's
  * mock client (reference: testing/mockclient.go:34-101): records served
  * sorted by EventStart, filtered to `start <= EventStart < end`, projected
  * to the requested fields with wildcard-prefix expansion.
  *
  * The fixture is a JSON file holding one top-level array of flat objects
  * (the reference wire format, reference: internal/service.go:183-211);
  * Spark's JSON reader replaces the hand-rolled streaming token decoder —
  * malformed records are dropped, not fatal (PERMISSIVE/DROPMALFORMED,
  * SURVEY.md §7.4 trap 4).
  */
/** DSv2-backed source: the same create/poll/fetch protocol served by the
  * `graft-export` connector, so the time-range predicate and the projection
  * are pushed INTO the scan by Catalyst rather than applied after it
  * (S1's "custom DataSourceV2 TableProvider" path, SURVEY.md §2.1). */
class Dsv2ExportSource(spark: SparkSession, bundleDir: String)
    extends DataExportSource {

  private case class Pending(start: Instant, end: Instant)
  private val ops = scala.collection.concurrent.TrieMap[String, Pending]()
  private val counter = new java.util.concurrent.atomic.AtomicLong()

  override def createExport(start: Instant, end: Instant,
                            fields: Seq[String]): String = {
    // the field list is implicit: column pruning reaches the connector via
    // SupportsPushDownRequiredColumns when downstream selects project
    val id = s"op-${counter.incrementAndGet()}"
    ops.put(id, Pending(start, end))
    id
  }

  override def getExportProgress(operationId: String): (Int, Option[String]) =
    if (ops.contains(operationId)) (100, Some(operationId))
    else throw new IllegalArgumentException(s"unknown operation $operationId")

  override def getExport(exportId: String): DataFrame = {
    val p = ops.getOrElse(exportId,
      throw new IllegalArgumentException(s"unknown export $exportId"))
    spark.read.format("graft-export").load(bundleDir)
      .filter(col("EventStart") >= lit(p.start.toString).cast("timestamp")
        && col("EventStart") < lit(p.end.toString).cast("timestamp"))
  }
}

class LocalFixtureSource(spark: SparkSession, fixturePath: String)
    extends DataExportSource {

  private case class Pending(start: Instant, end: Instant, fields: Seq[String])
  private val ops = scala.collection.concurrent.TrieMap[String, Pending]()
  private val counter = new java.util.concurrent.atomic.AtomicLong()

  private lazy val raw: DataFrame =
    spark.read.option("multiLine", "true")
      .option("mode", "DROPMALFORMED")
      .json(fixturePath)

  override def createExport(start: Instant, end: Instant,
                            fields: Seq[String]): String = {
    val id = s"op-${counter.incrementAndGet()}"
    ops.put(id, Pending(start, end, fields))
    id
  }

  override def getExportProgress(operationId: String): (Int, Option[String]) =
    if (ops.contains(operationId)) (100, Some(operationId))
    else throw new IllegalArgumentException(s"unknown operation $operationId")

  override def getExport(exportId: String): DataFrame = {
    val p = ops.getOrElse(exportId,
      throw new IllegalArgumentException(s"unknown export $exportId"))
    // Wildcard-prefix projection (reference: testing/mockclient.go:66-95):
    // exact names match case-sensitively, `foo_*` matches by prefix.
    val (wild, exact) = p.fields.partition(_.endsWith("*"))
    val prefixes = wild.map(_.dropRight(1))
    val keep = raw.columns.filter(c =>
      exact.contains(c) || prefixes.exists(c.startsWith))
    raw
      .filter(to_timestamp(col("EventStart")) >= lit(p.start.toString).cast("timestamp")
        && to_timestamp(col("EventStart")) < lit(p.end.toString).cast("timestamp"))
      .select(keep.map(col).toSeq: _*)
      .orderBy(to_timestamp(col("EventStart")))
  }
}
