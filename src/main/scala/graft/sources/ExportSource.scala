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

/** File-backed source with the semantics of the reference's mock client
  * (reference: testing/mockclient.go:34-101): `fixturePath` (one export
  * bundle, or a directory of them, gzipped or plain) is served through the
  * `graft-export` connector, the same reader the HTTP and streaming paths
  * decode with. The window `start <= EventStart < end` is pushed into the
  * scan by Catalyst; the field list is implicit, as column pruning reaches
  * the connector when the transform selects the live columns. Records come
  * in file order, and keys outside the schema fold into CustomVars.
  */
class LocalFixtureSource(spark: SparkSession, fixturePath: String)
    extends DataExportSource {

  private val windows =
    scala.collection.concurrent.TrieMap[String, (Instant, Instant)]()
  private val counter = new java.util.concurrent.atomic.AtomicLong()

  override def createExport(start: Instant, end: Instant,
                            fields: Seq[String]): String = {
    val id = s"op-${counter.incrementAndGet()}"
    windows.put(id, (start, end))
    id
  }

  override def getExportProgress(operationId: String): (Int, Option[String]) =
    if (windows.contains(operationId)) (100, Some(operationId))
    else throw new IllegalArgumentException(s"unknown operation $operationId")

  override def getExport(exportId: String): DataFrame = {
    val (start, end) = windows.getOrElse(exportId,
      throw new IllegalArgumentException(s"unknown export $exportId"))
    spark.read.format("graft-export").load(fixturePath)
      .filter(col("EventStart") >= lit(start.toString).cast("timestamp")
        && col("EventStart") < lit(end.toString).cast("timestamp"))
  }
}
