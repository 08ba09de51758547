package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.{Duration, Instant}

import scala.jdk.OptionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{ChecksumFileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.service.RetryPolicy

/** Export failed server-side (reference: client/export.go:12-18
  * ExportError — carries the operation's errorDetails). */
final case class ExportFailedError(details: String)
    extends RuntimeException(s"failed to complete export: $details")

/** Authenticated HTTP client for the Data Export API — the live
  * implementation of the reference's `Client`
  * (reference: client/client.go:46-89).
  *
  * Wire protocol (reference: client/export.go, client/operations.go):
  *   - `POST {api}/segments/v1/exports` with
  *     `{segmentId: "everyone", type: TYPE_EVENT, format: FORMAT_JSON,
  *       segmentTimeRange: {"",""}, timeRange: {start,end RFC3339}, fields}`
  *     -> `{"operationId"}` (export.go:50-89);
  *   - `GET {api}/operations/v1/{id}` ->
  *     `{type, state, errorDetails, estimatePctComplete,
  *       results.searchExportId}` (operations.go:40-59);
  *   - `GET {api}/search/v1/exports/{id}/results` -> `{"location"}`,
  *     then a VANILLA unauthenticated GET of the signed location URL
  *     streams the bundle (export.go:102-134, auth note :119-121).
  *
  * Every API request carries `Authorization: Basic <token>`
  * (reference: client/transport.go:20-30). A non-200
  * response raises [[RetryPolicy.Retryable]] — the StatusError analog
  * (client/client.go:95-130) — with the integer-seconds `Retry-After`
  * attached, so the service loop's existing backoff classification
  * (`RetryPolicy.retryInfo`: a non-429 sub-500 status is fatal) applies
  * unchanged. The client itself never retries, exactly like the reference;
  * retrying is the service loop's job (internal/service.go:231-245).
  */
class HttpExportClient(apiUrl: String, apiToken: String) {

  private val httpClient = HttpClient.newHttpClient()
  private val mapper = new ObjectMapper()

  private def authed(b: HttpRequest.Builder): HttpRequest.Builder =
    b.header("Authorization", s"Basic $apiToken")

  private def statusError(code: Int,
                          headers: java.net.http.HttpHeaders): Throwable = {
    // integer seconds, 0 when absent/unparseable (client/client.go:117-130)
    val after = headers.firstValue("Retry-After").toScala
      .flatMap(v => v.toLongOption).map(Duration.ofSeconds)
    RetryPolicy.Retryable(code, after)
  }

  private def send(req: HttpRequest): String = {
    val resp = httpClient.send(req, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 200)
      throw statusError(resp.statusCode(), resp.headers())
    resp.body()
  }

  /** Start an async export of [start, end) for `fields` over the
    * `everyone` segment; returns the operation id
    * (reference: client/export.go:50-89). */
  def createExport(start: Instant, end: Instant,
                   fields: Seq[String]): String = {
    val root = mapper.createObjectNode()
    root.put("segmentId", "everyone")
    root.put("type", "TYPE_EVENT")
    root.put("format", "FORMAT_JSON")
    // empty segment time range = "All Time" (export.go:55-56)
    val seg = root.putObject("segmentTimeRange")
    seg.put("start", ""); seg.put("end", "")
    val tr = root.putObject("timeRange")
    tr.put("start", start.toString); tr.put("end", end.toString)
    val arr = root.putArray("fields")
    fields.foreach(arr.add)
    val b = HttpRequest.newBuilder(URI.create(s"$apiUrl/segments/v1/exports"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(
        mapper.writeValueAsString(root)))
    val req = authed(b).build()
    mapper.readTree(send(req)).path("operationId").asText()
  }

  /** Poll an operation: (estimated percent, export id once COMPLETED).
    * FAILED surfaces errorDetails; a non-export operation is an error
    * (reference: client/operations.go:40-59, client/export.go:91-100). */
  def getExportProgress(operationId: String): (Int, Option[String]) = {
    val req = authed(HttpRequest.newBuilder(
      URI.create(s"$apiUrl/operations/v1/$operationId")).GET()).build()
    val node = mapper.readTree(send(req))
    if (node.path("type").asText() != "SEARCH_EXPORT")
      throw new IllegalArgumentException(
        "operation id does not correspond to an export")
    val pct = node.path("estimatePctComplete").asInt()
    node.path("state").asText() match {
      case "FAILED" =>
        throw ExportFailedError(node.path("errorDetails").asText())
      case "COMPLETED" =>
        (pct, Some(node.path("results").path("searchExportId").asText()))
      case _ => (pct, None)
    }
  }

  /** Open the export's result stream: resolve the signed location, then a
    * vanilla unauthenticated GET (reference: client/export.go:102-134). */
  def download(exportId: String): java.io.InputStream = {
    val req = authed(HttpRequest.newBuilder(
      URI.create(s"$apiUrl/search/v1/exports/$exportId/results"))
      .GET()).build()
    val location = mapper.readTree(send(req)).path("location").asText()
    val resp = httpClient.send(
      HttpRequest.newBuilder(URI.create(location)).GET().build(),
      HttpResponse.BodyHandlers.ofInputStream())
    if (resp.statusCode() != 200) {
      try resp.body().close() catch { case _: Throwable => () }
      throw statusError(resp.statusCode(), resp.headers())
    }
    resp.body()
  }
}

/** [[DataExportSource]] over the live HTTP client: downloads a finished
  * export into a staging prefix and serves it through the `graft-export`
  * DSv2 connector, so projection and time-range predicates still push into
  * the scan. The wire bundle is gzipped JSON (FORMAT_JSON; the reference
  * decompresses by Content-Encoding, client/export.go download) — the
  * staged object keeps the wire bytes, and the reader detects gzip by its
  * magic bytes, so plain-JSON servers also work. The staged object is
  * deleted when the service releases the export. */
class HttpExportSource(spark: SparkSession, client: HttpExportClient,
                       stagingDir: String) extends DataExportSource {

  /** Downloads not yet released, by export id. */
  private val staged = scala.collection.concurrent.TrieMap[String, Path]()

  override def createExport(start: Instant, end: Instant,
                            fields: Seq[String]): String =
    client.createExport(start, end, fields)

  override def getExportProgress(operationId: String): (Int, Option[String]) =
    client.getExportProgress(operationId)

  override def getExport(exportId: String): DataFrame = {
    val in = client.download(exportId)
    val dest = new Path(s"$stagingDir/$exportId")
    staged.put(exportId, dest)
    // the file is read once and deleted: a local download skips the
    // checksum layer (no .crc beside it, no permission set on it)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    val out = fs.create(dest, true)
    try {
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n != -1) { out.write(buf, 0, n); n = in.read(buf) }
    } finally { in.close(); out.close() }
    spark.read.format("graft-export").load(dest.toString)
  }

  override def release(exportId: String): Unit =
    staged.remove(exportId).foreach { p =>
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
    }
}
