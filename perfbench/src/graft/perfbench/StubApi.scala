package graft.perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.time.Instant
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process stand-in for the FullStory Data Export API, serving the
  * generated windows over real HTTP on localhost so the production
  * `HttpExportClient` / `HttpExportSource` run unchanged:
  *
  *   - `POST /segments/v1/exports` takes the window's time range and
  *     answers an operation id (a range that is not a generated window is
  *     a 400: the service asked for the wrong window);
  *   - `GET /operations/v1/{op}` reports the export COMPLETED;
  *   - `GET /search/v1/exports/{id}/results` answers the download location;
  *   - `GET /files/{id}` streams the window's gzipped JSON array.
  *
  * One dispatcher thread serves every request, so the client sees one
  * connection at a time. The API calls require the `Authorization` header
  * the client sends; the signed download location does not. Handler time
  * and bytes served are counted so the benchmark can charge them to the
  * stub rather than to the client. */
final class StubApi(window: (Instant, Instant) => Option[Bundle]) {

  // without TCP_NODELAY every small response waits out Nagle + delayed ACK
  System.setProperty("sun.net.httpserver.nodelay", "true")

  private val ops = scala.collection.concurrent.TrieMap[String, Bundle]()
  private val opSeq = new AtomicLong()
  private val mapper = new ObjectMapper()

  val handlerNanos = new AtomicLong()
  val bytesServed = new AtomicLong()

  private val server = HttpServer.create(
    new InetSocketAddress("localhost", 0), 0)
  server.createContext("/", (ex: HttpExchange) => handle(ex))

  def url: String = s"http://localhost:${server.getAddress.getPort}"
  def start(): this.type = { server.start(); this }
  def stop(): Unit = server.stop(0)

  private def respond(ex: HttpExchange, code: Int, body: Array[Byte],
                      contentType: String): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length)
    if (body.nonEmpty) {
      val out = ex.getResponseBody
      out.write(body)
      out.close()
    }
    bytesServed.addAndGet(body.length)
  }

  private def json(ex: HttpExchange, code: Int, body: String): Unit =
    respond(ex, code, body.getBytes(StandardCharsets.UTF_8),
      "application/json")

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    try {
      val path = ex.getRequestURI.getPath
      val authed = ex.getRequestHeaders.getFirst("Authorization") != null
      val seg = path.split('/').filter(_.nonEmpty)
      (ex.getRequestMethod, seg.toList) match {
        case (_, "files" :: id :: Nil) =>
          ops.get(id) match {
            case Some(b) =>
              respond(ex, 200, b.gz, "application/octet-stream")
            case None => json(ex, 404, """{"error":"no such export"}""")
          }
        case _ if !authed => json(ex, 401, """{"error":"unauthenticated"}""")
        case ("POST", "segments" :: "v1" :: "exports" :: Nil) =>
          val req = mapper.readTree(ex.getRequestBody)
          val range = (Instant.parse(req.path("timeRange").path("start").asText()),
            Instant.parse(req.path("timeRange").path("end").asText()))
          window(range._1, range._2) match {
            case Some(b) =>
              val op = s"op-${opSeq.incrementAndGet()}"
              ops.put(op, b)
              json(ex, 200, s"""{"operationId":"$op"}""")
            case None =>
              json(ex, 400, s"""{"error":"no window $range"}""")
          }
        case ("GET", "operations" :: "v1" :: op :: Nil) if ops.contains(op) =>
          json(ex, 200, s"""{"type":"SEARCH_EXPORT","state":"COMPLETED",""" +
            s""""estimatePctComplete":100,"results":{"searchExportId":"$op"}}""")
        case ("GET", "search" :: "v1" :: "exports" :: id :: "results" :: Nil)
            if ops.contains(id) =>
          json(ex, 200, s"""{"location":"$url/files/$id"}""")
        case _ => json(ex, 404, """{"error":"not found"}""")
      }
    } finally {
      ex.close()
      handlerNanos.addAndGet(System.nanoTime() - t0)
    }
  }
}
