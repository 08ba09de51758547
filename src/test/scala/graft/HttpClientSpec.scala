package graft

import java.io.ByteArrayOutputStream
import java.net.InetSocketAddress
import java.nio.file.Files
import java.time.{Duration, Instant}
import java.util.concurrent.atomic.AtomicLong
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.service.{ExportService, RetryPolicy, ServiceConfig}
import graft.sinks.{HadoopStorage, ParquetWarehouse}
import graft.sources.{ExportFailedError, HttpExportClient, HttpExportSource}

/** Live-protocol tests for the HTTP Data Export client against a local
  * stub server speaking the reference's wire protocol
  * (client/export.go, client/operations.go, client/transport.go). */
class HttpClientSpec extends SparkSpec {

  private val Token = "test-token"

  /** Minimal Data Export API stub: create assigns an operation over the
    * requested timeRange; the first poll reports RUNNING, later polls
    * COMPLETED; results returns a signed-location analog under /dl/. */
  private class StubApi(records: Seq[(Instant, String)]) {
    val server: HttpServer =
      HttpServer.create(new InetSocketAddress("localhost", 0), 0)
    val requests = new ArrayBuffer[(String, String, Boolean, String)]() // method, path, authed, body
    private val ops = new TrieMap[String, (Instant, Instant)]()
    private val polls = new TrieMap[String, Int]()
    private val counter = new AtomicLong()
    @volatile var failNext: Option[(Int, Option[Int])] = None // status, Retry-After

    def url: String = s"http://localhost:${server.getAddress.getPort}"

    private def respond(ex: HttpExchange, code: Int, body: Array[Byte],
                        headers: (String, String)*): Unit = {
      headers.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
      ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length)
      if (body.nonEmpty) ex.getResponseBody.write(body)
      ex.close()
    }

    private def record(ex: HttpExchange): String = {
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      val authed = Option(ex.getRequestHeaders.getFirst("Authorization"))
        .contains(s"Basic $Token")
      requests += ((ex.getRequestMethod, ex.getRequestURI.getPath, authed,
        body))
      body
    }

    private def maybeFail(ex: HttpExchange): Boolean = failNext match {
      case Some((code, after)) =>
        failNext = None
        respond(ex, code, Array.emptyByteArray,
          after.map(s => "Retry-After" -> s.toString).toSeq: _*)
        true
      case None => false
    }

    server.createContext("/segments/v1/exports", (ex: HttpExchange) => {
      val body = record(ex)
      if (!maybeFail(ex)) {
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(body)
        val id = s"op-${counter.incrementAndGet()}"
        ops.put(id, (
          Instant.parse(node.path("timeRange").path("start").asText()),
          Instant.parse(node.path("timeRange").path("end").asText())))
        respond(ex, 200, s"""{"operationId":"$id"}""".getBytes("UTF-8"))
      }
    })

    server.createContext("/operations/v1/", (ex: HttpExchange) => {
      record(ex)
      if (!maybeFail(ex)) {
        val id = ex.getRequestURI.getPath.stripPrefix("/operations/v1/")
        if (id == "op-failed")
          respond(ex, 200,
            """{"type":"SEARCH_EXPORT","state":"FAILED",
              |"errorDetails":"quota exceeded","estimatePctComplete":10}"""
              .stripMargin.replace("\n", "").getBytes("UTF-8"))
        else if (id == "op-not-export")
          respond(ex, 200,
            """{"type":"OTHER","state":"COMPLETED"}""".getBytes("UTF-8"))
        else if (!ops.contains(id))
          respond(ex, 404, Array.emptyByteArray)
        else {
          val n = polls.updateWith(id)(c => Some(c.getOrElse(0) + 1)).get
          if (n == 1)
            respond(ex, 200,
              """{"type":"SEARCH_EXPORT","state":"RUNNING",
                |"estimatePctComplete":50}""".stripMargin.replace("\n", "")
                .getBytes("UTF-8"))
          else
            respond(ex, 200,
              s"""{"type":"SEARCH_EXPORT","state":"COMPLETED",
                 |"estimatePctComplete":100,
                 |"results":{"searchExportId":"$id","expires":""}}"""
                .stripMargin.replace("\n", "").getBytes("UTF-8"))
        }
      }
    })

    server.createContext("/search/v1/exports/", (ex: HttpExchange) => {
      record(ex)
      val id = ex.getRequestURI.getPath
        .stripPrefix("/search/v1/exports/").stripSuffix("/results")
      respond(ex, 200,
        s"""{"location":"$url/dl/$id"}""".getBytes("UTF-8"))
    })

    @volatile var gzipDownloads = true

    server.createContext("/dl/", (ex: HttpExchange) => {
      record(ex)
      val id = ex.getRequestURI.getPath.stripPrefix("/dl/")
      val (start, end) = ops(id)
      val selected = records
        .filter { case (t, _) => !t.isBefore(start) && t.isBefore(end) }
        .map(_._2)
      val body = selected.mkString("[", ",", "]").getBytes("UTF-8")
      if (gzipDownloads) {
        val buf = new ByteArrayOutputStream()
        val gz = new GZIPOutputStream(buf)
        gz.write(body)
        gz.close()
        respond(ex, 200, buf.toByteArray)
      } else respond(ex, 200, body)
    })

    server.start()
    def stop(): Unit = server.stop(0)
  }

  private def fixtureRecords: Seq[(Instant, String)] =
    (0 until 3).map { day =>
      val d = s"2020-08-2${7 + day}"
      (Instant.parse(s"${d}T06:00:00Z"),
        s"""{"EventStart": "${d}T06:00:00Z", "EventType": "click",
           | "UserId": ${100 + day}, "evt_foo_str": "v$day"}"""
          .stripMargin.replace("\n", ""))
    }

  test("create -> poll -> download happy path; Basic auth on API calls only") {
    val stub = new StubApi(fixtureRecords)
    try {
      val client = new HttpExportClient(stub.url, Token)
      val op = client.createExport(
        Instant.parse("2020-08-27T00:00:00Z"),
        Instant.parse("2020-08-29T00:00:00Z"),
        Seq("EventStart", "EventType", "UserId", "evt_*"))
      assert(op == "op-1")
      // create body carries the reference's request shape
      val (_, _, createAuthed, createBody) = stub.requests.head
      assert(createAuthed)
      assert(createBody.contains("\"segmentId\":\"everyone\"") &&
        createBody.contains("\"TYPE_EVENT\"") &&
        createBody.contains("\"FORMAT_JSON\"") &&
        createBody.contains("\"2020-08-27T00:00:00Z\"") &&
        createBody.contains("\"evt_*\""))
      // first poll RUNNING, then COMPLETED
      assert(client.getExportProgress(op) == (50, None))
      assert(client.getExportProgress(op) == (100, Some("op-1")))
      // download gunzips to the two in-range records
      val in = new GZIPInputStream(client.download(op))
      val body = new String(in.readAllBytes(), "UTF-8")
      in.close()
      assert(body.startsWith("[") && body.contains("\"v0\"") &&
        body.contains("\"v1\"") && !body.contains("\"v2\""))
      // every API call authed; the signed-location download is NOT
      val byPath = stub.requests.toSeq.groupBy(_._2.takeWhile(_ != '?'))
      assert(byPath.filter(_._1.startsWith("/dl/")).values.flatten
        .forall(!_._3))
      assert(byPath.filterNot(_._1.startsWith("/dl/")).values.flatten
        .forall(_._3))
    } finally stub.stop()
  }

  test("non-200 responses raise the retry-policy StatusError with Retry-After") {
    val stub = new StubApi(Nil)
    try {
      val client = new HttpExportClient(stub.url, Token)
      def create(): String = client.createExport(
        Instant.parse("2020-08-27T00:00:00Z"),
        Instant.parse("2020-08-28T00:00:00Z"), Seq("EventStart"))
      stub.failNext = Some((429, Some(7)))
      val e429 = intercept[RetryPolicy.Retryable](create())
      assert(e429.status == 429 &&
        e429.retryAfter.contains(Duration.ofSeconds(7)))
      assert(RetryPolicy.retryInfo(e429).contains(Duration.ofSeconds(7)))
      stub.failNext = Some((503, None))
      val e503 = intercept[RetryPolicy.Retryable](create())
      assert(RetryPolicy.retryInfo(e503).contains(Duration.ZERO))
      stub.failNext = Some((400, None))
      val e400 = intercept[RetryPolicy.Retryable](create())
      // 4xx (except 429) is fatal: no backoff
      assert(RetryPolicy.nextBackoff(e400, 0, Duration.ofSeconds(1), 8).isEmpty)
    } finally stub.stop()
  }

  test("FAILED operations surface errorDetails; non-export ops are rejected") {
    val stub = new StubApi(Nil)
    try {
      val client = new HttpExportClient(stub.url, Token)
      val failed = intercept[ExportFailedError](
        client.getExportProgress("op-failed"))
      assert(failed.details == "quota exceeded")
      intercept[IllegalArgumentException](
        client.getExportProgress("op-not-export"))
    } finally stub.stop()
  }

  test("plain (non-gzip) downloads stage via the magic-byte sniff") {
    val stub = new StubApi(fixtureRecords)
    try {
      stub.gzipDownloads = false
      val tmp = Files.createTempDirectory("graft-http-plain")
      val source = new HttpExportSource(spark,
        new HttpExportClient(stub.url, Token), tmp.toString)
      val op = source.createExport(
        Instant.parse("2020-08-27T00:00:00Z"),
        Instant.parse("2020-08-29T00:00:00Z"), Seq("EventStart"))
      source.getExportProgress(op) // RUNNING
      val df = source.getExport(source.getExportProgress(op)._2.get)
      assert(df.count() == 2)
    } finally stub.stop()
  }

  test("service loop e2e over HTTP: stage, load, sync, retry after a 429") {
    val stub = new StubApi(fixtureRecords)
    try {
      val tmp = Files.createTempDirectory("graft-http-e2e")
      val client = new HttpExportClient(stub.url, Token)
      val downloads = tmp.resolve("_downloads")
      // the names in the download directory right after each download
      val listed = ArrayBuffer[String]()
      val source = new HttpExportSource(spark, client, downloads.toString) {
        override def getExport(exportId: String) = {
          val df = super.getExport(exportId)
          Files.list(downloads).forEach(f => listed += f.getFileName.toString)
          df
        }
      }
      val storage = new HadoopStorage(tmp.resolve("stage").toString)
      val wh = new ParquetWarehouse(spark, tmp.resolve("wh").toString)
      val svc = new ExportService(spark,
        ServiceConfig(startTime = Instant.parse("2020-08-27T00:00:00Z"),
          exportDuration = Duration.ofHours(24),
          backoff = Duration.ofMillis(1)),
        source, storage, Some(wh), pollInterval = Duration.ofMillis(1),
        now = () => Instant.parse("2020-09-01T00:00:00Z"))
      stub.failNext = Some((429, Some(0))) // first create rate-limited
      val bundles = svc.runUntilCaughtUp()
      assert(bundles.size == 4)
      assert(wh.readTable().count() == 3)
      assert(wh.lastSyncPoint()
        .contains(Instant.parse("2020-08-31T00:00:00Z")))
      // every bundle's wire download was staged for the DSv2 reader, and
      // deleted once its bundle committed: nothing is left behind
      assert(stub.requests.count(_._2.startsWith("/dl/")) == 4)
      assert(!Files.list(downloads).iterator().hasNext)
      // a download is written without a checksum file beside it
      assert(listed.nonEmpty && !listed.exists(_.endsWith(".crc")), listed)
    } finally stub.stop()
  }
}
