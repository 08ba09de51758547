package graft.perfbench

import java.io.ByteArrayOutputStream
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom
import java.util.zip.{Deflater, GZIPOutputStream}

import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.schema.ExportSchema

/** One export window as the stub API serves it: the gzipped JSON array the
  * client downloads, plus what the warehouse must hold after loading it —
  * the record count and the order-independent checksum of the loaded rows. */
final case class Bundle(start: Instant, end: Instant, gz: Array[Byte],
                        records: Int, hashSum: BigInt) {
  def day: String = start.atOffset(ZoneOffset.UTC).toLocalDate.toString
}

/** Deterministic export-record generator.
  *
  * The base stream has the shape and rate of the sf0.1 `events` table
  * (100 k events over 30 days from 2024-01-01, ~139 per hour, 2 000
  * users, six event types, 2-decimal values, a small `k` property). Each
  * hour is generated from its own (seed, hour) stream, so any window can be
  * rebuilt alone and hourly and daily windows see the same events.
  *
  * Each event becomes one FullStory export record that reaches every
  * transform path: custom variables (`evt_*`, `user_*`, `page_*`) that
  * spill into CustomVars, timestamps with and without fractional seconds,
  * doubles (whole ones too), and strings carrying `\n`, `\r`, NUL, commas
  * and quotes.
  *
  * The expected warehouse row of each record is rendered here directly from
  * the generated values (Go-style RFC3339 micro timestamps, `%v` doubles,
  * sanitized strings), independent of the engine's transform, and hashed
  * with Spark's xxhash64 so the checksum can be compared to the loaded table.
  */
object Gen {

  val Epoch: Instant = Instant.parse("2024-01-01T00:00:00Z")
  val Days = 30
  val PerHour = 100000.0 / (Days * 24)
  val Users = 2000L
  private val EventTypes =
    Array("click", "view", "purchase", "signup", "error", "scroll")
  private val Browsers = Array("Chrome", "Firefox", "Safari", "Edge")
  private val Plans = Array("free", "pro", "team")

  /** One base event (a row of the events-shaped stream). */
  final case class Ev(id: Long, tsMicros: Long, user: Long, kind: Int,
                      cents: Long, k: Int)

  private def poisson(r: SplittableRandom, lambda: Double): Int = {
    // Knuth; lambda ~139 keeps exp(-lambda) far from underflow
    val l = math.exp(-lambda)
    var k = 0
    var p = r.nextDouble()
    while (p > l) { k += 1; p *= r.nextDouble() }
    k
  }

  /** The base events of hour `h` (0-based from [[Epoch]]), sorted by time. */
  def hourEvents(seed: Long, h: Int): Array[Ev] = {
    val r = new SplittableRandom(seed * 1000003L + h)
    val n = poisson(r, PerHour)
    val hourMicros = (Epoch.getEpochSecond + h * 3600L) * 1000000L
    val ts = Array.fill(n) {
      // every 9th event lands on a whole second, every 7th on a
      // trailing-zero fraction: both are trimmed differently when staged
      val raw = r.nextLong(3600L * 1000000L)
      if (r.nextInt(9) == 0) raw / 1000000L * 1000000L
      else if (r.nextInt(7) == 0) raw / 100000L * 100000L
      else raw
    }.sorted
    Array.tabulate(n) { i =>
      Ev(h * 1000L + i, hourMicros + ts(i), r.nextLong(Users),
        r.nextInt(EventTypes.length), 1 + r.nextLong(20000L), r.nextInt(100))
    }
  }

  // ----------------------------------------------------------- rendering

  private val rfc = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
    .withZone(ZoneOffset.UTC)

  /** RFC3339 with the fraction trimmed of trailing zeros (whole seconds
    * drop it): the API's wire form and the staged form alike. */
  def rfc3339(micros: Long): String = {
    val sec = Math.floorDiv(micros, 1000000L)
    val frac = Math.floorMod(micros, 1000000L)
    val base = rfc.format(Instant.ofEpochSecond(sec))
    if (frac == 0) base + "Z"
    else {
      val f = (1000000L + frac).toString.substring(1).reverse
        .dropWhile(_ == '0').reverse
      s"$base.${f}Z"
    }
  }

  /** Go's `%v` of a float64 for the value range generated here. */
  def goNumber(d: Double): String = d.toString.stripSuffix(".0")

  def sanitize(s: String): String =
    s.replace('\n', ' ').replace('\r', ' ').replace("\u0000", "")

  private def jsonString(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case c if c < 0x20 =>
          sb.append("\\u00").append(Character.forDigit(c >> 4, 16))
            .append(Character.forDigit(c & 15, 16))
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }

  private sealed trait V
  private final case class L(v: Long) extends V
  private final case class D(v: Double) extends V
  private final case class S(v: String) extends V
  private final case class T(micros: Long) extends V

  private val columns: Array[String] =
    ExportSchema.baseFields.map(_.dbName).toArray
  private val columnIndex: Map[String, Int] = columns.zipWithIndex.toMap
  private val customVarsIdx = columnIndex("CustomVars")

  /** The record fields of one event, in wire order; custom variables come
    * last. */
  private def fields(e: Ev): (Seq[(String, V)], Seq[(String, V)]) = {
    val id = e.id
    val user = e.user
    val kind = EventTypes(e.kind)
    val value = e.cents / 100.0
    val day = (e.tsMicros / 1000000L - Epoch.getEpochSecond) / 86400L
    val pageStart = e.tsMicros - (e.id % 600L) * 1000003L
    val base = Seq(
      "IndvId" -> L(user), "UserId" -> L(user * 7 + 1),
      "SessionId" -> L(user * 100 + day), "PageId" -> L(id / 4),
      "UserCreated" -> T((Epoch.getEpochSecond - 86400L * (1 + user % 365)
        - user * 37 % 86400) * 1000000L),
      "UserAppKey" -> S(s"app-$user"),
      "UserDisplayName" -> S(s"""Ada "A${user % 10}" Lovelace, $user"""),
      "UserEmail" -> S(s"user$user@example.com"),
      "EventStart" -> T(e.tsMicros), "EventType" -> S(kind)) ++
      (if (e.k % 3 == 0) Seq("EventSubType" -> S(s"sub$kind")) else Nil) ++
      (if (kind == "purchase") Seq("EventCustomName" -> S("Order Placed"))
       else Nil) ++ Seq(
      "EventTargetText" -> S(s"Buy\nnow\r${e.k}\u0000!"),
      "EventTargetSelector" -> S(s"div#main > a.btn-${e.k % 5}"),
      "EventPageOffset" -> L(e.id % 600L * 1000L),
      "EventSessionOffset" -> L(e.id % 3600L * 1000L),
      "EventModFrustrated" -> L(if (e.k % 11 == 0) 1 else 0),
      "EventModDead" -> L(if (e.k % 13 == 0) 1 else 0),
      "EventModError" -> L(if (kind == "error") 1 else 0),
      "EventModSuspicious" -> L(0)) ++
      (if (kind == "error") Seq("EventVarErrorKind" -> S("TypeError"))
       else Nil) ++ Seq(
      "EventVarFields" -> S(s"""{"k":${e.k},"t":"$kind"}"""),
      "EventWebSourceFileUrl" -> S("https://cdn.example.com/app.js"),
      "EventFirstInputDelay" -> L(e.k * 3L),
      "EventCumulativeLayoutShift" -> D(if (e.k % 4 == 0) e.k.toDouble
        else value),
      "SessionStart" -> T(pageStart - 60L * 1000000L),
      "PageName" -> S(s"Product ${e.k}"),
      "PageStart" -> T(pageStart),
      "PageDuration" -> L(e.id % 600L * 1000L + 500L),
      "PageActiveDuration" -> L(e.id % 300L * 1000L),
      "PageUrl" -> S(s"https://shop.example.com/p/${e.k}?ref=$kind"),
      "PageRefererUrl" -> S("https://www.example.org/"),
      "PageIp" -> S(s"10.${user % 250}.${e.k}.${e.id % 250}"),
      "PageLatLong" -> S("37.7749,-122.4194"),
      "PageUserAgent" -> S("Mozilla/5.0 (X11; Linux x86_64)"),
      "PageBrowser" -> S(Browsers((user % 4).toInt)),
      "PageBrowserVersion" -> S(s"${100 + user % 30}.0"),
      "PageDevice" -> S(if (user % 3 == 0) "Mobile" else "Desktop"),
      "PagePlatform" -> S("Web"),
      "PageOperatingSystem" -> S("Linux"),
      "PageScreenWidth" -> L(1920), "PageScreenHeight" -> L(1080),
      "PageViewportWidth" -> L(1280 + e.k), "PageViewportHeight" -> L(720),
      "PageNumEvents" -> L(e.k + 1), "PageNumDerivedEvents" -> L(e.k / 2),
      "PageNumInfos" -> L(0), "PageNumWarnings" -> L(e.k % 3),
      "PageNumErrors" -> L(if (kind == "error") 1 else 0),
      "PageClusterId" -> L(e.k % 17),
      "PageMaxScrollDepthPercent" -> L(e.k),
      "LoadDomContentTime" -> L(200 + e.k), "LoadEventTime" -> L(400 + e.k),
      "LoadFirstPaintTime" -> L(150 + e.k),
      "LoadLargestPaintTime" -> L(600 + e.k),
      "ReqUrl" -> S(s"https://api.example.com/v1/items/${e.k}"),
      "ReqMethod" -> S(if (kind == "purchase") "POST" else "GET"),
      "ReqStatus" -> L(200))
    val custom = Seq(
      "evt_k" -> L(e.k), "user_plan" -> S(Plans((user % 3).toInt)),
      "evt_amount_real" -> D(value), "page_section" -> S("cart"))
    (base, custom)
  }

  private def appendJson(sb: java.lang.StringBuilder, v: V): Unit = v match {
    case L(x) => sb.append(x)
    case D(x) => sb.append(x.toString)
    case S(x) => jsonString(sb, x)
    case T(m) => jsonString(sb, rfc3339(m))
  }

  private def staged(v: V): String = v match {
    case L(x) => x.toString
    case D(x) => goNumber(x)
    case S(x) => sanitize(x)
    case T(m) => rfc3339(m)
  }

  private def rowHash(cells: Array[String]): Long = {
    var h = 42L
    cells.foreach { c =>
      h = XxHash64Function.hash(UTF8String.fromString(c), StringType, h)
    }
    h
  }

  /** The window [start, end). */
  def bundle(seed: Long, start: Instant, end: Instant): Bundle = {
    val h0 = ((start.getEpochSecond - Epoch.getEpochSecond) / 3600L).toInt
    val h1 = ((end.getEpochSecond - Epoch.getEpochSecond) / 3600L).toInt
    val events = (h0 until h1).flatMap(h => hourEvents(seed, h))
    val bytes = new ByteArrayOutputStream(1 << 20)
    val gz = new GZIPOutputStream(bytes, 1 << 16) {
      `def`.setLevel(Deflater.BEST_SPEED)
    }
    val sb = new java.lang.StringBuilder(1 << 12)
    val day = start.atOffset(ZoneOffset.UTC).toLocalDate.toString
    var hashSum = BigInt(0)
    var n = 0
    gz.write('[')
    for (e <- events) {
      val (base, custom) = fields(e)
      sb.setLength(0)
      if (n > 0) sb.append(',')
      sb.append('{')
      var first = true
      (base ++ custom).foreach { case (k, v) =>
        if (!first) sb.append(',')
        first = false
        jsonString(sb, k); sb.append(':'); appendJson(sb, v)
      }
      sb.append('}')
      gz.write(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))

      val cells = Array.fill(columns.length + 1)("")
      base.foreach { case (k, v) => cells(columnIndex(k)) = staged(v) }
      sb.setLength(0)
      sb.append('{')
      custom.zipWithIndex.foreach { case ((k, v), i) =>
        if (i > 0) sb.append(',')
        jsonString(sb, k); sb.append(':'); appendJson(sb, v)
      }
      cells(customVarsIdx) = sb.append('}').toString
      cells(columns.length) = day
      hashSum += rowHash(cells)
      n += 1
    }
    gz.write(']')
    gz.close()
    Bundle(start, end, bytes.toByteArray, n, hashSum)
  }
}
