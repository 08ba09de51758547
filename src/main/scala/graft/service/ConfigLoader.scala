package graft.service

import java.time.{Duration, Instant}

/** Config-file loader with the reference's keys, defaults, deprecations and
  * validation semantics (reference: config/config.go:141-251).
  *
  * The accepted format is the TOML subset hauser's example config actually
  * uses: `Key = value` lines (quoted strings, bools, Go-style durations,
  * RFC3339 times, trailing `#` comments) scoped by `[section]` headers.
  * Section headers prefix the keys that follow — `Timeout` under `[s3]`
  * becomes `s3.Timeout` — so same-named keys in different sections (the
  * reference has `Timeout`, `ExportTable`, `SyncTable`, `Bucket` in
  * several) never collide. Section names are case-folded like BurntSushi
  * toml's field matching; key names keep their written case.
  */
object ConfigLoader {

  val DefaultApiUrl = "https://api.fullstory.com"

  /** Go `time.ParseDuration` grammar (the reference's config durations are
    * parsed by it — config/config.go duration fields): an optional sign,
    * then one or more `number unit` components where the number may be
    * fractional ("1.5h", ".5s") and the unit is one of ns, us, µs, μs, ms,
    * s, m, h. "0" (signed or not) is the only unit-less literal; "",
    * bare numbers, unknown units ("1d"), and a lone sign/dot are rejected,
    * exactly as Go rejects them. Components sum ("1h2m3s4ms5us6ns");
    * fractions truncate at nanosecond granularity per component. */
  def parseDuration(s: String): Duration = {
    def fail(): Nothing =
      throw new IllegalArgumentException(s"invalid duration literal: $s")
    val unitNanos = Map(
      "ns" -> 1L, "us" -> 1000L, "µs" -> 1000L, "μs" -> 1000L,
      "ms" -> 1000000L, "s" -> 1000000000L, "m" -> 60000000000L,
      "h" -> 3600000000000L)
    var rest = s
    var neg = false
    if (rest.nonEmpty && (rest.head == '-' || rest.head == '+')) {
      neg = rest.head == '-'
      rest = rest.tail
    }
    if (rest == "0") return Duration.ZERO
    if (rest.isEmpty) fail()
    var totalNanos = 0L
    while (rest.nonEmpty) {
      val intPart = rest.takeWhile(_.isDigit)
      var idx = intPart.length
      var fracPart = ""
      if (idx < rest.length && rest(idx) == '.') {
        fracPart = rest.substring(idx + 1).takeWhile(_.isDigit)
        idx += 1 + fracPart.length
      }
      if (intPart.isEmpty && fracPart.isEmpty) fail() // no digits before unit
      val unit = rest.substring(idx)
        .takeWhile(c => !c.isDigit && c != '.' && c != '-' && c != '+')
      val nanosPerUnit = unitNanos.getOrElse(unit, fail())
      val num = BigDecimal(
        (if (intPart.isEmpty) "0" else intPart) +
          (if (fracPart.isEmpty) "" else s".$fracPart"))
      val add = (num * nanosPerUnit)
        .setScale(0, scala.math.BigDecimal.RoundingMode.DOWN)
      if (!add.isValidLong || add.toLong > Long.MaxValue - totalNanos) fail()
      totalNanos += add.toLong
      rest = rest.substring(idx + unit.length)
    }
    Duration.ofNanos(if (neg) -totalNanos else totalNanos)
  }

  private def stripValue(v: String): String = {
    val t = v.trim
    if (t.startsWith("\"")) {
      val end = t.indexOf('"', 1)
      if (end > 0) t.substring(1, end) else t.stripPrefix("\"")
    } else t.split("#", 2)(0).trim
  }

  /** Section-aware parse of the TOML subset into a flat map with dotted
    * keys: top-level `Key`, `[Section]` `Key` -> `section.Key`. */
  def parseDoc(text: String): Map[String, String] = {
    var section = ""
    val out = scala.collection.mutable.LinkedHashMap[String, String]()
    for (raw <- text.linesIterator) {
      val l = raw.trim
      if (l.startsWith("[") && l.contains("]")) {
        section = l.substring(1, l.indexOf(']')).trim.toLowerCase
      } else if (l.nonEmpty && !l.startsWith("#") && l.contains("=")) {
        val Array(k, v) = l.split("=", 2)
        val key = (if (section.isEmpty) "" else s"$section.") + k.trim
        out(key) = stripValue(v)
      }
    }
    out.toMap
  }

  /** Parse + validate, returning the reference's WARNING/INFO log lines
    * alongside the config (config/config.go Validate): the
    * `GroupFilesByDay` and `Warehouse` deprecations, the local-provider
    * StorageOnly override, and the ExportDuration/StartTime default
    * notices. Callers that execute the lifecycle (Main) print them;
    * library callers can assert on them. */
  def parseWithWarnings(text: String,
                        now: () => Instant = () => Instant.now())
      : (ServiceConfig, Seq[String]) = {
    val kv = parseDoc(text)
    val warn = Seq.newBuilder[String]

    def bool(k: String) = kv.get(k).exists(_.toBoolean)
    def dur(k: String, default: Duration) =
      kv.get(k).map(parseDuration).getOrElse(default)

    // Provider, with the deprecated Warehouse fallback
    // (config/config.go:206-223)
    val provider = kv.get("Provider").filter(_.nonEmpty).orElse {
      kv.get("Warehouse").map { w =>
        val p = w match {
          case "local" => "local"
          case "redshift" => "aws"
          case "bigquery" => "gcp"
          case other => throw new IllegalArgumentException(
            s"warehouse type '$other' unrecognized")
        }
        warn += """WARNING: The "Warehouse" option is deprecated. Please use "Provider" instead."""
        p
      }
    }

    // GroupFilesByDay is honored (with its deprecation warning) only when
    // ExportDuration is unset — an explicit duration wins, silently, like
    // the reference (config/config.go:172-180)
    val durationSet = kv.contains("ExportDuration")
    val gfbd = bool("GroupFilesByDay") && !durationSet
    if (gfbd)
      warn += """WARNING: The "GroupFilesByDay" option is deprecated. Please use "ExportDuration" instead."""
    else if (!durationSet)
      warn += """INFO: "ExportDuration" not set in config. Defaulting to 1 hour"""

    // provider-specific StorageOnly folds (config/config.go:225-244):
    // local only supports storage; the deprecated per-section S3Only /
    // GCSOnly flags raise the main-level option
    var storageOnly = bool("StorageOnly")
    provider match {
      case Some("local") =>
        warn += """WARNING: The "local" provider only supports "StorageOnly = true"."""
        storageOnly = true
      case Some("aws") if bool("s3.S3Only") =>
        storageOnly = true
      case Some("gcp") if bool("gcs.GCSOnly") =>
        storageOnly = true
      case _ => ()
    }

    val startTime = kv.get("StartTime").map(Instant.parse).getOrElse {
      warn += """INFO: "StartTime" not set in config. Defaulting to 30 days in the past"""
      now().minus(Duration.ofDays(30))
    }

    val cfg = ServiceConfig(
      startTime = startTime,
      // defaults mirror config/config.go:18-21 (1h duration, 24h delay)
      exportDuration = dur("ExportDuration", Duration.ofHours(1)),
      exportDelay = dur("ExportDelay", Duration.ofHours(24)),
      backoff = dur("Backoff", Duration.ofSeconds(30)),
      backoffStepsMax = kv.get("BackoffStepsMax").map(_.toInt).getOrElse(8),
      storageOnly = storageOnly,
      saveAsJson = bool("SaveAsJson"),
      groupFilesByDay = gfbd,
      includeMobile = bool("IncludeMobileAppsFields"),
      useStartTime = bool("UseStartTime"),
      provider = provider)
    (cfg, warn.result())
  }

  def parse(text: String): ServiceConfig = parseWithWarnings(text)._1
}
