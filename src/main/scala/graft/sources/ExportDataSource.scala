package graft.sources

import java.time.Instant
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JsonParser, JsonToken}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.schema.ExportSchema

/** DataSourceV2 connector for hauser-style export bundles — the engine's
  * S1 operator (SURVEY.md §2.1): a batch scan over raw export JSON with
  *   - projection pushdown (`SupportsPushDownRequiredColumns`): only
  *     requested schema fields are materialized, mirroring the field list
  *     sent in CreateExport (reference: client/export.go:62,
  *     warehouse/schema.go:176-190);
  *   - predicate pushdown (`SupportsPushDownFilters`) of the EventStart
  *     time range, evaluated while decoding — the connector-level analog of
  *     the export request's start/end (reference: client/export.go:56-62,
  *     semantics `start <= EventStart < end` per client/client.go:31-34);
  *   - the hauser record split: known fields (case-insensitive) become
  *     typed columns, everything else folds into the CustomVars JSON column
  *     (reference: internal/service.go:86-96).
  *
  * Usage: `spark.read.format("graft-export").load(path)` where `path` is a
  * JSON file of one record array, or a directory of them; gzip is detected
  * by its magic bytes, not by the name. Files are opened with the session's
  * Hadoop configuration. One InputPartition per file; a production
  * deployment against the live API would instead emit one partition per
  * polled export window.
  */
class ExportDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-export"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ExportDataSource.schema

  // a user-supplied .schema(...) is honored as a projection: streaming
  // scans get no column pruning from Catalyst (batch does), so declaring
  // the needed subset up front is how a streaming reader avoids
  // materializing all 59 fields per record
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new ExportTable(schema, properties.asScala.toMap)
}

object ExportDataSource {
  /** The canonical typed export schema: the 59 base fields with the 8
    * mobile-app fields before CustomVars, which stays last. The reader
    * knows every field a bundle may carry, so a mobile field never folds
    * into CustomVars; whether it is staged is up to the live schema. Made
    * fully nullable for the READ side: raw bundles may lack any field —
    * including EventStart/EventType, which the warehouse DDL declares
    * REQUIRED (reference: warehouse/bigquery.go:335-340) — and a scan that
    * empty-fills (internal/service.go transformExportJSONRecord) must be
    * allowed to emit the null. A non-nullable read schema makes Tungsten's
    * UnsafeWriter dereference the null and crash the whole scan. */
  val schema: StructType = StructType(
    ExportSchema.toStructType(ExportSchema.baseFields.init ++
        ExportSchema.mobileFields :+ ExportSchema.baseFields.last)
      .fields.map(_.copy(nullable = true)))
}

private[sources] class ExportTable(tableSchema: StructType,
                                   properties: Map[String, String])
    extends Table with SupportsRead {

  override def name(): String =
    s"graft-export(${properties.getOrElse("path", "?")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val b = new ExportScanBuilder(options.asScala.getOrElse("path",
      properties.getOrElse("path",
        throw new IllegalArgumentException("graft-export requires a path"))),
      tableSchema)
    // Catalyst only pushes filters into BATCH scans (V2ScanRelationPushDown
    // skips streaming relations), so the streaming front door takes the
    // export window as source options instead — the Kafka startingOffsets
    // idiom. Semantics match the reference request range:
    // startTime <= EventStart < endTime (client/client.go:31-34).
    Option(options.get("starttime")).foreach(s =>
      b.seedLo(Instant.parse(s), incl = true))
    Option(options.get("endtime")).foreach(s =>
      b.seedHi(Instant.parse(s), incl = false))
    b
  }
}

private[sources] class ExportScanBuilder(path: String,
                                         tableSchema: StructType)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  private var requiredSchema: StructType = tableSchema
  private var timeLo: Option[(Instant, Boolean)] = None // (bound, inclusive)
  private var timeHi: Option[(Instant, Boolean)] = None
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(required: StructType): Unit =
    requiredSchema = required

  private[sources] def seedLo(i: Instant, incl: Boolean): Unit =
    tightenLo(i, incl)
  private[sources] def seedHi(i: Instant, incl: Boolean): Unit =
    tightenHi(i, incl)

  private def asInstant(v: Any): Option[Instant] = v match {
    case t: java.sql.Timestamp => Some(t.toInstant)
    case i: Instant => Some(i)
    case s: String => scala.util.Try(Instant.parse(s)).toOption
    case _ => None
  }

  // Bounds are COMBINED, not overwritten: multiple pushed lower (upper)
  // bounds keep the tightest one — the max lower / min upper, exclusive
  // winning ties — because accepted filters are removed from post-scan
  // evaluation and must all hold at the scan.
  private def tightenLo(i: Instant, incl: Boolean): Unit =
    timeLo = timeLo match {
      case None => Some((i, incl))
      case Some((b, bi)) =>
        if (i.isAfter(b)) Some((i, incl))
        else if (i.isBefore(b)) Some((b, bi))
        else Some((b, bi && incl))
    }

  private def tightenHi(i: Instant, incl: Boolean): Unit =
    timeHi = timeHi match {
      case None => Some((i, incl))
      case Some((b, bi)) =>
        if (i.isBefore(b)) Some((i, incl))
        else if (i.isAfter(b)) Some((b, bi))
        else Some((b, bi && incl))
    }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (bounds, rest) = filters.partition {
      case GreaterThanOrEqual("EventStart", v) => asInstant(v).exists { i =>
        tightenLo(i, incl = true); true }
      case GreaterThan("EventStart", v) => asInstant(v).exists { i =>
        tightenLo(i, incl = false); true }
      case LessThan("EventStart", v) => asInstant(v).exists { i =>
        tightenHi(i, incl = false); true }
      case LessThanOrEqual("EventStart", v) => asInstant(v).exists { i =>
        tightenHi(i, incl = true); true }
      case _ => false
    }
    // a bound drops every record without a parseable EventStart, so the
    // not-null filter Catalyst infers from a range also holds at the scan
    val gated = timeLo.isDefined || timeHi.isDefined
    val (notNull, rejected) = rest.partition {
      case IsNotNull("EventStart") => gated
      case _ => false
    }
    pushed = bounds ++ notNull
    rejected
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new ExportScan(path, requiredSchema, timeLo, timeHi)
}

private[sources] class ExportScan(path: String, required: StructType,
                                  lo: Option[(Instant, Boolean)],
                                  hi: Option[(Instant, Boolean)])
    extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-export $path, pushed time range: $lo .. $hi"

  // the session's Hadoop configuration (`sc.hadoopConfiguration`, which
  // carries `spark.hadoop.*`), read when the scan is built on the driver
  private val hadoopConf =
    SparkSession.active.sparkContext.hadoopConfiguration

  override def planInputPartitions(): Array[InputPartition] = {
    ExportScan.listBundles(path, hadoopConf)
      .map(f => ExportInputPartition(f): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    ExportReaderFactory(required, lo, hi, hadoopConf)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ExportMicroBatchStream(path, required, lo, hi, hadoopConf)
}

private[sources] object ExportScan {
  /** Bundle files under `path` (or `path` itself), sorted for a stable
    * partition order. */
  def listBundles(path: String, conf: Configuration): Array[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val files =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).filter(_.isFile).map(_.getPath.toString)
      else Array(path)
    files.sorted
  }
}

/** Streaming offset = the set of bundle files already delivered, stored as
  * a sorted JSON array (canonical, so offset equality is string equality).
  * The same strategy as Spark's own FileStreamSource seen-files log: bundle
  * names carry no order contract, so a high-water mark over names or
  * mtimes could silently skip a bundle that lands "in the past". Bundle
  * counts are per-export-window (thousands), so the offset stays small; a
  * live-API deployment would instead use the export window end time as a
  * naturally monotonic offset. */
private[sources] case class ExportOffset(files: Set[String])
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    new ObjectMapper().writeValueAsString(files.toArray.sorted)
}

private[sources] object ExportOffset {
  def fromJson(json: String): ExportOffset = {
    val arr = new ObjectMapper().readTree(json)
    ExportOffset(arr.elements().asScala.map(_.asText()).toSet)
  }
}

/** Micro-batch front of the same connector: each batch is the set of
  * bundle files that appeared since the last committed offset, read by the
  * identical [[ExportPartitionReader]] — gzip detection, token-streaming
  * decode, CustomVars spillover, and the pushed EventStart range all
  * behave exactly as in batch (S5/P4 parity across both execution modes).
  * [[org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow]]
  * pins the end offset once at query start so `Trigger.AvailableNow` runs
  * drain-and-stop with a stable bound. */
private[sources] class ExportMicroBatchStream(
    path: String, required: StructType,
    lo: Option[(Instant, Boolean)], hi: Option[(Instant, Boolean)],
    hadoopConf: Configuration)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.Offset

  private var availableNowEnd: Option[ExportOffset] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd =
      Some(ExportOffset(ExportScan.listBundles(path, hadoopConf).toSet))

  override def initialOffset(): Offset = ExportOffset(Set.empty)

  override def latestOffset(): Offset = availableNowEnd.getOrElse(
    ExportOffset(ExportScan.listBundles(path, hadoopConf).toSet))

  // SupportsAdmissionControl (pulled in by SupportsTriggerAvailableNow):
  // bundle admission is all-or-nothing per poll — a ReadLimit would split
  // mid-window bundle sets for no gain at this partition granularity
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : Offset = latestOffset()

  override def deserializeOffset(json: String): Offset =
    ExportOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val done = start.asInstanceOf[ExportOffset].files
    val now = end.asInstanceOf[ExportOffset].files
    (now -- done).toArray.sorted
      .map(f => ExportInputPartition(f): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    ExportReaderFactory(required, lo, hi, hadoopConf)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] case class ExportInputPartition(file: String)
    extends InputPartition

/** Opens one [[ExportPartitionReader]] per bundle file. The Hadoop
  * configuration travels as one broadcast per scan, as Spark's own file
  * scans send it, instead of inside every task. */
private[sources] class ExportReaderFactory(
    required: StructType, lo: Option[(Instant, Boolean)],
    hi: Option[(Instant, Boolean)],
    conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ExportPartitionReader(partition.asInstanceOf[ExportInputPartition].file,
      required, lo, hi, conf.value.value)
}

private[sources] object ExportReaderFactory {
  def apply(required: StructType, lo: Option[(Instant, Boolean)],
            hi: Option[(Instant, Boolean)],
            hadoopConf: Configuration): ExportReaderFactory =
    new ExportReaderFactory(required, lo, hi,
      SparkSession.active.sparkContext.broadcast(
        new SerializableConfiguration(hadoopConf)))
}

/** Streams one JSON bundle file with a token-level Jackson parser, writing
  * each record's tokens straight into the row: O(one record) executor
  * memory regardless of bundle size, and no `JsonNode` tree per record.
  * Matches the reference's `json.Decoder` loop
  * (internal/service.go:183-211):
  *   - array framing / JSON syntax errors abort the bundle (the reference
  *     returns the decode error);
  *   - non-object array elements are skipped (lenient divergence: Go's
  *     `Decode(&map)` would abort; a scalar element carries no record data
  *     either way).
  * A bundle that starts with the gzip magic bytes is decompressed inline,
  * whatever its name, as the live wire format is gzipped JSON (reference:
  * client/export.go download Content-Encoding).
  *
  * Per record:
  *   - a key is matched to its column through a table keyed by the raw
  *     key, filled on first sight from the exact name, else the lowercased
  *     one (case-insensitive, internal/service.go:77-96);
  *   - a string, integer or float token of the column's own type is
  *     converted in place; timestamps in the canonical
  *     `YYYY-MM-DDTHH:MM:SS[.f]Z` form by a hand-written parser, any
  *     other form by `Instant.parse` (unparseable: null). Any other token
  *     shape is read as a tree and converted by the rules of
  *     [[ExportPartitionReader.cast]];
  *   - custom vars keep their key case and JSON form, re-emitted through
  *     one reused generator;
  *   - repeated keys resolve as a JSON object tree resolves them: a key's
  *     last value wins, and among keys that differ only in case, the one
  *     first seen latest.
  * Rows equal those of the former tree decoder; a differential test pins
  * the two against each other. */
private[sources] class ExportPartitionReader(
    file: String, required: StructType,
    lo: Option[(Instant, Boolean)], hi: Option[(Instant, Boolean)],
    conf: Configuration)
    extends PartitionReader[InternalRow] {
  import ExportPartitionReader._

  private val mapper = new ObjectMapper()
  private val parser = {
    val p = new Path(file)
    val raw: java.io.InputStream =
      new java.io.BufferedInputStream(p.getFileSystem(conf).open(p))
    // Spark never calls close() on a reader whose constructor threw, so any
    // init failure (bad gzip header, non-array framing, parser create) must
    // release the Hadoop stream here or it leaks one handle per bad bundle.
    // Closing the outermost stream built so far also ends the gzip
    // Inflater's native buffer, not just the file handle.
    var toClose: java.io.InputStream = raw
    try {
      raw.mark(2)
      val gzipped = raw.read() == 0x1f && raw.read() == 0x8b
      raw.reset()
      val in = if (gzipped) new java.util.zip.GZIPInputStream(raw) else raw
      toClose = in
      val jp = mapper.getFactory.createParser(in)
      require(jp.nextToken() == JsonToken.START_ARRAY,
        s"export bundle $file is not a JSON array")
      jp
    } catch {
      case e: Throwable =>
        try toClose.close() catch { case _: Throwable => () }
        throw e
    }
  }

  private val timeGated = lo.isDefined || hi.isDefined

  // Every canonical field, lowercased, maps to its ordinal in `required`,
  // or to Pruned when the scan does not need it; a key with no entry is a
  // custom var.
  private val ordinals: Map[String, Int] = {
    val byName = required.fieldNames.map(_.toLowerCase).zipWithIndex.toMap
    ExportDataSource.schema.fieldNames.map { n =>
      val l = n.toLowerCase
      l -> byName.getOrElse(l, Pruned)
    }.toMap
  }
  private val types = required.fields.map(_.dataType)
  private val kinds = types.map {
    case StringType => KString
    case LongType => KLong
    case IntegerType => KInt
    case DoubleType => KDouble
    case TimestampType => KTime
    case _ => KOther
  }
  private val customOrdinal = ordinals("customvars")
  private val needCustom = customOrdinal != Pruned

  /** The raw-key table: each key seen in this bundle, with its column. */
  private val keys = new java.util.HashMap[String, Key]()

  private def keyOf(name: String): Key = {
    val k = keys.get(name)
    if (k != null) k
    else {
      val slot = ordinals.getOrElse(name.toLowerCase, Custom)
      val key = Key(slot, name.equalsIgnoreCase("EventStart"))
      if (keys.size < MaxKeys) keys.put(name, key)
      key
    }
  }

  // Records of one bundle mostly list their keys in one order: the key
  // met at each position of the last record, checked by identity first
  // (the parser interns key names), saves the table lookup.
  private val seenName = new Array[String](MaxPositions)
  private val seenKey = new Array[Key](MaxPositions)

  private def keyAt(pos: Int, name: String): Key =
    if (pos >= MaxPositions) keyOf(name)
    else if (seenName(pos) eq name) seenKey(pos)
    else {
      val k = keyOf(name)
      seenName(pos) = name
      seenKey(pos) = k
      k
    }

  // the row, reused: the scan copies each row into an UnsafeRow
  private val values = new Array[Any](required.length)
  private val row = new GenericInternalRow(values)
  // per record: the key that set each column, and the keys it displaced
  private val owners = new Array[String](required.length)
  private var displaced: List[(Int, String)] = Nil
  private val customs = new java.util.LinkedHashMap[String, String]()
  private val valueOut = new java.io.CharArrayWriter()
  private val valueGen = {
    val g = mapper.getFactory.createGenerator(valueOut)
    g.setRootValueSeparator(null)
    g
  }
  private val objectOut = new java.io.CharArrayWriter()
  private val objectGen = {
    val g = mapper.getFactory.createGenerator(objectOut)
    g.setRootValueSeparator(null)
    g
  }

  // the event-time gate: the first EventStart key (any case) and its time
  private var gateKey: String = _
  private var gateOk = false
  private var gateSec = 0L
  private var gateNano = 0
  // the last time parsed by parseTime
  private var tSec = 0L
  private var tNano = 0

  private def inRange(sec: Long, nano: Int): Boolean = {
    def cmp(b: Instant): Int = {
      val c = java.lang.Long.compare(sec, b.getEpochSecond)
      if (c != 0) c else Integer.compare(nano, b.getNano)
    }
    lo.forall { case (b, incl) => val c = cmp(b); if (incl) c >= 0 else c > 0 } &&
      hi.forall { case (b, incl) => val c = cmp(b); if (incl) c <= 0 else c < 0 }
  }

  /** Decode the record whose START_OBJECT is the current token into `row`.
    * False when the pushed time range drops it. Event-time gate applied
    * ONLY when a bound was pushed: without one, a record with an absent or
    * unparseable EventStart is KEPT with a null field, matching the
    * reference's empty-fill (internal/service.go transformExportJSONRecord
    * fills missing fields rather than dropping the record). */
  private def decodeRecord(): Boolean = {
    java.util.Arrays.fill(values.asInstanceOf[Array[AnyRef]], null)
    java.util.Arrays.fill(owners.asInstanceOf[Array[AnyRef]], null)
    displaced = Nil
    customs.clear()
    gateKey = null
    gateOk = false
    var pos = 0
    while (parser.nextToken() == JsonToken.FIELD_NAME) {
      val name = parser.currentName()
      val key = keyAt(pos, name)
      pos += 1
      val tok = parser.nextToken()
      val slot =
        if (key.slot >= 0 && key.slot != customOrdinal && claim(key.slot, name))
          key.slot
        else Pruned
      if (timeGated && key.gate && (gateKey == null || gateKey == name)) {
        gateKey = name
        gateOk = tok == JsonToken.VALUE_STRING && parseTime()
        gateSec = tSec
        gateNano = tNano
      }
      if (slot != Pruned) values(slot) = value(tok, slot)
      else if (key.slot == Custom && needCustom) customs.put(name, customValue(tok))
      else parser.skipChildren()
    }
    if (needCustom) values(customOrdinal) = customJson()
    !timeGated || (gateOk && inRange(gateSec, gateNano))
  }

  /** Whether key `name` sets column `slot`: as in a JSON object tree, a
    * repeated key replaces its own value, and of two keys that differ
    * only in case, the one first seen later wins. */
  private def claim(slot: Int, name: String): Boolean = {
    val owner = owners(slot)
    if (owner == null || owner == name) { owners(slot) = name; true }
    else if (displaced.contains((slot, name))) false
    else {
      displaced = (slot, owner) :: displaced
      owners(slot) = name
      true
    }
  }

  private def value(tok: JsonToken, slot: Int): Any = {
    val kind = kinds(slot)
    if (tok == JsonToken.VALUE_NULL) null
    else if (tok == JsonToken.VALUE_STRING && kind == KString) text()
    else if (tok == JsonToken.VALUE_STRING && kind == KTime)
      if (parseTime()) toMicros(tSec, tNano) else null
    else if (tok == JsonToken.VALUE_NUMBER_INT && kind != KString &&
             kind != KTime && kind != KOther &&
             parser.getNumberType != JsonParser.NumberType.BIG_INTEGER) {
      val v = parser.getLongValue
      if (kind == KLong) v else if (kind == KInt) v.toInt else v.toDouble
    } else if (tok == JsonToken.VALUE_NUMBER_FLOAT && kind == KDouble)
      parser.getDoubleValue
    else cast(mapper.readTree[JsonNode](parser), types(slot))
  }

  /** One custom var's value in its JSON form: a scalar token copied, a
    * structure read as a tree (so its own repeated keys resolve) and
    * written back. */
  private def customValue(tok: JsonToken): String = {
    if (tok == JsonToken.START_OBJECT || tok == JsonToken.START_ARRAY)
      mapper.writeTree(valueGen, mapper.readTree[JsonNode](parser))
    else valueGen.copyCurrentEvent(parser)
    valueGen.flush()
    val s = valueOut.toString
    valueOut.reset()
    s
  }

  private def customJson(): UTF8String = {
    objectGen.writeStartObject()
    customs.forEach((k, v) => { objectGen.writeFieldName(k); objectGen.writeRawValue(v) })
    objectGen.writeEndObject()
    objectGen.flush()
    val s = objectOut.toString
    objectOut.reset()
    UTF8String.fromString(s)
  }

  /** The current string token as UTF-8: an ASCII string is copied byte
    * for byte from the parser's buffer, any other goes through `String`. */
  private def text(): UTF8String = {
    val cs = parser.getTextCharacters
    val off = parser.getTextOffset
    val n = parser.getTextLength
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val c = cs(off + i)
      if (c >= 0x80) return UTF8String.fromString(new String(cs, off, n))
      out(i) = c.toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Parse the current string token as an RFC 3339 instant into
    * (`tSec`, `tNano`); false when `Instant.parse` would reject it. */
  private def parseTime(): Boolean = {
    val cs = parser.getTextCharacters
    val off = parser.getTextOffset
    val n = parser.getTextLength
    if (parseCanonical(cs, off, n)) true
    else try {
      val i = Instant.parse(new String(cs, off, n))
      tSec = i.getEpochSecond
      tNano = i.getNano
      true
    } catch { case scala.util.control.NonFatal(_) => false }
  }

  /** The canonical `YYYY-MM-DDTHH:MM:SS[.f{1,9}]Z` form, with every field
    * in range, in `n` chars of `cs` from `off`; false for anything else,
    * which `Instant.parse` then decides. */
  private def parseCanonical(cs: Array[Char], off: Int, n: Int): Boolean = {
    def at(i: Int): Char = cs(off + i)
    if (n < 20 || n > 30 || n == 21 || at(n - 1) != 'Z' ||
        at(4) != '-' || at(7) != '-' || at(10) != 'T' ||
        at(13) != ':' || at(16) != ':' || (n > 20 && at(19) != '.'))
      return false
    def num(from: Int, to: Int): Int = {
      var v = 0
      var i = from
      while (i < to) {
        val d = at(i) - '0'
        if (d < 0 || d > 9) return -1
        v = v * 10 + d
        i += 1
      }
      v
    }
    val year = num(0, 4); val month = num(5, 7); val day = num(8, 10)
    val hour = num(11, 13); val minute = num(14, 16); val second = num(17, 19)
    val frac = if (n > 20) num(20, n - 1) else 0
    if (year < 0 || month < 1 || month > 12 || day < 1 || hour < 0 ||
        hour > 23 || minute < 0 || minute > 59 || second < 0 || second > 59 ||
        frac < 0 || day > daysInMonth(year, month))
      return false
    var nano = frac
    var k = n - 1 - 20
    while (k < 9 && n > 20) { nano *= 10; k += 1 }
    tSec = daysFromCivil(year, month, day) * 86400L +
      hour * 3600 + minute * 60 + second
    tNano = nano
    true
  }

  override def next(): Boolean = {
    while (true) {
      // JsonParseException here = bad framing -> abort the bundle
      val tok = parser.nextToken()
      if (tok == null || tok == JsonToken.END_ARRAY) return false
      if (tok == JsonToken.START_OBJECT) { if (decodeRecord()) return true }
      else parser.skipChildren() // non-object element -> skip
    }
    false
  }

  override def get(): InternalRow = row
  override def close(): Unit = parser.close()
}

private[sources] object ExportPartitionReader {
  private final case class Key(slot: Int, gate: Boolean)
  private val Pruned = -1
  private val Custom = -2
  // a bundle's distinct keys are its fields and custom var names; the cap
  // only bounds the table against a bundle of ever-new keys
  private val MaxKeys = 4096
  private val MaxPositions = 256

  private val KString = 0
  private val KLong = 1
  private val KInt = 2
  private val KDouble = 3
  private val KTime = 4
  private val KOther = 5

  /** Epoch micros of an instant; null when they overflow a long. */
  private def toMicros(sec: Long, nano: Int): Any =
    try Math.addExact(Math.multiplyExact(sec, 1000000L), nano / 1000L)
    catch { case _: ArithmeticException => null }

  private def daysInMonth(year: Int, month: Int): Int =
    if (month == 2)
      if (year % 4 == 0 && (year % 100 != 0 || year % 400 == 0)) 29 else 28
    else if (month == 4 || month == 6 || month == 9 || month == 11) 30
    else 31

  /** Days since 1970-01-01 of a proleptic Gregorian date (Hinnant). */
  private def daysFromCivil(year: Int, month: Int, day: Int): Long = {
    val y = if (month <= 2) year - 1 else year
    val era = Math.floorDiv(y, 400)
    val yoe = y - era * 400
    val mp = (month + 9) % 12
    val doy = (153 * mp + 2) / 5 + day - 1
    val doe = yoe * 365 + yoe / 4 - yoe / 100 + doy
    era * 146097L + doe - 719468L
  }

  /** A value's column form from its JSON tree: the conversion for token
    * shapes the streaming path does not convert in place (a string in a
    * numeric column, a number in a string column, a structure, a big
    * integer, ...). Numbers follow Jackson's `asLong`/`asInt`/`asDouble`;
    * a non-string renders as its JSON text; a timestamp that does not
    * parse is null. */
  private[sources] def cast(n: JsonNode, dt: DataType): Any =
    if (n == null || n.isNull) null
    else dt match {
      case StringType => UTF8String.fromString(
        if (n.isTextual) n.asText() else n.toString)
      case LongType => n.asLong()
      case IntegerType => n.asInt()
      case DoubleType => n.asDouble()
      case TimestampType =>
        scala.util.Try(Instant.parse(n.asText())).toOption
          .map(i => toMicros(i.getEpochSecond, i.getNano)).orNull
      case _ => null
    }
}
