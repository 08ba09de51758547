package graft.sources

import java.time.Instant
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonToken
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
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
    new ExportReaderFactory(required, lo, hi,
      new SerializableConfiguration(hadoopConf))

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
    new ExportReaderFactory(required, lo, hi,
      new SerializableConfiguration(hadoopConf))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] case class ExportInputPartition(file: String)
    extends InputPartition

private[sources] class ExportReaderFactory(required: StructType,
                                           lo: Option[(Instant, Boolean)],
                                           hi: Option[(Instant, Boolean)],
                                           conf: SerializableConfiguration)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ExportPartitionReader(partition.asInstanceOf[ExportInputPartition].file,
      required, lo, hi, conf.value)
}

/** Streams one JSON bundle file with a token-level Jackson parser: O(one
  * record) executor memory regardless of bundle size, never the whole file.
  * Matches the reference's `json.Decoder` loop (internal/service.go:183-211):
  *   - array framing / JSON syntax errors abort the bundle (the reference
  *     returns the decode error);
  *   - a record that fails the TRANSFORM is skipped and the loop continues
  *     (reference "Failed object transform, skipping record");
  *   - non-object array elements are skipped too (lenient divergence: Go's
  *     `Decode(&map)` would abort; a scalar element carries no record data
  *     either way).
  * A bundle that starts with the gzip magic bytes is decompressed inline,
  * whatever its name, as the live wire format is gzipped JSON (reference:
  * client/export.go download Content-Encoding). */
private[sources] class ExportPartitionReader(
    file: String, required: StructType,
    lo: Option[(Instant, Boolean)], hi: Option[(Instant, Boolean)],
    conf: Configuration)
    extends PartitionReader[InternalRow] {

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

  private var current: InternalRow = _

  private def inRange(t: Instant): Boolean = {
    val okLo = lo.forall { case (b, incl) =>
      if (incl) !t.isBefore(b) else t.isAfter(b) }
    val okHi = hi.forall { case (b, incl) =>
      if (incl) !t.isAfter(b) else t.isBefore(b) }
    okLo && okHi
  }

  private def toMicros(t: Instant): Long =
    Math.addExact(Math.multiplyExact(t.getEpochSecond, 1000000L),
      t.getNano / 1000L)

  private val timeGated = lo.isDefined || hi.isDefined

  // hoisted out of convert(): this is the innermost loop of the scan.
  // Every canonical field, lowercased, maps to its ordinal in `required`,
  // or to Pruned when the scan does not need it; a key with no entry is a
  // custom var.
  private val Pruned = -1
  private val ordinals: Map[String, Int] = {
    val byName = required.fieldNames.map(_.toLowerCase).zipWithIndex.toMap
    ExportDataSource.schema.fieldNames.map { n =>
      val l = n.toLowerCase
      l -> byName.getOrElse(l, Pruned)
    }.toMap
  }
  private val types = required.fields.map(_.dataType)
  private val customOrdinal = ordinals("customvars")
  private val needCustom = customOrdinal != Pruned

  private def convert(node: JsonNode): Option[InternalRow] = {
    // Event-time pushdown gate — applied ONLY when a bound was actually
    // pushed. Without a pushed filter, a record with an absent or
    // unparseable EventStart is KEPT with a null field, matching the
    // reference's empty-fill (internal/service.go transformExportJSONRecord
    // fills missing fields rather than dropping the record).
    if (timeGated) {
      val evtNode = node.properties().asScala
        .find(_.getKey.equalsIgnoreCase("EventStart")).map(_.getValue)
      val evt = evtNode.flatMap(n =>
        scala.util.Try(Instant.parse(n.asText())).toOption)
      if (evt.isEmpty || !inRange(evt.get)) return None
    }

    val values = new Array[Any](required.length)
    val custom = if (needCustom)
      new java.util.LinkedHashMap[String, JsonNode]() else null

    node.properties().asScala.foreach { e =>
      ordinals.get(e.getKey.toLowerCase) match {
        case Some(i) => if (i != Pruned) values(i) = cast(e.getValue, types(i))
        case None => if (needCustom) custom.put(e.getKey, e.getValue)
      }
    }
    if (needCustom)
      values(customOrdinal) =
        UTF8String.fromString(mapper.writeValueAsString(custom))
    Some(new GenericInternalRow(values))
  }

  private def cast(n: JsonNode, dt: DataType): Any =
    if (n == null || n.isNull) null
    else dt match {
      case StringType => UTF8String.fromString(
        if (n.isTextual) n.asText() else n.toString)
      case LongType => n.asLong()
      case IntegerType => n.asInt()
      case DoubleType => n.asDouble()
      case TimestampType =>
        scala.util.Try(toMicros(Instant.parse(n.asText()))).getOrElse(null)
      case _ => null
    }

  override def next(): Boolean = {
    current = null
    while (current == null) {
      // JsonParseException here = bad framing -> abort the bundle
      val tok = parser.nextToken()
      if (tok == null || tok == JsonToken.END_ARRAY) return false
      if (tok == JsonToken.START_OBJECT) {
        // one record subtree in heap at a time; transform failure -> skip
        val node = mapper.readTree[JsonNode](parser)
        current = scala.util.Try(convert(node)).toOption.flatten.orNull
      } else {
        parser.skipChildren() // non-object element -> skip
      }
    }
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = parser.close()
}
