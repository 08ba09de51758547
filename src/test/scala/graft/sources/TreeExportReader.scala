package graft.sources

import java.time.Instant

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonToken
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The reference decoder [[ExportPartitionReader]] is pinned against: the
  * connector's former per-record decode, one Jackson `JsonNode` tree per
  * record, kept as it was apart from its name.
  *
  * Streams one JSON bundle file with a token-level Jackson parser: O(one
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
private[sources] class TreeExportReader(
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
