package graft.functions

import java.time.{Instant, ZoneId}

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.TimestampFormatter
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One staged CSV cell: a typed value rendered to the string the reference
  * stages (reference: warehouse/warehouse.go:54-71), as one native call per
  * row.
  *
  *   - timestamp: Go RFC3339Micro in the session time zone, fraction
  *     trimmed of trailing zeros (`2020-08-27T06:20:26.9Z`);
  *   - double: Go `%v`, Java's `Double.toString` without a trailing `.0`;
  *   - long / int: decimal;
  *   - string: [[Sanitize]]d.
  *
  * With `fill`, null renders as the empty string. Rendered timestamps and
  * numbers hold no `\n`, `\r` or NUL, so only strings are sanitized.
  *
  * Each rendering equals, byte for byte, the Column chain it replaced
  * (`date_format` + `regexp_replace` for timestamps, `regexp_replace` over
  * a string cast for doubles, `sanitize(cast)` for the rest); a
  * differential test pins it. A timestamp whose year is outside
  * 1..9999 is formatted by Spark's own timestamp formatter and trimmed
  * with the chain's regexes, so the rare years keep the chain's output.
  *
  * One small expression per column keeps the staging projection's
  * generated method under HotSpot's 8,000-byte huge-method limit, so the
  * JIT compiles it. */
case class StagedString(child: Expression, fill: Boolean,
                        timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression {

  override def dataType: DataType = StringType

  override def nullable: Boolean = !fill && child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case TimestampType | DoubleType | LongType | IntegerType | StringType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"staged_string expects a timestamp, double, long, int or string, " +
        s"not ${other.catalogString}")
  }

  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Option(timeZoneId))

  @transient private lazy val times = new StagedTimes(zoneId)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) { if (fill) UTF8String.EMPTY_UTF8 else null }
    else child.dataType match {
      case TimestampType => times.render(v.asInstanceOf[Long])
      case DoubleType => StagedString.goNumber(v.asInstanceOf[Double])
      case LongType => StagedString.integral(v.asInstanceOf[Long])
      case IntegerType => StagedString.integral(v.asInstanceOf[Int].toLong)
      case _ => StagedString.text(v.asInstanceOf[UTF8String])
    }
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val kernel = classOf[StagedString].getName
    val call = child.dataType match {
      case TimestampType =>
        val t = ctx.addReferenceObj("times", new StagedTimes(zoneId))
        s"$t.render(${c.value})"
      case DoubleType => s"$kernel.goNumber(${c.value})"
      case LongType | IntegerType => s"$kernel.integral(${c.value})"
      case _ => s"$kernel.text(${c.value})"
    }
    if (fill) ev.copy(isNull = FalseLiteral, code = code"""
      |${c.code}
      |UTF8String ${ev.value} = ${c.isNull} ? UTF8String.EMPTY_UTF8 : $call;
      |""".stripMargin)
    else ev.copy(code = code"""
      |${c.code}
      |boolean ${ev.isNull} = ${c.isNull};
      |UTF8String ${ev.value} = ${ev.isNull} ? null : $call;
      |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

object StagedString {

  /** Go `%v` of a float64: `Double.toString` less a trailing `.0`. */
  def goNumber(d: Double): UTF8String = {
    val s = java.lang.Double.toString(d)
    UTF8String.fromString(
      if (s.endsWith(".0")) s.substring(0, s.length - 2) else s)
  }

  /** Decimal digits of `v`. */
  def integral(v: Long): UTF8String =
    UTF8String.fromString(java.lang.Long.toString(v))

  /** A staged string: sanitized. */
  def text(s: UTF8String): UTF8String = Sanitize.kernel(s)
}

/** The timestamp renderings of [[StagedString]] for one session zone.
  * Serializable: generated code holds one as a reference object, and the
  * references travel to the executors with the task. */
final class StagedTimes(zone: ZoneId) extends Serializable {

  private val rules = zone.getRules
  private val fixedOffset: Option[Int] =
    if (rules.isFixedOffset) Some(rules.getOffset(Instant.EPOCH).getTotalSeconds)
    else None

  /** The formatter and regexes of the replaced chain, for years outside
    * 1..9999 only. */
  @transient private lazy val formatter = TimestampFormatter(
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX", zone, isParsing = false)

  def render(micros: Long): UTF8String = {
    val sec = Math.floorDiv(micros, 1000000L)
    val frac = Math.floorMod(micros, 1000000L).toInt
    val offset = fixedOffset match {
      case Some(o) => o
      case None => rules.getOffset(Instant.ofEpochSecond(sec)).getTotalSeconds
    }
    val local = sec + offset
    val days = Math.floorDiv(local, 86400L)
    val secOfDay = Math.floorMod(local, 86400L).toInt
    // civil date of a day count, proleptic Gregorian (Hinnant's algorithm)
    val z = days + 719468L
    val era = Math.floorDiv(z, 146097L)
    val doe = (z - era * 146097L).toInt
    val yoe = (doe - doe / 1460 + doe / 36524 - doe / 146096) / 365
    val doy = doe - (365 * yoe + yoe / 4 - yoe / 100)
    val mp = (5 * doy + 2) / 153
    val day = doy - (153 * mp + 2) / 5 + 1
    val month = if (mp < 10) mp + 3 else mp - 9
    val year = yoe + era * 400L + (if (month <= 2) 1 else 0)
    if (year < 1 || year > 9999) return viaFormatter(micros)

    // fraction: six digits less trailing zeros, none when whole
    var fracDigits = if (frac == 0) 0 else 6
    var f = frac
    while (fracDigits > 0 && f % 10 == 0) { f /= 10; fracDigits -= 1 }
    // zone: Go RFC3339 prints "Z" or ±hh:mm (the offset's seconds dropped,
    // as the `XXX` pattern drops them)
    val absH = Math.abs(offset / 3600)
    val absM = Math.abs(offset / 60 % 60)
    val zoneLen = if (absH == 0 && absM == 0) 1 else 6
    val out = new Array[Byte](19 + (if (fracDigits > 0) fracDigits + 1 else 0) + zoneLen)
    digits(out, 0, year.toInt, 4)
    out(4) = '-'
    digits(out, 5, month, 2)
    out(7) = '-'
    digits(out, 8, day, 2)
    out(10) = 'T'
    digits(out, 11, secOfDay / 3600, 2)
    out(13) = ':'
    digits(out, 14, secOfDay / 60 % 60, 2)
    out(16) = ':'
    digits(out, 17, secOfDay % 60, 2)
    var at = 19
    if (fracDigits > 0) {
      out(at) = '.'
      digits(out, at + 1, f, fracDigits)
      at += fracDigits + 1
    }
    if (zoneLen == 1) out(at) = 'Z'
    else {
      out(at) = (if (offset < 0) '-' else '+')
      digits(out, at + 1, absH, 2)
      out(at + 3) = ':'
      digits(out, at + 4, absM, 2)
    }
    UTF8String.fromBytes(out)
  }

  private def digits(out: Array[Byte], at: Int, v: Int, width: Int): Unit = {
    var x = v
    var i = at + width - 1
    while (i >= at) { out(i) = ('0' + x % 10).toByte; x /= 10; i -= 1 }
  }

  private def viaFormatter(micros: Long): UTF8String =
    UTF8String.fromString(formatter.format(micros)
      .replaceAll("(\\.\\d*?)0+(Z|[+-])", "$1$2")
      .replaceAll("\\.(Z|[+-])", "$1"))
}
