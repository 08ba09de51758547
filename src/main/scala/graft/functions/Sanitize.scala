package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Staged-value sanitizer: `\n` and `\r` become a space and NUL is dropped
  * (reference: warehouse/warehouse.go:66-69) — the result of
  * `regexp_replace(regexp_replace(s, "[\n\r]", " "), "\u0000", "")`, byte
  * for byte, in one scan of the UTF-8 bytes.
  *
  * The three bytes are ASCII, and an ASCII byte never occurs inside a
  * multi-byte UTF-8 sequence, so replacing them byte-wise is exact. A
  * string with none of them is returned as it came (no copy).
  * `regexp_replace` decodes its input to a Java `String`, which turns
  * every ill-formed UTF-8 sequence into U+FFFD; so the same scan checks
  * well-formedness (Unicode Table 3-7, the rules of the JDK's decoder),
  * and an ill-formed input takes the `String` path to keep that
  * rewrite. */
case class Sanitize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("sanitize expects (string)")

  override def nullSafeEval(v: Any): Any =
    Sanitize.kernel(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = ${classOf[Sanitize].getName}.kernel($c);")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

object Sanitize {

  def kernel(s: UTF8String): UTF8String = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var hits = 0
    var nuls = 0
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (b >= 0) {
        if (b == '\n' || b == '\r') hits += 1
        else if (b == 0) nuls += 1
        i += 1
      } else {
        val len = wellFormedLength(base, off + i, n - i)
        if (len == 0) return viaString(s)
        i += len
      }
    }
    if (hits == 0 && nuls == 0) return s
    val out = new Array[Byte](n - nuls)
    var j = 0
    i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (b == '\n' || b == '\r') { out(j) = ' '; j += 1 }
      else if (b != 0) { out(j) = b; j += 1 }
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Length of the well-formed multi-byte sequence starting at `at`
    * (its lead byte is >= 0x80), or 0 when it is ill-formed or cut off
    * by the end of the string (`left` bytes remain). */
  private def wellFormedLength(base: AnyRef, at: Long, left: Int): Int = {
    def cont(k: Int): Int = // the k-th byte as unsigned, or -1 past the end
      if (k < left) Platform.getByte(base, at + k) & 0xff else -1
    def tail(k: Int): Boolean = { val c = cont(k); c >= 0x80 && c <= 0xbf }
    val b0 = Platform.getByte(base, at) & 0xff
    if (b0 >= 0xc2 && b0 <= 0xdf) { if (tail(1)) 2 else 0 }
    else if (b0 >= 0xe0 && b0 <= 0xef) {
      val b1 = cont(1)
      val lo = if (b0 == 0xe0) 0xa0 else 0x80
      val hi = if (b0 == 0xed) 0x9f else 0xbf
      if (b1 >= lo && b1 <= hi && tail(2)) 3 else 0
    } else if (b0 >= 0xf0 && b0 <= 0xf4) {
      val b1 = cont(1)
      val lo = if (b0 == 0xf0) 0x90 else 0x80
      val hi = if (b0 == 0xf4) 0x8f else 0xbf
      if (b1 >= lo && b1 <= hi && tail(2) && tail(3)) 4 else 0
    } else 0
  }

  /** The regex chain's own route: decode (ill-formed bytes become
    * U+FFFD), replace, re-encode. */
  private def viaString(s: UTF8String): UTF8String =
    UTF8String.fromString(
      s.toString.replace('\n', ' ').replace('\r', ' ').replace("\u0000", ""))
}
