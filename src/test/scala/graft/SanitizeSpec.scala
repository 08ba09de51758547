package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal, RegExpReplace}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test}

import graft.functions.Sanitize
import graft.transform.ValueFormat

/** The native [[Sanitize]] kernel against the `regexp_replace` chain it
  * replaced, byte for byte, on the interpreted (`nullSafeEval`) and the
  * generated-code path. */
class SanitizeSpec extends SparkSpec {
  import SanitizeSpec._

  private val input = BoundReference(0, StringType, nullable = true)

  private def codegen(e: Expression): UTF8String => UTF8String = {
    val proj = GenerateUnsafeProjection.generate(Seq(e))
    s => {
      val r = proj(InternalRow(s))
      if (r.isNullAt(0)) null else r.getUTF8String(0).clone()
    }
  }

  test("kernel == regexp_replace chain on random strings, interpreted and codegen") {
    val kernel = Sanitize(input)
    val reference = regexChain(input)
    val compiledKernel = codegen(kernel)
    val compiledReference = codegen(reference)
    val prop = Prop.forAll(utf8Gen) { bytes =>
      val s = UTF8String.fromBytes(bytes)
      val want = reference.eval(InternalRow(s))
      kernel.eval(InternalRow(s)) == want &&
        compiledKernel(s) == want && compiledReference(s) == want
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(2000),
      prop)
    assert(res.passed, res.status.toString)
  }

  test("kernel edge cases: null, empty, untouched input is not copied") {
    assert(Sanitize(Literal(null, StringType)).eval() == null)
    assert(codegen(Sanitize(input))(null) == null)
    assert(Sanitize.kernel(UTF8String.EMPTY_UTF8) == UTF8String.EMPTY_UTF8)
    val clean = UTF8String.fromString("no change: é € 😀")
    assert(Sanitize.kernel(clean) eq clean)
    assert(Sanitize.kernel(UTF8String.fromString("a\r\nb\u0000c\u0000")) ==
      UTF8String.fromString("a  bc"))
    // an ill-formed byte takes the String path: U+FFFD, as the regex did
    val bad = UTF8String.fromBytes(Array[Byte]('a', 0x80.toByte, '\n'))
    assert(Sanitize.kernel(bad) == UTF8String.fromString("a� "))
    // a surrogate encoded in UTF-8 is ill-formed too: rewritten as the
    // regex chain's decode rewrites it, not passed through
    val surrogate = UTF8String.fromBytes(
      Array(0xed, 0xa0, 0x80).map(_.toByte))
    assert(Sanitize.kernel(surrogate) != surrogate)
    assert(Sanitize.kernel(surrogate) == regexChain(Literal(surrogate)).eval())
  }

  test("ValueFormat.sanitize through a DataFrame matches the regex chain") {
    val s = spark
    import s.implicits._
    val rows = Seq.fill(500)(utf8Gen.sample.get) ++ Seq(Array.emptyByteArray)
    val df = (rows.map(Option(_)) :+ None).toDF("b")
      .select(col("b").cast(StringType).as("s"))
    val out = df.select(ValueFormat.sanitize(col("s")).as("k"),
      regexp_replace(regexp_replace(col("s"), "[\n\r]", " "), "\u0000", "")
        .as("r"))
    assert(out.filter(!(col("k") <=> col("r"))).count() == 0)
    assert(out.count() == 502)
  }
}

object SanitizeSpec {

  /** The formulation the kernel replaced. */
  def regexChain(e: Expression): Expression =
    RegExpReplace(RegExpReplace(e, Literal("[\n\r]"), Literal(" ")),
      Literal("\u0000"), Literal(""))

  private def utf8(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** Pieces: ASCII, the three sanitized bytes, 2/3/4-byte characters
    * (4 = supplementary), and ill-formed bytes (stray continuation,
    * overlong, surrogate, out-of-range lead, truncated sequence). */
  private def piece(illFormed: Boolean): Gen[Array[Byte]] = Gen.frequency(
    8 -> Gen.alphaNumChar.map(c => Array(c.toByte)),
    2 -> Gen.oneOf(",", "\"", " ").map(utf8),
    3 -> Gen.oneOf("\n", "\r", "\u0000", "\r\n").map(utf8),
    2 -> Gen.oneOf("é", "ß", "€", "中", "�").map(utf8),
    2 -> Gen.oneOf("😀", "𝄞").map(utf8),
    (if (illFormed) 2 else 0) -> Gen.oneOf(
      Seq(0x80), Seq(0xbf), Seq(0xc0, 0x80), Seq(0xc1, 0xbf),
      Seq(0xe0, 0x80, 0x80), Seq(0xed, 0xa0, 0x80), Seq(0xf4, 0x90, 0x80, 0x80),
      Seq(0xf5, 0x80), Seq(0xff), Seq(0xe2, 0x82), Seq(0xf0, 0x9f, 0x98),
      Seq(0xc3)).map(_.map(_.toByte).toArray))

  def bytesGen(illFormed: Boolean): Gen[Array[Byte]] =
    Gen.sized(n => Gen.choose(0, n)).flatMap(k =>
      Gen.listOfN(k, piece(illFormed)).map(_.toArray.flatten))

  val utf8Gen: Gen[Array[Byte]] = bytesGen(illFormed = true)
}

/** Kernel vs regex chain on the same strings, through a DataFrame:
  * `Test/runMain graft.SanitizeBench [rows]`. Two string sets from the
  * property test's generator: with ill-formed bytes (most strings take the
  * kernel's `String` fallback) and well-formed only. Each formulation is
  * one `noop` write over a cached frame, five warm repetitions; the
  * medians are printed next to a pass-through baseline, whose time is the
  * scan and write cost every formulation shares. */
object SanitizeBench {

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(200000)
    val spark = GraftSession.create("sanitize-bench")
    import spark.implicits._
    for (illFormed <- Seq(true, false)) {
      val gen = SanitizeSpec.bytesGen(illFormed)
      val params = Gen.Parameters.default.withSize(40)
      var seed = org.scalacheck.rng.Seed(11L)
      val strings = Seq.fill(n) { seed = seed.next; gen(params, seed).get }
      val df = strings.toDF("b").select(col("b").cast(StringType).as("s"))
        .repartition(spark.sparkContext.defaultParallelism).cache()
      println(s"strings ${if (illFormed) "with" else "without"} ill-formed " +
        s"bytes: ${df.count()} rows, ${strings.map(_.length.toLong).sum} bytes")
      val forms = Seq(
        "pass-through" -> col("s"),
        "regexp_replace chain" ->
          regexp_replace(regexp_replace(col("s"), "[\n\r]", " "),
            "\u0000", ""),
        "sanitize kernel" -> ValueFormat.sanitize(col("s")))
      def time(c: org.apache.spark.sql.Column): Double = {
        val t0 = System.nanoTime()
        df.select(c.as("o")).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e6
      }
      forms.foreach { case (_, c) => time(c) } // warm-up
      forms.foreach { case (name, c) =>
        val ms = Seq.fill(5)(time(c)).sorted
        println(f"  $name%-22s median ${ms(2)}%.0f ms " +
          f"(min ${ms.head}%.0f, max ${ms.last}%.0f)")
      }
      df.unpersist()
    }
    spark.stop()
  }
}
