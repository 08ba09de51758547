package graft.sources

import java.nio.file.Files
import java.time.Instant

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.types.StructType
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

/** The token-streaming [[ExportPartitionReader]] against the tree decoder
  * it replaced ([[TreeExportReader]]), row for row, on generated bundles:
  * repeated keys and keys that differ only in case, number forms, string
  * escapes, nested values, non-object elements, timestamps in and out of
  * the canonical form, pruned columns and pushed time bounds. */
class DecoderSpec extends AnyFunSuite {
  import DecoderSpec._

  private val conf = new Configuration()
  private val dir = Files.createTempDirectory("graft-decoder")

  private def rows(reader: PartitionReader[InternalRow],
                   schema: StructType): Seq[Seq[Any]] =
    try {
      val out = Seq.newBuilder[Seq[Any]]
      while (reader.next()) out += reader.get().toSeq(schema)
      out.result()
    } finally reader.close()

  private def both(json: String, scan: Scan): (Seq[Seq[Any]], Seq[Seq[Any]]) = {
    val f = Files.createTempFile(dir, "bundle", ".json")
    Files.writeString(f, json)
    val file = f.toString
    val want = rows(new TreeExportReader(file, scan.required, scan.lo,
      scan.hi, conf), scan.required)
    val got = rows(new ExportPartitionReader(file, scan.required, scan.lo,
      scan.hi, conf), scan.required)
    Files.delete(f)
    (got, want)
  }

  test("streaming decoder == tree decoder on generated bundles") {
    val prop = Prop.forAll(bundleGen, scanGen) { (json, scan) =>
      val (got, want) = both(json, scan)
      if (got != want) println(s"bundle $json\nscan $scan\n" +
        s"  want $want\n  got  $got")
      got == want
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(1500), prop)
    assert(res.passed, res.status.toString)
  }

  test("repeated keys: a key's last value, the latest-first-seen case variant") {
    val full = Scan(ExportDataSource.schema, None, None)
    val json =
      """[{"UserId": 1, "userid": 2, "UserId": 3, "evt_a": 1, "evt_a": 2,
        |  "EventStart": "2020-01-01T00:00:00Z", "eventstart": "bad",
        |  "EventStart": "2020-01-02T00:00:00Z"}]""".stripMargin
    val (got, want) = both(json, full)
    assert(got == want)
    val r = got.head
    val idx = ExportDataSource.schema.fieldIndex _
    assert(r(idx("UserId")) == 2L)
    assert(r(idx("EventStart")) == null)
    assert(r(idx("CustomVars")).toString == """{"evt_a":2}""")
    // the gate reads the first EventStart key's last value: in range
    val gated = Scan(ExportDataSource.schema,
      Some((Instant.parse("2020-01-02T00:00:00Z"), true)), None)
    val (g2, w2) = both(json, gated)
    assert(g2 == w2 && g2.size == 1)
  }
}

object DecoderSpec {

  /** The connector's reader over one bundle file, and the tree decoder it
    * replaced, for callers outside the package (StageKernelBench). */
  def streamingReader(file: String, required: StructType,
                      conf: Configuration): PartitionReader[InternalRow] =
    new ExportPartitionReader(file, required, None, None, conf)

  def treeReader(file: String, required: StructType,
                 conf: Configuration): PartitionReader[InternalRow] =
    new TreeExportReader(file, required, None, None, conf)

  final case class Scan(required: StructType,
                        lo: Option[(Instant, Boolean)],
                        hi: Option[(Instant, Boolean)])

  private val fieldNames = ExportDataSource.schema.fieldNames.toSeq

  private def caseVariant(name: String): Gen[String] = Gen.frequency(
    6 -> Gen.const(name),
    2 -> Gen.const(name.toLowerCase),
    1 -> Gen.const(name.toUpperCase),
    1 -> Gen.listOfN(name.length, Gen.oneOf(true, false)).map(flips =>
      name.zip(flips).map { case (c, up) =>
        if (up) c.toUpper else c.toLower }.mkString))

  private val timeFields = Seq("EventStart", "UserCreated", "SessionStart",
    "PageStart")

  private val keyGen: Gen[String] = Gen.frequency(
    5 -> Gen.oneOf(fieldNames).flatMap(caseVariant),
    4 -> Gen.oneOf(timeFields).flatMap(caseVariant),
    3 -> Gen.oneOf("evt_a", "EVT_A", "evt_b_str", "user_plan",
      "page_section", "customvars", "CustomVars", "x", ""))

  private def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** Timestamp strings: canonical with 0-9 fraction digits, and forms the
    * hand-written parser hands to `Instant.parse` or that no parser
    * takes (offsets, lowercase, 24:00, leap second, Feb 30, year 0,
    * five-digit years, a dot with no digits, garbage). */
  private val timeText: Gen[String] = {
    val canonical = for {
      y <- Gen.frequency(8 -> Gen.choose(1960, 2040), 1 -> Gen.choose(0, 9999))
      m <- Gen.choose(1, 12)
      d <- Gen.choose(1, 28)
      h <- Gen.choose(0, 23)
      mi <- Gen.choose(0, 59)
      s <- Gen.choose(0, 59)
      digits <- Gen.choose(0, 9)
      frac <- Gen.listOfN(digits, Gen.numChar)
    } yield f"$y%04d-$m%02d-$d%02dT$h%02d:$mi%02d:$s%02d" +
      (if (digits > 0) "." + frac.mkString else "") + "Z"
    Gen.frequency(
      10 -> canonical,
      1 -> canonical.map(_.stripSuffix("Z") + "+01:30"),
      1 -> canonical.map(_.toLowerCase),
      1 -> Gen.oneOf("2020-01-01T24:00:00Z", "2016-12-31T23:59:60Z",
        "2021-02-30T00:00:00Z", "2020-02-29T12:00:00Z", "0000-01-01T00:00:00Z",
        "+10000-01-01T00:00:00Z", "-0001-01-01T00:00:00Z",
        "2020-01-01T00:00:00.Z", "2020-01-01T00:00Z", "2020-01-01 00:00:00Z",
        "2020-13-01T00:00:00Z", "2020-1-01T00:00:00Z", "not a time", "",
        "+999999999-12-31T23:59:59.999999999Z", "2020-01-01T00:00:00.1234567890Z"))
  }

  private val numberText: Gen[String] = Gen.oneOf("1", "1.50", "1e2", "-0",
    "-0.0", "0", "3000000000", "-9223372036854775808", "9223372036854775807",
    "9223372036854775808", "123456789012345678901234567890", "1E400",
    "4.9e-324", "2.5E-7", "-17", "1.0")

  private def valueGen(depth: Int): Gen[String] = {
    val scalar = Gen.frequency(
      4 -> timeText.map(str),
      4 -> numberText,
      3 -> Gen.oneOf("plain", "with \"quotes\"", "back\\slash", "line\nbreak",
        "tab\t", "nul\u0000", "é €", "😀", "\u001f").map(str),
      1 -> Gen.const("\"\\ud83d\\ude00 \\u00e9 \\/\""),
      1 -> Gen.oneOf("true", "false", "null"))
    if (depth <= 0) scalar
    else Gen.frequency(
      8 -> scalar,
      1 -> Gen.listOf(for { k <- keyGen; v <- valueGen(depth - 1) }
        yield s"${str(k)}:$v").map(_.take(4).mkString("{", ",", "}")),
      1 -> Gen.listOf(valueGen(depth - 1)).map(_.take(4).mkString("[", ",", "]")))
  }

  private val recordGen: Gen[String] =
    Gen.choose(0, 14).flatMap(n => Gen.listOfN(n, for {
      k <- keyGen
      v <- valueGen(2)
    } yield s"${str(k)}:$v")).map(_.mkString("{", ",", "}"))

  val bundleGen: Gen[String] =
    Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, Gen.frequency(
      8 -> recordGen,
      1 -> Gen.oneOf("1", "\"s\"", "null", "[]", "[{\"UserId\":1}]", "true"))))
      .map(_.mkString("[", ",\n", "]"))

  private val boundGen: Gen[Option[(Instant, Boolean)]] = Gen.frequency(
    2 -> Gen.const(None),
    1 -> (for {
      sec <- Gen.choose(-315619200L, 2208988800L) // 1960..2040
      nano <- Gen.oneOf(0, 500000000)
      incl <- Gen.oneOf(true, false)
    } yield Some((Instant.ofEpochSecond(sec, nano), incl))))

  val scanGen: Gen[Scan] = for {
    pruned <- Gen.frequency(
      1 -> Gen.const(ExportDataSource.schema.fields.toSeq),
      2 -> Gen.someOf(ExportDataSource.schema.fields.toSeq).map(picked =>
        ExportDataSource.schema.fields.toSeq.filter(picked.contains)))
    lo <- boundGen
    hi <- boundGen
  } yield Scan(StructType(pruned), lo, hi)
}
