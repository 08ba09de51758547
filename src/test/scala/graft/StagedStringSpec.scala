package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test}

import graft.schema.Field
import graft.transform.ValueFormat

/** The native staged-column renderer ([[graft.functions.StagedString]],
  * through [[ValueFormat]]) against the Column chain it replaced
  * ([[StagedStringSpec.Reference]]), byte for byte: interpreted, generated
  * code, and a Spark job; for session time zones with and without DST. */
class StagedStringSpec extends SparkSpec {
  import StagedStringSpec._

  private val zones = Seq("UTC", "America/Los_Angeles", "Asia/Kolkata")

  private def withZone[T](zone: String)(body: => T): T = {
    val key = "spark.sql.session.timeZone"
    val before = spark.conf.get(key)
    spark.conf.set(key, zone)
    try body finally spark.conf.set(key, before)
  }

  private def emptyInput: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], inputSchema)

  /** The analyzed, bound expressions of `cols` over the input schema (the
    * analyzer gives time-zone-aware expressions the session zone). */
  private def bound(cols: Seq[Column]): Seq[Expression] = {
    val plan = emptyInput.select(cols: _*).queryExecution.analyzed
    val p = plan.asInstanceOf[Project]
    p.projectList.map(e => BindReferences.bindReference(e: Expression, p.child.output))
  }

  test("renderer == the replaced Column chain: interpreted and codegen, " +
    "three session zones") {
    for (zone <- zones) withZone(zone) {
      val kernel = bound(columns(ValueFormat.render))
      val reference = bound(columns(Reference.render))
      val compiled = GenerateUnsafeProjection.generate(kernel)
      val prop = Prop.forAll(rowGen) { row =>
        val want = reference.map(_.eval(row))
        val got = kernel.map(_.eval(row))
        val gen = compiled(row)
        val fromCode = kernel.indices.map(i => gen.getUTF8String(i))
        val ok = got == want && fromCode == want
        if (!ok) println(s"$zone: row ${row.toSeq(inputSchema)}\n" +
          s"  want $want\n  got  $got\n  code $fromCode")
        ok
      }
      val res = Test.check(
        Test.Parameters.default.withMinSuccessfulTests(3000), prop)
      assert(res.passed, s"$zone: ${res.status}")
    }
  }

  test("renderer == the replaced Column chain through a Spark job") {
    val rows = {
      var seed = org.scalacheck.rng.Seed(7L)
      Seq.fill(2000) { seed = seed.next; rowGen(Gen.Parameters.default, seed).get }
    }
    // the times travel as epoch micros: a long holds every one of them
    val micros = StructType(inputSchema.fields.map(f =>
      if (f.dataType == TimestampType) f.copy(dataType = LongType) else f))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map(r => Row.fromSeq(r.toSeq(inputSchema).map(toScala)))), micros)
      .withColumn("t", timestamp_micros(col("t"))).cache()
    for (zone <- Seq("UTC", "America/Los_Angeles")) withZone(zone) {
      val got = df.select(columns(ValueFormat.render): _*).collect()
      val want = df.select(columns(Reference.render): _*).collect()
      assert(got.toSeq == want.toSeq, zone)
    }
    df.unpersist()
  }

  test("goRfc3339Micro and goNumber keep null as null") {
    val df = emptyInput.sparkSession.range(1).select(
      ValueFormat.goRfc3339Micro(lit(null).cast(TimestampType)).as("t"),
      ValueFormat.goNumber(lit(null).cast(DoubleType)).as("d"),
      ValueFormat.goRfc3339Micro(
        lit("1969-12-31T23:59:59.999990Z").cast(TimestampType)).as("p"))
    val r = df.collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1))
    assert(r.getString(2) == "1969-12-31T23:59:59.99999Z")
  }
}

object StagedStringSpec {

  val inputSchema: StructType = StructType(Seq(
    StructField("t", TimestampType), StructField("d", DoubleType),
    StructField("l", LongType), StructField("i", IntegerType),
    StructField("s", StringType)))

  private val fields = inputSchema.fields.toSeq.map(f =>
    Field(f.name, f.name, f.dataType))

  /** One staged column per input column, as `toStagedStrings` builds it. */
  def columns(render: (Column, Field) => Column): Seq[Column] =
    fields.map(f => render(col(f.dbName), f).as(f.dbName))

  private def toScala(v: Any): Any = v match {
    case s: UTF8String => s.toString
    case _ => v
  }

  /** The formulation the renderer replaced: `date_format` and
    * `regexp_replace` per timestamp, `regexp_replace` over a string cast
    * per double, `sanitize` around every rendering, and `coalesce` to the
    * empty string. */
  object Reference {
    def goRfc3339Micro(c: Column): Column = {
      val raw = date_format(c, "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      regexp_replace(regexp_replace(raw, "(\\.\\d*?)0+(Z|[+-])", "$1$2"),
        "\\.(Z|[+-])", "$1")
    }

    def goNumber(c: Column): Column =
      regexp_replace(c.cast(StringType), "\\.0$", "")

    def render(c0: Column, f: Field): Column = {
      val c = c0.cast(f.dataType)
      val sanitize = ValueFormat.sanitize _
      val out = f.dataType match {
        case TimestampType => sanitize(goRfc3339Micro(c))
        case DoubleType => sanitize(goNumber(c))
        case _ => sanitize(c.cast(StringType))
      }
      coalesce(out, lit(""))
    }
  }

  private val microsPerDay = 86400L * 1000000L

  /** Timestamps (epoch micros): ordinary times with 0-6 significant
    * fraction digits, pre-1970, the year 1 / year 9999 edges, years
    * outside 1..9999 up to the extremes of a long, local-mean-time
    * offsets of the 1800s, and the 2021 DST switches of Los Angeles. */
  val timeGen: Gen[Long] = {
    val y1 = -62135596800000000L // 0001-01-01T00:00:00Z
    val y10k = 253402300800000000L // 10000-01-01T00:00:00Z
    val dst = Seq(1615716000000000L, 1636275600000000L) // 2021-03-14/11-07 10:00/09:00Z
    def trimmed(base: Gen[Long]): Gen[Long] = for {
      b <- base
      zeros <- Gen.choose(0, 6)
    } yield {
      val p = math.pow(10, zeros).toLong
      Math.floorDiv(b, p) * p
    }
    Gen.frequency(
      6 -> trimmed(Gen.choose(-2208988800000000L, 4102444800000000L)), // 1900..2100
      2 -> trimmed(Gen.choose(-5364662400000000L, -2208988800000000L)), // 1800..1900
      2 -> trimmed(Gen.oneOf(dst).flatMap(t =>
        Gen.choose(t - 3 * 3600000000L, t + 3 * 3600000000L))),
      2 -> trimmed(Gen.oneOf(y1, y10k).flatMap(t =>
        Gen.choose(t - 2 * microsPerDay, t + 2 * microsPerDay))),
      1 -> Gen.choose(Long.MinValue, y1),
      1 -> Gen.choose(y10k, Long.MaxValue),
      1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, 0L, -1L, 1L, 999999L,
        -1000000L, 253402300799999999L))
  }

  /** Doubles: NaN, infinities, signed zeros, the 1e-3 / 1e7 switches of
    * `Double.toString`, 1e21, subnormals, extremes, whole and decimal
    * values, and arbitrary bit patterns. */
  val doubleGen: Gen[Double] = Gen.frequency(
    3 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, -0.0, 0.0, 1e21, -1e21, 1e20, 1e7, 9999999.0,
      1e-3, 9.99e-4, Double.MinPositiveValue, java.lang.Double.MIN_NORMAL / 3,
      Double.MaxValue, Double.MinValue, 42.0, 1.5),
    3 -> Gen.choose(-1e9, 1e9).map(_.floor),
    3 -> Gen.choose(-10000000L, 10000000L).map(_ / 100.0),
    3 -> Gen.choose(Long.MinValue, Long.MaxValue).map(java.lang.Double.longBitsToDouble))

  val longGen: Gen[Long] = Gen.frequency(
    1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, 0L, -1L, 10L),
    3 -> Gen.choose(Long.MinValue, Long.MaxValue), 3 -> Gen.choose(-1000L, 1000L))

  val intGen: Gen[Int] = Gen.frequency(
    1 -> Gen.oneOf(Int.MinValue, Int.MaxValue, 0, -1), 3 -> Gen.choose(Int.MinValue, Int.MaxValue))

  private def opt[T](g: Gen[T]): Gen[Any] =
    Gen.frequency(1 -> Gen.const(null), 9 -> g)

  val rowGen: Gen[InternalRow] = for {
    t <- opt(timeGen)
    d <- opt(doubleGen)
    l <- opt(longGen)
    i <- opt(intGen)
    s <- opt(SanitizeSpec.utf8Gen.map(UTF8String.fromBytes))
  } yield InternalRow(t, d, l, i, s)
}
