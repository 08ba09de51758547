package graft

import java.nio.file.Files
import java.time.Instant

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions._

import graft.schema.ExportSchema
import graft.sources.{DecoderSpec, ExportDataSource}
import graft.transform.{ExportTransform, ValueFormat}

/** The staging task's two per-row kernels against the formulations they
  * replaced, on the same input:
  * `Test/runMain graft.StageKernelBench [records]`.
  *
  *   - decode: one gzipped bundle of `records` export records (default
  *     3300, a daily bundle of the benchmark's pipeline), all 67 columns,
  *     read with the streaming decoder and with the tree decoder, without
  *     Spark; 5 warm repetitions of 5 reads each, median ms per bundle;
  *   - render: the decoded rows (50 copies, cached) staged as one `noop`
  *     write, by the native renderer and by the replaced Column chain,
  *     next to a pass-through of the same columns (the scan and write cost
  *     both share); 5 warm repetitions, medians. Printed with each: the
  *     largest generated method of the same projection over a bundle
  *     scan, as the staging job runs it.
  */
object StageKernelBench {

  def main(args: Array[String]): Unit = {
    val records = args.headOption.map(_.toInt).getOrElse(3300)
    val dir = Files.createTempDirectory("stage-kernel-bench")
    val file = dir.resolve("bundle.json.gz")
    val gz = new java.util.zip.GZIPOutputStream(Files.newOutputStream(file))
    gz.write(bundle(records).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    gz.close()
    println(s"bundle: $records records, ${Files.size(file)} bytes gzipped")

    val conf = new Configuration()
    val schema = ExportDataSource.schema
    def read(open: () => org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow]): Int = {
      val r = open()
      var n = 0
      try while (r.next()) { r.get(); n += 1 } finally r.close()
      n
    }
    val decoders = Seq(
      "tree decoder" -> (() => DecoderSpec.treeReader(file.toString, schema, conf)),
      "streaming decoder" ->
        (() => DecoderSpec.streamingReader(file.toString, schema, conf)))
    decoders.foreach { case (_, open) => (1 to 10).foreach(_ => read(open)) }
    println("decode (ms per bundle):")
    decoders.foreach { case (name, open) =>
      val ms = Seq.fill(5) {
        val t0 = System.nanoTime()
        (1 to 5).foreach(_ => assert(read(open) == records))
        (System.nanoTime() - t0) / 5e6
      }.sorted
      println(f"  $name%-22s median ${ms(2)}%.1f (min ${ms.head}%.1f, max ${ms.last}%.1f)")
    }

    val spark = GraftSession.create("stage-kernel-bench")
    val one = spark.read.format("graft-export").load(file.toString)
    val df = (1 until 50).foldLeft(one)((a, _) => a.union(one))
      .repartition(spark.sparkContext.defaultParallelism).cache()
    println(s"render: ${df.count()} rows")
    val fields = ExportSchema.canonical(includeMobile = false)
    def staged(in: DataFrame,
               render: (Column, graft.schema.Field) => Column): DataFrame =
      in.select(fields.map(f =>
        if (f.sourceName == "CustomVars") col(f.sourceName)
        else render(col(f.sourceName), f).as(f.dbName)): _*)
    val forms = Seq(
      "pass-through" -> ((c: Column, _: graft.schema.Field) => c),
      "Column chain" -> StagedStringSpec.Reference.render _,
      "native renderer" -> ValueFormat.render _)
    def time(out: DataFrame): Double = {
      val t0 = System.nanoTime()
      out.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e6
    }
    forms.foreach { case (_, r) => time(staged(df, r)); time(staged(df, r)) }
    forms.foreach { case (name, r) =>
      val ms = Seq.fill(5)(time(staged(df, r))).sorted
      println(f"  $name%-22s median ${ms(2)}%.0f ms (min ${ms.head}%.0f, " +
        f"max ${ms.last}%.0f); over a bundle scan, largest generated " +
        f"method ${largestMethod(staged(one, r))}")
    }
    println("toStagedStrings over a bundle scan, largest generated method: " +
      largestMethod(ExportTransform.toStagedStrings(one, fields)))
    df.unpersist()
    spark.stop()
  }

  /** The bytecode size of the largest method `df`'s plan generates. */
  def largestMethod(df: DataFrame): String =
    codegenStringSeq(df.queryExecution.executedPlan).map(_._3.maxMethodCodeSize)
      .maxOption.fold("(no generated code)")(b => s"$b B")

  /** `n` records shaped like the benchmark's export: every base field,
    * four times, a double, strings with `\n`/`\r`/NUL, four custom vars. */
  def bundle(n: Int): String = {
    val base = Instant.parse("2024-03-01T00:00:00Z").getEpochSecond * 1000000L
    val sb = new StringBuilder("[")
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n").replace("\r", "\\r").replace("\u0000", "\\u0000") + "\""
    def time(us: Long) = q(Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
      Math.floorMod(us, 1000000L) * 1000L).toString)
    for (i <- 0 until n) {
      val ts = base + i * 26143217L
      if (i > 0) sb.append(',')
      val cells = ExportSchema.baseFields.filterNot(_.sourceName == "CustomVars")
        .zipWithIndex.map { case (f, k) =>
          val v = f.dataType match {
            case org.apache.spark.sql.types.TimestampType => time(ts - k * 1000003L)
            case org.apache.spark.sql.types.DoubleType =>
              (if (i % 4 == 0) (i % 50).toDouble else i / 100.0).toString
            case org.apache.spark.sql.types.LongType |
                 org.apache.spark.sql.types.IntegerType => (i * 31L + k).toString
            case _ => q(if (k % 7 == 0) s"Buy\nnow\r$i\u0000!" else s"${f.dbName} $i")
          }
          q(f.sourceName) + ":" + v
        }
      sb.append('{').append(cells.mkString(","))
        .append(s""","evt_k":$i,"user_plan":"pro","evt_amount_real":${i / 100.0},""")
        .append(""""page_section":"cart"}""")
    }
    sb.append(']').toString
  }
}
