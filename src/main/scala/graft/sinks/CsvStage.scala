package graft.sinks

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame

/** Bundle staging writers (reference: K1 CSV `internal/service.go:174-215`,
  * K2 JSON passthrough `internal/service.go:328-335`).
  *
  * The reference stages exactly one object per bundle, named by the bundle
  * start epoch (`internal/service.go:330,337`). For parity the writer
  * coalesces to one part and renames it.
  */
object CsvStage {

  /** The Hadoop committer option that writes a `_SUCCESS` marker. The
    * bundle writes set it to false: nothing reads their markers, and each
    * costs file-permission calls that, without native Hadoop, launch
    * processes. */
  val MarkSuccess = "mapreduce.fileoutputcommitter.marksuccessfuljobs"

  private def hadoopFs(p: Path, conf: Configuration): FileSystem =
    p.getFileSystem(conf)

  /** Write `df` (already staged strings, live column order) as one CSV
    * object with a header row and RFC4180 quoting (quote doubling, not
    * backslash escapes — Go's encoding/csv convention). Returns the file
    * reference. */
  def writeBundleCsv(df: DataFrame, storage: Storage, name: String): String = {
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val tmp = storage.getFileReference(s"_tmp_$name")
    df.coalesce(1).write
      .option("header", "true")
      .option("escape", "\"")     // RFC4180: "" not \"
      .option("emptyValue", "")   // absent fields -> empty cell, not ""
      // values verbatim, as Go's encoding/csv writes them (Spark's writer
      // trims both edges by default)
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .option(MarkSuccess, "false")
      .mode("overwrite")
      .csv(tmp)
    val tmpPath = new Path(tmp)
    val fs = hadoopFs(tmpPath, conf)
    val part = fs.listStatus(tmpPath)
      .map(_.getPath).find(_.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(s"no part file in $tmp"))
    val dest = new Path(storage.getFileReference(name))
    fs.delete(dest, false)
    // the destination is already gone: a failed rename must fail the
    // bundle here, not surface as a missing file at load
    if (!fs.rename(part, dest))
      throw new java.io.IOException(s"could not rename $part to $dest")
    fs.delete(tmpPath, true)
    dest.toString
  }

  /** JSON passthrough (SaveAsJson mode): the raw export saved as one JSON
    * array object, bypassing the CSV transform
    * (reference: internal/service.go:328-335; storage-only constraint
    * enforced by config, config/config.go:247-249). `records` holds one
    * JSON object per row in its one string column.
    *
    * The records are written DISTRIBUTED as text parts; the single-array
    * framing is a driver-side streaming concatenation of the part files —
    * O(one line) driver memory, never a collect. */
  def writeBundleJson(records: DataFrame, storage: Storage,
                      name: String): String = {
    val spark = records.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val tmp = storage.getFileReference(s"_tmp_$name")
    records.write.mode("overwrite").text(tmp)
    val tmpPath = new Path(tmp)
    val fs = hadoopFs(tmpPath, conf)
    // part order = partition order: the writer names parts by partition id
    val parts = fs.listStatus(tmpPath).map(_.getPath)
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val dest = new Path(storage.getFileReference(name))
    fs.delete(dest, false)
    val out = fs.create(dest, true)
    try {
      out.write('[')
      var first = true
      parts.foreach { p =>
        val in = new java.io.BufferedReader(new java.io.InputStreamReader(
          fs.open(p), java.nio.charset.StandardCharsets.UTF_8))
        try {
          var line = in.readLine()
          while (line != null) {
            if (!first) out.write(',')
            out.write(line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            first = false
            line = in.readLine()
          }
        } finally in.close()
      }
      out.write(']')
    } finally out.close()
    fs.delete(tmpPath, true)
    dest.toString
  }
}
