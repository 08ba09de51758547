package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark JVM (launched by perfbench/run.py):
  *
  *   --workload pipeline_daily|queries_hot|selftest|pin
  *   --seed N --seconds S --trace 0|1 --root DIR --data DIR
  *   [--spans FILE] [--out DIR]
  *
  * Prints progress to stderr and, as the last stdout line, the result JSON.
  */
object Bench {

  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  final case class Opts(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, root: Path, data: String,
                        spans: Option[Path], out: Option[Path])

  def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  /** The session every workload runs on: `graft.Main`'s settings, with
    * every scratch directory inside the run's root. */
  def session(o: Opts): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir",
        o.root.resolve("spark-warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", o.root.resolve("tmp").toString)
      .getOrCreate()
  }

  /** The end-to-end metrics every workload prints. */
  def endToEnd(rowsPerS: Double, opMs: Seq[Double],
               setupS: Double): Seq[Metric] = Seq(
    Metric("rows_per_s", rowsPerS, "1/s"),
    Metric("op_ms_p50", Stats.median(opMs), "ms"),
    Metric("setup_s", setupS, "s"))

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case a => throw new IllegalArgumentException(
        s"bad argument ${a.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("root")), need("data"),
      kv.get("spans").map(Paths.get(_)), kv.get("out").map(Paths.get(_)))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.root)
    val out = o.workload match {
      case "pipeline_daily" => new PipelineRun(PipelineSpec.Daily, o).run()
      case "queries_hot" => new QueriesRun(o).run()
      case "selftest" => SelfTest.run(o)
      case "pin" => Queries.pin(o)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    println(out.json)
  }
}
