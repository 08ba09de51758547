package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft process gets its SparkSession: `local[cores]`
  * with as many shuffle partitions as cores, session time zone UTC,
  * parquet TIMESTAMP(NANOS) read as longs (the testdata's `events.ts`),
  * adaptive execution on, no UI, log level WARN. */
object GraftSession {

  /** Cores of the local master: `SPARK_GRAFT_CPUS`, default 4. */
  def cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The session for `appName`; like `getOrCreate`, an active session is
    * reused, with these settings applied to it. */
  def create(appName: String): SparkSession = {
    val cores = this.cores
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
