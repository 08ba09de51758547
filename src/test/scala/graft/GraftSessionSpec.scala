package graft

/** The settings every graft session shares, whichever entry point asked
  * for it (the mains used to disagree on cores, time zone and confs). */
class GraftSessionSpec extends SparkSpec {

  test("GraftSession: UTC, nanos-as-long parquet, shuffle partitions " +
    "equal to the local cores, adaptive execution") {
    val s = GraftSession.create("graft-session-spec")
    assert(s eq spark, "an active session is reused, not replaced")
    val conf = s.conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.sql.shuffle.partitions").toInt ==
      GraftSession.cores)
    assert(s.sparkContext.master == s"local[${GraftSession.cores}]")
    assert(s.sparkContext.defaultParallelism == GraftSession.cores)
  }
}
