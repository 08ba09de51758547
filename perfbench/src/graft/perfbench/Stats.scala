package graft.perfbench

/** Order statistics and the result line. */
object Stats {

  /** Linear-interpolated quantile, q in [0, 1]; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def peakRssMb(): Double = {
    val status = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("/proc/self/status"))
    val kb = status.toArray(Array.empty[String])
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble).getOrElse(0.0)
    kb / 1024.0
  }

  private val procStat = java.nio.file.Paths.get("/proc/stat")
  private val machineCpus = java.nio.file.Files.readAllLines(procStat)
    .toArray(Array.empty[String]).count(_.matches("cpu[0-9]+ .*"))

  /** CPU time the hypervisor gave to other guests while this machine's
    * CPUs were runnable, summed over CPUs, in seconds (`steal` in
    * /proc/stat, counted in 1/100 s). */
  def stealS(): Double =
    java.nio.file.Files.readAllLines(procStat).get(0).trim.split("\\s+")(8)
      .toDouble / 100.0

  /** Stolen CPU time as a share of all CPU time of a `wallS` interval. */
  def stealShare(stolenS: Double, wallS: Double): Double =
    stolenS / math.max(1e-9, wallS * machineCpus)

  /** An operation during which the hypervisor stole more than this share
    * of the machine's CPU time is disturbed: on a quiet host the share
    * stays below 1.5 %, and at 9 % a query pass took 55 % longer. */
  val StealLimit = 0.02

  /** The operations the end-to-end metrics use: the undisturbed ones, or
    * all of them when fewer than two are. Disturbed operations are left
    * out, never rescaled. */
  def undisturbed[A](ops: Seq[A])(steal: A => Double): Seq[A] = {
    val kept = ops.filter(steal(_) <= StealLimit)
    if (kept.size >= 2) kept else ops
  }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }
}

/** One metric of the result line. */
final case class Metric(name: String, value: Double, unit: String)

/** The benchmark's outcome: the last line of stdout is [[json]]. */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
                         metrics: Seq[Metric]) {
  def json: String = {
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "0" else BigDecimal(d).toString
    val ms = metrics.map(m =>
      s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}
