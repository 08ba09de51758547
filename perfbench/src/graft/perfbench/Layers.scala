package graft.perfbench

/** Per-layer metrics of the traced run. Every workload prints the whole
  * catalog; a layer the workload does not exercise reads 0. */
object Layers {

  val HotQueries: Seq[String] = Seq("q304_weighted_neardup", "q248_hits",
    "q303_curation_ablation")

  /** (name, unit) of every per-layer metric, in print order. Per-bundle
    * times are the median bundle; `_total` is the sum over traced
    * bundles. */
  val catalog: Seq[(String, String)] = {
    def timed(n: String) = Seq(n -> "ms", s"${n}_total" -> "ms")
    timed("sources.create_ms") ++ timed("sources.poll_ms") ++
      Seq("sources.polls" -> "count") ++ timed("sources.fetch_ms") ++
      Seq("sources.bytes" -> "bytes") ++ timed("sources.stub_ms") ++
      timed("sources.decode_job_ms") ++
      timed("service.self_ms") ++
      Seq("service.jobs" -> "count", "service.tasks" -> "count",
        "service.cpu_util" -> "ratio") ++
      timed("stage.write_job_ms") ++
      Seq("stage.write_tasks" -> "count", "stage.bytes" -> "bytes") ++
      timed("warehouse.load_ms") ++ timed("warehouse.last_sync_ms") ++
      timed("warehouse.save_sync_ms") ++
      Seq("warehouse.init_ms" -> "ms", "warehouse.recover_ms" -> "ms",
        "warehouse.files_written" -> "count",
        "warehouse.bytes_written" -> "bytes",
        "warehouse.last_sync_growth" -> "ratio",
        "storage.ops" -> "count", "storage.ms" -> "ms",
        "spark.gc_ms" -> "ms", "spark.shuffle_bytes" -> "bytes",
        "spark.spill_bytes" -> "bytes", "jvm.peak_rss_mb" -> "MB") ++
      HotQueries.flatMap(q => Seq("ms" -> "ms", "jobs" -> "count",
        "tasks" -> "count", "cpu_ms" -> "ms", "shuffle_bytes" -> "bytes",
        "spill_bytes" -> "bytes", "gc_ms" -> "ms")
        .map { case (k, u) => s"query.$q.$k" -> u }) ++
      Seq("trace.overhead" -> "ratio")
  }

  /** The catalog filled from `measured`, plus the JVM's peak RSS so far
    * (`VmHWM`): a per-layer metric because the collector's heap sizing
    * moves it by up to a quarter between runs of the same code. */
  def complete(measured: Seq[(String, Double)]): Seq[Metric] = {
    val m = measured.toMap + ("jvm.peak_rss_mb" -> Stats.peakRssMb())
    require(m.keySet.subsetOf(catalog.map(_._1).toSet),
      s"uncatalogued: ${m.keySet -- catalog.map(_._1)}")
    catalog.map { case (n, u) => Metric(n, m.getOrElse(n, 0.0), u) }
  }

  private def med(xs: Iterable[Double]) = Stats.median(xs.toSeq)

  /** Layer metrics of the traced bundles of a pipeline run. */
  def pipeline(runs: Seq[BundleRun], t: Tracer, jl: JobListener,
               initMs: Double, recoverMs: Double, stubMs: Double,
               stubBytes: Long, gcMs: Double, cores: Int,
               warehouse: Option[TracedWarehouse]): Seq[(String, Double)] = {
    val traced = runs.filter(_.traced)
    val plain = runs.filterNot(_.traced)
    val spans = t.spans.groupBy(_.trace)
    final case class B(ms: Double, children: Map[String, Seq[Span]],
                       jobs: Seq[jl.Job], execs: Seq[jl.Exec], rootId: Int)
    val bs: Seq[B] = traced.map { r =>
      val ss = spans.getOrElse(r.trace, Seq.empty).toSeq
      val root = ss.find(_.parent == -1).get
      B(root.ms, ss.filter(_.parent == root.id).groupBy(_.name),
        jl.jobsOf(r.trace), jl.execsOf(r.trace), root.id)
    }
    def spanMs(b: B, name: String) =
      b.children.getOrElse(name, Nil).map(_.ms).sum
    def timed(key: String, f: B => Double) = {
      val xs = bs.map(f)
      Seq(key -> med(xs), s"${key}_total" -> xs.sum)
    }
    def execMs(b: B, prefix: String) =
      b.execs.filter(_.desc.startsWith(prefix)).map(_.ms).sum
    val WriteExec = "csv at CsvStage"
    val CountExec = "count at ExportService"
    val selfMs = (b: B) => b.ms - b.children.values.flatten.map(_.ms).sum -
      b.execs.filter(_.span == b.rootId).map(_.ms).sum
    val tracedMs = bs.map(_.ms).sum
    val cpuNs = bs.flatMap(_.jobs).map(_.cpuNs).sum
    val lastSync = bs.map(b => spanMs(b, "warehouse.last_sync"))
    val tenth = math.max(1, lastSync.size / 10)
    val n = math.max(1, bs.size).toDouble
    timed("sources.create_ms", spanMs(_, "sources.create")) ++
      timed("sources.poll_ms", spanMs(_, "sources.poll")) ++
      Seq("sources.polls" ->
        med(bs.map(_.children.getOrElse("sources.poll", Nil).size.toDouble))) ++
      timed("sources.fetch_ms", spanMs(_, "sources.fetch")) ++
      Seq("sources.bytes" -> stubBytes.toDouble / math.max(1, runs.size),
        "sources.stub_ms" -> stubMs / math.max(1, runs.size),
        "sources.stub_ms_total" -> stubMs) ++
      timed("sources.decode_job_ms", execMs(_, CountExec)) ++
      timed("service.self_ms", selfMs) ++
      Seq("service.jobs" -> med(bs.map(_.jobs.size.toDouble)),
        "service.tasks" -> med(bs.map(_.jobs.map(_.tasks).sum.toDouble)),
        "service.cpu_util" -> cpuNs / 1e6 / (tracedMs * cores)) ++
      timed("stage.write_job_ms", execMs(_, WriteExec)) ++
      Seq("stage.write_tasks" -> med(bs.map(b => b.execs
          .filter(_.desc.startsWith(WriteExec)).map(_.tasks).sum.toDouble)),
        "stage.bytes" -> med(bs.map(b => b.execs
          .filter(_.desc.startsWith(WriteExec)).map(_.outBytes).sum
          .toDouble))) ++
      timed("warehouse.load_ms", spanMs(_, "warehouse.load")) ++
      timed("warehouse.last_sync_ms", spanMs(_, "warehouse.last_sync")) ++
      timed("warehouse.save_sync_ms", spanMs(_, "warehouse.save_sync")) ++
      Seq("warehouse.init_ms" -> initMs, "warehouse.recover_ms" -> recoverMs,
        "warehouse.files_written" ->
          warehouse.map(_.filesWritten / n).getOrElse(0.0),
        "warehouse.bytes_written" ->
          warehouse.map(_.bytesWritten / n).getOrElse(0.0),
        "warehouse.last_sync_growth" ->
          Stats.mean(lastSync.takeRight(tenth)) /
            math.max(1e-9, Stats.mean(lastSync.take(tenth))),
        "storage.ops" -> med(bs.map(_.children
          .filter(_._1.startsWith("storage.")).values.map(_.size).sum
          .toDouble)),
        "storage.ms" -> med(bs.map(_.children
          .filter(_._1.startsWith("storage.")).values.flatten.map(_.ms).sum)),
        "spark.gc_ms" -> gcMs,
        "spark.shuffle_bytes" -> bs.flatMap(_.jobs).map(_.shuffleBytes).sum
          .toDouble,
        "spark.spill_bytes" -> bs.flatMap(_.jobs).map(_.spillBytes).sum
          .toDouble,
        "trace.overhead" ->
          med(traced.map(_.ms)) / math.max(1e-9, med(plain.map(_.ms))))
  }
}
