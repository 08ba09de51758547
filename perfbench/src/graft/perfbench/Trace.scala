package graft.perfbench

import java.time.Instant

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import graft.schema.Field
import graft.sinks.{Storage, Warehouse}
import graft.sources.DataExportSource

/** One traced interval: a call into a layer, or a whole operation (a bundle
  * or a query) when `parent` is -1. Spans of one operation share `trace`. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                      parent: Int, trace: String) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder of the calling thread. Spans stay in memory and are
  * written out when the run ends. The open span and the trace id travel to
  * Spark as local properties, so every job knows which call submitted it. */
final class Tracer {
  val spans = mutable.ArrayBuffer[Span]()
  var enabled = false
  var sc: SparkContext = _
  private var stack = List.empty[Int]
  private var nextId = 0
  private var trace = ""

  /** Wall-clock epoch ms to span time (ns). */
  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  def fromEpochMs(ms: Long): Long = ms * 1000000L - epochOffsetNs

  private def setProps(): Unit = if (sc != null) {
    sc.setLocalProperty(Tracer.TraceProp, if (enabled) trace else null)
    sc.setLocalProperty(Tracer.SpanProp,
      if (enabled) stack.headOption.map(_.toString).orNull else null)
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      setProps()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        setProps()
        spans += Span(id, name, t0, t1, parent, trace)
      }
    }

  /** A root span: one operation of the workload. */
  def root[A](name: String, traceId: String)(body: => A): A = {
    trace = traceId
    try span(name)(body) finally { trace = ""; setProps() }
  }

  def write(path: java.nio.file.Path, jobs: JobListener): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      spans.foreach { s =>
        w.write(s"""{"kind":"span","id":${s.id},"name":"${s.name}",""" +
          s""""start_ns":${s.startNs},"end_ns":${s.endNs},""" +
          s""""parent":${s.parent},"trace":"${s.trace}"}""")
        w.newLine()
      }
      jobs.execList.foreach { e =>
        val desc = e.desc.replace("\\", "\\\\").replace("\"", "\\\"")
        w.write(s"""{"kind":"sql","id":${e.id},"name":"$desc",""" +
          s""""start_ns":${fromEpochMs(e.startMs)},""" +
          s""""end_ns":${fromEpochMs(e.endMs)},"parent":${e.span},""" +
          s""""trace":"${e.trace}","jobs":${e.jobs},"tasks":${e.tasks}}""")
        w.newLine()
      }
    } finally w.close()
  }
}

object Tracer {
  val TraceProp = "perfbench.trace"
  val SpanProp = "perfbench.span"
}

/** Per-job task metrics, attributed to the SQL execution that ran the job
  * (its description is the call site of the action, e.g. `csv at
  * CsvStage.scala:35`) and to the trace and span that submitted it. A job's
  * own stage name is not used: under AQE it names a thread-pool frame. */
final class JobListener extends SparkListener {

  final class Job(val trace: String, val span: Int, val exec: Long) {
    var tasks = 0
    var cpuNs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var outBytes = 0L
  }

  final class Exec(val id: Long, val desc: String, val startMs: Long) {
    var endMs: Long = startMs
    var trace = ""
    var span = -1
    var jobs = 0
    var tasks = 0
    var outBytes = 0L
    def ms: Double = (endMs - startMs).toDouble
  }

  private val jobs = mutable.HashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val execs = mutable.LinkedHashMap[Long, Exec]()

  private def prop(e: SparkListenerJobStart, k: String): Option[String] =
    Option(e.properties).flatMap(p => Option(p.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = prop(e, "spark.sql.execution.root.id")
      .orElse(prop(e, "spark.sql.execution.id")).map(_.toLong).getOrElse(-1L)
    val j = new Job(prop(e, Tracer.TraceProp).getOrElse(""),
      prop(e, Tracer.SpanProp).map(_.toInt).getOrElse(-1), exec)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = e.jobId)
    execs.get(exec).foreach { x =>
      if (x.jobs == 0) { x.trace = j.trace; x.span = j.span }
      x.jobs += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)
         if e.taskMetrics != null) {
      val m = e.taskMetrics
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.outBytes += m.outputMetrics.bytesWritten
      execs.get(j.exec).foreach { x =>
        x.tasks += 1
        x.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart
          if s.rootExecutionId.forall(_ == s.executionId) =>
        execs(s.executionId) = new Exec(s.executionId, s.description, s.time)
      case s: SparkListenerSQLExecutionEnd =>
        execs.get(s.executionId).foreach(_.endMs = s.time)
      case _ =>
    }
  }

  def jobsOf(trace: String): Seq[Job] = synchronized {
    jobs.values.filter(_.trace == trace).toSeq
  }

  def execsOf(trace: String): Seq[Exec] = synchronized {
    execs.values.filter(x => x.jobs > 0 && x.trace == trace).toSeq
  }

  def execList: Seq[Exec] = synchronized { execs.values.filter(_.jobs > 0).toSeq }
}

/** The layers `ExportService` is built from, wrapped so each call records a
  * span. The wrappers only time and forward. */
final class TracedSource(in: DataExportSource, t: Tracer)
    extends DataExportSource {
  override def createExport(start: Instant, end: Instant,
                            fields: Seq[String]): String =
    t.span("sources.create")(in.createExport(start, end, fields))
  override def getExportProgress(op: String): (Int, Option[String]) =
    t.span("sources.poll")(in.getExportProgress(op))
  override def getExport(id: String): DataFrame =
    t.span("sources.fetch")(in.getExport(id))
}

final class TracedStorage(in: Storage, t: Tracer) extends Storage {
  override def saveContent(name: String, content: String): String =
    t.span("storage.save")(in.saveContent(name, content))
  override def readContent(name: String): Option[String] =
    t.span("storage.read")(in.readContent(name))
  override def deleteFile(name: String): Unit =
    t.span("storage.delete")(in.deleteFile(name))
  override def exists(name: String): Boolean =
    t.span("storage.exists")(in.exists(name))
  override def getFileReference(name: String): String =
    t.span("storage.ref")(in.getFileReference(name))
}

/** Also counts the files and bytes each write leaves under the table
  * directory, by listing it before and after the call. */
final class TracedWarehouse(in: Warehouse, t: Tracer, tableDir: String)
    extends Warehouse {
  var filesWritten = 0L
  var bytesWritten = 0L

  private def tree(): (Long, Long) = {
    val root = java.nio.file.Paths.get(tableDir)
    if (!java.nio.file.Files.exists(root)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(root)
      try {
        var n = 0L; var b = 0L
        s.forEach { p =>
          if (java.nio.file.Files.isRegularFile(p)) {
            n += 1; b += java.nio.file.Files.size(p)
          }
        }
        (n, b)
      } finally s.close()
    }
  }

  private def writing[A](name: String)(body: => A): A =
    if (!t.enabled) body
    else {
      val (n0, b0) = tree()
      val r = t.span(name)(body)
      val (n1, b1) = tree()
      filesWritten += n1 - n0
      bytesWritten += b1 - b0
      r
    }

  override def initExportTable(schema: Seq[Field]): Boolean =
    t.span("warehouse.init_table")(in.initExportTable(schema))
  override def getExportTableColumns(): Seq[String] =
    t.span("warehouse.columns")(in.getExportTableColumns())
  override def applyExportSchema(schema: Seq[Field]): Unit =
    t.span("warehouse.apply_schema")(in.applyExportSchema(schema))
  override def loadToWarehouse(csvRef: String, bundleStart: Instant,
                               truncateDay: Boolean): Unit =
    writing("warehouse.load")(
      in.loadToWarehouse(csvRef, bundleStart, truncateDay))
  override def lastSyncPoint(): Option[Instant] =
    t.span("warehouse.last_sync")(in.lastSyncPoint())
  override def saveSyncPoint(bundleEnd: Instant): Unit =
    writing("warehouse.save_sync")(in.saveSyncPoint(bundleEnd))
  override def removeOrphanedRecords(syncPoint: Instant): Unit =
    t.span("warehouse.remove_orphans")(in.removeOrphanedRecords(syncPoint))
}
