package graft.sinks

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, FileSystem, Options, Path}

/** Object-storage abstraction, mirroring the reference's `Storage`
  * interface (reference: warehouse/warehouse.go:28-41). One Hadoop-FS
  * implementation covers local disk, `s3a://` and `gs://` URIs — the
  * scheme-specific connectors the reference hand-writes
  * (warehouse/localdisk.go, warehouse/s3.go, warehouse/gcs.go) are free
  * through the Hadoop filesystem layer.
  */
trait Storage {
  def saveContent(name: String, content: String): String
  def readContent(name: String): Option[String]
  def deleteFile(name: String): Unit
  def exists(name: String): Boolean
  /** Fully-qualified reference for warehouse load statements
    * (reference: warehouse/s3.go:102-109 `s3://bucket/key`). */
  def getFileReference(name: String): String
}

class HadoopStorage(baseUri: String,
                    hadoopConf: Configuration = new Configuration())
    extends Storage {

  private def pathOf(name: String) = new Path(s"$baseUri/$name")
  private def fs(p: Path): FileSystem = p.getFileSystem(hadoopConf)

  /** Writes a temp object and renames it over `name`, so a reader sees
    * the old content or the new, never a partial object or none. Local
    * files skip the checksum layer, whose rename takes two steps. */
  override def saveContent(name: String, content: String): String = {
    val p = pathOf(name)
    val (f, crc) = fs(p) match {
      case c: ChecksumFileSystem => (c.getRawFileSystem, Some(c.getChecksumFile(p)))
      case other => (other, None)
    }
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    try {
      val out = f.create(tmp, true)
      try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
      crc.foreach(f.delete(_, false))
      // rename(2) replaces atomically; HDFS refuses an existing target
      if (!f.rename(tmp, p)) FileContext.getFileContext(f.getUri, hadoopConf)
        .rename(tmp, p, Options.Rename.OVERWRITE)
    } finally f.delete(tmp, false)
    getFileReference(name)
  }

  override def readContent(name: String): Option[String] = {
    val p = pathOf(name)
    val f = fs(p)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try {
        val bytes = org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
        Some(new String(bytes, StandardCharsets.UTF_8))
      } finally in.close()
    }
  }

  override def deleteFile(name: String): Unit = {
    val p = pathOf(name)
    fs(p).delete(p, false)
    ()
  }

  override def exists(name: String): Boolean = {
    val p = pathOf(name)
    fs(p).exists(p)
  }

  override def getFileReference(name: String): String = pathOf(name).toString
}

/** Bounds every storage I/O with the configured timeout — the reference
  * wraps its S3 save/read/delete in `context.WithTimeout` from the
  * `[s3] Timeout` config key (warehouse/s3.go:38-80; example-config
  * `Timeout = "5m"`). A hung object-store call fails the bundle with an
  * IOException after the bound instead of stalling the sync loop forever;
  * the service loop's backoff/retry path then takes over.
  * `getFileReference` is pure string work and stays unbounded. */
class TimeoutStorage(inner: Storage, timeout: java.time.Duration)
    extends Storage {

  private def bounded[A](op: String, name: String)(body: => A): A = {
    val task = new java.util.concurrent.FutureTask[A](() => body)
    val t = new Thread(task, s"graft-storage-$op")
    t.setDaemon(true)
    t.start()
    try task.get(timeout.toNanos, java.util.concurrent.TimeUnit.NANOSECONDS)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        task.cancel(true)
        throw new java.io.IOException(
          s"storage $op of $name timed out after $timeout")
      case e: java.util.concurrent.ExecutionException =>
        throw e.getCause
    }
  }

  override def saveContent(name: String, content: String): String =
    bounded("save", name)(inner.saveContent(name, content))
  override def readContent(name: String): Option[String] =
    bounded("read", name)(inner.readContent(name))
  override def deleteFile(name: String): Unit =
    bounded("delete", name)(inner.deleteFile(name))
  override def exists(name: String): Boolean =
    bounded("exists", name)(inner.exists(name))
  override def getFileReference(name: String): String =
    inner.getFileReference(name)
}

/** Storage-mode sync point: one RFC3339 timestamp in a well-known file
  * (reference: warehouse/warehouse.go:16,80-107 `.sync.hauser`). */
object StorageSyncPoint {
  val SyncFileName = ".sync.graft"

  def read(storage: Storage): Option[java.time.Instant] =
    storage.readContent(SyncFileName).map(s => java.time.Instant.parse(s.trim))

  def write(storage: Storage, t: java.time.Instant): Unit = {
    storage.saveContent(SyncFileName, t.toString)
    ()
  }
}
