package graft.sinks

import java.time.{Instant, ZoneOffset}

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.schema.{ExportSchema, Field}

/** Warehouse-database abstraction, mirroring the reference's `Database`
  * interface (reference: warehouse/warehouse.go:43-52): export-table DDL +
  * schema evolution, the bundle load, the committed sync point, and
  * crash-recovery healing.
  *
  * A bundle reaches the table through [[loadRows]]. Its default stages
  * the rows as one CSV object, bulk-loads that with [[loadToWarehouse]]
  * and deletes it; [[JdbcWarehouse]] loads this way. A warehouse that
  * Spark writes itself ([[ParquetWarehouse]]) overrides it and writes the
  * rows straight into the table: one Spark job per bundle, with no object
  * staged.
  */
trait Warehouse {
  /** Create the export table if missing; true if created
    * (reference: redshift.go:195-212, bigquery.go:196-234). */
  def initExportTable(schema: Seq[Field]): Boolean
  /** Live ordered column list (reference: redshift.go:370-394 reads
    * information_schema ordered by ordinal_position). */
  def getExportTableColumns(): Seq[String]
  /** Append-only schema evolution (ALTER TABLE ADD COLUMN analog,
    * reference: redshift.go:214-238, bigquery.go:236-263). */
  def applyExportSchema(schema: Seq[Field]): Unit
  /** Bulk-load one staged CSV bundle. `truncateDay` reproduces BigQuery's
    * WriteTruncate for the first bundle of a day
    * (reference: bigquery.go:130-161). */
  def loadToWarehouse(csvRef: String, bundleStart: Instant,
                      truncateDay: Boolean): Unit
  /** Load one bundle's staged rows (`rows`: staged strings, live column
    * order). The default is stage-then-load: `rows` staged as the CSV
    * object `name` in `storage`, bulk-loaded by [[loadToWarehouse]], then
    * deleted (K9). `truncateDay` as for [[loadToWarehouse]]. */
  def loadRows(rows: DataFrame, storage: Storage, name: String,
               bundleStart: Instant, truncateDay: Boolean): Unit = {
    val ref = CsvStage.writeBundleCsv(rows, storage, name)
    loadToWarehouse(ref, bundleStart, truncateDay)
    storage.deleteFile(name)
  }
  /** Committed sync point (reference: redshift.go:266-328, bigquery.go:59-128). */
  def lastSyncPoint(): Option[Instant]
  def saveSyncPoint(bundleEnd: Instant): Unit
  /** Exactly-once healing: remove rows loaded at or after the last
    * committed sync point (reference: redshift.go:330-354 DELETE;
    * bigquery.go:82-104 day-rewind + partition truncate). Windows are
    * `[start, end)`, so a row AT the sync point belongs to the uncommitted
    * window; the reference's `EventStart > sync` would keep it and load it
    * twice on retry. */
  def removeOrphanedRecords(syncPoint: Instant): Unit
}

/** Day-partitioned parquet warehouse — the Spark-native analog of the
  * BigQuery date-partitioned export table (reference: bigquery.go:142-151,
  * 213-226). Spark writes it directly, so a bundle's rows go into their
  * day partition in one write, where BigQuery runs a load job over a
  * staged object. The first bundle of a day replaces the day partition
  * (BigQuery's WriteTruncate); later bundles append, and the sync point
  * with orphan healing keeps them exactly-once.
  *
  * Live column order is tracked in a `_columns.json` metadata object
  * (the information_schema analog); data files never rewrite on schema
  * append — readers null-fill missing trailing columns, exactly hauser's
  * append-only evolution.
  */
class ParquetWarehouse(spark: SparkSession, tablePath: String)
    extends Warehouse {

  private val storage: Storage =
    new HadoopStorage(tablePath, spark.sparkContext.hadoopConfiguration)
  private val ColumnsMeta = "_columns.json"
  private val dataPath = s"$tablePath/data"

  private def dayOf(t: Instant): String =
    t.atOffset(ZoneOffset.UTC).toLocalDate.toString

  override def initExportTable(schema: Seq[Field]): Boolean = {
    if (storage.exists(ColumnsMeta)) false
    else {
      writeColumns(schema)
      true
    }
  }

  // _columns.json is the information_schema analog: ordered {name, type}
  // objects (type = Spark catalogString). Legacy metadata was a bare name
  // array — still readable, with types surfacing as NullType ("unknown").
  private def writeColumns(fields: Seq[Field]): Unit = {
    val json = fields.map(f =>
      s"""{"name":"${f.dbName}","type":"${f.dataType.catalogString}"}""")
      .mkString("[", ",", "]")
    storage.saveContent(ColumnsMeta, json)
    ()
  }

  /** Live ordered columns WITH types — the type-aware reconciliation input
    * (reference: warehouse/bigquery.go:163-194 reads the live table schema,
    * not just names). */
  def getExportTableFields(): Seq[Field] =
    storage.readContent(ColumnsMeta) match {
      case None => Seq.empty
      case Some(json) if json.trim.startsWith("[{") =>
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val arr = mapper.readTree(json)
        (0 until arr.size).map { i =>
          val n = arr.get(i)
          val dt = scala.util.Try(
            org.apache.spark.sql.types.DataType.fromDDL(
              n.get("type").asText())).getOrElse(
                org.apache.spark.sql.types.NullType)
          Field(n.get("name").asText(), "", dt)
        }
      case Some(json) => // legacy bare-name array
        json.trim.stripPrefix("[").stripSuffix("]").split(",")
          .map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty)
          .toSeq.map(c => Field(c, "", org.apache.spark.sql.types.NullType))
    }

  override def getExportTableColumns(): Seq[String] =
    getExportTableFields().map(_.dbName)

  override def applyExportSchema(schema: Seq[Field]): Unit = {
    val live = getExportTableFields()
    ExportSchema.requireCompatible(live, schema)
    writeColumns(schema)
  }

  /** The bundle's rows written straight into its day partition: no object
    * is staged, and the write is the bundle's one Spark job. */
  override def loadRows(rows: DataFrame, storage: Storage, name: String,
                        bundleStart: Instant, truncateDay: Boolean): Unit =
    writeDay(tableRows(rows), bundleStart, truncateDay)

  override def loadToWarehouse(csvRef: String, bundleStart: Instant,
                               truncateDay: Boolean): Unit =
    writeDay(readStaged(csvRef), bundleStart, truncateDay)

  /** Appends `rows` to `bundleStart`'s day partition, replacing the day
    * first when `truncateDay`. */
  private def writeDay(rows: DataFrame, bundleStart: Instant,
                       truncateDay: Boolean): Unit = {
    val dayDir = s"$dataPath/day=${dayOf(bundleStart)}"
    // WriteTruncate, also of an empty bundle (an overwrite of no rows would not)
    if (truncateDay) dataFs.delete(new Path(dayDir), true)
    rows.write.mode(SaveMode.Append)
      .option(CsvStage.MarkSuccess, "false")
      .parquet(dayDir)
  }

  /** Staged rows as table rows: the live columns, in order, taken by
    * position as a staged CSV's are, in one projection with every null (a
    * column the rows predate, under append-only evolution, or an empty
    * cell) empty-filled. */
  private def tableRows(rows: DataFrame): DataFrame = {
    val in = rows.columns
    rows.select(getExportTableColumns().zipWithIndex.map { case (c, i) =>
      (if (i < in.length) coalesce(rows.col(s"`${in(i)}`"), lit(""))
       else lit("")).as(c)
    }: _*)
  }

  /** One staged CSV bundle as table rows ([[tableRows]]). */
  def readStaged(csvRef: String): DataFrame = {
    // Explicit all-string schema: never infer (an empty bundle stages an
    // empty file, which has no header row to infer from).
    val stagedSchema = org.apache.spark.sql.types.StructType(
      getExportTableColumns().map(c => org.apache.spark.sql.types.StructField(
        c, org.apache.spark.sql.types.StringType)))
    // multiLine: the parser reads the file as one stream instead of once
    // per line, where it ends every line by throwing an EOF. A staged cell
    // holds no raw line break (strings are sanitized, custom vars are
    // JSON), so both read the same records.
    tableRows(spark.read
      .option("header", "true").option("escape", "\"")
      .option("multiLine", "true")
      .schema(stagedSchema)
      .csv(csvRef))
  }

  def readTable(): DataFrame = spark.read.parquet(dataPath)

  /** One [[StorageSyncPoint]] object, as in storage-only mode, replaced
    * atomically (no Spark job). One that cannot be read fails, and so does
    * an older version's `_sync` table: restarting from StartTime reloads. */
  override def lastSyncPoint(): Option[Instant] = {
    val t = StorageSyncPoint.read(storage)
    if (t.isEmpty && storage.exists("_sync")) throw new IllegalStateException(
      s"${storage.getFileReference("_sync")} is an older sync-point table; " +
        s"write its last BundleEndTime to ${StorageSyncPoint.SyncFileName}")
    t
  }

  override def saveSyncPoint(bundleEnd: Instant): Unit =
    StorageSyncPoint.write(storage, bundleEnd)

  /** The table from `syncPoint`'s day partition on: every row past the
    * sync point is there, since committed bundles ended by it and a later
    * bundle loads into its own start day or a later one. */
  def readFrom(syncPoint: Instant): DataFrame =
    readTable().filter(col("day") >= dayOf(syncPoint))

  /** Max EventStart from the sync point's day on (reference:
    * redshift.go:342), so the check reads the partitions the heal can
    * touch, not the whole table. Rows whose EventStart does not parse
    * (a record without one is staged as "") are left out. */
  def maxEventStart(syncPoint: Instant): Option[Instant] = {
    // no partition in scope (a daily loop's usual case): no Spark job
    val day = dayOf(syncPoint)
    if (!dayPartitions().exists(_._1 >= day)) return None
    val row = readFrom(syncPoint).agg(max(eventTime).as("m")).collect()(0)
    Option(row.getAs[java.sql.Timestamp]("m")).map(_.toInstant)
  }

  /** Go's zero-trimmed RFC3339 is not lexicographically time-ordered, so
    * parse before comparing; NULL where it does not parse. */
  private def eventTime = try_to_timestamp(col("EventStart"))

  private def dataFs: FileSystem =
    new Path(dataPath).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The table's day partitions, (yyyy-MM-dd, directory), from a listing
    * of its directory: no Spark job. */
  private def dayPartitions(): Seq[(String, Path)] = {
    val base = new Path(dataPath)
    if (!dataFs.exists(base)) Seq.empty
    else dataFs.listStatus(base).toSeq.filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith("day="))
      .map(p => p.getName.stripPrefix("day=") -> p)
  }

  override def removeOrphanedRecords(syncPoint: Instant): Unit = {
    val orphaned = maxEventStart(syncPoint).exists(!_.isBefore(syncPoint))
    if (orphaned) {
      // Redshift-flavor healing: partition-scoped DELETE WHERE. The
      // BigQuery flavor ([[BigQueryParquetWarehouse]]) instead rewinds the
      // sync point and truncates on reload.
      // Rewrite only the affected day partitions, keeping rows before the
      // sync point and, like the reference's DELETE, NULLs — a
      // partition-scoped DELETE WHERE
      // (reference: redshift.go:284-294; Spark-native per SURVEY.md §2.5).
      // Materialize survivors (localCheckpoint — Spark won't overwrite a
      // path it is reading from), drop the affected partition directories,
      // append survivors back. A dynamic partition overwrite alone cannot
      // EMPTY a partition: writing zero rows replaces nothing.
      val day = dayOf(syncPoint)
      val affected = dayPartitions().filter(_._1 >= day)
      val healed = readFrom(syncPoint)
        .filter(eventTime.isNull ||
          eventTime < lit(syncPoint.toString).cast("timestamp"))
        .localCheckpoint(true)
      affected.foreach { case (_, p) => dataFs.delete(p, true) }
      healed.write.mode(SaveMode.Append).partitionBy("day").parquet(dataPath)
    }
  }
}

/** BigQuery-flavor recovery on the day-partitioned parquet warehouse —
  * the reference's second exactly-once strategy, executable
  * (reference: warehouse/bigquery.go:82-104 day-rewind LastSyncPoint,
  * :147-151 WriteTruncate on the first bundle of the day, :392-405
  * sync-row removal).
  *
  * Partitioned tables take no row-wise DELETE, so when leftover records
  * are found at or past the committed sync point (a load that crashed before
  * its sync write), recovery REWINDS the sync point to the start of that
  * day and commits the rewound point; the service then re-exports from the
  * day boundary and the first bundle of the day loads with
  * WriteTruncate ([[ParquetWarehouse.loadRows]] `truncateDay`),
  * replacing the partition — cleanup happens on load, not at recovery
  * time. [[removeOrphanedRecords]] is accordingly a no-op, except before
  * the first commit, when there is no sync point to rewind to. */
class BigQueryParquetWarehouse(spark: SparkSession, tablePath: String)
    extends ParquetWarehouse(spark, tablePath) {

  override def lastSyncPoint(): Option[Instant] =
    super.lastSyncPoint().map { t =>
      if (!maxEventStart(t).exists(!_.isBefore(t))) t
      else {
        // leftover data past the sync point: rewind to the first instant
        // of its day; the day's first reloaded bundle truncates the
        // partition (reference: bigquery.go:95-103)
        val dayStart = t.truncatedTo(java.time.temporal.ChronoUnit.DAYS)
        saveSyncPoint(dayStart)
        dayStart
      }
    }

  /** Cleanup occurs on load (WriteTruncate), never as a DELETE, once a
    * sync point is committed. Before that, a first window loaded but not
    * committed has no day start to rewind to (it need not start a day, and
    * the day may begin before StartTime), so its rows at or after
    * `syncPoint`, the StartTime, are healed as on [[ParquetWarehouse]]. */
  override def removeOrphanedRecords(syncPoint: Instant): Unit =
    if (super.lastSyncPoint().isEmpty) super.removeOrphanedRecords(syncPoint)
}
