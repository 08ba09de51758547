package graft.sinks

import java.sql.{Connection, DriverManager, Types}
import java.time.{Instant, ZoneOffset}
import java.util.Properties

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.schema.{ExportSchema, Field}

/** SQL-warehouse sink executing [[DerbySql]] statements over a live
  * `java.sql.Connection` — the execution half the reference performs with
  * sqlx (reference: warehouse/redshift.go:150-163 ExecuteQuery, :195-238
  * create/alter, :266-328 sync-point log, :330-354 orphan heal). The
  * tables are `"export"` and `"sync_table"` in the connection's default
  * schema.
  *
  * The bulk load is the default stage-then-load [[Warehouse.loadRows]]:
  * `CsvStage` stages the object, and [[loadToWarehouse]] reads it back
  * with Spark and writes it through Spark's JDBC batch writer — a
  * DISTRIBUTED insert (one connection + batched prepared statements per
  * partition), not a driver-side row loop, so the load scales with
  * executors.
  *
  * Schema introspection goes through JDBC `DatabaseMetaData.getColumns`
  * (ordinal-ordered per the JDBC spec), the information_schema analog the
  * reference queries at redshift.go:370-394 — and carries TYPES, so the
  * type-aware reconciliation check applies to live tables.
  */
class JdbcWarehouse(spark: SparkSession, jdbcUrl: String) extends Warehouse {
  import JdbcWarehouse.{ExportTable, SyncTable}

  JdbcWarehouse.ensureDerbyDialect()

  private def withConn[A](f: Connection => A): A = {
    val c = DriverManager.getConnection(jdbcUrl)
    try f(c) finally c.close()
  }

  private def exec(sql: String): Unit = withConn { c =>
    val st = c.createStatement()
    try { st.executeUpdate(sql); () } finally st.close()
  }

  private def tableExists(c: Connection, table: String): Boolean = {
    val rs = c.getMetaData.getTables(null, null, table, null)
    try rs.next() finally rs.close()
  }

  override def initExportTable(schema: Seq[Field]): Boolean = withConn { c =>
    val existed = tableExists(c, ExportTable)
    if (!existed)
      exec(DerbySql.createTable(ExportTable, schema))
    if (!tableExists(c, SyncTable))
      exec(DerbySql.createTable(SyncTable, syncFields))
    !existed
  }

  private val syncFields = Seq(
    Field("ID", "", LongType),
    Field("Processed", "", TimestampType),
    Field("BundleEndTime", "", TimestampType))

  private def sparkTypeOf(jdbcType: Int): DataType = jdbcType match {
    case Types.BIGINT => LongType
    case Types.INTEGER | Types.SMALLINT | Types.TINYINT => IntegerType
    case Types.DOUBLE | Types.FLOAT | Types.REAL => DoubleType
    case Types.TIMESTAMP => TimestampType
    case Types.VARCHAR | Types.LONGVARCHAR | Types.CHAR | Types.CLOB =>
      StringType
    case _ => NullType // unknown -> name-only compatibility
  }

  /** Live ordered columns WITH types from JDBC metadata. */
  def getExportTableFields(): Seq[Field] = withConn { c =>
    val rs = c.getMetaData.getColumns(null, null, ExportTable, null)
    val buf = scala.collection.mutable.ArrayBuffer[Field]()
    try {
      while (rs.next())
        buf += Field(rs.getString("COLUMN_NAME"), "",
          sparkTypeOf(rs.getInt("DATA_TYPE")))
    } finally rs.close()
    buf.toSeq
  }

  override def getExportTableColumns(): Seq[String] =
    getExportTableFields().map(_.dbName)

  override def applyExportSchema(schema: Seq[Field]): Unit = {
    val live = getExportTableFields()
    ExportSchema.requireCompatible(live, schema)
    ExportSchema.missingFields(live, schema) match {
      case Seq() => ()
      case missing =>
        DerbySql.addColumns(missing).foreach(exec)
    }
  }

  override def loadToWarehouse(csvRef: String, bundleStart: Instant,
                               truncateDay: Boolean): Unit = {
    if (truncateDay) {
      val dayStart = bundleStart.atOffset(ZoneOffset.UTC).toLocalDate
        .atStartOfDay(ZoneOffset.UTC).toInstant
      exec(DerbySql.deleteDayRange(dayStart,
        dayStart.plus(java.time.Duration.ofDays(1))))
    }
    val fields = getExportTableFields()
    val stagedSchema = StructType(
      fields.map(f => StructField(f.dbName, StringType)))
    val staged = spark.read
      .option("header", "true").option("escape", "\"")
      .schema(stagedSchema)
      .csv(csvRef)
    // empty cells -> NULL, and strings parsed into the column types, as
    // the reference's COPY does, before the batched insert
    val typed = staged.select(fields.map { f =>
      val c = when(col(f.dbName) === "", lit(null)).otherwise(col(f.dbName))
      (f.dataType match {
        case TimestampType => to_timestamp(c)
        case NullType => c
        case dt => c.cast(dt)
      }).as(f.dbName)
    }: _*)
    typed.write.mode("append")
      .jdbc(jdbcUrl, DerbySql.quote(ExportTable), new Properties())
  }

  override def lastSyncPoint(): Option[Instant] = withConn { c =>
    if (!tableExists(c, SyncTable)) None
    else {
      val st = c.createStatement()
      try {
        val rs = st.executeQuery(DerbySql.maxQuery(SyncTable, "BundleEndTime"))
        try {
          if (rs.next()) Option(rs.getTimestamp(1)).map(_.toInstant) else None
        } finally rs.close()
      } finally st.close()
    }
  }

  override def saveSyncPoint(bundleEnd: Instant): Unit = withConn { c =>
    // (ID=-1, Processed=now, BundleEndTime) — reference: redshift.go:275-276
    val ps = c.prepareStatement(
      s"INSERT INTO ${DerbySql.quote(SyncTable)} " +
        s"""("ID", "Processed", "BundleEndTime") VALUES (?, ?, ?)""")
    try {
      ps.setLong(1, -1L)
      ps.setTimestamp(2, java.sql.Timestamp.from(Instant.now()))
      ps.setTimestamp(3, java.sql.Timestamp.from(bundleEnd))
      ps.executeUpdate()
      ()
    } finally ps.close()
  }

  /** Max EventStart in the live table (reference: redshift.go:340-344). */
  def maxEventStart(): Option[Instant] = withConn { c =>
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(DerbySql.maxQuery(ExportTable, "EventStart"))
      try {
        if (rs.next()) Option(rs.getTimestamp(1)).map(_.toInstant) else None
      } finally rs.close()
    } finally st.close()
  }

  override def removeOrphanedRecords(syncPoint: Instant): Unit = {
    val orphaned = maxEventStart().exists(!_.isBefore(syncPoint))
    if (orphaned)
      exec(DerbySql.deleteOrphans(syncPoint))
  }
}

object JdbcWarehouse {
  private[sinks] val ExportTable = "export"
  private val SyncTable = "sync_table"

  // Spark's built-in Derby dialect maps StringType -> CLOB; setNull(CLOB)
  // against our VARCHAR export columns throws. Register a VARCHAR override
  // (later registrations win) once per JVM.
  private lazy val derbyDialectRegistered: Unit = {
    org.apache.spark.sql.jdbc.JdbcDialects.registerDialect(
      new org.apache.spark.sql.jdbc.JdbcDialect {
        override def canHandle(url: String): Boolean =
          url.startsWith("jdbc:derby")
        override def getJDBCType(dt: DataType)
            : Option[org.apache.spark.sql.jdbc.JdbcType] = dt match {
          case StringType => Some(org.apache.spark.sql.jdbc.JdbcType(
            "VARCHAR(32672)", Types.VARCHAR))
          case _ => None
        }
      })
  }
  private[sinks] def ensureDerbyDialect(): Unit = derbyDialectRegistered
}
