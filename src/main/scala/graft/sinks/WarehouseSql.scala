package graft.sinks

import java.time.Instant

import org.apache.spark.sql.types._

import graft.schema.Field

/** SQL generation for warehouse targets — the statement-building half of
  * the reference's Redshift connector, kept pure so it is testable without
  * a live warehouse. Execution is [[JdbcWarehouse]] (a
  * stage-then-COPY sink: `CsvStage` writes the object, these statements
  * load it).
  *
  * The dialect trait carries the statement SHAPES (create / alter / delete
  * / max), shared across targets; each object binds the target's type map
  * and literal syntax (reference: warehouse/redshift.go:24-31). The
  * BigQuery flavor loads Parquet ([[BigQueryParquetWarehouse]]) and
  * generates no SQL.
  */
trait WarehouseSqlDialect {

  /** Target type for a Spark type. Total over the schema's types — unknown
    * types are an error, not a silent VARCHAR. */
  def ddlType(dt: DataType): String

  def quote(ident: String): String = s""""$ident""""

  /** Schema-qualified name honoring an optional search-path-style schema
    * (reference: warehouse/redshift.go qualified names, tested at
    * redshift_test.go:94-200). */
  def qualifiedName(schema: Option[String], table: String): String =
    schema.map(s => s"${quote(s)}.${quote(table)}").getOrElse(quote(table))

  /** A timestamp literal comparable against a TIMESTAMP column. */
  def timestampLiteral(t: Instant): String

  /** `IF NOT EXISTS` where the engine supports it; callers that pre-check
    * existence (JdbcWarehouse) work either way. */
  protected def createTablePrefix: String = "CREATE TABLE IF NOT EXISTS"

  /** CREATE TABLE from the ordered field list
    * (reference: warehouse/redshift.go:195-212). */
  def createTable(schema: Option[String], table: String,
                  fields: Seq[Field]): String = {
    val cols = fields.map(f => s"${quote(f.dbName)} ${ddlType(f.dataType)}")
    s"$createTablePrefix ${qualifiedName(schema, table)} (${cols.mkString(", ")})"
  }

  /** One ALTER per appended column — Redshift only supports single-column
    * ADD (reference: warehouse/redshift.go:214-238). */
  def addColumns(schema: Option[String], table: String,
                 missing: Seq[Field]): Seq[String] =
    missing.map(f =>
      s"ALTER TABLE ${qualifiedName(schema, table)} ADD COLUMN ${quote(f.dbName)} ${ddlType(f.dataType)}")

  /** Anti-duplicate delete for crash recovery
    * (reference: warehouse/redshift.go:284-294), with `>=` where the
    * reference has `>`: see [[Warehouse.removeOrphanedRecords]]. */
  def deleteOrphans(schema: Option[String], table: String,
                    syncPoint: Instant): String =
    s"DELETE FROM ${qualifiedName(schema, table)} " +
      s"WHERE ${quote("EventStart")} >= ${timestampLiteral(syncPoint)}"

  /** Day-scoped delete: the DELETE-based analog of BigQuery's WriteTruncate
    * for the first bundle of a day (reference: bigquery.go:130-161) on
    * engines without partition decorators. */
  def deleteDayRange(schema: Option[String], table: String,
                     dayStart: Instant, dayEnd: Instant): String =
    s"DELETE FROM ${qualifiedName(schema, table)} " +
      s"WHERE ${quote("EventStart")} >= ${timestampLiteral(dayStart)} " +
      s"AND ${quote("EventStart")} < ${timestampLiteral(dayEnd)}"

  /** MAX(column) probe (reference: redshift.go:268-271 sync point,
    * :340-344 max EventStart). */
  def maxQuery(schema: Option[String], table: String, column: String): String =
    s"SELECT MAX(${quote(column)}) FROM ${qualifiedName(schema, table)}"
}

object RedshiftSql extends WarehouseSqlDialect {

  /** Type map (reference: warehouse/redshift.go:24-31). */
  override def ddlType(dt: DataType): String = dt match {
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case DoubleType => "FLOAT"
    case StringType => s"VARCHAR(max)"
    case TimestampType => "TIMESTAMP"
    case NullType => s"VARCHAR(max)" // DB-only legacy columns
    case other => throw new IllegalArgumentException(
      s"no Redshift mapping for ${other.catalogString}")
  }

  /** RFC3339, as the reference formats sync points
    * (warehouse/redshift.go:288 time.RFC3339). */
  override def timestampLiteral(t: Instant): String = s"'${t.toString}'"

  /** Reference parity: the column is unquoted in the reference's DELETE
    * (warehouse/redshift.go:284-294). */
  override def deleteOrphans(schema: Option[String], table: String,
                             syncPoint: Instant): String =
    deleteOrphans(schema, table, syncPoint.toString)

  /** String-ISO variant kept for statement-shape tests. */
  def deleteOrphans(schema: Option[String], table: String,
                    syncPointIso: String): String =
    s"DELETE FROM ${qualifiedName(schema, table)} " +
      s"WHERE EventStart >= '$syncPointIso'"

  /** Bulk load of a staged CSV object
    * (reference: warehouse/redshift.go:241-246 CopyInData). */
  def copyFrom(schema: Option[String], table: String, objectRef: String,
               credentials: String): String =
    s"COPY ${qualifiedName(schema, table)} FROM '$objectRef' " +
      s"CREDENTIALS '$credentials' DELIMITER ',' REGION 'us-east-1' " +
      "FORMAT AS CSV IGNOREHEADER 1 ACCEPTINVCHARS TRUNCATECOLUMNS"
}

/** Embedded-Derby dialect: lets the full DDL/load/heal statement cycle run
  * against a real `java.sql.Connection` in tests (Derby ships on the Spark
  * classpath). Differences from Redshift are exactly the type map (no
  * VARCHAR(max)) and the timestamp literal (JDBC escape syntax — Derby
  * cannot compare a TIMESTAMP column with an RFC3339 string). */
object DerbySql extends WarehouseSqlDialect {

  override protected def createTablePrefix: String = "CREATE TABLE"

  override def ddlType(dt: DataType): String = dt match {
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case DoubleType => "DOUBLE"
    case StringType => "VARCHAR(32672)"
    case TimestampType => "TIMESTAMP"
    case NullType => "VARCHAR(32672)"
    case other => throw new IllegalArgumentException(
      s"no Derby mapping for ${other.catalogString}")
  }

  private val fmt = java.time.format.DateTimeFormatter
    .ofPattern("uuuu-MM-dd HH:mm:ss.SSSSSS")
    .withZone(java.time.ZoneOffset.UTC)

  override def timestampLiteral(t: Instant): String =
    s"{ts '${fmt.format(t)}'}"
}
