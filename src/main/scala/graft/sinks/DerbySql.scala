package graft.sinks

import java.time.Instant

import org.apache.spark.sql.types._

import graft.schema.Field

/** The statements [[JdbcWarehouse]] executes, for embedded Derby: the
  * statement-building half of the reference's SQL-warehouse connector
  * (reference: warehouse/redshift.go), kept pure so it is testable without
  * a connection. Derby ships on the Spark classpath, so the full
  * DDL/load/heal cycle runs against a real `java.sql.Connection` in tests.
  *
  * The type map has no VARCHAR(max), and timestamps are JDBC escape
  * literals: Derby cannot compare a TIMESTAMP column with an RFC3339
  * string. */
object DerbySql {

  /** Target type for a Spark type. Total over the schema's types — unknown
    * types are an error, not a silent VARCHAR. */
  def ddlType(dt: DataType): String = dt match {
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case DoubleType => "DOUBLE"
    case StringType => "VARCHAR(32672)"
    case TimestampType => "TIMESTAMP"
    case NullType => "VARCHAR(32672)" // DB-only legacy columns
    case other => throw new IllegalArgumentException(
      s"no Derby mapping for ${other.catalogString}")
  }

  def quote(ident: String): String = s""""$ident""""

  private val fmt = java.time.format.DateTimeFormatter
    .ofPattern("uuuu-MM-dd HH:mm:ss.SSSSSS")
    .withZone(java.time.ZoneOffset.UTC)

  /** A timestamp literal comparable against a TIMESTAMP column. */
  def timestampLiteral(t: Instant): String = s"{ts '${fmt.format(t)}'}"

  /** CREATE TABLE from the ordered field list
    * (reference: warehouse/redshift.go:195-212). Derby has no
    * `IF NOT EXISTS`; the caller checks existence first. */
  def createTable(table: String, fields: Seq[Field]): String = {
    val cols = fields.map(f => s"${quote(f.dbName)} ${ddlType(f.dataType)}")
    s"CREATE TABLE ${quote(table)} (${cols.mkString(", ")})"
  }

  /** One ALTER per appended column, as the reference adds them
    * (reference: warehouse/redshift.go:214-238). */
  def addColumns(missing: Seq[Field]): Seq[String] =
    missing.map(f =>
      s"ALTER TABLE ${quote(JdbcWarehouse.ExportTable)} ADD COLUMN ${quote(f.dbName)} ${ddlType(f.dataType)}")

  /** Anti-duplicate delete for crash recovery
    * (reference: warehouse/redshift.go:284-294), with `>=` where the
    * reference has `>`: see [[Warehouse.removeOrphanedRecords]]. */
  def deleteOrphans(syncPoint: Instant): String =
    s"DELETE FROM ${quote(JdbcWarehouse.ExportTable)} " +
      s"WHERE ${quote("EventStart")} >= ${timestampLiteral(syncPoint)}"

  /** Day-scoped delete: the DELETE-based analog of BigQuery's WriteTruncate
    * for the first bundle of a day (reference: bigquery.go:130-161). */
  def deleteDayRange(dayStart: Instant, dayEnd: Instant): String =
    s"DELETE FROM ${quote(JdbcWarehouse.ExportTable)} " +
      s"WHERE ${quote("EventStart")} >= ${timestampLiteral(dayStart)} " +
      s"AND ${quote("EventStart")} < ${timestampLiteral(dayEnd)}"

  /** MAX(column) probe (reference: redshift.go:268-271 sync point,
    * :340-344 max EventStart). */
  def maxQuery(table: String, column: String): String =
    s"SELECT MAX(${quote(column)}) FROM ${quote(table)}"
}
