package graft.transform

import java.time.{Duration, Instant}

import org.apache.spark.sql.{Column, DataFrame, GraftColumns}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{Sanitize, StagedString}
import graft.schema.Field

/** The staged value format (reference: warehouse/warehouse.go:54-71):
  * RFC3339Micro times, Go `%v` doubles, decimal integers, sanitized
  * strings. All output is strings — the staging format is CSV.
  *
  * Each staged column is one native [[graft.functions.StagedString]]
  * expression: it renders the typed value, sanitizes strings, and turns
  * null into the empty string, in one call per row. No regex and no
  * datetime pattern is evaluated per row. */
object ValueFormat {

  /** Render one column, cast to `f`'s type, to its staged string form;
    * null renders as the empty string. */
  def render(c: Column, f: Field): Column = staged(typed(c, f), fill = true)

  /** Strip newline/CR to space and drop NUL bytes
    * (reference: warehouse/warehouse.go:66-69), through the one-scan
    * native [[graft.functions.Sanitize]]; the column needs nothing
    * registered on the session that runs it. */
  def sanitize(c: Column): Column =
    GraftColumns.column(Sanitize(GraftColumns.expression(c)))

  /** RFC3339 with microsecond precision and Go's trailing-zero trim:
    * `2020-08-27T06:20:26.900000Z` renders as `2020-08-27T06:20:26.9Z`, and
    * a whole-second time drops the fraction entirely
    * (reference: warehouse/warehouse.go:59-65, format RFC3339Micro
    * `2006-01-02T15:04:05.999999Z07:00`). A null time stays null. */
  def goRfc3339Micro(c: Column): Column =
    staged(c.cast(TimestampType), fill = false)

  /** Go renders float64 via %v: whole doubles print without ".0". A null
    * stays null. */
  def goNumber(c: Column): Column = staged(c.cast(DoubleType), fill = false)

  private def staged(c: Column, fill: Boolean): Column =
    GraftColumns.column(StagedString(GraftColumns.expression(c), fill))

  /** The column cast to the kernel's input type: a timestamp, double,
    * long, int or string stays as it is typed; anything else is staged as
    * its string cast. */
  private def typed(c: Column, f: Field): Column = f.dataType match {
    case TimestampType | DoubleType | LongType | IntegerType | StringType =>
      c.cast(f.dataType)
    case _ => c.cast(f.dataType).cast(StringType)
  }
}

/** The core record pipeline, as one declarative DataFrame stage.
  *
  * Reference equivalent: `transformExportJSONRecord`
  * (internal/service.go:72-119) runs per record; here the same semantics are
  * a single `select` so Catalyst pipelines it inside one codegen stage:
  *   - case-insensitive matching of input columns to schema fields
  *     (internal/service.go:77-96),
  *   - column reorder + rename + null-fill to the live table order
  *     (internal/service.go:99-102),
  *   - spillover of all non-schema columns into one CustomVars JSON map,
  *     original key case preserved (internal/service.go:86-96,104-109),
  *   - cast/render/sanitize, one native expression per column
  *     (warehouse/warehouse.go:54-71).
  */
object ExportTransform {

  /** Split an input DataFrame's columns into (schema-matched, custom-var)
    * per the case-insensitive membership rule (P4). Returns the live-order
    * staged projection (P5/P6): all columns rendered to string, one column
    * per schema field plus the CustomVars JSON spillover. */
  def toStagedStrings(df: DataFrame, schema: Seq[Field]): DataFrame = {
    val inputByLower = df.columns.map(c => c.toLowerCase -> c).toMap
    val schemaLower = schema.flatMap(f =>
      if (f.isDbOnly) None else Some(f.sourceName.toLowerCase)).toSet

    // Custom vars: every input column not matched by the schema, original
    // case preserved, serialized to one JSON object; {} when none. An input
    // that already carries a folded CustomVars column (e.g. the graft-export
    // DSv2 connector folds at scan time) passes it through instead.
    val customCols = df.columns.filterNot(c => schemaLower.contains(c.toLowerCase))
    val preFolded = df.columns.find(_.equalsIgnoreCase("CustomVars"))
    val customVars: Column = preFolded match {
      case Some(cv) => coalesce(col(cv).cast(StringType), lit("{}"))
      case None if customCols.isEmpty => lit("{}")
      case None => to_json(map_filter(
        map(customCols.toIndexedSeq
          .flatMap(c => Seq(lit(c), col(c).cast(StringType))): _*),
        (_, v) => v.isNotNull))
    }

    val staged = schema.map { f =>
      if (f.sourceName == "CustomVars") customVars.as(f.dbName)
      else inputByLower.get(f.sourceName.toLowerCase) match {
        case Some(in) if !f.isDbOnly => ValueFormat.render(col(in), f).as(f.dbName)
        case _ => lit("").as(f.dbName) // DB-only or absent source field
      }
    }
    df.select(staged: _*)
  }

  /** One JSON object per record of a `graft-export` scan, the form
    * SaveAsJson stages: the typed columns with the custom vars spliced back
    * to the top level, flat like the export's own records (reference:
    * internal/service.go:328-335 stages the export unchanged). The output's
    * one string column holds the records. */
  def toRecordJson(export: DataFrame): DataFrame = {
    val known = to_json(struct(export.columns.toIndexedSeq
      .filterNot(_ == "CustomVars").map(col): _*))
    val vars = col("CustomVars")
    export.select(when(vars === "{}", known).when(known === "{}", vars)
      .otherwise(concat(known.substr(lit(1), length(known) - 1), lit(","),
        vars.substr(lit(2), length(vars))))
      .as("value"))
  }

  /** Tumbling-window alignment (P8): next bundle end is
    * `truncate(last + dur, dur)` in UTC
    * (reference: internal/service.go:280-284). */
  def nextEndTime(lastSync: Instant, dur: Duration): Instant = {
    val advanced = lastSync.plus(dur)
    val n = dur.toMillis
    Instant.ofEpochMilli(advanced.toEpochMilli / n * n)
  }
}
