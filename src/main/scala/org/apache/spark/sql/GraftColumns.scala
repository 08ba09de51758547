package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column <-> Catalyst expression bridge: the one way a graft native
  * expression becomes a Column.
  *
  * Spark 4 removed the public `new Column(expr)` constructor; the classic
  * conversion it left behind is `private[sql]`, so this object lives in
  * the `org.apache.spark.sql` package to reach it. A column built here
  * holds the expression itself, so it needs nothing registered on the
  * session that runs it; the `graft.functions.GraftFunctions` façades and
  * the staging renderers build their columns through it. */
object GraftColumns {

  /** The Catalyst expression behind `c` (unresolved until analysis). */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A column evaluating `e`. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
}
