package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column <-> Catalyst expression bridge for graft's native expressions.
  *
  * Spark 4 removed the public `new Column(expr)` constructor; the classic
  * conversion it left behind is `private[sql]`, so this object lives in
  * the `org.apache.spark.sql` package to reach it. Unlike
  * `graft.functions.GraftFunctions.register` + `call_function`, a column
  * built here needs nothing registered on the session that runs it. */
object GraftColumns {

  /** The Catalyst expression behind `c` (unresolved until analysis). */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A column evaluating `e`. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
}
