package graft.functions

import org.apache.spark.sql.SparkSessionExtensions

/** SparkSessionExtensions hook: installs graft's SQL functions
  * ([[GraftFunctions.sqlFunctions]]) on every session built with
  * `spark.sql.extensions=graft.functions.GraftExtensions`, the deployment
  * for plain-SQL users of a cluster. The Column API needs no
  * installation. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.sqlFunctions.foreach(f =>
      e.injectFunction((f.identifier, f.info, f.build)))
}
