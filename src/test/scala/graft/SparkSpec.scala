package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** The (action name, query execution) of every action `body` runs on
    * the shared session, in the order they ran. */
  def actions(body: => Unit): Seq[(String, QueryExecution)] = {
    val runs = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        runs.add(f -> qe)
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    runs.toArray(Array.empty[(String, QueryExecution)]).toSeq
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.create("graft-test")
}
