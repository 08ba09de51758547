package graft

import org.apache.spark.sql.catalyst.plans.logical._

/** The entity-scale boundedness walker (enforced by PlanAuditSpec's
  * all-queries guard, which calls [[bounded]]) plus an ad-hoc sweep
  * runner that dumps each offending hint subtree to a file for
  * adjudication. A hint subtree is BOUNDED-BY-CONSTRUCTION iff its row
  * count cannot grow with the corpus — see the guard test for the full
  * argument and operators/Hints.scala for the stamp glossary. */
object GuardSweep {

  /** True when `e` carries a collect_list/collect_set anywhere. */
  private def hasCollect(
      es: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Boolean =
    es.exists(_.find {
      case _: org.apache.spark.sql.catalyst.expressions.aggregate
        .CollectList => true
      case _: org.apache.spark.sql.catalyst.expressions.aggregate
        .CollectSet => true
      case _ => false
    }.isDefined)

  /** BYTE growth that survives a row bound: a collect_list/collect_set
    * whose collected input is NOT itself bounded packs corpus-sized
    * bytes into however few rows the plan above keeps — a Limit or a
    * grouping-free aggregate over it is still broadcast-fatal. Scans
    * the subtree for Aggregate/Window collects over unbounded children;
    * a `bounded_` stamp beneath shields its subtree as usual (the
    * stamped site owns the payload-bound argument). */
  private def collectsUnbounded(p: LogicalPlan): Boolean = p match {
    case s: SubqueryAlias if s.alias.startsWith("bounded_") => false
    case a: Aggregate =>
      (hasCollect(a.aggregateExpressions) && !bounded(a.child)) ||
        collectsUnbounded(a.child)
    case w: Window =>
      (hasCollect(w.windowExpressions) && !bounded(w.child)) ||
        collectsUnbounded(w.child)
    case other => other.children.exists(collectsUnbounded)
  }

  def bounded(p: LogicalPlan): Boolean = p match {
    case s: SubqueryAlias if s.alias.startsWith("bounded_") => true
    case a: Aggregate =>
      // ROW count: a grouping-free aggregate is 1 row, a grouped one at
      // most its child's. BYTE growth hides in collect_list/collect_set
      // payloads — a scalar collect over the corpus is 1 row of
      // corpus-sized bytes, exactly as broadcast-fatal as corpus rows —
      // so a collect is accepted only when the collected INPUT is
      // itself bounded (or the site carries a stamp naming the payload
      // bound).
      (a.groupingExpressions.isEmpty &&
        !hasCollect(a.aggregateExpressions)) || bounded(a.child)
    // a limit bounds ROWS, but a collect_list/collect_set beneath it can
    // still carry corpus BYTES per kept row (Limit(Window(collect over
    // corpus)) is 10 rows of corpus-sized arrays) — the byte-growth
    // class the Aggregate rule rejects, checked under the row bound too
    case l @ (_: GlobalLimit | _: LocalLimit) => !collectsUnbounded(l)
    case _: LocalRelation | _: OneRowRelation | _: Range => true
    // Window is row-preserving, so its verdict is its child's — the
    // same answer the single-child catch-all gives, stated as a named
    // case for symmetry with Aggregate. Window's collect-payload
    // BYTE-growth enforcement does NOT live here (a collect over a
    // bounded child is bounded bytes; over an unbounded child the
    // child verdict already fails) — it lives in `collectsUnbounded`,
    // which the Limit rule consults so a row bound ABOVE the window
    // cannot launder a corpus-sized payload
    case w: Window => bounded(w.child)
    // row-MULTIPLYING unary node: exploding a bounded frame's arrays can
    // emit corpus-many rows (e.g. a collect_list payload) — never
    // boundedness-preserving; adjudicate real sites with a stamp
    case _: Generate => false
    case j: Join => j.joinType match {
      case org.apache.spark.sql.catalyst.plans.LeftSemi |
           org.apache.spark.sql.catalyst.plans.LeftAnti =>
        bounded(j.left)
      case _ => bounded(j.left) && bounded(j.right)
    }
    case u: Union => u.children.forall(bounded)
    // fixed-cardinality catalog tables (TPC-H nation=25 / region=5 are
    // constant at every SF), matched by the SCANNED FILE identity — a
    // toString substring match would bless any leaf whose path merely
    // mentions the word
    case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
      lr.relation match {
        case h: org.apache.spark.sql.execution.datasources
          .HadoopFsRelation =>
          h.location.rootPaths.nonEmpty &&
            h.location.rootPaths.forall { rp =>
              val n = rp.getName
              n == "nation.parquet" || n == "region.parquet"
            }
        case _ => false
      }
    case l if l.children.isEmpty => false
    case other if other.children.size == 1 => bounded(other.children.head)
    case _ => false
  }

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = new java.io.PrintWriter("/tmp/guard_offenders.txt")
    val spark = GraftSession.create("guard-sweep")
    for ((q, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      try {
        val analyzed = fn(spark, dir).queryExecution.analyzed
        val offending = analyzed.collect {
          case h: ResolvedHint
              if h.hints.strategy.contains(BROADCAST) &&
                !bounded(h.child) => h.child
        }
        for (o <- offending) {
          out.println(s"### $q")
          out.println(o.toString.linesIterator.take(8).mkString("\n"))
          out.println()
        }
      } catch {
        case e: Throwable => out.println(s"### $q ERR ${e.getMessage}")
      }
      out.flush()
    }
    out.close()
    spark.stop()
  }
}
