package graft

import org.apache.spark.sql.execution.{ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.window.WindowExec

/** Plan-smell audit over every registered query: counts the physical
  * operators that decide 100 TB viability (typed, via [[PlanShape]],
  * summed over the main plan, its subqueries and the cached plans it
  * scans). Rows are
  * flagged when they contain a nested-loop/cartesian join or a global
  * (un-partitioned) window — acceptable only where the query documents
  * it.
  * Usage: sbt "runMain graft.PlanAudit [sfDir]"
  */
object PlanAudit {

  /** Column headers, aligned with [[PlanShape.Keys]]. */
  private val Header = Seq("shf", "bcx", "bhj", "smj", "shj", "bnl", "cart")

  /** `p` plus every plan that runs under it but hangs off a non-child
    * field: subquery plans (a reused subquery once) and the plans of
    * cached relations the query scans (each distinct one once).
    */
  private def withSubplans(p: SparkPlan): Seq[SparkPlan] =
    (p +: PlanShape.nodes(p).flatMap {
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case n => n.subqueries.filterNot(_.isInstanceOf[ReusedSubqueryExec])
    }.distinct.flatMap(withSubplans)).distinct

  def main(args: Array[String]): Unit = Harness.run() { spark =>
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    println(f"${"query"}%-24s " + (Header :+ "win").map(h => f"$h%-4s").mkString(" ") + "  flags")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plans = withSubplans(fn(spark, sfDir).queryExecution.executedPlan)
      val c = PlanShape.Keys.map(k => k -> plans.map(PlanShape.counts(_)(k)).sum).toMap
      val windows = plans.flatMap(PlanShape.nodes).collect { case w: WindowExec => w }
      // A window with an empty partitionSpec moves ALL rows to one task.
      val globalWin = windows.count(_.partitionSpec.isEmpty)
      val flags = (Seq("CartesianProduct", "BroadcastNestedLoopJoin").filter(c(_) > 0) ++
        (if (globalWin > 0) Seq(s"GlobalWindow($globalWin)") else Nil)).mkString(",")
      println(f"$name%-24s " + (PlanShape.Keys.map(c) :+ windows.size)
        .map(n => f"$n%-4d").mkString(" ") + "  " + flags)
      Harness.hygiene(spark)
    }
  }
}
