package graft.tools

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window}

/** Diagnostic main: walk every registered query's OPTIMIZED logical
  * plan and report each unpartitioned Window node plus whether an
  * Aggregate sits below it (grain-reduced input). Feeds the
  * PlanAuditSpec global-window allow-list — run ad hoc, not in CI.
  */
object WindowSweep {
  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.localSession()
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").toSet) else None
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    names.foreach { n =>
      try {
        val lp = graft.SparkEntry.queries(n)(spark, dir)
          .queryExecution.optimizedPlan
        val global = lp.collect { case w: Window if w.partitionSpec.isEmpty => w }
        if (global.nonEmpty) {
          val tags = global.map { w =>
            val agg = w.child.collectFirst { case a: Aggregate => a }.nonEmpty
            s"aggBelow=$agg order=${w.orderSpec.map(_.sql).mkString(",").take(80)}"
          }
          println(s"GLOBALWIN\t$n\t${tags.mkString(" | ")}")
        }
      } catch {
        case e: Throwable => println(s"ERROR\t$n\t${e.getClass.getSimpleName}: ${e.getMessage.take(120)}")
      }
    }
    println("SWEEP DONE")
    spark.stop()
  }
}
