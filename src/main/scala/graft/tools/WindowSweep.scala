package graft.tools

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window}

/** Diagnostic main: walk every registered query's OPTIMIZED logical
  * plan and report each unpartitioned Window node plus whether an
  * Aggregate sits below it (grain-reduced input). Feeds the
  * PlanAuditSpec global-window allow-list — run ad hoc, not in CI.
  */
object WindowSweep {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val selected = graft.SparkEntry.named(args.lift(1).toSeq.flatMap(_.split(",")))
    val spark = graft.Bench.localSession()
    selected.foreach { case (n, fn) =>
      try {
        val lp = fn(spark, dir).queryExecution.optimizedPlan
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
