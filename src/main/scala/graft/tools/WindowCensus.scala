package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec

/** One-shot census of catalog queries whose physical plan contains a
  * WindowExec with an EMPTY partitionSpec (a single-partition global
  * window) — the discovery pass behind PlanAuditSpec's
  * bounded-global-window whitelist.
  * Usage: sbt "runMain graft.tools.WindowCensus" */
object WindowCensus {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.GraftSession.create(8, d)
    SparkEntry.catalog.foreach { q =>
      try {
        val p = q.run(spark, d).queryExecution.executedPlan
        val inner = p match {
          case a: AdaptiveSparkPlanExec => a.initialPlan
          case other => other
        }
        val globals = inner.collect {
          case w: WindowExec if w.partitionSpec.isEmpty &&
            !(w.orderSpec.nonEmpty && w.orderSpec.forall(
              _.child.references.forall(_.name == "_gr_pid"))) => w
        }
        if (globals.nonEmpty) {
          val desc = globals.map { w =>
            val ord = w.orderSpec.map(o =>
              o.child.references.map(_.name).mkString("+")).mkString(",")
            val n = try w.child.execute().count()
              catch { case _: Throwable => -1L }
            s"[$ord n=$n]"
          }
          println(s"[wincensus] ${q.name}: ${desc.mkString(" ")}")
        }
      } catch {
        case e: Throwable =>
          println(s"[wincensus] ${q.name}: ERR ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
