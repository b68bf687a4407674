package graft.tools

import graft.{GraftCaches, GraftSession, SparkEntry}
import graft.ext.PlanStats
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Physical plans of the headline queries (or of the named ones), in
  * one of three forms picked by the mode argument:
  *
  *  - `pins` (the default): `"q_x" -> Counts(shuffles, broadcasts,
  *    scans),` lines, paste-able into HeadlinePlanPinSpec. The pins are
  *    taken at the test config: sf0.001 and the default 4 cpus.
  *  - a path ending in `.md`: the PLANS.md layout — the count table,
  *    then each query's formatted plan.
  *  - a path containing `{q}`: one file per query, `{q}` replaced by
  *    its name, headed by the session config and its PlanStats — the
  *    before/after evidence trail of `plans/rN/<q>_{before,after}.txt`.
  *
  * `SPARK_GRAFT_CPUS` (default 4) sets the session's core count; the
  * `plans/rN` dumps were taken at the bench's 32.
  *
  *   sbt "runMain graft.tools.Plans <sf0.001 dir>"
  *   sbt "runMain graft.tools.Plans <sf0.01 dir> PLANS.md"
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.Plans <sf0.1 dir> plans/r19/{q}_before.txt q_triangle_count"
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val (mode, names) = args.drop(1).toSeq match {
      case m +: ns if !SparkEntry.queries.contains(m) => (m, ns.toSet)
      case ns => ("pins", ns.toSet)
    }
    require(mode == "pins" || mode.endsWith(".md") || mode.contains("{q}"),
      s"mode must be pins, a .md path or a path containing {q}: $mode")
    val picked =
      if (names.isEmpty) SparkEntry.headline
      else SparkEntry.catalog.filter(q => names(q.name))
    require(picked.size == names.size || names.isEmpty,
      s"unknown names: ${(names -- picked.map(_.name)).mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.create(cpus, sfDir)
    val config = s"$sfDir, local[$cpus], shuffle.partitions=" +
      spark.sessionState.conf.numShufflePartitions
    // run and count one query at a time, as HeadlinePlanPinSpec does,
    // so the registry caches evolve in the same order as in the suite
    val runs = picked.map { q =>
      val df = q.run(spark, sfDir)
      (q.name, PlanStats.of(df),
        df.queryExecution.explainString(ExplainMode.fromString("formatted")))
    }
    def write(path: String, text: String): Unit = {
      val p = Paths.get(path)
      Option(p.getParent).foreach(Files.createDirectories(_))
      Files.writeString(p, text)
      println(s"[plans] wrote $path")
    }

    if (mode == "pins") {
      println(s"    // PlanStats at $config")
      runs.foreach { case (n, c, _) => println(s"""    "$n" -> $c,""") }
    } else if (mode.endsWith(".md")) {
      val sb = new StringBuilder
      sb ++= "# PLANS — formatted physical plans of the headline queries\n\n"
      sb ++= s"Generated by `graft.tools.Plans` against `$config`.\n"
      sb ++= "Checks to read for: `PushedFilters` reaching the scan, "
      sb ++= "`ReadSchema` pruned to used columns, `BroadcastHashJoin` on "
      sb ++= "dimension sides, `partial_*` map-side aggregation, "
      sb ++= "`TakeOrderedAndProject` for top-k.\n"
      sb ++= "\n## Structural counts (this dump's config)\n\n"
      sb ++= "Shuffle-exchange / broadcast-exchange / source-scan node "
      sb ++= "counts on the pre-adaptive plan, subqueries included — the "
      sb ++= "deterministic regression signal (HeadlinePlanPinSpec pins "
      sb ++= "the same counts at the test config and fails on drift).\n\n"
      sb ++= "| headliner | shuffles | broadcasts | scans |\n"
      sb ++= "|---|---|---|---|\n"
      runs.foreach { case (n, c, _) =>
        sb ++= s"| $n | ${c.shuffles} | ${c.broadcasts} | ${c.scans} |\n"
      }
      runs.foreach { case (n, _, p) => sb ++= s"\n## $n\n\n```\n$p```\n" }
      write(mode, sb.toString)
    } else {
      runs.foreach { case (n, c, p) =>
        write(mode.replace("{q}", n),
          s"# $n — explain(formatted) at $config\n" +
            s"# PlanStats: shuffles=${c.shuffles} " +
            s"broadcasts=${c.broadcasts} scans=${c.scans}\n\n" + p)
      }
    }
    GraftCaches.release(spark)
    spark.stop()
  }
}
