package graft.tools

/** Subset slice of graft.Bench for perf adjudication: times only the
  * NAMED catalog queries under the exact official bench config
  * (local[32], shuffle.partitions=32, AQE on, noop sink, warm-up then
  * N timed passes) and prints every pass — not just the min — so
  * run-to-run spread is visible next to /proc/loadavg.
  *
  *   sbt "runMain graft.tools.QBench /root/testdata/sf0.1 5 q_yelp_master_volume q_perplexity"
  */
object QBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val runs = args(1).toInt
    require(runs >= 1, s"runs must be >= 1, got $runs")
    // -cold: flush GraftCaches before every timed run, so session-
    // cached chains (BPE training, LSH bucket tables) are timed
    // end-to-end instead of as a registry hit. Recognized ANYWHERE
    // in the trailing args (ADVICE r16: position-2-only parsing let
    // `QBench sf 3 q_x -cold` silently run warm); any other
    // dash-arg is an error, not a query name.
    val tail = args.drop(2)
    val cold = tail.contains("-cold")
    val unknownFlags = tail.filter(a => a.startsWith("-") && a != "-cold")
    require(unknownFlags.isEmpty,
      s"unknown flags: ${unknownFlags.mkString(", ")} (only -cold is supported)")
    val names = tail.filterNot(_.startsWith("-")).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.create(cpus, sfDir)

    val picked = graft.SparkEntry.catalog.filter(q => names(q.name))
    require(picked.size == names.size,
      s"unknown names: ${names -- picked.map(_.name).toSet}")

    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      catch { case _: Throwable => "n/a" }

    picked.foreach { q =>
      q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      val times = (1 to runs).map { _ =>
        if (cold) graft.GraftCaches.release(spark)
        val t0 = System.nanoTime()
        q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[qbench] ${q.name}${if (cold) " (cold)" else ""}: " +
        f"min=${times.min}%.3f " +
        times.map(t => f"$t%.3f").mkString("runs=[", ", ", "]") +
        s" loadavg=${loadavg()}")
    }
    graft.GraftCaches.release(spark)
    spark.stop()
  }
}
