package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Ad-hoc stage-level decomposition of a catalog query (guide §1.1:
  * find WHERE the time goes before touching anything). Runs the named
  * queries once warm, then one instrumented pass that prints every
  * completed stage's wall time, executor CPU, task count and shuffle
  * bytes — the headless stand-in for the Spark UI's stage table.
  *
  *   sbt "runMain graft.tools.StageProbe /root/testdata/sf0.1 q_pagerank"
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.create(cpus, sfDir)

    val picked = graft.SparkEntry.catalog.filter(q => names(q.name))
    require(picked.size == names.size,
      s"unknown names: ${names -- picked.map(_.name).toSet}")

    picked.foreach { q =>
      // warm pass: builds registry caches exactly like Bench's warmup
      q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      val listener = new SparkListener {
        val rows = scala.collection.mutable.ArrayBuffer
          .empty[(Int, Double, Double, Int, Long, Long, String)]
        override def onStageCompleted(
            e: SparkListenerStageCompleted): Unit = {
          val i = e.stageInfo
          val wall = (for {s <- i.submissionTime; c <- i.completionTime}
            yield (c - s) / 1e3).getOrElse(-1.0)
          val m = i.taskMetrics
          rows += ((i.stageId, wall, m.executorCpuTime / 1e9,
            i.numTasks, m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten,
            i.name.take(90)))
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val qeHolder = new java.util.concurrent.atomic.AtomicReference[
        org.apache.spark.sql.execution.QueryExecution]()
      val qeListener =
        new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              durationNs: Long): Unit = qeHolder.set(qe)
          override def onFailure(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              exception: Exception): Unit = ()
        }
      spark.listenerManager.register(qeListener)
      val t0 = System.nanoTime()
      q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      if (!org.apache.spark.ListenerBusBridge.drain(spark.sparkContext, 10000))
        println(s"[stageprobe] ${q.name}: listener bus not drained " +
          "after 10 s; stage rows may be missing")
      Option(qeHolder.get()).foreach { qe =>
        val ph = qe.tracker.phases
          .map { case (k, v) => s"$k=${v.endTimeMs - v.startTimeMs}ms" }
          .mkString(" ")
        println(s"[stageprobe] ${q.name}: planning phases: $ph")
      }
      spark.listenerManager.unregister(qeListener)
      spark.sparkContext.removeSparkListener(listener)
      println(f"[stageprobe] ${q.name}: wall=$wall%.3f s, " +
        s"${listener.rows.size} stages")
      println(f"[stageprobe] ${"id"}%5s ${"wall_s"}%7s ${"cpu_s"}%7s " +
        f"${"tasks"}%5s ${"shufR_MB"}%8s ${"shufW_MB"}%8s  name")
      listener.rows.sortBy(-_._2).foreach {
        case (id, w, cpu, n, sr, sw, nm) =>
          println(f"[stageprobe] $id%5d $w%7.3f $cpu%7.3f $n%5d " +
            f"${sr / 1e6}%8.1f ${sw / 1e6}%8.1f  $nm")
      }
      val sumWall = listener.rows.map(_._2).filter(_ > 0).sum
      println(f"[stageprobe] ${q.name}: stage-wall sum=$sumWall%.3f s " +
        f"(gaps to $wall%.3f s = driver/plan/broadcast-build time)")
    }
    graft.GraftCaches.release(spark)
    spark.stop()
  }
}
