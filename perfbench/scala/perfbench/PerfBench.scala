package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfBenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark run of one workload, in one JVM.
  *
  *   PerfBench <workload> <q1,q2,...> <release 0|1> <warmupIters> <seed>
  *             <seconds> <trace 0|1> <dataDir> <outDir> <launchEpochNs>
  *
  * Phases: session and warm-up; a timed window of whole iterations of
  * the query mix (each iteration in a seed-fixed order, after
  * `GraftCaches.release` when asked). Every call collects its result;
  * the last window iteration's results are written as parquet under
  * `outDir/results` for the caller's DuckDB checks. The engine is
  * driven only through the catalog (`SparkEntry.queries`) and a few
  * public layer functions. Everything measured lands in
  * `outDir/result.json`; with trace=1 a Spark listener and a query
  * execution listener also record per-stage and per-plan figures.
  */
object PerfBench {

  final case class Call(idx: Int, iter: Int, query: String,
      startMs: Double, endMs: Double, ok: Boolean) {
    def seconds: Double = (endMs - startMs) / 1e3
  }

  def epochMs(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1e3 + i.getNano / 1e6
  }

  // ---- process-level counters (/proc) ----

  private def procFields(path: String): Array[String] =
    try {
      val s = new String(Files.readAllBytes(Paths.get(path)))
      s.substring(s.lastIndexOf(')') + 2).trim.split("\\s+")
    } catch { case _: Throwable => Array.empty }

  /** utime+stime of this JVM in clock ticks (all threads). */
  def selfCpuTicks(): Long = {
    val f = procFields("/proc/self/stat") // f(0) is field 3 (state)
    if (f.length > 12) f(11).toLong + f(12).toLong else -1L
  }

  /** (busy, steal) ticks of the whole machine from /proc/stat line 1. */
  def machineTicks(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      (f(1).toLong + f(2).toLong + f(3).toLong + f(6).toLong + f(7).toLong,
        if (f.length > 8) f(8).toLong else 0L)
    } catch { case _: Throwable => (-1L, -1L) }

  def statusKb(key: String): Long =
    try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith(key + ":"))
        .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    } catch { case _: Throwable => -1L }

  def loadAvg1(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  def jitMs(): Long =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def heapUsedMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  /** Heap still in use after two full collections: the data the engine
    * holds (cached tables, plans, generated classes' constants), not
    * the garbage G1 happened to leave behind. */
  def liveHeapAfterGcMb(): Double = {
    // Spark's ContextCleaner drops broadcast and shuffle state for the
    // references a collection finds, asynchronously: let it run between
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    heapUsedMb()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.ceil(q * s.size).toInt - 1).max(0))
    }

  def main(args: Array[String]): Unit = {
    val Array(wName, mixS, releaseS, warmupS0, seedS, secondsS, traceS,
      dataDir, outDir, launchNsS) = args
    val mix = mixS.split(",").toSeq
    val releaseEachIter = releaseS == "1"
    val seed = seedS.toLong
    val windowS = secondsS.toDouble
    val trace = traceS == "1"
    val launchMs = launchNsS.toLong / 1e6
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString).toInt

    val tSession0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$wName")
      .config("spark.sql.shuffle.partitions",
        graft.GraftSession.shufflePartitions(dataDir, cpus))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        graft.GraftSession.aqeMinPartitionSize)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionCreateS = (System.nanoTime() - tSession0) / 1e9
    val sc = spark.sparkContext

    val tracer = if (trace) Some(new Tracer(spark)) else None

    val catalog = graft.SparkEntry.queries
    val rng = new scala.util.Random(seed)
    val calls = ArrayBuffer.empty[Call]
    var failed = 0L
    var attempted = 0L

    // the latest collected result of each query: the checked outputs
    val results = scala.collection.mutable.Map.empty[String, (Array[Row], StructType)]

    /** One query call: build the catalog DataFrame and collect it. */
    def runCall(iter: Int, q: String): Call = {
      val idx = calls.size
      sc.setLocalProperty(Tracer.CallKey, idx.toString)
      val t0 = epochMs()
      var t1 = 0.0
      val ok =
        try {
          val df = catalog(q)(spark, dataDir)
          val rows = df.collect()
          t1 = epochMs()
          results(q) = (rows, df.schema)
          true
        } catch {
          case e: Throwable =>
            t1 = epochMs()
            System.err.println(s"[perfbench] $q failed: $e")
            results.remove(q)
            false
        }
      val c = Call(idx, iter, q, t0, t1, ok)
      sc.setLocalProperty(Tracer.CallKey, null)
      calls += c
      c
    }
    /** One iteration of the mix; returns its wall seconds. */
    def iteration(iter: Int, timed: Boolean): Double = {
      val t0 = System.nanoTime()
      if (releaseEachIter) graft.GraftCaches.release(spark)
      tracer.foreach(_.iterationStarts(iter))
      rng.shuffle(mix).foreach { q =>
        val c = runCall(iter, q)
        if (timed) { attempted += 1; if (!c.ok) failed += 1 }
      }
      val s = (System.nanoTime() - t0) / 1e9
      tracer.foreach(_.iterationEnds(iter))
      s
    }

    // ---- set-up: cache fill (dashboard) and warm-up ----
    var fillS = 0.0
    if (!releaseEachIter) {
      fillS = runCall(-1, mix.head).seconds
    }
    val warmupS = (1 to warmupS0.toInt).map(i => iteration(-i, timed = false))

    // ---- timed window ----
    val windowStartMs = epochMs()
    val cpu0 = selfCpuTicks()
    val (busy0, steal0) = machineTicks()
    val gc0 = gcMs()
    val jit0 = jitMs()
    val cg0 = PerfBenchBridge.codegenCompiles()
    val t0 = System.nanoTime()
    val iterS = ArrayBuffer.empty[Double]
    val iterCpuS = ArrayBuffer.empty[Double]
    val heapAfter = ArrayBuffer.empty[Double]
    while ((System.nanoTime() - t0) / 1e9 < windowS) {
      val c0 = selfCpuTicks()
      iterS += iteration(iterS.size, timed = true)
      iterCpuS += (selfCpuTicks() - c0) / 100.0
      if (trace) heapAfter += heapUsedMb()
    }
    val windowWallS = (System.nanoTime() - t0) / 1e9
    val cpu1 = selfCpuTicks()
    val (busy1, steal1) = machineTicks()
    val gc1 = gcMs()
    val jit1 = jitMs()
    val cg1 = PerfBenchBridge.codegenCompiles()
    val load1 = loadAvg1()
    val windowEndMs = epochMs()
    val liveHeapMb = liveHeapAfterGcMb()

    // ---- the last window iteration's results, to parquet for checking ----
    results.foreach { case (q, (rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/results/$q")
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => mix.contains(k) }

    // ---- traced extras: layer figures that need their own calls ----
    val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    tracer.foreach { tr =>
      PerfBenchBridge.drainListenerBus(sc)
      val windowCalls = calls.toSeq.filter(_.iter >= 0)
      layer ++= tr.perIteration(windowCalls, iterS.toSeq)
      layer("session.create_s") = sessionCreateS
      layer("jvm.gc_s_per_iter") = (gc1 - gc0) / 1e3 / iterS.size
      layer("jvm.jit_s_per_iter") = (jit1 - jit0) / 1e3 / iterS.size
      layer("spark.codegen_compiles_per_iter") = (cg1 - cg0).toDouble / iterS.size
      layer("jvm.heap_used_mb_after_iter") = median(heapAfter.toSeq)
      layer ++= Extras.forWorkload(spark, dataDir, wName, windowCalls, fillS)
    }

    val hz = 100.0
    val dt = (windowEndMs - windowStartMs) / 1e3
    val selfCores = (cpu1 - cpu0) / hz / dt
    val out = Json.obj(
      "workload" -> wName, "seed" -> seed, "cpus" -> cpus,
      "setup_s" -> (windowStartMs - launchMs) / 1e3,
      "session_create_s" -> sessionCreateS,
      "cache_fill_s" -> fillS,
      "warmup_s" -> warmupS,
      "iterations" -> iterS.size,
      "window_s" -> windowWallS,
      "iter_s" -> iterS.toSeq,
      "iter_cpu_s" -> iterCpuS.toSeq,
      "live_heap_mb" -> liveHeapMb,
      "peak_rss_mb" -> statusKb("VmHWM") / 1024.0,
      "attempted" -> attempted, "failed" -> failed,
      "noise" -> Json.obj(
        "steal_cores" -> (steal1 - steal0) / hz / dt,
        "other_cores" -> ((busy1 - busy0) / hz / dt - selfCores).max(0.0),
        "self_cores" -> selfCores,
        "loadavg_1m_end" -> load1),
      "calls" -> calls.toSeq.map(c => Json.obj("i" -> c.idx, "iter" -> c.iter,
        "q" -> c.query, "start_ms" -> c.startMs, "s" -> c.seconds, "ok" -> c.ok)),
      "layer" -> Json.obj(layer.toSeq: _*),
      "spans" -> tracer.map(_.spans(calls.toSeq)).getOrElse(Seq.empty))
    Files.writeString(Paths.get(s"$outDir/result.json"), Json.render(out))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json.render(Json.obj(oracle.toSeq: _*)))
    graft.GraftCaches.release(spark)
    spark.stop()
  }
}

/** Spark listener plus query-execution listener for the traced run.
  * Every query call sets the local property [[Tracer.CallKey]], so
  * jobs, stages and tasks are attributed to the call that ran them. */
final class Tracer(spark: SparkSession) {
  import PerfBench._

  final case class Stage(id: Int, call: Int, submitMs: Long, doneMs: Long,
      tasks: Int, runS: Double, cpuS: Double, gcS: Double,
      shufWriteB: Long, shufReadB: Long, shufRecords: Long,
      spillB: Long, inRows: Long, inBytes: Long)

  private val jobs = ArrayBuffer.empty[(Int, Int)] // (jobId, call)
  private val stageCall = scala.collection.mutable.Map.empty[Int, Int]
  private val stages = ArrayBuffer.empty[Stage]
  private val taskMs = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]
  private var peakTaskMemB = 0L
  private val plans = ArrayBuffer.empty[(Double, Double)] // (startMs, planMs)
  // RDD id watermark at each iteration start; stale blocks at its end
  private val iterWatermark = scala.collection.mutable.Map.empty[Int, Int]
  val staleBlocks = scala.collection.mutable.LinkedHashMap.empty[Int, Int]
  val persistedRdds = scala.collection.mutable.LinkedHashMap.empty[Int, Int]
  val storageMb = scala.collection.mutable.LinkedHashMap.empty[Int, Double]

  private def callOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.CallKey)))
      .map(_.toInt).getOrElse(-1)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += ((e.jobId, callOf(e.properties)))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized { stageCall(e.stageInfo.stageId) = callOf(e.properties) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (e.taskInfo != null)
        taskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration
      if (e.taskMetrics != null)
        peakTaskMemB = math.max(peakTaskMemB, e.taskMetrics.peakExecutionMemory)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages += Stage(i.stageId, stageCall.getOrElse(i.stageId, -1),
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
        i.numTasks, m.executorRunTime / 1e3, m.executorCpuTime / 1e9,
        m.jvmGCTime / 1e3, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.recordsRead, m.inputMetrics.bytesRead)
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty)
        plans += ((ph.map(_.startTimeMs).min.toDouble,
          ph.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum))
    }
  }
  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def iterationStarts(iter: Int): Unit =
    iterWatermark(iter) = spark.sparkContext.emptyRDD[Int].id

  def iterationEnds(iter: Int): Unit = {
    val mark = iterWatermark.getOrElse(iter, 0)
    staleBlocks(iter) = PerfBenchBridge.rddBlockOwners().count(_ < mark)
    val info = spark.sparkContext.getRDDStorageInfo
    persistedRdds(iter) = spark.sparkContext.getPersistentRDDs.size
    storageMb(iter) = info.map(r => r.memSize + r.diskSize).sum / 1048576.0
  }

  /** Per-iteration layer figures over the window's calls. */
  def perIteration(window: Seq[Call], iterS: Seq[Double]): Seq[(String, Double)] =
    synchronized {
      val n = iterS.size.max(1).toDouble
      val ids = window.map(_.idx).toSet
      val st = stages.filter(s => ids(s.call))
      val byIter = window.groupBy(_.iter)
      def per(f: Stage => Double): Double = st.map(f).sum / n
      // driver gap: iteration wall minus the union of its stage intervals
      val gaps = byIter.toSeq.map { case (_, cs) =>
        val cids = cs.map(_.idx).toSet
        val iv = st.filter(s => cids(s.call)).map(s => (s.submitMs, s.doneMs))
          .sortBy(_._1)
        var covered = 0L
        var end = Long.MinValue
        iv.foreach { case (a, b) =>
          val a1 = math.max(a, end)
          if (b > a1) covered += b - a1
          end = math.max(end, b)
        }
        (cs.map(_.endMs).max - cs.map(_.startMs).min) / 1e3 - covered / 1e3
      }
      // skew: per iteration, the stage with the most task time
      val skews = byIter.toSeq.flatMap { case (_, cs) =>
        val cids = cs.map(_.idx).toSet
        val big = st.filter(s => cids(s.call))
        if (big.isEmpty) None else {
          val top = big.maxBy(_.runS)
          val d = taskMs.getOrElse(top.id, ArrayBuffer.empty).map(_.toDouble).toSeq
          val med = median(d)
          if (med > 0) Some(d.max / med) else None
        }
      }
      val planMs = plans.filter { case (t, _) =>
        window.exists(c => t >= c.startMs - 1 && t <= c.endMs + 1)
      }.map(_._2)
      val windowIters = byIter.keySet
      Seq(
        "tables.scan_rows_per_iter" -> per(_.inRows.toDouble),
        "tables.scan_mb_per_iter" -> per(_.inBytes / 1048576.0),
        "spark.plan_ms_per_query" -> planMs.sum / window.size.max(1),
        "spark.jobs_per_iter" -> jobs.count(j => ids(j._2)) / n,
        "spark.stages_per_iter" -> st.size / n,
        "spark.tasks_per_iter" -> per(_.tasks.toDouble),
        "spark.driver_gap_s_per_iter" -> gaps.sum / n,
        "spark.stage_wall_s_per_iter" -> per(s => (s.doneMs - s.submitMs) / 1e3),
        "spark.task_cpu_s_per_iter" -> per(_.cpuS),
        "spark.task_gc_s_per_iter" -> per(_.gcS),
        "spark.shuffle_write_mb_per_iter" -> per(_.shufWriteB / 1048576.0),
        "spark.shuffle_read_mb_per_iter" -> per(_.shufReadB / 1048576.0),
        "spark.shuffle_records_per_iter" -> per(_.shufRecords.toDouble),
        "spark.spill_mb_per_iter" -> per(_.spillB / 1048576.0),
        "spark.task_skew" -> median(skews),
        "spark.peak_task_mem_mb" -> peakTaskMemB / 1048576.0,
        "caches.entries_per_iter" ->
          median(persistedRdds.filter(e => windowIters(e._1)).values.map(_.toDouble).toSeq),
        "caches.storage_mb" ->
          median(storageMb.filter(e => windowIters(e._1)).values.toSeq),
        "caches.blocks_after_release" ->
          staleBlocks.filter(e => windowIters(e._1)).values.lastOption.getOrElse(0).toDouble)
    }

  def spans(calls: Seq[Call]): Seq[Any] = {
    val its = calls.groupBy(_.iter).toSeq.sortBy(_._1).map { case (it, cs) =>
      Json.obj("name" -> s"iteration", "iter" -> it,
        "start_ms" -> cs.map(_.startMs).min, "end_ms" -> cs.map(_.endMs).max,
        "stale_blocks" -> staleBlocks.getOrElse(it, -1))
    }
    its ++ calls.map(c => Json.obj("name" -> c.query, "parent_iter" -> c.iter,
      "start_ms" -> c.startMs, "end_ms" -> c.endMs,
      "stages" -> synchronized(stages.count(_.call == c.idx))))
  }
}

object Tracer { val CallKey = "perfbench.call" }

/** Layer figures that need calls of their own (traced run only). */
object Extras {
  import PerfBench._

  private def callMedian(calls: Seq[Call], q: String): Double =
    median(calls.filter(_.query == q).map(_.seconds))

  /** Rows per second of `f(df)` written to the noop sink; median of 3. */
  private def mrowsPerS(df: DataFrame, rows: Long)(f: DataFrame => DataFrame): Double = {
    val ts = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      f(df).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    rows / median(ts) / 1e6
  }

  /** `Transforms.superCategory` over the yelp fixture's business
    * category strings (YelpQueries.categoryStrings), 2 M cached rows. */
  private def superCategoryMrowsPerS(spark: SparkSession): Double = {
    val cats = Seq("Restaurants, Mexican", "Food Trucks, Bars",
      "Shopping, Fashion", "Bars, Nightlife", "Gyms, Yoga", "Auto Repair",
      null, "Quantum Widgets")
    val n = 2000000L
    val df = spark.range(n).select(element_at(
      array(cats.map(c => lit(c).cast("string")): _*),
      (col("id") % 8 + 1).cast("int")).as("categories")).cache()
    df.count()
    val r = mrowsPerS(df, n)(_.select(
      graft.yelp.Transforms.superCategory(col("categories")).as("s")))
    df.unpersist(true)
    r
  }

  def forWorkload(spark: SparkSession, d: String, w: String, calls: Seq[Call],
      fillS: Double): Seq[(String, Double)] = w match {
    case "dashboard" =>
      val ms = calls.map(_.seconds * 1e3)
      Seq("caches.fill_s" -> fillS,
        "ext.super_category_mrows_per_s" -> superCategoryMrowsPerS(spark),
        // a p95 needs at least ten samples beyond it
        "yelp.query_p95_ms" -> (if (ms.size >= 200) quantile(ms, 0.95) else Double.NaN),
        "yelp.query_calls" -> ms.size.toDouble) ++
        Seq("kpi", "avg_rating", "biz_by_stars", "yearly_trends",
          "daywise_category", "engagement", "top_states", "most_active",
          "top_biz_per_city", "review_length").map(q =>
          s"yelp.${q}_ms" -> callMedian(calls, s"q_yelp_$q") * 1e3)
    case "neardup_text" =>
      val docs = graft.Tables.documents(spark, d)
      val text = docs.select(col("text"))
        .repartition(spark.sessionState.conf.numShufflePartitions).cache()
      val rows = text.count()
      val kernel = mrowsPerS(text, rows)(_.select(
        size(graft.scale.Dedup.shingleHashes(col("text"))).as("n")))
      val interp = mrowsPerS(text, rows)(_.select(
        size(graft.scale.Dedup.shingleHashesInterpreted(col("text"))).as("n")))
      text.unpersist(true)
      val sh = docs.select(col("doc_id"),
        graft.scale.Dedup.shingleHashes(col("text")).as("sh"))
        .filter(size(col("sh")) > 0).cache()
      val lshCand = graft.scale.Dedup.lshCandidates(
        graft.scale.Dedup.bandBuckets(sh)).count()
      val ngramCand = graft.scale.Dedup.ngramCandidates(sh).count()
      sh.unpersist(true)
      val q = graft.SparkEntry.queries
      // LSH is not in the timed mix: three calls of its own, median
      var lshPairs = 0L
      val lshS = median((1 to 3).map { _ =>
        graft.GraftCaches.release(spark)
        val t0 = System.nanoTime()
        lshPairs = q("q_dedup_minhash_lsh")(spark, d).collect().length
        (System.nanoTime() - t0) / 1e9
      })
      val ngramPairs = q("q_dedup_ngram_jaccard")(spark, d).count()
      Seq("ext.shingle_hash_mrows_per_s" -> kernel,
        "ext.shingle_hash_interp_mrows_per_s" -> interp,
        "scale.minhash_lsh_s" -> lshS,
        "scale.ngram_jaccard_s" -> callMedian(calls, "q_dedup_ngram_jaccard"),
        "scale.containment_s" -> callMedian(calls, "q_dedup_containment"),
        "scale.lsh_candidates" -> lshCand.toDouble,
        "scale.lsh_yield" -> lshPairs.toDouble / lshCand.max(1L),
        "scale.ngram_candidates" -> ngramCand.toDouble,
        "scale.ngram_yield" -> ngramPairs.toDouble / ngramCand.max(1L))
    case _ => Seq.empty
  }
}

/** Minimal JSON writer for the result file (numbers, strings, booleans,
  * sequences and insertion-ordered objects). */
object Json {
  final class Obj(val fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = new Obj(fields)

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null => "null"
    case o: Obj => o.fields.map { case (k, x) => str(k) + ":" + render(x) }
      .mkString("{", ",", "}")
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(render).mkString("[", ",", "]")
    case x => str(x.toString)
  }
}
