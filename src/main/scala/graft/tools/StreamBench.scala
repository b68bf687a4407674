package graft.tools

import graft.ProcCpu
import graft.streaming.EventStreams
import graft.streaming.EventStreams.{Change, Event}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.{Files, Paths}

/** Stateful-streaming throughput bench (VERDICT r13 #7, gateable per
  * VERDICT r15 #2): the stateful runtime (transformWithState debounce
  * + KMV sketch, fMGWS CDC apply) is parity-locked but a state-store
  * regression is invisible to the batch-only bench. r13–r15 printed a
  * single pass per processor, whose ±18 % same-box swing meant a 10 %
  * regression bar could never actually be enforced. This version
  * applies the Bench playbook to the streaming surface:
  *
  *   - each processor runs a small untimed warm-up then [[Runs]]
  *     timed passes, each against a FRESH MemoryStream + query (state
  *     store starts empty every pass — pass 2 of a shared query would
  *     bench ever-growing state, not the processor);
  *   - every pass carries its own /proc/stat − /proc/self/stat
  *     external-core reading ([[ProcCpu.extCores]]);
  *   - a sweep is clean iff pre-sweep 1-min loadavg ≤ [[IdleLoadGate]],
  *     every pass's ext_cores ≤ [[ExtCoresGate]], and every
  *     processor's cross-pass spread (max−min)/min ≤ [[SpreadGate]] —
  *     dirty sweeps are discarded and retried (≤ [[MaxSweeps]]), every
  *     attempt stamped into the JSON;
  *   - ONE JSON line in the Bench schema (queries/sweeps/kept/clean),
  *     also written to target/streambench.json, so the committed
  *     STREAMBENCH_r{N}.json artifact is self-adjudicating.
  *
  *   sbt "runMain graft.tools.StreamBench 200000 20"
  */
object StreamBench {
  private val Runs         = 3
  private val IdleLoadGate = 2.0
  /** In-VM external-process bound, STEAL EXCLUDED (see
    * [[graft.ProcCpu.boxBusyJiffies]]). Calibrated r16: a streaming
    * pass's OWN kernel-side halo (kworker writeback from per-batch
    * state/offset commits — outside /proc/self, unlike the batch
    * engine's ~0.03) reads a steady 2.0–2.65 cores on a provably
    * quiet box, while the r14 contamination class (a second JVM
    * draining a verify sweep) burns 8+. 3.5 separates them. */
  private val ExtCoresGate = 3.5
  /** Per-pass hypervisor-steal bound: steal is bursty on this guest
    * (0.0–0.03 cores in quiet windows — sweeps land there regularly —
    * vs 1.5–2.7 during neighbor bursts, which inflated every affected
    * pass up to 2×). A pass above this ran during a burst; retry. */
  private val StealGate    = 0.5
  private val SpreadGate   = 0.10
  private val MaxSweeps    = 4
  private val RetrySleepMs = 90000L

  private case class Pass(secs: Double, ext: Double, steal: Double)
  private case class Sweep(loadStart: Double, loadEnd: Double,
                           speedIdx: Double,
                           passes: Map[String, Seq[Pass]]) {
    def minSecs: Map[String, Double] =
      passes.view.mapValues(_.map(_.secs).min).toMap
    def spread: Map[String, Double] = passes.view.mapValues { ps =>
      val s = ps.map(_.secs); (s.max - s.min) / s.min
    }.toMap
    def total: Double = minSecs.values.sum
    def clean: Boolean =
      loadStart <= IdleLoadGate &&
        passes.values.flatten.forall(p => p.ext < 0 || p.ext <= ExtCoresGate) &&
        passes.values.flatten.forall(p => p.steal < 0 || p.steal <= StealGate) &&
        spread.values.forall(_ <= SpreadGate)
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(200000)
    val batches = args.drop(1).headOption.map(_.toInt).getOrElse(20)
    // Optional retry budget override: hypervisor-steal bursts come in
    // ~minutes-long waves (r16 evidence in the sweeps array), so an
    // artifact attempt on a noisy evening may want more windows.
    val maxSweeps = args.drop(2).headOption.map(_.toInt).getOrElse(MaxSweeps)
    // no input dir: the streams are generated in memory, so the
    // shuffle partitions stay at the 8 cores
    val spark = graft.GraftSession.create(8, "",
      Map("spark.sql.streaming.stateStore.providerClass" ->
        ("org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")))
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext

    def events(batch: Int, rows: Int): Seq[Event] =
      (0 until rows).map { j =>
        val id = batch.toLong * rows + j
        Event(id, new java.sql.Timestamp(1700000000000L + id * 1000L),
          id % 997, if (id % 3 == 0) "click" else "view",
          (id % 100).toDouble)
      }
    def changes(batch: Int, rows: Int): Seq[Change] =
      (0 until rows).map { j =>
        val id = batch.toLong * rows + j
        Change(id % 4999, id, if (id % 11 == 0) "D" else "U", id % 10000)
      }

    /** One timed pass: fresh stream + fresh query, feed all batches,
      * processAllAvailable per batch (the micro-batch cadence), stop.
      * Pass hygiene against the r16-measured variance sources: a
      * System.gc() BEFORE the clock starts (the prior passes'
      * MemoryStream buffers — 200 k case objects each — otherwise
      * collect mid-pass: one observed 18.9 s outlier against 6.3 s
      * siblings was a full GC landing inside the timed window), and
      * an EXPLICIT checkpoint dir deleted after the pass (temp
      * checkpoints accumulate RocksDB state on disk across passes —
      * unbounded writeback drift). */
    var passSeq = 0
    def rmTree(p: java.io.File): Unit = {
      val cs = p.listFiles(); if (cs != null) cs.foreach(rmTree)
      p.delete(); ()
    }
    // Stale-state guard (ADVICE r16): after an abnormal termination
    // (kill -9, OOM) a previous run's checkpoint dirs survive, and
    // since passSeq restarts at 1 the new query would start on an
    // EXISTING checkpointLocation — Spark then attempts recovery,
    // which MemoryStream sources do not support, failing the pass.
    // Clear the whole root up front, and each pass's dir again
    // immediately before start() (belt and braces).
    rmTree(Paths.get("target", "sb_ckpt").toFile)
    def pass[T](mk: (Int, Int) => Seq[T],
                start: Dataset[T] => Dataset[_],
                mode: String, total: Int, nBatches: Int)
               (implicit e: org.apache.spark.sql.Encoder[T]): Pass = {
      passSeq += 1
      val ckpt = Paths.get("target", "sb_ckpt", s"p$passSeq")
      rmTree(ckpt.toFile)
      val in = MemoryStream[T]
      val q = start(in.toDS()).writeStream.format("noop")
        .option("checkpointLocation", ckpt.toString)
        .outputMode(mode).start()
      try {
        System.gc()
        val perBatch = total / nBatches
        val box0 = ProcCpu.boxBusyJiffies()
        val self0 = ProcCpu.selfBusyJiffies()
        val st0 = ProcCpu.stealJiffies()
        val t0 = System.nanoTime()
        var i = 0
        while (i < nBatches) {
          in.addData(mk(i, perBatch): _*); q.processAllAvailable(); i += 1
        }
        val secs = (System.nanoTime() - t0) / 1e9
        val ext = ProcCpu.extCores(box0, self0,
          ProcCpu.boxBusyJiffies(), ProcCpu.selfBusyJiffies(), secs)
        val st1 = ProcCpu.stealJiffies()
        val steal = if (st0 < 0 || st1 < 0 || secs <= 0) -1.0
                    else (st1 - st0) / ProcCpu.UserHz / secs
        Pass(secs, ext, steal)
      } finally {
        q.stop()
        // bounded disk: drop this pass's RocksDB/offset state
        rmTree(ckpt.toFile)
      }
    }

    // Per-processor pass-length factor (VERDICT r16 #4): kmv_tws was
    // the lone processor outside the 10 % spread bar (13.0 % in the
    // r16 kept sweep; siblings 3.5/4.0 %) — update-mode snapshot
    // emission jitter (per-batch per-key sketch snapshots through the
    // RocksDB store) does not average out at a ~6 s pass. Doubling
    // the pass (2× rows over 2× batches — per-batch size unchanged,
    // so the micro-batch regime is identical) halves the relative
    // weight of any single jittery batch; rows_per_sec stays directly
    // comparable across rounds, raw secs carry the stamped factor.
    val sizeFactor: Map[String, Int] =
      Map("kmv_tws" -> 2).withDefaultValue(1)
    val procs: Seq[(String, Int => Pass)] = Seq(
      ("debounce_tws", (rows: Int) =>
        pass[Event](events, ds => EventStreams.debouncedEvents(spark, ds),
          "append", rows, batches)),
      ("kmv_tws", (rows: Int) =>
        pass[Event](events, ds => EventStreams.kmvByType(spark, ds),
          "update", rows * sizeFactor("kmv_tws"),
          batches * sizeFactor("kmv_tws"))),
      ("cdc_apply_fmgws", (rows: Int) =>
        pass[Change](changes, ds => EventStreams.cdcApply(spark, ds),
          "update", rows, batches)))

    def sweep(): Sweep = {
      val la0 = ProcCpu.loadAvg()
      ProcCpu.speedIndex() // JIT warm-up for the probe loop
      val spd = ProcCpu.speedIndex()
      val passes = procs.map { case (tag, run) =>
        // warm-up at FULL size, discarded: a reduced-size warm pass
        // left pass 1 consistently ~20 % above its siblings (page
        // cache, RocksDB block cache, codegen all still filling) —
        // the spread gate then read pure warm-up drift as dirt
        run(n)
        tag -> (1 to Runs).map(_ => run(n))
      }.toMap
      Sweep(la0, ProcCpu.loadAvg(), spd, passes)
    }

    val sweeps = scala.collection.mutable.ArrayBuffer.empty[Sweep]
    var attempt = 0
    var done = false
    while (!done && attempt < maxSweeps) {
      attempt += 1
      var waits = 0
      while (ProcCpu.loadAvg() > IdleLoadGate && waits < 3) {
        System.err.println(f"[streambench] loadavg ${ProcCpu.loadAvg()}%.2f" +
          f" > $IdleLoadGate%.1f — sleeping ${RetrySleepMs / 1000} s")
        Thread.sleep(RetrySleepMs); waits += 1
      }
      val s = sweep()
      sweeps += s
      if (s.clean) done = true
      else System.err.println(f"[streambench] sweep $attempt dirty " +
        f"(loadStart ${s.loadStart}%.2f, maxSpread " +
        f"${s.spread.values.max * 100}%.1f %%, maxExt " +
        f"${s.passes.values.flatten.map(_.ext).max}%.2f) — " +
        (if (attempt < maxSweeps) "retrying" else "out of retries"))
    }
    val keptIdx = sweeps.indexWhere(_.clean) match {
      case -1 => sweeps.zipWithIndex.minBy(_._1.total)._2
      case i  => i
    }
    val kept = sweeps(keptIdx)
    val fed = batches.toLong * (n / batches)
    // rows actually fed per processor (pass-length factors included) —
    // the rows_per_sec denominator, so throughput stays cross-round
    // comparable even when a processor's raw pass is 2× longer
    def fedOf(k: String): Long = sizeFactor(k) * fed

    val names = procs.map(_._1)
    def fmtMap(m: Map[String, Double], scale: Double = 1.0): String =
      names.map(k => "\"" + k + "\":" + f"${m(k) * scale}%.3f")
        .mkString("{", ",", "}")
    val rps = kept.minSecs.map { case (k, s) => k -> (fedOf(k) / s) }
    val sweepsJson = sweeps.map { s =>
      val passJson = names.map { k =>
        "\"" + k + "\":[" + s.passes(k).map(p =>
          f"""{"secs":${p.secs}%.3f,"ext":${p.ext}%.2f,""" +
            f""""steal":${p.steal}%.2f}""").mkString(",") + "]"
      }.mkString("{", ",", "}")
      f"""{"loadavg":[${s.loadStart}%.2f,${s.loadEnd}%.2f],""" +
        f""""speed_midx":${s.speedIdx}%.0f,""" +
        f""""passes":$passJson,"spread_pct":${fmtMap(s.spread, 100)},""" +
        f""""clean":${s.clean}}"""
    }.mkString("[", ",", "]")
    val sizeFactorJson = names
      .map(k => "\"" + k + "\":" + sizeFactor(k)).mkString("{", ",", "}")
    val line =
      f"""{"metric":"total","value":${kept.total}%.3f,"unit":"sec","queries":${fmtMap(kept.minSecs)},"rows_per_sec":${fmtMap(rps.toMap)},"spread_pct":${fmtMap(kept.spread, 100)},"rows":$fed,"size_factor":$sizeFactorJson,"batches":$batches,"runs":$Runs,"agg":"min","sweeps":$sweepsJson,"kept":$keptIdx,"clean":${kept.clean},"ext_gate":$ExtCoresGate%.1f,"steal_gate":$StealGate%.1f,"spread_gate_pct":${SpreadGate * 100}%.0f,"loadavg_start":${kept.loadStart}%.2f,"loadavg_end":${kept.loadEnd}%.2f}"""
    println(line)
    try {
      Files.createDirectories(Paths.get("target"))
      Files.writeString(Paths.get("target/streambench.json"), line + "\n")
    } catch { case e: Throwable =>
      System.err.println(s"[streambench] write failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
