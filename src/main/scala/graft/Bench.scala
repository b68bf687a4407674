package graft

import java.nio.file.{Files, Paths}

/** Benchmark main: times the headline query set on SPARK_GRAFT_SF_DIR
  * and prints ONE JSON line the driver collects as BENCH_r{N}.json.
  * The same line is also written to target/bench.json so the metric
  * survives even if stdout gets wrapped by a build-tool logger (round 1
  * lost the parse to sbt's "[info] " prefix).
  *
  * Each query runs once untimed (JVM/codegen/broadcast warm-up — we
  * measure the engine, not JIT compilation) and then timed TWICE,
  * reporting the per-query MIN — the standard de-noise against
  * shared-machine load spikes (round 1's driver run was ~6× BENCHNOTES
  * on every query and inverted one comparison). AQE stays on, shuffle
  * partitions match local core count.
  *
  * == Contamination gate (VERDICT r14 #1) ==
  * Round 14's committed artifact ran on a box whose load climbed to
  * 11.6 mid-sweep and every query inflated ~22 % with zero code
  * changes. The r13-era gate only checked `loadavg_start`, so load
  * arriving MID-run still poisoned the stamped number. Loadavg alone
  * cannot close that hole: our own local[32] sweep legitimately drives
  * the 1-minute loadavg past 10 (r13's clean run ended at 11.55; r14's
  * poisoned one at 11.64 — indistinguishable). The discriminating
  * signal is CPU-time accounting: during each timed pass we read
  * `/proc/stat` (whole-box busy jiffies) and `/proc/self/stat`
  * (this JVM's utime+stime, all threads — Spark local mode is a single
  * JVM, so "self" IS the engine). external_cores =
  * (boxBusyΔ − selfΔ) / USER_HZ / wallSeconds — the average number of
  * cores someone ELSE burned while our clock ran. An idle box shows
  * ≲0.3 (kernel threads, sbt parent heartbeat); the r14 contamination
  * pattern (a 15-min verify sweep draining in another JVM) shows
  * several. When any timed pass exceeds [[ExtCoresGate]] — or the
  * pre-sweep loadavg exceeds [[IdleLoadGate]] — the WHOLE sweep is
  * discarded, we sleep, and re-run, up to [[MaxSweeps]] attempts.
  * Every attempt's loadavg samples and external-core readings are
  * stamped into the JSON (`sweeps` array + `kept` index) so the
  * artifact is self-adjudicating even when all attempts were dirty
  * (then: min-total attempt kept, `clean:false`).
  *
  * Failures are NOT swallowed: a query that errors is timed to its
  * failure point, reported in an "errors" map, and forces a non-zero
  * exit — a silently-zero bench entry must never read as a pass.
  */
private[graft] object ProcCpu {
  /** 1-minute system load average (pre-sweep gate + evidence). */
  def loadAvg(): Double = {
    val v = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    if (v.isNaN) -1.0 else v
  }

  /** Whole-box busy jiffies from /proc/stat line 1:
    * user+nice+system+irq+softirq (idle+iowait excluded — and STEAL
    * excluded since r16: on this firecracker guest, steal is charged
    * in proportion to OUR OWN vCPU activity — measured idle steal
    * ≈ 0.0–0.15 cores vs 1–2 cores whenever a local[8] sweep runs —
    * so counting it in "busy" made ext_cores read the hypervisor's
    * tax on ourselves as a contaminating process and permanently
    * blew the 1.5-core gate for any state-heavy workload. Steal is
    * still read separately ([[stealJiffies]]) and stamped per pass
    * as evidence; its timing effect is pass-to-pass variance, which
    * the min-of-N aggregation and the spread gates absorb.)
    * -1 when unreadable (non-Linux) — gating then degrades to the
    * loadavg_start check only. */
  def boxBusyJiffies(): Long = try {
    val line = Files.readAllLines(Paths.get("/proc/stat")).get(0)
    val f = line.trim.split("\\s+")
    // cpu user nice system idle iowait irq softirq steal ...
    f(1).toLong + f(2).toLong + f(3).toLong + f(6).toLong + f(7).toLong
  } catch { case _: Throwable => -1L }

  /** Hypervisor steal jiffies (/proc/stat field 9) — stamped as
    * evidence next to ext_cores, never summed into it (see
    * [[boxBusyJiffies]]). */
  def stealJiffies(): Long = try {
    val line = Files.readAllLines(Paths.get("/proc/stat")).get(0)
    val f = line.trim.split("\\s+")
    if (f.length > 8) f(8).toLong else 0L
  } catch { case _: Throwable => -1L }

  /** This process's utime+stime jiffies (/proc/self/stat fields 14,15,
    * 1-based; sums all threads — the whole local-mode engine). */
  def selfBusyJiffies(): Long = try {
    val s = Files.readString(Paths.get("/proc/self/stat"))
    // comm (field 2) may contain spaces/parens — split after the ')'.
    val rest = s.substring(s.lastIndexOf(')') + 2).split("\\s+")
    // rest(0) is field 3 (state); utime=field 14 → rest(11), stime → rest(12)
    rest(11).toLong + rest(12).toLong
  } catch { case _: Throwable => -1L }

  /** Linux USER_HZ: 100 on every mainstream kernel/ABI this runs on
    * (x86-64, aarch64); only used to convert jiffies → cores, and both
    * numerator terms share the unit so a wrong constant would scale,
    * not invert, the gate. */
  val UserHz = 100.0

  /** Fixed-work single-thread speed probe: a 4×10⁸-iteration
    * xorshift64 loop, returned as Miter/s. Stamped per sweep as a
    * box-speed index — the THIRD noise channel after in-VM processes
    * (ext_cores) and hypervisor steal: host cache/membw contention
    * from neighbor tenants slows every cycle without being charged
    * to either counter (observed r16: steal 0.06 with headline
    * totals still +14 % over the r15 quiet window). Not gated —
    * evidence for conditioning cross-round comparisons. Call twice
    * and keep the second (first run JITs the loop). */
  def speedIndex(): Double = {
    var x = 0x9E3779B97F4A7C15L
    val n = 400000000L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val dt = (System.nanoTime() - t0) / 1e9
    // keep `x` observable so the JIT cannot dead-code the loop
    if (x == 42L) System.err.println("")
    n / dt / 1e6
  }

  /** Average non-self cores burned over a timed window — the Bench
    * contamination discriminator (loadavg cannot tell our own
    * local[32] load from a contaminating process; CPU accounting
    * can). -1 when /proc is unreadable. */
  def extCores(box0: Long, self0: Long, box1: Long, self1: Long,
               wallS: Double): Double =
    if (box0 < 0 || self0 < 0 || box1 < 0 || self1 < 0 || wallS <= 0) -1.0
    else math.max(0.0, (box1 - box0 - (self1 - self0)) / UserHz / wallS)
}

object Bench {
  import ProcCpu.{loadAvg, boxBusyJiffies, selfBusyJiffies}

  private val IdleLoadGate = 2.0   // pre-sweep 1-min loadavg bound
  private val ExtCoresGate = 1.5   // avg non-self cores during a timed pass
  /** Per-pass hypervisor-steal bound (r16): steal is the OTHER
    * contamination channel — invisible to ext_cores (it is not a
    * process in this VM) but it directly confiscates our vCPUs: a
    * steal storm of 3.7–4.3 cores measured 2.3× on every pass total
    * (70.6/87.5 s vs the 31 s quiet-window artifact) with ext 0.00,
    * and even sub-core steal is not free: a 0.17/0.66-steal sweep
    * measured +24 % on the headline total against the r15 quiet
    * window (whose whole-pass steal+ext reading was 0.03). Gate at
    * 0.3: quiet windows (the historical norm — r13–r15 artifacts all
    * landed in them) read ≈0.0, storms read 0.7–4.3. A night with no
    * quiet window yields clean:false with the steal evidence stamped
    * — honest and explainable, where a loose gate would stamp a
    * +24 % artifact as a code regression that never happened. */
  private val StealGate    = 0.3
  private val MaxSweeps    = 4     // bounded retries (1 + 3)
  private val RetrySleepMs = 120000L // our own loadavg must decay too
  /** Hard wall-clock budget for the whole retry policy: with 4
    * sweeps × (up to 3 pre-waits + a ~4–5 min sweep) the worst case
    * is ~40 min, which risks blowing the driver's invocation budget
    * and losing the round's artifact entirely to a timeout. Once the
    * budget is spent, stop retrying and emit the least-dirty sweep —
    * a stamped dirty artifact beats no artifact. */
  private val TimeBudgetMs = 18 * 60 * 1000L

  private[graft] case class Pass(total: Double, ext: Double, steal: Double,
                          times: Map[String, Double],
                          errors: Map[String, String])
  private[graft] case class Sweep(loadStart: Double, loadMid: Double,
                           loadEnd: Double, speedIdx: Double,
                           warmErrors: Map[String, String],
                           p1: Pass, p2: Pass) {
    def total: Double = // per-query min across the two passes
      p1.times.map { case (n, t) => math.min(t, p2.times(n)) }.sum
    // a sweep owns its failures: a transient error in a sweep the
    // gate discards must not contaminate the kept sweep's artifact
    // (r15 ADVICE — stale errors forced exit 1 on clean timings)
    def errors: Map[String, String] = warmErrors ++ p1.errors ++ p2.errors
    def clean: Boolean =
      loadStart <= IdleLoadGate &&
        (p1.ext < 0 || p1.ext <= ExtCoresGate) &&
        (p2.ext < 0 || p2.ext <= ExtCoresGate) &&
        (p1.steal < 0 || p1.steal <= StealGate) &&
        (p2.steal < 0 || p2.steal <= StealGate)
  }

  /** Kept-sweep selection: first CLEAN sweep wins; with no clean sweep
    * the least-dirty (min-total) one is stamped. The kept sweep alone
    * determines the artifact's top-level errors map and the exit code
    * — a transient failure in a sweep the gate DISCARDED must not
    * force exit 1 against clean kept timings (VERDICT r16 #7; the
    * retried-away case is pinned by BenchPolicySpec). */
  private[graft] def keptIndex(sweeps: Seq[Sweep]): Int =
    sweeps.indexWhere(_.clean) match {
      case -1 => sweeps.zipWithIndex.minBy(_._1.total)._2 // least-dirty
      case i  => i
    }

  /** Reference box-speed index (Miter/s from [[ProcCpu.speedIndex]])
    * for the speed-normalized companion total: the r16 quiet-window
    * ceiling on this hardware class. `value_speednorm` =
    * value × speed_midx / RefSpeedMidx — a slower box (host cache /
    * membw contention from neighbor tenants) inflates every measured
    * second, so scaling by the same sweep's fixed-work probe makes
    * cross-round headline comparison mechanical instead of requiring
    * three conditioning variables read by hand (VERDICT r16 #3). The
    * RAW value stays the primary metric; the companion is the
    * conditioned view. */
  private[graft] val RefSpeedMidx = 470.0

  private[graft] def speedNorm(total: Double, speedIdx: Double): Double =
    if (speedIdx > 0) total * speedIdx / RefSpeedMidx else total

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // volume-derived shuffle partitions (== cpus at sf0.1; grows with
    // the input so a bigger SF never hash-aggregates through under-sized
    // shuffles) and the AQE coalesce floor: see GraftSession
    val spark = GraftSession.create(cpus, sfDir)

    val qs = SparkEntry.headline

    def runAll(timed: Boolean): Pass = {
      val errs = scala.collection.mutable.LinkedHashMap.empty[String, String]
      val wall0 = System.nanoTime()
      val box0 = boxBusyJiffies(); val self0 = selfBusyJiffies()
      val st0 = ProcCpu.stealJiffies()
      val times = qs.map { q =>
        val t0 = System.nanoTime()
        try q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          val tag = if (timed) "" else "warmup: "
          errs.put(q.name,
            s"$tag${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        q.name -> (System.nanoTime() - t0) / 1e9
      }.toMap
      val wallS = (System.nanoTime() - wall0) / 1e9
      val box1 = boxBusyJiffies(); val self1 = selfBusyJiffies()
      val ext = ProcCpu.extCores(box0, self0, box1, self1, wallS)
      val st1 = ProcCpu.stealJiffies()
      val steal =
        if (st0 < 0 || st1 < 0 || wallS <= 0) -1.0
        else (st1 - st0) / ProcCpu.UserHz / wallS
      Pass(times.values.sum, ext, steal, times, errs.toMap)
    }

    // NOTE (round 8): a System.gc() before each query's clock was
    // tried here to reclaim prior queries' broadcast/shuffle state —
    // it trimmed the heavy tail (~0.2 s on q_yelp_master_volume) but
    // cost every mid query ~0.3 s (full GC evicts soft-referenced
    // broadcast/codegen state the back-to-back passes otherwise
    // reuse): idle-box totals 26.1 s with GC vs 23.5 s without.
    // Reverted; see BENCHNOTES Round 8.
    def sweep(): Sweep = {
      val la0 = loadAvg()
      ProcCpu.speedIndex() // JIT warm-up for the probe loop
      val spd = ProcCpu.speedIndex()
      val warm = runAll(timed = false) // warm-up: discard timing, keep errors
      val laMid = loadAvg()
      val p1 = runAll(timed = true)
      val p2 = runAll(timed = true)
      Sweep(la0, laMid, loadAvg(), spd, warm.errors, p1, p2)
    }

    val sweeps = scala.collection.mutable.ArrayBuffer.empty[Sweep]
    var attempt = 0
    var done = false
    val policyT0 = System.nanoTime()
    def budgetLeft: Boolean =
      (System.nanoTime() - policyT0) / 1e6 < TimeBudgetMs
    while (!done && attempt < MaxSweeps && (attempt == 0 || budgetLeft)) {
      attempt += 1
      // Pre-sweep idle wait: a retry must also let OUR OWN previous
      // sweep's loadavg decay (1-min average halves every ~42 s).
      var waits = 0
      while (loadAvg() > IdleLoadGate && waits < 3 && budgetLeft) {
        System.err.println(f"[bench] loadavg ${loadAvg()}%.2f > " +
          f"$IdleLoadGate%.1f — sleeping ${RetrySleepMs / 1000} s (wait ${waits + 1}/3)")
        Thread.sleep(RetrySleepMs); waits += 1
      }
      val s = sweep()
      sweeps += s
      if (s.clean) done = true
      else System.err.println(f"[bench] sweep $attempt dirty " +
        f"(loadStart ${s.loadStart}%.2f, ext ${s.p1.ext}%.2f/${s.p2.ext}%.2f," +
        f" steal ${s.p1.steal}%.2f/${s.p2.steal}%.2f cores) — " +
        (if (attempt < MaxSweeps && budgetLeft) "retrying"
         else if (!budgetLeft) "time budget spent" else "out of retries"))
    }
    val keptIdx = keptIndex(sweeps.toSeq)
    val kept = sweeps(keptIdx)
    val results = qs.map { q =>
      q.name -> math.min(kept.p1.times(q.name), kept.p2.times(q.name))
    }

    val qJson = results
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    def errMapJson(m: Map[String, String]): String = m
      .map { case (k, v) => jstr(k) + ":" + jstr(v.take(300)) }
      .mkString("{", ",", "}")
    // the artifact's top-level errors (and the exit code) reflect the
    // KEPT sweep only; every sweep still carries its own errors below
    val errJson = errMapJson(kept.errors)
    val sweepsJson = sweeps.map { s =>
      f"""{"loadavg":[${s.loadStart}%.2f,${s.loadMid}%.2f,${s.loadEnd}%.2f],""" +
        f""""speed_midx":${s.speedIdx}%.0f,""" +
        f""""ext_cores":[${s.p1.ext}%.2f,${s.p2.ext}%.2f],""" +
        f""""steal_cores":[${s.p1.steal}%.2f,${s.p2.steal}%.2f],""" +
        f""""pass_totals":[${s.p1.total}%.3f,${s.p2.total}%.3f],""" +
        f""""errors":${errMapJson(s.errors)},"clean":${s.clean}}"""
    }.mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","value_speednorm":${speedNorm(total, kept.speedIdx)}%.3f,"speed_midx":${kept.speedIdx}%.0f,"ref_midx":$RefSpeedMidx%.0f,"queries":$qJson,"errors":$errJson,"runs":2,"agg":"min","sweeps":$sweepsJson,"kept":$keptIdx,"clean":${kept.clean},"ext_gate":$ExtCoresGate%.1f,"steal_gate":$StealGate%.1f,"idle_gated":${sweeps.length > 1},"loadavg_start":${kept.loadStart}%.2f,"loadavg_end":${kept.loadEnd}%.2f,"sf":"$sfDir"}"""
    println(line)
    try {
      Files.createDirectories(Paths.get("target"))
      Files.writeString(Paths.get("target/bench.json"), line + "\n")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write target/bench.json: ${e.getMessage}")
    }
    GraftCaches.release(spark)
    spark.stop()
    if (kept.errors.nonEmpty) sys.exit(1)
  }
}
