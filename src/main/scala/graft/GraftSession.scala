package graft

import org.apache.spark.sql.SparkSession

/** Volume-aware session sizing — the "no manual knob" closure of the
  * round-9 100× probe finding: `spark.sql.shuffle.partitions` pinned
  * at core count is right for sf0.1 but super-linear at 100× (the
  * q_yelp_master_volume 178× blow-up was fully root-caused to 1.2 B
  * amplified rows hash-aggregating across 32 partitions — ~37 M rows
  * per partition, all spill). AQE can COALESCE an over-partitioned
  * shuffle at runtime but can never SPLIT an under-partitioned one,
  * so the initial value must scale with input volume.
  *
  * The rule is calibrated by measurement, not guesswork: the probe
  * measured partitions=256 linear (94× runtime for 100× data) on a
  * 1.61 GB compressed input — ≈6 MiB of compressed scan bytes per
  * shuffle partition. On a real cluster the same rule holds with the
  * numerator from the scan estimate and the constant scaled to
  * executor-memory budget; here the input dir IS the scan set, so
  * its on-disk footprint is the estimate (compressed parquet, the
  * same thing Spark's own `files.maxPartitionBytes` reasons about).
  *
  * `SPARK_GRAFT_SHUFFLE_PARTITIONS` remains an explicit override for
  * probes that want to measure a pinned value; when unset, every
  * session built by [[create]] derives the value from the data it is
  * about to read.
  */
object GraftSession {

  /** Compressed-input bytes that one shuffle partition absorbs while
    * keeping per-partition hash/sort state in memory — measured, see
    * object doc (256 partitions / 1.61 GB probe = linear). */
  val BytesPerShufflePartition: Long = 6L << 20

  /** Upper clamp: beyond this, per-partition scheduling overhead
    * dominates on any single driver; a 1000-executor deployment
    * re-derives the constant from executor memory instead. */
  val MaxShufflePartitions: Int = 32768

  /** Total on-disk bytes under `dir` (0 if missing/unreadable). */
  def dirBytes(dir: String): Long = {
    val root = new java.io.File(dir)
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
    if (root.exists()) walk(root) else 0L
  }

  /** The pure sizing rule: max(cpus, inputBytes / 6 MiB), clamped to
    * [[MaxShufflePartitions]]. */
  def derive(inputBytes: Long, cpus: Int): Int =
    math.min(MaxShufflePartitions.toLong,
      math.max(cpus.toLong, inputBytes / BytesPerShufflePartition)).toInt

  /** Shuffle-partition count for a session about to read `sfDir`:
    * the env override if set, else [[derive]] of the dir's footprint.
    * At sf0.1 (17.5 MB) this stays at the core count — the pinned
    * official-bench config — and at the 100× probe (1.61 GB) it
    * derives ~255 with no knob. */
  def shufflePartitions(sfDir: String, cpus: Int): Int =
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").map(_.toInt)
      .getOrElse(derive(dirBytes(sfDir), cpus))

  /** AQE post-shuffle coalesce floor (r18, guide §2 "make partitioning
    * scale-adaptive"). With the default `parallelismFirst=true` AQE
    * targets max(totalBytes/defaultParallelism, minPartitionSize); the
    * stock 1 MB floor collapses every sub-32 MB exchange below the
    * core count — at sf0.1 the SCD2/window/sessionize reduce stages ran
    * as 1–2 tasks on a 32-core box (measured: q_upsert_scd2 1.47 →
    * 0.79 s isolated at 64k). At production volumes post-shuffle partitions are
    * ≫ 1 MB and the floor is inert either way, so this knob only
    * restores parallelism where the data is small relative to the
    * cluster — it can never under-size a large shuffle (that is
    * [[derive]]'s job on the initial partition count).
    * (`parallelismFirst=false` — coalescing to the 64 MB advisory size
    * — was measured 2–4× WORSE here: it serializes compute-bound
    * post-shuffle stages exactly as the parallelismFirst scaladoc
    * warns.) Env-overridable for controlled probes.
    *
    * The default is 256k, picked by a three-way FULL-BENCH comparison
    * (r18, same code, quiet windows): in-sequence totals 1m = 35.10,
    * 64k = 33.06, 256k = 31.66 pass-2 seconds — 64k maximally
    * parallelizes but pays the ~tens-of-ms/task local constant on
    * many-tiny-stage queries (isolated q_dedup_minhash_lsh 1.01 →
    * 2.06 s at 64k!), 1m serializes the compute-bound reduce stages;
    * 256k holds both ends (OPTIMIZATION_r18.md has the full table). */
  def aqeMinPartitionSize: String =
    sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PARTITION", "256k")

  /** The one way the engine's mains and the test session build a
    * session: `local[cpus]`, [[shufflePartitions]] for `sfDir`, AQE on
    * with the [[aqeMinPartitionSize]] floor, UTC, UI off, log level
    * WARN; `extra` is applied last, so it can override any of these.
    * It only sets configs — nothing a query needs for a correct answer
    * may live here, because the benchmark builds its own session. */
  def create(cpus: Int, sfDir: String,
      extra: Map[String, String] = Map.empty): SparkSession = {
    val base = Map(
      "spark.sql.shuffle.partitions" -> shufflePartitions(sfDir, cpus).toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" ->
        aqeMinPartitionSize,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .appName("graft").config(base ++ extra).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Configs under which answers must not change: no adaptive
    * re-planning, no exchange or subquery reuse, and a 1KB broadcast
    * threshold that turns nearly every join into a shuffle join. The
    * round-3 GlobalRank bug (two range exchanges that agreed only
    * because reuse collapsed them) is the class this catches. All four
    * are runtime SQL confs, so they also apply to `spark.newSession()`. */
  val Hostile: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.exchange.reuse" -> "false",
    "spark.sql.execution.reuseSubquery" -> "false",
    "spark.sql.autoBroadcastJoinThreshold" -> "1KB")
}
