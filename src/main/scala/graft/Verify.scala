package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare.
  *
  *   sbt "runMain graft.Verify <sfDir> target/verify_out"
  *   sbt "runMain graft.Verify <sfDir> target/smoke_out q_a,q_b"
  *   python3 tools/check_oracle.py <sfDir> target/verify_out
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.create(cpus, sfDir)
    dump(spark, sfDir, outDir, only(args))
    spark.stop()
  }

  /** The optional third argument, comma-separated query names, as the
    * subset to dump; the two-argument form dumps the whole catalog. */
  def only(args: Array[String]): Option[Set[String]] =
    if (args.length > 2) Some(args(2).split(",").toSet) else None

  /** Writes each selected catalog query's result to `outDir/<name>`
    * (parquet), then `oracle_sql.json` (the oracles of the selected
    * queries), `verify_times.json` (per-query wall seconds) and, when
    * any query threw, `failures.json` (name → error message). Returns
    * the failures; GraftCaches are released before it returns. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]]): Map[String, String] = {
    val picked = SparkEntry.queries.filter { case (n, _) => only.forall(_(n)) }
    only.foreach { names =>
      require(picked.size == names.size,
        s"unknown names: ${(names -- picked.keySet).mkString(", ")}")
    }
    new java.io.File(outDir).mkdirs()
    // Per-query wall time (VERDICT r15 #4): only the 34 headliners are
    // benched per round, so a wall-time blowup in any of the other ~460
    // queries is invisible until it stalls the whole verify sweep.
    // Verify already runs every query at both SFs — stamp the durations
    // (verify_times.json) so rounds can diff the top deltas.
    val times = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    picked.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures.put(name, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      times.put(name, (System.nanoTime() - t0) / 1e9)
    }
    def write(file: String, json: String): Unit =
      Files.writeString(Paths.get(s"$outDir/$file"), json)
    write("oracle_sql.json", SparkEntry.oracleSql
      .filter { case (k, _) => picked.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    write("verify_times.json", times
      .map { case (k, v) => s"${q(k)}: " + f"$v%.3f" }
      .mkString("{\"sf\":" + q(sfDir) + ",\"times\":{", ",", "}}"))
    if (failures.nonEmpty)
      write("failures.json", failures
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    GraftCaches.release(spark)
    failures.toMap
  }

  /** JSON string literal: backslash, quote, and ALL control chars
    * (<0x20) escaped — a tab or CR in an oracle's SQL would otherwise
    * make json.load fail on the whole file and silently zero the
    * correctness check. */
  private[graft] def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
