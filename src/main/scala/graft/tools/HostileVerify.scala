package graft.tools

import graft.{GraftSession, Verify}

/** [[graft.Verify]]'s dump under [[GraftSession.Hostile]] configs. Plans
  * get slower (that's expected); ANSWERS must not change, so the output
  * must pass the same check_oracle gate. Exits 1 if any query fails.
  *
  *   sbt "runMain graft.tools.HostileVerify <sfDir> target/hostile_out [q_a,q_b]"
  *   python3 tools/check_oracle.py <sfDir> target/hostile_out
  */
object HostileVerify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = GraftSession.create(cpus, sfDir, GraftSession.Hostile)
    val failures = Verify.dump(spark, sfDir, outDir, Verify.only(args))
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
