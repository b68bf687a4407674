package graft.tools

import org.apache.spark.sql.SparkSession

/** Simulates an external caller's flagship smoke: bare session,
  * entry(), count. The session is bare on purpose, not made by
  * [[graft.GraftSession.create]]: `entry` is called on a session its
  * caller configured, so it must work without the engine's configs
  * (no UTC pin, default shuffle partitions, no AQE floor). */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val n = graft.SparkEntry.entry(spark).count()
    println(s"[smoke] entry rows = $n")
    require(n > 0, "entry must return rows")
    spark.stop()
  }
}
