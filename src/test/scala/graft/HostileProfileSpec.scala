package graft

import org.apache.spark.sql.Row
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Answers must not change under [[GraftSession.Hostile]]: AQE off,
  * exchange and subquery reuse off, a 1KB broadcast threshold. Every
  * join here becomes a shuffle join and every repeated exchange runs
  * twice, so a query whose answer leans on exchange deduplication,
  * adaptive re-planning or a join strategy shows up as a row diff
  * against the default test session. */
class HostileProfileSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkTestSession.{spark, sf}

  /** Oracled headliners that between them cover broadcast star joins,
    * SCD2 windows, as-of joins, global ranks and iterative graph
    * loops. */
  private val names = Seq(
    "q_regional_volume", "q_star_join", "q_upsert_scd2",
    "q_window_top_per_group", "q_master_pipeline", "q_asof_attribution",
    "q_matrix_profile", "q_pagerank")

  private lazy val hostile = {
    val s = spark.newSession()
    GraftSession.Hostile.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  private def sortedRows(s: org.apache.spark.sql.SparkSession,
      name: String): Seq[String] =
    SparkEntry.queries(name)(s, sf).collect().toSeq
      .map((r: Row) => r.toSeq.mkString("|")).sorted

  test("the hostile profile reaches a newSession's runtime conf") {
    GraftSession.Hostile.foreach { case (k, v) =>
      assert(hostile.conf.get(k) === v)
    }
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    // and it changes the plans: no adaptive wrapper, fewer broadcasts
    val df = SparkEntry.queries("q_regional_volume")
    val (plain, host) = (df(spark, sf), df(hostile, sf))
    assert(!host.queryExecution.executedPlan
      .isInstanceOf[org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec])
    assert(ext.PlanStats.of(host).broadcasts < ext.PlanStats.of(plain).broadcasts)
  }

  for (name <- names) {
    test(s"$name: same sorted rows under the hostile profile") {
      val q = SparkEntry.catalog.find(_.name == name).get
      assert(q.headline && q.oracle.isDefined, s"$name: oracled headliner")
      val want = sortedRows(spark, name)
      assert(want.nonEmpty)
      assert(sortedRows(hostile, name) === want)
    }
  }

  override def afterAll(): Unit = GraftCaches.release(hostile)
}
