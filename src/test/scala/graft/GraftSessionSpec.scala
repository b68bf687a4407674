package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Pins the volume-derived shuffle-partition rule (round 10): the
  * q_yelp_master_volume 100× super-linearity was root-caused to a
  * PINNED partition count, so the fix must be a rule, not a knob —
  * and the rule's two calibration points are load-bearing: the
  * official sf0.1 bench config must stay at core count, and the 100×
  * probe volume must derive hundreds of partitions unprompted. */
class GraftSessionSpec extends AnyFunSuite {

  test("official config preserved: sf0.1-sized input at 32 cpus " +
      "derives exactly the core count") {
    // 17.5 MB / 6 MiB ≈ 2 — the cpus floor wins
    assert(GraftSession.derive(17508506L, 32) === 32)
    assert(GraftSession.derive(0L, 32) === 32)
  }

  test("100x-probe-sized input derives hundreds of partitions with " +
      "no manual knob (the measured-linear regime)") {
    // the round-9 probe measured partitions=256 linear at 1.61 GB
    val p = GraftSession.derive(1609435571L, 32)
    assert(p >= 200 && p <= 320, s"derived $p")
  }

  test("rule is monotone in volume and clamped") {
    val at10x = GraftSession.derive(160829169L, 32)
    val at100x = GraftSession.derive(1609435571L, 32)
    assert(at10x <= at100x)
    assert(GraftSession.derive(Long.MaxValue / 4, 32) ===
      GraftSession.MaxShufflePartitions)
  }

  test("dirBytes totals the real sf0.01 dir (nonzero, all tables)") {
    val b = GraftSession.dirBytes("/root/testdata/sf0.01")
    assert(b > 1000000L, s"sf0.01 footprint: $b")
    assert(GraftSession.dirBytes("/nonexistent-graft-path") === 0L)
  }

  test("shufflePartitions of the real sf0.1 dir keeps the pinned " +
      "bench config at 32 cpus") {
    assume(sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").isEmpty)
    assert(GraftSession.shufflePartitions("/root/testdata/sf0.1", 32)
      === 32)
  }

  test("create: the test session carries the base config plus its " +
      "extra warehouse dir") {
    val conf = SparkTestSession.spark.conf
    assert(SparkTestSession.spark.sparkContext.master === "local[4]")
    assert(conf.get("spark.sql.adaptive.enabled") === "true")
    assert(conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize")
      === GraftSession.aqeMinPartitionSize)
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.ui.enabled") === "false")
    assert(conf.get("spark.sql.shuffle.partitions") ===
      GraftSession.shufflePartitions(SparkTestSession.sf, 4).toString)
    assert(conf.get("spark.sql.warehouse.dir").endsWith("target/spark-warehouse"))
  }

  test("sessions are built only by GraftSession.create (and by " +
      "EntrySmoke's deliberately bare session)") {
    val pattern = "SparkSession" + ".builder"
    val allowed = Set("GraftSession.scala", "EntrySmoke.scala")
    val files = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try w.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally w.close()
    }
    assert(files.size > 100, s"source tree not found: ${files.size} files")
    val offenders = files.filter { p =>
      !allowed(p.getFileName.toString) &&
        java.nio.file.Files.readString(p).contains(pattern)
    }
    assert(offenders.isEmpty,
      s"build sessions with GraftSession.create: ${offenders.mkString(", ")}")
  }
}
