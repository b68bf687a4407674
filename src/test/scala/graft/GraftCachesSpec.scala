package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

class GraftCachesSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  test("getOrPersist builds once and hands back the same DataFrame") {
    var builds = 0
    def build() = { builds += 1; Seq(1, 2, 3).toDF("x") }
    val a = GraftCaches.getOrPersist(spark, "spec.once")(build())
    val b = GraftCaches.getOrPersist(spark, "spec.once")(build())
    assert(builds === 1)
    assert(a eq b, "must return the identical cached instance")
    assert(a.storageLevel.useMemory, "must be persisted")
    GraftCaches.release(spark)
  }

  test("release unpersists and forgets, allowing a fresh build") {
    var builds = 0
    def build() = { builds += 1; Seq(1L).toDF("y") }
    val a = GraftCaches.getOrPersist(spark, "spec.release")(build())
    GraftCaches.release(spark)
    assert(a.storageLevel ===
      org.apache.spark.storage.StorageLevel.NONE,
      "release must unpersist")
    GraftCaches.getOrPersist(spark, "spec.release")(build())
    assert(builds === 2, "released key must rebuild")
    GraftCaches.release(spark)
  }

  test("sessions are isolated: same key in a sibling session rebuilds") {
    var builds = 0
    def build() = { builds += 1; Seq(1).toDF("z") }
    val sibling = spark.newSession()
    GraftCaches.getOrPersist(spark, "spec.iso")(build())
    GraftCaches.getOrPersist(sibling, "spec.iso")(build())
    assert(builds === 2, "sessions must not share cache entries")
    // releasing one session must leave the other's entry alone
    GraftCaches.release(spark)
    GraftCaches.getOrPersist(sibling, "spec.iso")(build())
    assert(builds === 2, "sibling entry must survive the other release")
    GraftCaches.release(sibling)
  }

  test("release leaves no registry entries behind") {
    val before = GraftCaches.size
    GraftCaches.getOrPersist(spark, "spec.count.a")(Seq(1).toDF("v"))
    GraftCaches.getOrPersist(spark, "spec.count.b")(Seq(2).toDF("v"))
    assert(GraftCaches.size === before + 2)
    GraftCaches.release(spark)
    assert(GraftCaches.size === before,
      "release must forget every entry it owns")
  }

  test("keys are scoped per sf-dir style suffix (no cross-key bleed)") {
    val a = GraftCaches.getOrPersist(spark, "spec.k:a")(Seq(1).toDF("v"))
    val b = GraftCaches.getOrPersist(spark, "spec.k:b")(Seq(2).toDF("v"))
    assert(a.collect()(0).getInt(0) === 1)
    assert(b.collect()(0).getInt(0) === 2)
    GraftCaches.release(spark)
  }

  /** Persisted RDDs created since `mark` (an RDD id watermark): the
    * shared test context also holds other suites' RDDs. */
  private def persistedSince(mark: Int): Iterable[Int] =
    spark.sparkContext.getPersistentRDDs.keys.filter(_ >= mark)

  test("checkpoint builds once, eagerly, with lineage cut; release frees its blocks") {
    var builds = 0
    def build() = { builds += 1; spark.range(100).toDF("x").repartition(4) }
    val mark = spark.sparkContext.emptyRDD[Int].id
    val a = GraftCaches.checkpoint(spark, "spec.ckpt")(build())
    val b = GraftCaches.checkpoint(spark, "spec.ckpt")(build())
    assert(builds === 1)
    assert(a eq b, "must return the identical checkpointed instance")
    assert(a.queryExecution.logical.isInstanceOf[LogicalRDD],
      "the entry must plan as a flat scan of its checkpoint")
    assert(persistedSince(mark).nonEmpty, "eager: blocks exist before any action")
    assert(a.count() === 100L)
    GraftCaches.release(spark)
    assert(persistedSince(mark).isEmpty, "release must free the checkpoint blocks")
  }

  test("release leaves no persisted RDD behind after the near-dup family") {
    GraftCaches.release(spark)
    val mark = spark.sparkContext.emptyRDD[Int].id
    Seq("q_dedup_ngram_jaccard", "q_dedup_containment", "q_dedup_funnel",
      "q_lsh_scurve").foreach(q =>
      SparkEntry.queries(q)(spark, SparkTestSession.sf).collect())
    assert(persistedSince(mark).nonEmpty, "the family materializes shared entries")
    GraftCaches.release(spark)
    assert(persistedSince(mark).isEmpty,
      s"persisted after release: ${persistedSince(mark).mkString(", ")}")
  }
}
