package graft

import graft.ext.PlanStats
import graft.ext.PlanStats.Counts
import org.scalatest.funsuite.AnyFunSuite

/** Pins each headliner's plan STRUCTURE — shuffle-exchange count,
  * broadcast-exchange count, source-scan count — at the test config
  * (sf0.001, 4 shuffle partitions, AQE on; counts taken on the
  * pre-adaptive plan, subqueries included). VERDICT r14 #2: wall-time
  * regression detection is noise-limited (r14's bench artifact showed
  * a phantom 22 % load regression on an untouched tree); structural
  * regression detection is deterministic — an extra Exchange lands
  * here as a red test on the very commit that introduced it.
  *
  * The pins assert EQUALITY, not just an upper bound: a shrink is a
  * (welcome) plan improvement that must be re-pinned consciously so
  * the table stays the truth. Regenerate with:
  *   sbt "runMain graft.tools.Plans <sf0.001 dir>"
  * and paste — the tool prints this exact syntax under this exact
  * session config.
  */
class HeadlinePlanPinSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf}

  /** Counts are pinned against a FRESH session (graft.tools.Plans runs
    * in its own JVM), but in the full suite earlier specs populate
    * GraftCaches / the session cache manager, and a headliner that
    * plans over an InMemoryRelation instead of its parquet scans
    * counts differently. One flush before the first count restores
    * the fresh-session state; within the suite the queries then run
    * in catalog order, evolving the caches exactly as the census
    * did. (Suites run sequentially in the forked test JVM, so no
    * other spec can interleave.) */
  private lazy val freshCaches: Unit = {
    graft.GraftCaches.release(spark)
    spark.catalog.clearCache()
  }

  /** (shuffles, broadcasts, scans) per headliner — the output of
    * graft.tools.Plans. */
  private val pinned: Map[String, Counts] = Map(
    "q_agg_pricing" -> Counts(1, 0, 1),
    "q_filter_revenue" -> Counts(1, 0, 1),
    "q_regional_volume" -> Counts(1, 5, 6),
    "q_join_mktsegment" -> Counts(1, 2, 3),
    "q_upsert_scd2" -> Counts(2, 0, 1),
    "q_star_join" -> Counts(1, 5, 6),
    "q_window_top_per_group" -> Counts(1, 0, 1),
    "q_window_running" -> Counts(1, 0, 1),
    "q_topk_custom" -> Counts(1, 0, 1),
    "q_sessionize" -> Counts(1, 0, 1),
    "q_super_category" -> Counts(1, 0, 1),
    "q_master_pipeline" -> Counts(1, 2, 3),
    "q_window_range" -> Counts(1, 0, 1),
    "q_asof_attribution" -> Counts(2, 0, 2),
    "q_asof_forward" -> Counts(2, 0, 2),
    "q_logistic_irls" -> Counts(3, 2, 3),
    "q_rolling_corr" -> Counts(3, 1, 2),
    "q_matrix_profile" -> Counts(3, 7, 9),
    "q_spatial_join" -> Counts(1, 1, 2),
    "q_yelp_master_volume" -> Counts(4, 2, 3),
    "q_winnow_fingerprints" -> Counts(1, 0, 1),
    "q_perplexity" -> Counts(3, 3, 4), // r18: lm bigram table
    // registry-cached — the scoring join's broadcast build and the
    // vocab scalar no longer each re-aggregate the doc-bigram cache
    "q_chunk_dedup" -> Counts(4, 1, 2), // r18: +2 = the input
    // repartition before the chunk explode, counted once per consumer
    // branch (agg + join-back) — stage-reused to ONE execution at
    // runtime; the explode itself now runs parallel, not single-split
    "q_dedup_substring" -> Counts(5, 1, 2), // r15: hashed anchors +
    // window-df (the aggregate+join form re-ran the explode twice);
    // r18: +2 = the input repartition before the stride-1 explode
    // (single-split parquet serialized the whole per-token compute)
    // counted once per self-join branch — at runtime AQE stage reuse
    // executes the identical anchor exchange ONCE
    "q_dedup_spans" -> Counts(5, 2, 3), // r18: +3 = the same input
    // repartition counted per consumer branch (chunk stream, firsts,
    // reassembly join) — one runtime execution via AQE stage reuse
    "q_dedup_minhash_lsh" -> Counts(3, 5, 6),
    "q_er_cluster" -> Counts(6, 0, 4), // r16: adaptive cc — per-round
    // localCheckpoints truncate the propagation loop out of the final
    // plan (and the loop itself early-exits at the label fixpoint)
    "q_clustering_coeff" -> Counts(5, 3, 5), // r18: single-pass
    // credits — the 3-branch unionAll re-ran the edge⋈adjacency join
    // and array_intersect per branch; one explode of a concatenated
    // credit array does it once (−4 shuffles, −4 broadcasts, −6 scans)
    "q_pagerank" -> Counts(3, 3, 4),
    "q_graph_jaccard" -> Counts(3, 3, 4),
    "q_ann_bruteforce" -> Counts(1, 1, 2),
    "q_embed_neardup_lsh" -> Counts(1, 3, 4),
    "q_bloom_prejoin" -> Counts(1, 2, 3),
    "q_sketch_intersect" -> Counts(2, 6, 7) // r18: one (hv, pre,
    // post) rollup replaces the two per-side filter+distinct sketches
    // and is lazily localCheckpoint'ed for its four consumers — like
    // q_er_cluster, the checkpoint truncates the sketch subtree out
    // of the counted plan (the flags/byHv aggregates execute once at
    // runtime; PLANS.md r18)
  )

  test("every headliner is pinned and no pin is stale") {
    freshCaches
    val names = SparkEntry.headline.map(_.name).toSet
    assert(names === pinned.keySet,
      s"headliner set changed — re-run graft.tools.Plans; " +
        s"unpinned=${names -- pinned.keySet}, " +
        s"stale=${pinned.keySet -- names}")
  }

  for (q <- SparkEntry.headline) {
    test(s"${q.name} plan structure matches its pin") {
      freshCaches
      val got = PlanStats.of(q.run(spark, sf))
      val want = pinned(q.name)
      assert(got === want,
        s"${q.name}: plan structure drifted — pinned $want, got $got " +
          s"(shuffles, broadcasts, scans). A GROWTH is a regression " +
          s"(find the new Exchange before it costs the bench); a " +
          s"shrink is an improvement — re-pin via graft.tools.Plans " +
          s"and say why in the commit.")
    }
  }

  test("the gate fires on a deliberately regressed plan (stays honest)") {
    // take the simplest headliner and inject one extra shuffle — the
    // counter must see EXACTLY one more exchange than the pin
    val q = SparkEntry.queries("q_agg_pricing")
    val regressed = q(spark, sf).repartition(3)
    val got = PlanStats.of(regressed)
    val want = pinned("q_agg_pricing")
    assert(got.shuffles === want.shuffles + 1,
      s"probe expected ${want.shuffles + 1} shuffles, got $got")
  }
}
