package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.catalyst.plans.{Cross, LeftAnti, LeftSemi}
import org.scalatest.funsuite.AnyFunSuite

/** Catalog-wide plan audit: NO query may silently degenerate into an
  * all-pairs plan OR an unpartitioned window over an unbounded child.
  * A CartesianProduct or a non-Cross BroadcastNestedLoopJoin is the
  * physical signature of a join that lost its equi-keys; an
  * unpartitioned WindowExec is Spark moving EVERY row to one task —
  * the two classic ways a correct-at-sf0.01 query dies at 100 TB.
  * Whitelists = the queries whose all-pairs shape is the POINT
  * (documented ground-truth tiers and the literal cross-join demo)
  * and the global windows whose frame is bounded by construction,
  * each with its cardinality argument; Cross-typed BNLJ with a 1-row
  * broadcast side is the standard broadcast-scalar pattern and is
  * allowed everywhere. Discovery tooling, at sf0.01 on local[8]:
  *   sbt "runMain graft.tools.WindowCensus <sf0.01 dir>"
  */
class PlanAuditSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf}

  /** All-pairs by design (ground-truth/verification tier, or the
    * cross-join capability demo itself). */
  private val allPairsByDesign = Set(
    "q_join_cross",       // the cross-join demo
    "q_dedup_embed_cosine" // exact all-pairs ground truth for the LSH path
  )

  /** BNLJ-Inner with a BOUNDED-BY-DESIGN broadcast side — the loop
    * side is a constant-cardinality dimension, not the fact table, so
    * the plan is O(facts·const): fine at any scale. Audited here so a
    * new unbounded case can't hide behind these. */
  private val boundedBroadcastLoop = Set(
    "q_rolling_active",   // 7-day band joins the ~|days| calendar side
    "q_sketch_union",     // per-group sketch table (|groups| rows)
    "q_ann_bruteforce",   // 10-row broadcast query set vs corpus
    "q_knn_labels",       // rides q_ann_bruteforce's query set
    "q_hard_negatives",   // 10-row anchor set broadcast vs corpus with
                          // a label-inequality loop predicate — the
                          // q_ann_bruteforce shape with a filter
    "q_ann_recall",       // recall gate re-plans the brute truth subtree
                          // twice (semi-join probe + n_true agg) — both
                          // are the same bounded 10-row broadcast loop
    "q_matryoshka_eval",  // full- and truncated-dim rankings both ride
                          // the q_ann_bruteforce 10-row broadcast
                          // query loop over one corpus scan each
    "q_isotonic_calibration", // PAVA-minimax interval/grid joins are
                          // triangular over the ≤100-row SCORE-BIN table
                          // (data-independent cardinality); the corpus
                          // collapses to those bins in one equi aggregate
                          // before any nested loop runs
    "q_dtw_distance",     // C(|event_types|,2) = 10-row pair fan: both
                          // sides are the |types|-row day-series table
                          // (events collapse to day arrays in one equi
                          // aggregate first); the DP kernel then runs
                          // scan-local inside DtwExpr
    "q_ordinal_assoc",    // |priority|x|status| CELL-grid pair fan
                          // (the contingency table, not the rows):
                          // data-independent cardinality; orders
                          // collapse to cells in one equi aggregate
                          // before the non-equi loop runs
    "q_tukey_hsd"         // the same C(|types|,2) pair fan over the
                          // k-row per-type MOMENT table (events
                          // collapse in one equi aggregate first);
                          // type_a < type_b is the triangular-pair
                          // predicate, data-independent cardinality
  )

  /** Queries whose unpartitioned WindowExec walks a BOUNDED frame —
    * a child whose cardinality is data-volume-independent (a value
    * grid, a k-row rollup, a top-K limit) rather than a row- or
    * entity-scaled table. Every entry carries its cardinality
    * argument; anything not listed here must plan NO global window
    * (the entity-scaled ones were rewritten onto GlobalRank in round
    * 14: q_equidepth_stats, q_abc_analysis, q_rfm_segments,
    * q_funnel_latency, q_eval_rrf, q_rbo's rankings, q_zipf_slope).
    * GlobalRank's own `_gr_pid`-ordered offsets window (≤ shuffle
    * partitions rows, documented at GlobalRank.offsetsOf) is
    * recognized structurally, not listed. */
  private val boundedGlobalWindow: Map[String, String] = Map(
    "q_skew_profile" -> "cum share over the top-20 LIMIT frame",
    "q_psi_drift" -> "PSI total over the fixed bin grid",
    "q_conversion_hazard" -> "distinct event-day risk grid (calendar)",
    "q_sliding_distinct" -> ("distinct-day delta grid (calendar; the " +
      "per-user interval merge already collapsed users away)"),
    "q_nelson_aalen" -> "distinct event-day risk grid (calendar)",
    "q_kaplan_meier" -> "distinct event-day risk grid (calendar)",
    "q_logrank_test" -> "distinct event-day risk grid (calendar)",
    "q_fdr_bh" -> "|event_types|x|weeks| hypothesis grid",
    "q_lead_lag" -> "|lags|-row correlation fan",
    "q_lorenz_deciles" -> "10-row decile rollup",
    "q_qini_curve" -> "10-row decile rollup",
    "q_eval_lift" -> "10-row decile rollup",
    "q_mood_median" -> "k-group contingency rollup (|event_types|)",
    "q_kruskal_wallis" ->
      "distinct cents-value grid (walks values, not rows)",
    "q_anova_f" -> "k-row per-type moment table (|event_types|)",
    "q_brown_forsythe" -> "k-row per-type moment table (|event_types|)",
    "q_cramers_v" -> "|priority|x|status| contingency cells",
    "q_crosstab_stdres" -> "|priority|x|status| contingency cells",
    "q_mutual_information" -> "|event_types|x7 contingency cells",
    "q_rbo" -> "RboK-row depth grid (rankings ride GlobalRank)",
    "q_isotonic_calibration" -> "<=100-row score-bin PAVA frame",
    "q_max_coverage" -> "k greedy-round rows",
    "q_vocab_coverage" -> "top-K LIMIT vocabulary frame",
    "q_vocab_encode" -> "top-K LIMIT vocabulary frame",
    "q_good_turing" -> "count-of-counts frame (distinct frequencies)",
    "q_dp_mean" -> "|event_types|-row rollup",
    "q_randomized_response" -> "|event_types|-row rollup",
    "q_dp_histogram" -> "|event_types|x|weeks| grid",
    "q_modularity" -> "per-community rollup (2 communities)",
    "q_page_trend" -> ("k-row event-type index frame (ordered-" +
      "alternative position labels over the per-type rank-sum rollup)"),
    "q_ann_pq" -> "PQ codebook frame (k=16 centroids)"
  )

  /** Unpartitioned WindowExec nodes, minus GlobalRank's bounded
    * `_gr_pid` offsets window (prefix sum over the per-bucket
    * aggregate, <= shuffle-partition rows by construction). An
    * order-less global window (`x OVER ()`) is just as
    * single-partition as an ordered one, so it is NOT exempt. */
  private def globalWindows(p: SparkPlan): Seq[String] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    inner.collect {
      case w: WindowExec if w.partitionSpec.isEmpty &&
          !(w.orderSpec.nonEmpty && w.orderSpec.forall(
            _.child.references.forall(_.name == GlobalRankPidCol))) =>
        val ord = w.orderSpec.map(o =>
          o.child.references.map(_.name).mkString("+")).mkString(",")
        s"global WindowExec(orderBy=[$ord])"
    }
  }
  private val GlobalRankPidCol = "_gr_pid"

  private def offenders(p: SparkPlan): Seq[String] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    inner.collect {
      case c: CartesianProductExec =>
        s"CartesianProduct: ${c.simpleStringWithNodeId()}"
      case b: BroadcastNestedLoopJoinExec
          if b.joinType != Cross && b.joinType != LeftSemi &&
            b.joinType != LeftAnti =>
        // Cross-typed BNLJ = broadcast scalar (1-row stats join);
        // semi/anti with tiny broadcast side = IN/EXISTS subquery.
        s"BNLJ(${b.joinType}): ${b.simpleStringWithNodeId()}"
    }
  }

  for (q <- SparkEntry.catalog) {
    test(s"${q.name} plans no cartesian / nested loop / global window") {
      val plan = q.run(spark, sf).queryExecution.executedPlan
      if (!allPairsByDesign(q.name) && !boundedBroadcastLoop(q.name)) {
        val bad = offenders(plan)
        assert(bad.isEmpty, bad.mkString("; "))
      }
      if (!boundedGlobalWindow.contains(q.name)) {
        val gw = globalWindows(plan)
        assert(gw.isEmpty,
          s"unpartitioned window over an unaudited frame — rewrite " +
            s"onto GlobalRank or whitelist with a cardinality " +
            s"argument: ${gw.mkString("; ")}")
      }
    }
  }

  test("the whitelists themselves are still exercised (guards stay honest)") {
    // if someone fixes a whitelisted query to a banded plan, it should
    // move OUT of the whitelist — flag when the all-pairs shape is gone
    val stale = (allPairsByDesign ++ boundedBroadcastLoop).filterNot { name =>
      offenders(SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan).nonEmpty ||
        name == "q_join_cross" // cross may plan as CartesianProduct OR BNLJ-Cross
    }
    assert(stale.isEmpty,
      s"no longer plan a flagged join — remove from whitelist: $stale")
  }

  test("the bounded-global-window whitelist is still exercised") {
    val stale = boundedGlobalWindow.keySet.filterNot { name =>
      globalWindows(SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan).nonEmpty
    }
    assert(stale.isEmpty,
      s"no longer plan a global window — remove from whitelist: $stale")
  }
}
