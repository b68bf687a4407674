package graft.scale

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics as fixed-round dataflow — PageRank over
  * the bipartite supplier↔part co-purchase graph derived from
  * lineitem. Complements Dedup's label-propagation connected
  * components: that one iterates a MIN lattice, this one iterates a
  * NUMERIC fixed-point, the pattern behind influence scoring /
  * source-trust weighting in a curation pipeline.
  *
  * Scale shape per iteration: the rank and degree tables are
  * NODE-cardinality (tiny next to edges) and join onto the edge list
  * BROADCAST while |nodes| fits an executor, so the edge table — the
  * 100 TB side — never moves; the only shuffle is the groupBy(dst) of
  * contributions, and those collapse map-side to ≤|nodes| rows per
  * partition before the wire. Above the node cap (billions of nodes,
  * where a broadcast build OOMs) the rank join falls back to a
  * shuffled hash join on `src` — see [[pagerankOn]].
  * Iterations are unrolled into one DAG (fixed k, no driver-side
  * convergence loop, no collect).
  *
  * Float discipline, taken one step past the q_feature_scale lesson:
  * the whole fixed-point runs in FIXED-POINT INTEGER arithmetic —
  * ranks are bigints in units of 1e-12, contributions are integer
  * divisions (rank_fp div deg), damping is (85·sum) div 100 with the
  * 0.15/N teleport as 150000000000 div N. Integer ops are bit-exact
  * in every engine (an earlier formulation that grid-snapped DOUBLES
  * to 1e-9 still diverged on 77/2100 rows: Spark rounds the exact
  * binary expansion HALF_UP while DuckDB rounds a scaled double, and
  * iteration compounds the boundary flips). The DuckDB oracle replays
  * all k iterations value-for-value (generated unrolled — recursive
  * CTEs cannot aggregate per step).
  */
object GraphOps {

  /** Fixed-point scale: ranks live in units of 1e-12 (sum ≈ 1e12). */
  val FpOne = 1000000000000L
  val Iterations = 3

  /** Undirected bipartite edges: supplier s<k> ↔ part p<k> for every
    * distinct (suppkey, partkey) pair in lineitem. Undirected (both
    * directions materialized) so no node is dangling. */
  private def edges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
      .select($"l_suppkey".as("sk"), $"l_partkey".as("pk")).distinct()
    li.select(concat(lit("s"), $"sk").as("src"),
        concat(lit("p"), $"pk").as("dst"))
      .unionAll(li.select(concat(lit("p"), $"pk").as("src"),
        concat(lit("s"), $"sk").as("dst")))
  }

  /** Broadcasting the rank table into the edge join is only safe
    * while the NODE table fits an executor — beyond this many nodes
    * the per-iteration join falls back to a shuffled hash join on
    * `src` (AQE handles skew). 10M nodes ≈ a few hundred MB of
    * (string, long) rows: comfortably broadcastable on the target
    * executors, far below any web-scale node count. */
  val DefaultBroadcastNodeCap = 10000000L

  /** Library API: fixed-point-integer PageRank over ANY undirected
    * edge list with columns (src, dst) — every node must appear as a
    * `src` (materialize both directions for undirected graphs, which
    * also removes dangling nodes). `cacheKey` registers the derived
    * adjacency/node tables in [[graft.GraftCaches]] so repeated runs
    * in one session share them; pass None for uncached one-shots.
    *
    * `broadcastNodeCap` gates the per-iteration join strategy: at or
    * below the cap the node-cardinality rank table is broadcast onto
    * the edges (edges never move); above it — billions of nodes at
    * 100 TB of edges, where a broadcast build OOMs — ranks join via
    * shuffle on `src` instead. Both paths are bit-identical (integer
    * arithmetic; a ScaleSpec case locks the equality). The node count
    * that decides the gate is one count() over the node-cardinality
    * `deg` table (cached under `cacheKey`), and its value also
    * replaces the former 1-row `n` cross-joins with literals. */
  def pagerankOn(edgeList: DataFrame, iterations: Int = Iterations,
      cacheKey: Option[String] = None,
      broadcastNodeCap: Long = DefaultBroadcastNodeCap): DataFrame = {
    // The adjacency (edges with the source degree folded in) is
    // referenced by every iteration level plus the node/count prologue
    // — cache it so the edge build and the degree shuffle run once,
    // not once per lineage branch, and each iteration costs ONE
    // broadcast join instead of two.
    def adjOf = {
      val dg = edgeList.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      edgeList.join(dg, "src")
    }
    val adj = cacheKey match {
      case Some(k) => graft.GraftCaches.getOrPersist(
        edgeList.sparkSession, s"$k.adj")(adjOf)
      case None => adjOf
    }
    // node table cached too: every broadcast build (rank init, the
    // per-iteration n scalar) walks its lineage, and an un-cached
    // distinct would re-shuffle the full adjacency each time
    def degOf = adj.select(col("src"), col("deg")).distinct()
    val deg = cacheKey match {
      case Some(k) => graft.GraftCaches.getOrPersist(
        edgeList.sparkSession, s"$k.deg")(degOf)
      case None => degOf
    }
    // One count() over the node-cardinality deg table (cached above)
    // decides the join strategy and folds the n scalar into literals.
    // All values are positive, so Scala's truncating Long division
    // matches Spark's `div` and DuckDB's `//` exactly.
    val nNodes = deg.count()
    val broadcastRanks = nNodes <= broadcastNodeCap
    val teleport = FpOne / 100 * 15 / nNodes
    var rank = deg.select(col("src").as("node"),
      lit(FpOne / nNodes).as("rank_fp"))
    for (_ <- 1 to iterations) {
      val r = rank.withColumnRenamed("node", "src")
      val joined =
        if (broadcastRanks) adj.join(broadcast(r), "src")
        else adj.join(r.hint("shuffle_hash"), "src")
      val contrib = joined
        .select(col("dst").as("node"), expr("rank_fp div deg").as("c"))
      // teleport 0.15·FpOne = 150000000000 exactly; damping 85/100
      rank = contrib.groupBy(col("node")).agg(sum(col("c")).as("sc"))
        .select(col("node"),
          (lit(teleport) + expr("(85 * sc) div 100")).as("rank_fp"))
    }
    rank.select(col("node"), col("rank_fp"),
      (col("rank_fp").cast("double") / lit(FpOne.toDouble)).as("rank"))
  }

  /** q_pagerank runs the fixed point on LONG node ids (even = supplier
    * 2·sk, odd = part 2·pk+1) and reconstructs the public "s<k>"/"p<k>"
    * string labels only on the final |nodes|-row output (guide §2.3
    * "shuffle keys and metadata instead of payloads" applied to the
    * key itself): every per-iteration join probe, partial-aggregate
    * hash and shuffle row then carries an 8-byte long instead of a
    * 6–9 byte string with hashing over its bytes — measured 26 → ~8
    * CPU-s across the three iteration map stages at sf0.1. Rank values
    * are bit-identical: the graph, degrees and integer arithmetic are
    * unchanged; only the key REPRESENTATION inside the loop differs
    * (id parity encodes the side, so the label rebuild is a scan-local
    * expression, not a join). */
  private def pagerank(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
      .select($"l_suppkey".as("sk"), $"l_partkey".as("pk")).distinct()
    // widen first: 2·k of an int32 key near Int.MaxValue overflows
    val (sk, pk) = ($"sk".cast("long"), $"pk".cast("long"))
    val eId = li.select((sk * 2).as("src"), (pk * 2 + 1).as("dst"))
      .unionAll(li.select((pk * 2 + 1).as("src"), (sk * 2).as("dst")))
    pagerankOn(eId, Iterations, Some(s"graph.pr_id:$d"))
      .select(
        when($"node" % 2 === 0, concat(lit("s"), expr("node div 2")))
          .otherwise(concat(lit("p"), expr("(node - 1) div 2")))
          .as("node"),
        $"rank_fp", $"rank")
  }

  /** Unrolled DuckDB replay of [[pagerank]] — same fixed-point units,
    * same integer divisions, k chained CTEs. */
  private def pagerankOracle: String = {
    val teleport = FpOne / 100 * 15
    val base = s"""
      WITH li AS (SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
                  FROM lineitem),
      edges AS (SELECT 's' || sk AS src, 'p' || pk AS dst FROM li
                UNION ALL
                SELECT 'p' || pk, 's' || sk FROM li),
      deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
      nn AS (SELECT count(*) AS n FROM deg),
      r0 AS (SELECT src AS node, $FpOne // n AS rank_fp FROM deg, nn)"""
    val iters = (1 to Iterations).map { i =>
      s""",
      c$i AS (SELECT e.dst AS node, r.rank_fp // d.deg AS c
              FROM edges e
              JOIN r${i - 1} r ON e.src = r.node
              JOIN deg d ON e.src = d.src),
      r$i AS (SELECT node,
                     $teleport // nn.n + (85 * sum(c)) // 100 AS rank_fp
              FROM c$i, nn GROUP BY node, nn.n)"""
    }.mkString
    s"""$base$iters
      SELECT node, CAST(rank_fp AS BIGINT) AS rank_fp,
             CAST(rank_fp AS DOUBLE) / $FpOne AS rank
      FROM r$Iterations"""
  }

  /** Rounds of synchronous label propagation for [[labelPropagationOn]]
    * — LPA does not converge in general on bipartite graphs (it
    * oscillates), so like q_pagerank the operator's contract is "the
    * deterministic state after k rounds". */
  val LpaIterations = 2

  /** Synchronous label-propagation community detection (Raghavan et
    * al. 2007, "Near linear time algorithm to detect community
    * structures in large-scale networks") over ANY undirected edge
    * list with columns (src, dst), both directions materialized:
    * every node seeds with its own id, then for k synchronous rounds
    * adopts the MOST FREQUENT label among its neighbors, ties broken
    * by SMALLEST label — a total order, so the unrolled plan is fully
    * deterministic. The curation use: communities over a doc-
    * similarity or co-purchase graph are the unit for cluster-level
    * dedup and source-trust scoring.
    *
    * Scale shape per round: the label table is NODE-cardinality and
    * joins the edge list BROADCAST below `broadcastNodeCap` (shuffled
    * hash above — both paths bit-identical, integer/string ops only);
    * neighbor votes groupBy(dst, label) collapse map-side; the
    * per-node argmax is min(struct(-count, label)) — a PARTIAL-
    * aggregable min, so it also collapses map-side instead of
    * windowing the vote table. Edges never move (the 100 TB side);
    * the two shuffles per round carry ≤ Σ deg(v) vote rows bounded by
    * the edge count, collapsing toward node cardinality. */
  def labelPropagationOn(edgeList: DataFrame,
      iterations: Int = LpaIterations,
      cacheKey: Option[String] = None,
      broadcastNodeCap: Long = DefaultBroadcastNodeCap): DataFrame = {
    def nodesOf = edgeList.select(col("src").as("node")).distinct()
    val nodes = cacheKey match {
      case Some(k) => graft.GraftCaches.getOrPersist(
        edgeList.sparkSession, s"$k.nodes")(nodesOf)
      case None => nodesOf
    }
    val bcast = nodes.count() <= broadcastNodeCap
    var lab = nodes.select(col("node"), col("node").as("label"))
    for (_ <- 1 to iterations) {
      val l = lab.select(col("node").as("src"), col("label"))
      val joined =
        if (bcast) edgeList.join(broadcast(l), "src")
        else edgeList.join(l.hint("shuffle_hash"), "src")
      lab = joined.groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("dst"))
        .agg(min(struct((-col("c")).as("nc"), col("label").as("lb")))
          .as("m"))
        .select(col("dst").as("node"), col("m.lb").as("label"))
    }
    lab
  }

  /** LPA labels, registry-persisted: q_label_prop and q_modularity
    * share the expensive iterative subtree (the q_graph_jaccard
    * shared-subtree lesson), so within a session LPA runs once. */
  private def lpaLabels(s: SparkSession, d: String): DataFrame =
    graft.GraftCaches.getOrPersist(s, s"graph.lpa_labels:$d") {
      val e = graft.GraftCaches.getOrPersist(s, s"graph.lpa_edges:$d") {
        edges(s, d)
      }
      labelPropagationOn(e, LpaIterations, Some(s"graph.lpa:$d"))
    }

  private def labelProp(s: SparkSession, d: String): DataFrame =
    lpaLabels(s, d)

  /** Unrolled DuckDB replay of [[labelProp]] — the window argmax with
    * (c DESC, label ASC) is value-identical to min(struct(-c, label)). */
  /** Shared CTE prefix (edge build + unrolled LPA rounds) for
    * [[labelPropOracle]] and [[modularityOracle]]. */
  private def labelPropOracleCtes: String = {
    val base = s"""
      WITH li AS (SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
                  FROM lineitem),
      edges AS (SELECT 's' || sk AS src, 'p' || pk AS dst FROM li
                UNION ALL
                SELECT 'p' || pk, 's' || sk FROM li),
      l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges)"""
    val iters = (1 to LpaIterations).map { i =>
      s""",
      v$i AS (SELECT e.dst, l.label, count(*) AS c
              FROM edges e JOIN l${i - 1} l ON e.src = l.node
              GROUP BY 1, 2),
      l$i AS (SELECT dst AS node, label
              FROM (SELECT dst, label,
                           row_number() OVER (
                             PARTITION BY dst
                             ORDER BY c DESC, label ASC) AS rn
                    FROM v$i)
              WHERE rn = 1)"""
    }.mkString
    s"$base$iters"
  }

  private def labelPropOracle: String =
    s"$labelPropOracleCtes\n      SELECT node, label FROM l$LpaIterations"

  /** Newman modularity of the LPA partition — the quality score that
    * tells you whether [[labelProp]]'s communities beat chance:
    * Q = Σ_c (e_c/m − (deg_c/2m)²), computed on the DIRECTED edge
    * representation (both orientations materialized, M = 2m) so
    * deg_c is one count and e_c one conditional sum in a single
    * edge-pass aggregate. Reuses the cached edge list AND the cached
    * LPA labels (the q_graph_jaccard shared-subtree lesson — the
    * expensive iterative subtree runs once per session, not once per
    * query); the node-cardinality label table broadcasts into the
    * edge join twice, so the edge table — the 100 TB side — never
    * shuffles. Everything is exact integer algebra with a COMMON
    * denominator M²: contrib_num = M·in_c − deg_c², Q = Σcontrib/M²,
    * carried through DECIMAL(38,0)/HUGEINT for the ppm emit (M² wraps
    * int64 past ~3e9 edges). The rollup windows walk |communities|
    * rows — node-bounded, never edge-bounded. */
  private def modularity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = graft.GraftCaches.getOrPersist(s, s"graph.lpa_edges:$d") {
      edges(s, d)
    }
    val lab = lpaLabels(s, d)
    val ann = e
      .join(broadcast(lab.select($"node".as("src"),
        $"label".as("src_lab"))), "src")
      .join(broadcast(lab.select($"node".as("dst"),
        $"label".as("dst_lab"))), "dst")
    val perC = ann.groupBy($"src_lab".as("community"))
      .agg(count(lit(1)).as("deg_c"),
        sum(when($"src_lab" === $"dst_lab", 1L).otherwise(0L))
          .as("in_c"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    perC
      .withColumn("m2", sum($"deg_c").over(w))
      .withColumn("contrib_num", $"m2" * $"in_c" - $"deg_c" * $"deg_c")
      .withColumn("q_num", sum($"contrib_num").over(w))
      .withColumn("q_ppm", expr(
        "CAST(CAST(q_num AS DECIMAL(38,0)) * 1000000" +
          " div (CAST(m2 AS DECIMAL(38,0)) * m2) AS BIGINT)"))
  }

  /** Multi-source BFS rounds for [[bfsHops]]. */
  val BfsRounds = 4

  /** Multi-source BFS hop distances — the shortest-path primitive the
    * graph family lacked (PageRank ranks, LPA clusters, triangles
    * count; none answers "how FAR is everything from these seeds" —
    * the blast-radius / influence-horizon question). Seeds are
    * suppliers s0–s2; [[BfsRounds]] synchronous frontier rounds are
    * unrolled into one DAG (the PageRank pattern — no driver loop):
    * each round joins the node-cardinality distance table into the
    * cached edge list (AQE broadcasts the small side) and min-merges,
    * so the edge table never moves and the shuffle per round carries
    * ≤|nodes| rows after map-side min-combine. Unreached nodes simply
    * don't appear — no sentinel ∞ rows to carry. Exact integers. */
  private def bfsHops(s: SparkSession, d: String): DataFrame = {
    val e = graft.GraftCaches.getOrPersist(s, s"graph.lpa_edges:$d") {
      edges(s, d)
    }
    var dist = e.select(col("src").as("node")).distinct()
      .filter(col("node").isin("s0", "s1", "s2"))
      .withColumn("dist", lit(0L))
    // Each round's table is used TWICE (min-merge + next join):
    // without materialization the unrolled DAG re-expands every prior
    // round 2^k times (measured 9.5 s at sf0.1). Registry-persisting
    // the node-cardinality round tables makes the unroll linear.
    for (i <- 1 to BfsRounds) {
      val prev = dist
      dist = graft.GraftCaches.getOrPersist(s, s"graph.bfs$i:$d") {
        prev.unionByName(
          e.join(prev.withColumnRenamed("node", "src"), "src")
            .select(col("dst").as("node"),
              (col("dist") + 1L).as("dist")))
          .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      }
    }
    dist
  }

  private def bfsOracle: String = {
    val base = s"""
      WITH li AS (SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
                  FROM lineitem),
      edges AS (SELECT 's' || sk AS src, 'p' || pk AS dst FROM li
                UNION ALL
                SELECT 'p' || pk, 's' || sk FROM li),
      d0 AS (SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist
             FROM edges WHERE src IN ('s0', 's1', 's2'))"""
    val rounds = (1 to BfsRounds).map { i =>
      s""",
      d$i AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
                SELECT node, dist FROM d${i - 1}
                UNION ALL
                SELECT e.dst AS node, l.dist + 1 AS dist
                FROM edges e JOIN d${i - 1} l ON e.src = l.node)
              GROUP BY 1)"""
    }.mkString
    s"$base$rounds\n      SELECT node, dist FROM d$BfsRounds"
  }

  /** Per-seed labeled BFS + harmonic closeness centrality — the
    * "who sits most central" companion [[bfsHops]]'s min-merged
    * blast radius cannot answer (min-merge loses WHICH seed reached a
    * node). Distances are tracked per (seed, node) through the same
    * [[BfsRounds]] unrolled synchronous rounds (shuffle per round
    * ≤ |seeds|·|nodes| after map-side min-combine — a 3× constant on
    * the bfs shape, never the edge table moving); harmonic closeness
    * H(s) = Σ_{v≠s} 1/d(s,v) truncates per term to the e6 grid
    * (1e6 div d — exact integers, engine-identical), the standard
    * bounded-horizon estimator (Boldi & Vigna 2014): unreached nodes
    * contribute 0, so no ∞ sentinel rows exist anywhere. */
  private def closeness(s: SparkSession, d: String): DataFrame = {
    val e = graft.GraftCaches.getOrPersist(s, s"graph.lpa_edges:$d") {
      edges(s, d)
    }
    var dist = e.select(col("src").as("seed")).distinct()
      .filter(col("seed").isin("s0", "s1", "s2"))
      .select(col("seed"), col("seed").as("node"), lit(0L).as("dist"))
    for (i <- 1 to BfsRounds) {
      val prev = dist
      dist = graft.GraftCaches.getOrPersist(s, s"graph.clos$i:$d") {
        prev.unionByName(
          e.join(prev.withColumnRenamed("node", "src"), "src")
            .select(col("seed"), col("dst").as("node"),
              (col("dist") + 1L).as("dist")))
          .groupBy(col("seed"), col("node"))
          .agg(min(col("dist")).as("dist"))
      }
    }
    dist.filter(col("dist") > 0)
      .groupBy(col("seed"))
      .agg(count(lit(1)).as("n_reached"),
        sum(col("dist")).as("sum_dist"),
        sum(expr("1000000 div dist")).as("harmonic_e6"))
  }

  /** Degree thresholds of [[richClub]]. */
  val RichClubKs: Seq[Long] = Seq(1L, 2L, 4L, 8L, 16L)

  /** Rich-club coefficient φ(k) (Zhou & Mondragón 2004) — do
    * high-degree nodes preferentially link to EACH OTHER? For each
    * threshold k: N_k = nodes with degree > k, E_k = edges with both
    * endpoints above k, φ(k) = 2E_k / (N_k(N_k−1)) — emitted as one
    * exact e6 truncating division of nonnegative integers. On this
    * bipartite supplier–part graph the normalization counts the
    * impossible same-side pairs too (the standard GLOBAL definition
    * — documented, oracle identical), so φ here is bounded by the
    * bipartite density, not 1. Shape: one degree rollup, then ONE
    * conditional-sum aggregate over each of the edge and node scans
    * (all |Ks| thresholds as map-side-combinable counters — the
    * first cut fanned every edge ×|Ks| through a broadcast join and
    * measured 15 s at the 100× probe; the counter form is one pass),
    * unpivoted to |Ks| rows at the end. */
  private def richClub(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
      .select($"l_suppkey".as("sk"), $"l_partkey".as("pk")).distinct()
    val degS = li.groupBy($"sk").agg(count(lit(1)).as("deg"))
    val degP = li.groupBy($"pk").agg(count(lit(1)).as("deg"))
    val nAggs = RichClubKs.map(k =>
      sum(when($"deg" > k, 1L).otherwise(0L)).as(s"n_$k"))
    val nodes = degS.select($"deg").unionAll(degP.select($"deg"))
      .agg(nAggs.head, nAggs.tail: _*)
    val eAggs = RichClubKs.map(k =>
      sum(when($"ds" > k && $"dp" > k, 1L).otherwise(0L)).as(s"e_$k"))
    val edges = li.join(degS, "sk").withColumnRenamed("deg", "ds")
      .join(degP, "pk").withColumnRenamed("deg", "dp")
      .agg(eAggs.head, eAggs.tail: _*)
    val stacked = RichClubKs.map(k =>
      s"${k}L, n_$k, e_$k").mkString(", ")
    nodes.crossJoin(broadcast(edges))
      .select(expr(s"stack(${RichClubKs.size}, $stacked)" +
        " as (k, n_k, e_k)"))
      .withColumn("phi_e6",
        when($"n_k" >= 2, expr(
          "cast(2 * cast(e_k as decimal(38,0)) * 1000000" +
            " div (cast(n_k as decimal(38,0)) * (n_k - 1)) as bigint)"))
          .otherwise(lit(-1L)))
  }

  private def closenessOracle: String = {
    val base = s"""
      WITH li AS (SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
                  FROM lineitem),
      edges AS (SELECT 's' || sk AS src, 'p' || pk AS dst FROM li
                UNION ALL
                SELECT 'p' || pk, 's' || sk FROM li),
      d0 AS (SELECT DISTINCT src AS seed, src AS node,
                    CAST(0 AS BIGINT) AS dist
             FROM edges WHERE src IN ('s0', 's1', 's2'))"""
    val rounds = (1 to BfsRounds).map { i =>
      s""",
      d$i AS (SELECT seed, node, CAST(min(dist) AS BIGINT) AS dist
              FROM (
                SELECT seed, node, dist FROM d${i - 1}
                UNION ALL
                SELECT l.seed, e.dst AS node, l.dist + 1 AS dist
                FROM edges e JOIN d${i - 1} l ON e.src = l.node)
              GROUP BY 1, 2)"""
    }.mkString
    s"""$base$rounds
      SELECT seed, CAST(count(*) AS BIGINT) AS n_reached,
             CAST(sum(dist) AS BIGINT) AS sum_dist,
             CAST(sum(1000000 // dist) AS BIGINT) AS harmonic_e6
      FROM d$BfsRounds WHERE dist > 0 GROUP BY 1"""
  }

  private def modularityOracle: String =
    s"""$labelPropOracleCtes,
      ann AS (SELECT e.src, e.dst, ls.label AS src_lab,
                     ld.label AS dst_lab
              FROM edges e
              JOIN l$LpaIterations ls ON e.src = ls.node
              JOIN l$LpaIterations ld ON e.dst = ld.node),
      pc AS (SELECT src_lab AS community,
                    CAST(count(*) AS BIGINT) AS deg_c,
                    CAST(sum(CASE WHEN src_lab = dst_lab THEN 1
                      ELSE 0 END) AS BIGINT) AS in_c
             FROM ann GROUP BY 1),
      wn AS (SELECT *, CAST(sum(deg_c) OVER () AS BIGINT) AS m2
             FROM pc),
      cn AS (SELECT *, CAST(m2 * in_c - deg_c * deg_c AS BIGINT)
                         AS contrib_num
             FROM wn)
      SELECT community, deg_c, in_c, m2, contrib_num,
             CAST(sum(contrib_num) OVER () AS BIGINT) AS q_num,
             CAST(CAST(sum(contrib_num) OVER () AS HUGEINT) * 1000000
               // (CAST(m2 AS HUGEINT) * m2) AS BIGINT) AS q_ppm
      FROM cn"""

  /** Triangle counting over the supplier co-occurrence graph (an edge
    * links two suppliers iff they appear in the same order) — the
    * clustering/community primitive of graph analytics. Edges are
    * id-ORIENTED (a < b), so each triangle is enumerated exactly once
    * as a<b<c; the counting strategy is gated on edge count (see
    * [[triangleCountOn]]): adjacency-broadcast edge-iterator under the
    * cap, wedge-join + closing-edge semi probe above it.
    * Per-order co-occurrence is bounded by the ~7-lineitem order size,
    * so the edge build is a small self-join inside each order group.
    * At web scale the wedge path's refinement is degree-ordering
    * instead of id-ordering (orient edges low-degree → high-degree),
    * which bounds the wedge fan-out by the arboricity — same plan
    * shape, different orientation key; left id-ordered here because
    * the oracle must replay the orientation exactly. */
  /** Edge cap under which [[triangles]] broadcasts the
    * higher-neighbor adjacency (~2·edges longs; 20 M edges ≈ 320 MB
    * of build) — above it the wedge-join path runs instead. */
  val TriangleAdjBroadcastEdgeCap = 20000000L

  private def triangles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Several branches read the oriented edge list (the count path,
    // the adjacency build, the node/edge counts) — registry-cache it
    // so the order-group self-join runs once, not once per branch.
    val e = graft.GraftCaches.getOrPersist(s, s"graph.supplier_cooc:$d") {
      val so = Tables.lineitem(s, d)
        .select($"l_orderkey".as("ok"), $"l_suppkey".as("sk")).distinct()
      so.as("x").join(so.as("y"), Seq("ok"))
        .filter($"x.sk" < $"y.sk")
        .select($"x.sk".as("a"), $"y.sk".as("b"))
        .distinct()
    }
    // One count over the cached edges gates the strategy and folds
    // the n_edges scalar into a literal (the pagerankOn move).
    val nEdges = e.count()
    val nNodes = e.select($"a".as("n")).unionAll(e.select($"b".as("n")))
      .distinct().agg(count(lit(1)).as("n_nodes"))
    triangleCountOn(e, nEdges)
      .crossJoin(broadcast(nNodes))
      .select($"n_nodes", lit(nEdges).as("n_edges"), $"n_triangles")
  }

  /** Library API: triangle count over an id-ORIENTED edge list
    * (columns a < b), strategy-gated on edge count:
    *
    * At or below `adjBroadcastEdgeCap`, the EDGE-ITERATOR
    * (compact-forward, Latapy 2008): triangles a<b<c are
    * Σ over edges (a,b) of |N⁺(a) ∩ N⁺(b)| with N⁺ the
    * higher-neighbor set — the node-cardinality adjacency broadcasts
    * onto the never-moving edge list, so the wedge materialization
    * the join formulation shuffles (125 M rows on the near-complete
    * sf0.1 supplier graph) simply never exists. Measured
    * 18.4 s → 2.1 s at sf0.1. A max node has no adjacency row; the
    * inner join dropping its edges is exact (empty intersection).
    *
    * Above the cap — adjacency too big to broadcast — the
    * two-equi-shuffle wedge join + closing-edge semi probe (never
    * all-pairs). Both paths count identical triangles
    * (GraphOpsSpec locks the equality). */
  def triangleCountOn(e: DataFrame, nEdges: Long,
      adjBroadcastEdgeCap: Long = TriangleAdjBroadcastEdgeCap): DataFrame = {
    if (nEdges <= adjBroadcastEdgeCap) {
      val adj = e.groupBy(col("a"))
        .agg(sort_array(collect_list(col("b"))).as("nbrs"))
      e.join(broadcast(adj.select(col("a"), col("nbrs").as("na"))), Seq("a"))
        .join(broadcast(adj.select(col("a").as("b"), col("nbrs").as("nb"))),
          Seq("b"))
        .select(size(array_intersect(col("na"), col("nb")))
          .cast("long").as("c"))
        .agg(coalesce(sum(col("c")), lit(0L)).as("n_triangles"))
    } else {
      val wedges = e.as("e1")
        .join(e.as("e2"), col("e1.b") === col("e2.a"))
        .select(col("e1.a").as("a"), col("e1.b").as("b"),
          col("e2.b").as("c"))
      wedges.as("w").join(e.as("e3"),
          col("w.a") === col("e3.a") && col("w.c") === col("e3.b"),
          "left_semi")
        .agg(count(lit(1)).as("n_triangles"))
    }
  }

  /** HITS fixed-point grid: 1e6 is coarse enough that raw·Fp stays
    * far inside BIGINT even at large edge counts (raw ≤ n_edges·Fp),
    * and fine enough for a stable top-k ordering. */
  val HitsFp = 1000000L
  val HitsIterations = 2

  /** HITS hubs & authorities over the DIRECTED supplier→part purchase
    * graph (Kleinberg 1999, "Authoritative sources in a hyperlinked
    * environment") — the "which suppliers span the catalog / which
    * parts anchor the market" dual of PageRank's single score. Mutual
    * recursion a(p) = Σ h(s), h(s) = Σ a(p) run for a fixed round
    * count on the integer grid, L1-normalized each half-step
    * (score·Fp div Σscore — all-positive truncating division, exact
    * on both engines; classic L2 needs a sqrt the oracle can't replay
    * bit-exactly). Per half-step cost: one broadcast (or, above the
    * node cap, shuffle-hash — the pagerank gate) join onto the
    * never-moving edge list, one key aggregate, one scalar sum. The
    * emit is the top 50 of each side via TakeOrdered — no global
    * sort. */
  /** Library API: HITS over ANY directed edge list with columns
    * (src, dst); returns the top 50 per side. `cacheKeyPrefix` keys
    * the per-half-step registry caches — pass a distinct prefix per
    * distinct edge list. `broadcastNodeCap` gates the per-half-step
    * join exactly like [[pagerankOn]]'s; both paths are bit-identical
    * (integer arithmetic; GraphOpsSpec locks the equality). */
  def hitsOn(e: DataFrame, iterations: Int = HitsIterations,
      cacheKeyPrefix: String = "graph.hits",
      broadcastNodeCap: Long = DefaultBroadcastNodeCap): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val nNodes = e.agg(countDistinct($"src") + countDistinct($"dst"))
      .head().getLong(0)
    val small = nNodes <= broadcastNodeCap
    def side(scores: DataFrame, key: String): DataFrame =
      if (small) e.join(broadcast(scores), key)
      else e.join(scores.hint("shuffle_hash"), key)
    // score·Fp div Σ — the scalar joins in as a broadcast literal row.
    // Each half-step's raw table is registry-cached: its lineage is
    // read twice (the scalar sum and the normalize select) and feeds
    // the next half-step — uncached, the recompute would double per
    // half-step (the q_er_cluster lesson).
    def normalize(raw0: DataFrame, key: String): DataFrame = {
      val raw = graft.GraftCaches.getOrPersist(s, key)(raw0)
      raw.crossJoin(broadcast(raw.agg(sum($"raw").as("s_tot"))))
        .select($"node", expr(s"(raw * $HitsFp) div s_tot").as("score"))
    }
    var hubs = e.select($"src".as("node")).distinct()
      .select($"node", lit(HitsFp).as("score"))
    var auths: DataFrame = null
    for (i <- 1 to iterations) {
      auths = normalize(side(hubs.withColumnRenamed("node", "src"), "src")
        .groupBy($"dst".as("node")).agg(sum($"score").as("raw")),
        s"$cacheKeyPrefix:a$i")
      hubs = normalize(side(auths.withColumnRenamed("node", "dst"), "dst")
        .groupBy($"src".as("node")).agg(sum($"score").as("raw")),
        s"$cacheKeyPrefix:h$i")
    }
    def top(df: DataFrame, sideName: String): DataFrame = df
      .orderBy($"score".desc, $"node".asc).limit(50)
      .select(lit(sideName).as("side"), $"node",
        $"score".as("score_fp"),
        ($"score".cast("double") / HitsFp).as("score"))
    top(auths, "auth").unionAll(top(hubs, "hub"))
  }

  private def hits(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = graft.GraftCaches.getOrPersist(s, s"graph.sp_directed:$d") {
      Tables.lineitem(s, d)
        .select($"l_suppkey".as("sk"), $"l_partkey".as("pk")).distinct()
        .select(concat(lit("s"), $"sk").as("src"),
          concat(lit("p"), $"pk").as("dst"))
    }
    hitsOn(e, HitsIterations, s"graph.hits:$d")
  }

  /** Unrolled DuckDB replay of [[hits]]: same grid, same truncating
    * divisions, k chained (authority, hub) CTE pairs. */
  private def hitsOracle: String = {
    val base = s"""
      WITH li AS (SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
                  FROM lineitem),
      e AS (SELECT 's' || sk AS src, 'p' || pk AS dst FROM li),
      h0 AS (SELECT DISTINCT src AS node, $HitsFp AS score FROM e)"""
    val iters = (1 to HitsIterations).map { i =>
      s""",
      ar$i AS (SELECT e.dst AS node, sum(h.score) AS raw
               FROM e JOIN h${i - 1} h ON e.src = h.node GROUP BY 1),
      a$i AS (SELECT node, (raw * $HitsFp)
                // (SELECT sum(raw) FROM ar$i) AS score FROM ar$i),
      hr$i AS (SELECT e.src AS node, sum(a.score) AS raw
               FROM e JOIN a$i a ON e.dst = a.node GROUP BY 1),
      h$i AS (SELECT node, (raw * $HitsFp)
                // (SELECT sum(raw) FROM hr$i) AS score FROM hr$i)"""
    }.mkString
    val k = HitsIterations
    s"""$base$iters
      SELECT * FROM (
        SELECT 'auth' AS side, node, CAST(score AS BIGINT) AS score_fp,
               CAST(score AS DOUBLE) / $HitsFp AS score
        FROM a$k ORDER BY score_fp DESC, node ASC LIMIT 50)
      UNION ALL
      SELECT * FROM (
        SELECT 'hub' AS side, node, CAST(score AS BIGINT) AS score_fp,
               CAST(score AS DOUBLE) / $HitsFp AS score
        FROM h$k ORDER BY score_fp DESC, node ASC LIMIT 50)"""
  }

  /** Parts shared by more than this many suppliers are dropped from
    * the Jaccard candidate join — the df-cap that bounds the per-part
    * pair fan-out at C(cap,2), exactly the hub-guard LSH banding and
    * the ER blocker use. Degrees are computed ON the capped graph so
    * the emitted Jaccard is exact for the graph actually joined. */
  val JaccardDfCap = 50

  /** Distinct supplier–part incidence pairs — the bipartite edge set
    * [[edges]] doubles into its undirected form. */
  private def incidence(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .select($"l_suppkey".as("sk"), $"l_partkey".as("pk")).distinct()
  }

  /** Degree assortativity of the bipartite supplier↔part graph: the
    * Pearson correlation, over edges, between the two endpoint
    * degrees — do high-degree suppliers connect to popular parts
    * (assortative, r>0) or to niche ones (disassortative, r<0)? The
    * structural-mixing summary that tells a sampler whether hub
    * pruning will disconnect the graph. Degree tables are
    * NODE-cardinality and join onto the edge list (broadcast under
    * the [[DefaultBroadcastNodeCap]] argument); all five moment sums
    * are exact BIGINTs over edges, and only the final correlation
    * runs in double (n·Σxy exceeds int64, so the cross terms are
    * formed in double — identical trees both engines), floor·1e6. */
  private def degreeAssortativity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = incidence(s, d)
    val ds = li.groupBy($"sk").agg(count(lit(1)).as("dx"))
    val dp = li.groupBy($"pk").agg(count(lit(1)).as("dy"))
    li.join(ds, "sk").join(dp, "pk")
      .agg(count(lit(1)).as("n_edges"),
        sum($"dx").as("sx"), sum($"dy").as("sy"),
        sum($"dx" * $"dy").as("sxy"),
        sum($"dx" * $"dx").as("sxx"),
        sum($"dy" * $"dy").as("syy"))
      .select($"n_edges", $"sx", $"sy",
        when(($"n_edges".cast("double") * $"sxx" -
          $"sx".cast("double") * $"sx") > 0 &&
          ($"n_edges".cast("double") * $"syy" -
            $"sy".cast("double") * $"sy") > 0,
          floor(($"n_edges".cast("double") * $"sxy" -
            $"sx".cast("double") * $"sy")
            / sqrt(($"n_edges".cast("double") * $"sxx" -
              $"sx".cast("double") * $"sx")
              * ($"n_edges".cast("double") * $"syy" -
                $"sy".cast("double") * $"sy"))
            * lit(1000000.0))).as("assort_e6"))
  }

  /** Top-20 most similar supplier pairs by Jaccard over their part
    * sets — node-neighborhood similarity via the co-occurrence join:
    * candidates are generated ONLY through shared parts (two
    * suppliers with no common part never meet), and parts above
    * [[JaccardDfCap]] suppliers are dropped first, bounding the
    * per-part fan-out at C(cap,2) pairs — the same hub-guard as LSH
    * banding, so there is no all-pairs path at any scale. The
    * similarity is the exact rational |A∩B|/(|A|+|B|−|A∩B|) emitted
    * as integer ppm ((shared·1e6) div union), and the top-20 rides a
    * TakeOrderedAndProject on the deterministic total order
    * (jac_ppm desc, supplier ids asc) — no global sort. */
  private def graphJaccard(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // The capped incidence feeds FOUR subtrees of one plan (both pair
    // sides and both degree joins): registry-persist it so the
    // distinct + df-cap runs once per session instead of once per
    // subtree (the dedup-adjacency pattern; at cluster scale this is
    // a checkpoint of a |edges|-row slim table).
    val capped = graft.GraftCaches.getOrPersist(s, s"graph.jaccard_capped:$d") {
      val li = incidence(s, d)
      val pdeg = li.groupBy($"pk").agg(count(lit(1)).as("pd"))
      li.join(pdeg.filter($"pd" <= JaccardDfCap), "pk")
        .select($"pk", $"sk")
    }
    val sdeg = capped.groupBy($"sk").agg(count(lit(1)).as("deg"))
    val pairs = capped.select($"pk", $"sk".as("supp_a"))
      .join(capped.select($"pk".as("pk2"), $"sk".as("supp_b")),
        $"pk" === $"pk2" && $"supp_a" < $"supp_b")
      .groupBy($"supp_a", $"supp_b").agg(count(lit(1)).as("shared"))
    pairs
      .join(sdeg.select($"sk".as("supp_a"), $"deg".as("deg_a")), "supp_a")
      .join(sdeg.select($"sk".as("supp_b"), $"deg".as("deg_b")), "supp_b")
      .select($"supp_a", $"supp_b", $"shared", $"deg_a", $"deg_b",
        expr("(shared * 1000000) div (deg_a + deg_b - shared)")
          .as("jac_ppm"))
      .orderBy($"jac_ppm".desc, $"supp_a".asc, $"supp_b".asc)
      .limit(20)
  }

  /** Bounded-round k-core peel on an undirected edge list: each round
    * recomputes degrees, keeps nodes with deg ≥ k, and drops edges
    * touching a removed endpoint; `rounds` rounds are UNROLLED into
    * one DAG (the PageRank fixed-iteration discipline — no driver
    * loop, no collect). Each round's shrinking edge set is
    * registry-persisted: it feeds both the next round's degree
    * aggregate and its edge filter, and without the persist the scan
    * count doubles per round (the graph-jaccard subtree lesson,
    * commit 6e0da5d). Per round: one map-side-combinable degree
    * aggregate (node-cardinality) plus two equi-joins of the edge
    * list against the kept-node set — at 100 TB the kept set is
    * node-cardinality and broadcasts; the edge list never shuffles
    * except by its join key. Public so GraphOpsSpec can drive a
    * constructed cascade (path graphs need length/2 rounds — the
    * bounded-round semantics are part of the contract). */
  def kcoreOn(s: SparkSession, e0: DataFrame, kRow: DataFrame,
      rounds: Int, cacheKey: String): DataFrame = {
    var e = e0
    for (r <- 1 to rounds) {
      val cur = e
      e = graft.GraftCaches.getOrPersist(s, s"$cacheKey.round$r") {
        val keep = cur.groupBy(col("src"))
          .agg(count(lit(1)).as("deg"))
          .crossJoin(broadcast(kRow))
          .filter(col("deg") >= col("k")).select("src")
        cur.join(keep, "src")
          .join(keep.withColumnRenamed("src", "dst"), "dst")
          .select(col("src"), col("dst"))
      }
    }
    e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      .crossJoin(broadcast(kRow))
  }

  /** k-core of the supplier↔part graph with a SCALE-ADAPTIVE k =
    * max(3, mean-degree/2): a fixed literal k is meaningless across
    * scale factors (the same k that peels nothing at sf0.1 empties
    * sf0.001 — measured), while half the mean degree peels the
    * sparse tail at every SF. k stays in the DAG as a broadcast
    * scalar (never collected). Emits each surviving node with its
    * in-core degree and the k used. */
  private def kcore(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e0 = graft.GraftCaches.getOrPersist(s, s"graph.kcore.e0:$d") {
      edges(s, d)
    }
    val kRow = e0.agg(greatest(lit(3L),
      expr("count(*) div count(distinct src) div 2")).as("k"))
    kcoreOn(s, e0, kRow, Iterations, s"graph.kcore:$d")
  }

  private val kcoreOracle = s"""
      WITH li AS (SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
                  FROM lineitem),
      e0 AS (SELECT 's' || sk AS src, 'p' || pk AS dst FROM li
             UNION ALL
             SELECT 'p' || pk AS src, 's' || sk AS dst FROM li),
      kk AS (SELECT greatest(3, count(*) // count(DISTINCT src) // 2)
               AS k
             FROM e0),
      k1 AS (SELECT src FROM e0 CROSS JOIN kk
             GROUP BY src, kk.k HAVING count(*) >= k),
      e1 AS (SELECT e.src, e.dst FROM e0 e
             JOIN k1 a ON e.src = a.src JOIN k1 b ON e.dst = b.src),
      k2 AS (SELECT src FROM e1 CROSS JOIN kk
             GROUP BY src, kk.k HAVING count(*) >= k),
      e2 AS (SELECT e.src, e.dst FROM e1 e
             JOIN k2 a ON e.src = a.src JOIN k2 b ON e.dst = b.src),
      k3 AS (SELECT src FROM e2 CROSS JOIN kk
             GROUP BY src, kk.k HAVING count(*) >= k),
      e3 AS (SELECT e.src, e.dst FROM e2 e
             JOIN k3 a ON e.src = a.src JOIN k3 b ON e.dst = b.src)
      SELECT src AS node, CAST(count(*) AS BIGINT) AS deg,
             CAST(max(kk.k) AS BIGINT) AS k
      FROM e3 CROSS JOIN kk GROUP BY 1"""

  /** Strong-tie co-purchase graph: two parts are linked iff they
    * appear together in at least [[StrongTieMinCount]] distinct
    * orders. The raw one-order co-occurrence blob is DENSE (avg part
    * degree ~120 at sf0.1 — near-complete neighborhoods that make
    * clustering/link-prediction answers degenerate); the multiplicity
    * threshold lifts out the sparse repeat-signal graph (avg degree
    * 1.2 at sf0.1). Scale shape: the per-order pair fan is bounded by
    * order size (≤ C(7,2) here), and the only data-scaled stage is
    * the (a,b) pair-count aggregate, which combines map-side — so the
    * wire carries distinct pairs, not occurrences. Registry-cached:
    * both graph queries below read it. */
  val StrongTieMinCount = 2

  private def strongTieEdges(s: SparkSession, d: String): DataFrame =
    graft.GraftCaches.getOrPersist(s, s"graph.part_strongtie:$d") {
      import s.implicits._
      val po = Tables.lineitem(s, d)
        .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
      po.as("x").join(po.as("y"), Seq("ok"))
        .filter($"x.pk" < $"y.pk")
        .select($"x.pk".as("a"), $"y.pk".as("b"))
        .groupBy($"a", $"b").agg(count(lit(1)).as("w"))
        .filter($"w" >= StrongTieMinCount)
        .select($"a", $"b")
    }

  /** Watts–Strogatz LOCAL clustering coefficient per node — the
    * triangle census of [[triangles]] taken per node instead of
    * globally: c(v) = 2·t(v) / (deg(v)·(deg(v)−1)), the probability
    * two neighbors of v are themselves linked. Emitted as exact e6
    * fixed-point ((2·t·1e6) div (deg·(deg−1))) — all-integer, no
    * float anywhere.
    *
    * Per-node triangle counts reuse the edge-iterator shape: for each
    * oriented edge (a,b) the common HIGHER neighbors c close triangles
    * a<b<c exactly once, crediting a and b with |N⁺(a)∩N⁺(b)| and each
    * c with 1 (one exploded row per closed triangle). The adjacency is
    * node-cardinality and BROADCASTS onto the never-moving edge list
    * under [[TriangleAdjBroadcastEdgeCap]]; above it the same
    * intersection runs as two shuffled hash joins — identical
    * arithmetic, different wire strategy (GraphOpsSpec locks the
    * equality). A max-id node has no adjacency row; the inner join
    * dropping its edges is exact (its higher-neighbor set is empty, so
    * it contributes no credit). */
  private def clusteringCoeff(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = strongTieEdges(s, d)
    clusteringCoeffOn(e, e.count())
  }

  /** Library API: per-node local clustering coefficient over an
    * id-ORIENTED edge list (columns a < b), adjacency-broadcast under
    * `adjBroadcastEdgeCap`, shuffled-join above it. */
  def clusteringCoeffOn(e: DataFrame, nEdges: Long,
      adjBroadcastEdgeCap: Long = TriangleAdjBroadcastEdgeCap): DataFrame = {
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val adj = e.groupBy(col("a"))
      .agg(sort_array(collect_list(col("b"))).as("nbrs"))
    def side(df: DataFrame): DataFrame =
      if (nEdges <= adjBroadcastEdgeCap) broadcast(df) else df
    // ONE pass over the edge⋈adjacency join: the r17 form unionAll'd
    // three selects over `common`, and with no exchange between the
    // join and the union each branch RE-RAN the two broadcast-join
    // probes and the array_intersect per edge — 3× the per-edge work
    // and three straggler-bound stages (guide §2.4: a DataFrame read
    // N ways re-executes its subtree N times unless an exchange is
    // reused). Emitting all credits of an edge as one concatenated
    // struct array and exploding keeps the intersect at exactly once
    // per edge; same (node, t) multiset, same aggregate.
    val common = e
      .join(side(adj.select(col("a"), col("nbrs").as("na"))), Seq("a"))
      .join(side(adj.select(col("a").as("b"), col("nbrs").as("nb"))),
        Seq("b"))
      .select(col("a"), col("b"),
        array_intersect(col("na"), col("nb")).as("cs"))
    val credits = common
      .select(explode(concat(
        array(
          struct(col("a").as("node"), size(col("cs")).cast("long").as("t")),
          struct(col("b").as("node"), size(col("cs")).cast("long").as("t"))),
        transform(col("cs"),
          c => struct(c.as("node"), lit(1L).as("t"))))).as("nt"))
      .select(col("nt.node").as("node"), col("nt.t").as("t"))
    val tri = credits.groupBy(col("node")).agg(sum(col("t")).as("tri"))
    deg.join(tri, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"))
      .withColumn("coeff_e6",
        when(col("deg") >= 2,
          expr("(2 * tri * 1000000) div (deg * (deg - 1))"))
          .otherwise(lit(0L)))
      .orderBy(col("node").asc)
  }

  /** Link prediction by the resource-allocation index (Zhou, Lü &
    * Zhang 2009): for a non-adjacent pair (x,y), ra(x,y) =
    * Σ_{z ∈ N(x)∩N(y)} 1/deg(z) — each common neighbor routes one
    * unit of "resource" split evenly across its links. Chosen over
    * Adamic–Adar (1/log deg) because 1/deg is an EXACT RATIONAL: the
    * score is Σ (1e9 div deg z) in pure BIGINT arithmetic, so the
    * DuckDB oracle replays it bit-identically with no float anywhere.
    *
    * Scale shape: candidate pairs are generated ONLY through shared
    * neighbors z (never all-pairs), so pair volume is Σ_z C(deg z, 2);
    * [[RaHubDegreeCap]] guards the quadratic hub term exactly like
    * [[JaccardDfCap]] does for the similarity join — a dropped hub's
    * terms are each ≤ 1e9/cap, so the score deficit is bounded and
    * documented (the cap never binds at test SFs: strong-tie max
    * degree ≈ 51). Existing edges leave via LEFT ANTI against the
    * oriented edge list; top-20 rides TakeOrderedAndProject on the
    * deterministic (ra_e9 desc, x asc, y asc) order — no global
    * sort. */
  val RaHubDegreeCap = 1024L

  private def linkPredRA(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = strongTieEdges(s, d)
    val nbr = e.select($"a".as("z"), $"b".as("n"))
      .unionAll(e.select($"b".as("z"), $"a".as("n")))
    val deg = nbr.groupBy($"z").agg(count(lit(1)).as("deg"))
    val zn = nbr.join(deg.filter($"deg" <= RaHubDegreeCap), "z")
    val l = zn.select($"z", $"deg", $"n".as("x"))
    val r = zn.select($"z".as("z2"), $"n".as("y"))
    val scored = l.join(r, l("z") === r("z2") && l("x") < r("y"))
      .select($"x", $"y", expr("1000000000 div deg").as("wt"))
      .groupBy($"x", $"y")
      .agg(sum($"wt").as("ra_e9"), count(lit(1)).as("n_common"))
    scored.join(e, scored("x") === e("a") && scored("y") === e("b"),
        "left_anti")
      .orderBy($"ra_e9".desc, $"x".asc, $"y".asc)
      .limit(20)
  }

  /** Test hook: the strong-tie edge list (GraphOpsSpec replays both
    * catalog queries from it). */
  def strongTieEdgesForTest(s: SparkSession, d: String): DataFrame =
    strongTieEdges(s, d)

  /** Shared strong-tie edge CTE for the two oracles below. */
  private val strongTieSql = s"""
      WITH po AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                  FROM lineitem),
      e AS (SELECT a, b FROM (
              SELECT x.pk AS a, y.pk AS b, count(*) AS w
              FROM po x JOIN po y ON x.ok = y.ok AND x.pk < y.pk
              GROUP BY 1, 2)
            WHERE w >= $StrongTieMinCount)"""

  /** Attenuation for [[katzIndex]] as an exact power-of-4 weight:
    * β = 1/4, so Σ_{k≤3} β^k·walks_k scales by 4³ into the all-
    * integer katz_x64 = 16·w1 + 4·w2 + w3 — no fixed-point division
    * anywhere in the iteration, unlike PageRank's normalized ranks,
    * because Katz never renormalizes. */
  val KatzRounds = 3

  /** KATZ centrality (Katz 1953), truncated at [[KatzRounds]] hops —
    * the walk-counting influence score [[pagerank]]'s normalized
    * fixed-point can't give (PageRank is a distribution; Katz is an
    * absolute reachability mass, the standard choice when scores must
    * be comparable ACROSS graphs, e.g. per-source trust in a curation
    * pipeline). w_k(v) = Σ_{(u,v)∈E} w_{k−1}(u) counts length-k walks
    * ending at v — all-integer, so both engines match bit-for-bit
    * with no grid snapping at all. Per round the node-cardinality
    * walk table joins the edge list exactly like [[pagerankOn]]'s
    * rank join (edges never move; contributions collapse map-side);
    * each w_k localCheckpoints because it is read twice (next round +
    * the final combine — the BPE 2^k DAG lesson). Top-50 by score
    * with node tiebreak keeps the output bounded and total-ordered. */
  private def katzIndex(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = graft.GraftCaches.getOrPersist(s, s"graph.sp_edges:$d") {
      edges(s, d)
    }
    val w0 = graft.GraftCaches.checkpoint(s, s"graph.katz_w0:$d") {
      e.select($"src".as("node")).distinct()
        .withColumn("w", lit(1L))
    }
    val walks = (1 to KatzRounds).scanLeft(w0) { (prev, i) =>
      graft.GraftCaches.checkpoint(s, s"graph.katz_w$i:$d") {
        e.join(broadcast(prev.withColumnRenamed("node", "src")), "src")
          .groupBy($"dst".as("node")).agg(sum($"w").as("w"))
      }
    }.drop(1)
    val combined = walks.zipWithIndex.map { case (wk, i0) =>
      val weight = 1L << (2 * (KatzRounds - 1 - i0)) // 16, 4, 1
      wk.select($"node", ($"w" * weight).as("contrib"))
    }.reduce(_ unionByName _)
      .groupBy($"node").agg(sum($"contrib").as("katz_x64"))
    combined.orderBy($"katz_x64".desc, $"node".asc).limit(50)
  }

  private def katzOracle: String = {
    val base = s"""
      WITH li AS (SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
                  FROM lineitem),
      e AS (SELECT 's' || sk AS src, 'p' || pk AS dst FROM li
            UNION ALL SELECT 'p' || pk, 's' || sk FROM li),
      kw0 AS (SELECT DISTINCT src AS node, CAST(1 AS BIGINT) AS w
              FROM e)"""
    val iters = (1 to KatzRounds).map { i =>
      s""",
      kw$i AS (SELECT e.dst AS node, CAST(sum(p.w) AS BIGINT) AS w
               FROM e JOIN kw${i - 1} p ON e.src = p.node GROUP BY 1)"""
    }.mkString
    val combine = (1 to KatzRounds).map { i =>
      val weight = 1L << (2 * (KatzRounds - i))
      s"SELECT node, w * $weight AS contrib FROM kw$i"
    }.mkString("\n        UNION ALL\n        ")
    s"""$base$iters
      SELECT node, CAST(sum(contrib) AS BIGINT) AS katz_x64
      FROM ($combine) GROUP BY 1
      ORDER BY katz_x64 DESC, node ASC LIMIT 50"""
  }

  /** EDGE RECIPROCITY of the directed item-sequence graph — part x →
    * part y when y immediately follows x inside an order (the
    * l_linenumber walk): of all distinct directed edges, what
    * fraction has its reverse? Plus the dyad census (mutual /
    * asymmetric dyads) — the Garlaschelli–Loffredo numbers a sampler
    * checks before treating a directed graph as undirected. Shape:
    * one self-join of lineitem on (orderkey, linenumber+1) builds the
    * edges (1:1, shuffle ∝ lineitem), then ONE distinct-edge
    * self-join on both keys (equi, linear); the census is exact
    * integer counting, reciprocity ships as ·1e6 floors. Note
    * l_linenumber is dense 1..n within an order, so "next line"
    * is well-defined; self-loops (same part twice in a row) are
    * excluded from the dyad census by the a<>b guard, documented. */
  private def reciprocity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
      .select($"l_orderkey".as("ok"), $"l_linenumber".as("ln"),
        $"l_partkey".as("part"))
    val nxt = li.select($"ok", ($"ln" - 1).as("ln"),
      $"part".as("part_b"))
    val edges = li.join(nxt, Seq("ok", "ln"))
      .select($"part".as("a"), $"part_b".as("b"))
      .filter($"a" =!= $"b").distinct()
    val rev = edges.select($"b".as("a"), $"a".as("b"))
      .withColumn("has_rev", lit(1L))
    edges.join(rev, Seq("a", "b"), "left")
      .agg(count(lit(1)).as("n_edges"),
        sum(coalesce($"has_rev", lit(0L))).as("n_recip"))
      .select($"n_edges", $"n_recip",
        expr("n_recip div 2").as("n_mutual_dyads"), // exact: even
        ($"n_edges" - $"n_recip").as("n_asym_dyads"),
        expr("n_recip * 1000000 div n_edges").as("reciprocity_e6"))
  }

  val queries: Seq[Q] = Seq(
    Q("q_kcore", kcore, Some(kcoreOracle)),
    Q("q_katz_index", katzIndex, Some(katzOracle)),
    Q("q_graph_reciprocity", reciprocity, Some("""
      WITH li AS (SELECT l_orderkey AS ok, l_linenumber AS ln,
                         l_partkey AS part
                  FROM lineitem),
      ed AS (SELECT DISTINCT a.part AS a, b.part AS b
             FROM li a JOIN li b
               ON a.ok = b.ok AND b.ln = a.ln + 1
             WHERE a.part <> b.part),
      j AS (SELECT CAST(count(*) AS BIGINT) AS n_edges,
                   CAST(sum(CASE WHEN r.a IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_recip
            FROM ed LEFT JOIN ed r ON ed.a = r.b AND ed.b = r.a)
      SELECT n_edges, n_recip,
             n_recip // 2 AS n_mutual_dyads,
             n_edges - n_recip AS n_asym_dyads,
             CAST(n_recip * 1000000 // n_edges AS BIGINT)
               AS reciprocity_e6
      FROM j""")),
    Q("q_clustering_coeff", clusteringCoeff, headline = true,
      oracle = Some(s"""$strongTieSql,
      deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
              FROM (SELECT a AS node FROM e
                    UNION ALL SELECT b AS node FROM e)
              GROUP BY 1),
      tri AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c
              FROM e e1 JOIN e e2 ON e1.b = e2.a
              JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      tc AS (SELECT node, CAST(count(*) AS BIGINT) AS tri
             FROM (SELECT a AS node FROM tri
                   UNION ALL SELECT b AS node FROM tri
                   UNION ALL SELECT c AS node FROM tri)
             GROUP BY 1)
      SELECT d.node, d.deg,
             CAST(coalesce(t.tri, 0) AS BIGINT) AS tri,
             CAST(CASE WHEN d.deg >= 2
                  THEN (2 * coalesce(t.tri, 0) * 1000000)
                       // (d.deg * (d.deg - 1))
                  ELSE 0 END AS BIGINT) AS coeff_e6
      FROM deg d LEFT JOIN tc t USING (node)
      ORDER BY node""")),
    Q("q_link_pred_ra", linkPredRA, Some(s"""$strongTieSql,
      nbr AS (SELECT a AS z, b AS n FROM e
              UNION ALL SELECT b AS z, a AS n FROM e),
      dg AS (SELECT z, CAST(count(*) AS BIGINT) AS deg
             FROM nbr GROUP BY 1),
      zn AS (SELECT nbr.z, nbr.n, dg.deg
             FROM nbr JOIN dg USING (z)
             WHERE dg.deg <= $RaHubDegreeCap),
      pr AS (SELECT l.n AS x, r.n AS y,
                    CAST(sum(1000000000 // l.deg) AS BIGINT) AS ra_e9,
                    CAST(count(*) AS BIGINT) AS n_common
             FROM zn l JOIN zn r ON l.z = r.z AND l.n < r.n
             GROUP BY 1, 2)
      SELECT x, y, ra_e9, n_common
      FROM pr
      WHERE NOT EXISTS (SELECT 1 FROM e
                        WHERE e.a = pr.x AND e.b = pr.y)
      ORDER BY ra_e9 DESC, x ASC, y ASC
      LIMIT 20""")),
    Q("q_pagerank", pagerank, Some(pagerankOracle), headline = true),
    Q("q_label_prop", labelProp, Some(labelPropOracle)),
    Q("q_modularity", modularity, Some(modularityOracle)),
    Q("q_bfs_hops", bfsHops, Some(bfsOracle)),
    Q("q_graph_closeness", closeness, Some(closenessOracle)),
    Q("q_rich_club", richClub, Some(s"""
      WITH li AS (SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
                  FROM lineitem),
      ds AS (SELECT sk, CAST(count(*) AS BIGINT) AS sdeg
             FROM li GROUP BY 1),
      dp AS (SELECT pk, CAST(count(*) AS BIGINT) AS pdeg
             FROM li GROUP BY 1),
      ks(k) AS (VALUES ${RichClubKs.map(k =>
        s"(CAST($k AS BIGINT))").mkString(", ")}),
      nodes AS (SELECT k, CAST(count(*) AS BIGINT) AS n_k
                FROM (SELECT sdeg AS deg FROM ds UNION ALL
                      SELECT pdeg AS deg FROM dp) d
                CROSS JOIN ks WHERE deg > k GROUP BY 1),
      edges AS (SELECT k, CAST(count(*) AS BIGINT) AS e_k
                FROM li JOIN ds USING (sk) JOIN dp USING (pk)
                CROSS JOIN ks
                WHERE sdeg > k AND pdeg > k GROUP BY 1)
      SELECT ks.k, CAST(coalesce(n.n_k, 0) AS BIGINT) AS n_k,
             CAST(coalesce(e.e_k, 0) AS BIGINT) AS e_k,
             CAST(CASE WHEN coalesce(n.n_k, 0) >= 2
                    THEN 2 * CAST(coalesce(e.e_k, 0) AS HUGEINT)
                         * 1000000
                         // (CAST(n.n_k AS HUGEINT) * (n.n_k - 1))
                    ELSE -1 END AS BIGINT) AS phi_e6
      FROM ks LEFT JOIN nodes n USING (k)
              LEFT JOIN edges e USING (k)""")),
    Q("q_degree_assortativity", degreeAssortativity, Some("""
      WITH li AS (SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
                  FROM lineitem),
      ds AS (SELECT sk, CAST(count(*) AS BIGINT) AS dx FROM li GROUP BY 1),
      dp AS (SELECT pk, CAST(count(*) AS BIGINT) AS dy FROM li GROUP BY 1),
      m AS (SELECT CAST(count(*) AS BIGINT) AS n_edges,
                   CAST(sum(dx) AS BIGINT) AS sx,
                   CAST(sum(dy) AS BIGINT) AS sy,
                   CAST(sum(dx * dy) AS BIGINT) AS sxy,
                   CAST(sum(dx * dx) AS BIGINT) AS sxx,
                   CAST(sum(dy * dy) AS BIGINT) AS syy
            FROM li JOIN ds USING (sk) JOIN dp USING (pk))
      SELECT n_edges, sx, sy,
             CASE WHEN (CAST(n_edges AS DOUBLE) * sxx
                        - CAST(sx AS DOUBLE) * sx) > 0
                   AND (CAST(n_edges AS DOUBLE) * syy
                        - CAST(sy AS DOUBLE) * sy) > 0 THEN
               CAST(floor((CAST(n_edges AS DOUBLE) * sxy
                           - CAST(sx AS DOUBLE) * sy)
                 / sqrt((CAST(n_edges AS DOUBLE) * sxx
                         - CAST(sx AS DOUBLE) * sx)
                        * (CAST(n_edges AS DOUBLE) * syy
                           - CAST(sy AS DOUBLE) * sy))
                 * 1000000.0) AS BIGINT) END AS assort_e6
      FROM m""")),
    Q("q_graph_jaccard", graphJaccard, headline = true, oracle = Some(s"""
      WITH li AS (SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
                  FROM lineitem),
      pd AS (SELECT pk, count(*) AS pd FROM li GROUP BY 1),
      ce AS (SELECT li.sk, li.pk FROM li JOIN pd USING (pk)
             WHERE pd <= $JaccardDfCap),
      sd AS (SELECT sk, CAST(count(*) AS BIGINT) AS deg
             FROM ce GROUP BY 1),
      pr AS (SELECT a.sk AS supp_a, b.sk AS supp_b,
                    CAST(count(*) AS BIGINT) AS shared
             FROM ce a JOIN ce b ON a.pk = b.pk AND a.sk < b.sk
             GROUP BY 1, 2),
      j AS (SELECT pr.supp_a, pr.supp_b, pr.shared,
                   da.deg AS deg_a, db.deg AS deg_b,
                   CAST((pr.shared * 1000000)
                     // (da.deg + db.deg - pr.shared) AS BIGINT)
                     AS jac_ppm
            FROM pr JOIN sd da ON pr.supp_a = da.sk
                    JOIN sd db ON pr.supp_b = db.sk)
      SELECT * FROM j
      ORDER BY jac_ppm DESC, supp_a ASC, supp_b ASC LIMIT 20""")),
    Q("q_hits", hits, Some(hitsOracle)),
    Q("q_triangle_count", triangles, Some("""
      WITH so AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
                  FROM lineitem),
      e AS (SELECT DISTINCT x.sk AS a, y.sk AS b
            FROM so x JOIN so y ON x.ok = y.ok AND x.sk < y.sk),
      tri AS (SELECT 1 FROM e e1
              JOIN e e2 ON e1.b = e2.a
              JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      nodes AS (SELECT a AS n FROM e UNION SELECT b FROM e)
      SELECT (SELECT count(*) FROM nodes) AS n_nodes,
             (SELECT count(*) FROM e) AS n_edges,
             (SELECT count(*) FROM tri) AS n_triangles"""))
  )
}
