package graft.scale

import graft.{SparkEntry, SparkTestSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GraphOpsSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf}

  test("pagerank conserves rank mass up to integer-truncation dust") {
    val rows = SparkEntry.queries("q_pagerank")(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("rank_fp")).sum
    // every iteration truncates ≤1 fp-unit per EDGE at the
    // contribution division plus ≤2 per node (damping + teleport) —
    // mass can only leak DOWN from FpOne, bounded by those counts
    import spark.implicits._
    val nEdges = 2L * graft.Tables.lineitem(spark, sf)
      .select($"l_suppkey", $"l_partkey").distinct().count()
    val maxLeak = GraphOps.Iterations * (nEdges + 2L * rows.length)
    assert(total <= GraphOps.FpOne, s"mass above 1: $total")
    assert(total >= GraphOps.FpOne - maxLeak,
      s"leaked more than truncation can explain: $total")
    rows.foreach(r => assert(r.getAs[Long]("rank_fp") > 0L))
  }

  test("pagerank node ids do not depend on key width: int32 keys " +
      "near Int.MaxValue keep their s<k>/p<k> labels") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-pagerank-int32")
    val (s1, s2) = (Int.MaxValue - 1, Int.MaxValue)
    val (p1, p2) = (Int.MaxValue - 3, Int.MaxValue)
    Seq((s1, p1), (s1, p2), (s2, p2)).toDF("l_suppkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val ds = spark.read.parquet(s"$dir/lineitem.parquet").schema
    assert(ds.map(_.dataType.typeName).distinct === Seq("integer"))
    try {
      val labels = SparkEntry.queries("q_pagerank")(spark, dir.toString)
        .collect().map(_.getAs[String]("node")).toSet
      assert(labels === Set(s"s$s1", s"s$s2", s"p$p1", s"p$p2"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("pagerankOn API: the hub of a star graph outranks every leaf") {
    import SparkTestSession.spark.implicits._
    // undirected star: hub <-> leaf1..leaf6 (both directions)
    val leaves = (1 to 6).map(i => s"leaf$i")
    val edges = leaves.flatMap(l => Seq(("hub", l), (l, "hub")))
      .toDF("src", "dst")
    val ranks = GraphOps.pagerankOn(edges, iterations = 3)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("rank_fp")).toMap
    assert(ranks.size === 7)
    val hub = ranks("hub")
    leaves.foreach(l => assert(hub > ranks(l), s"hub <= $l"))
    // symmetric leaves must tie exactly (integer arithmetic: no drift)
    assert(leaves.map(ranks).distinct.size === 1)
  }

  test("pagerankOn shuffle fallback (node cap exceeded) is bit-identical " +
      "to the broadcast path") {
    import spark.implicits._
    // the catalog's bipartite supplier<->part edges, built inline
    val li = graft.Tables.lineitem(spark, sf)
      .select($"l_suppkey".as("sk"), $"l_partkey".as("pk")).distinct()
    val edges = li.select(concat(lit("s"), $"sk").as("src"),
        concat(lit("p"), $"pk").as("dst"))
      .unionAll(li.select(concat(lit("p"), $"pk").as("src"),
        concat(lit("s"), $"sk").as("dst")))
    val viaBroadcast = GraphOps.pagerankOn(edges, iterations = 2)
    val b = viaBroadcast.collect()
      .map(r => r.getString(0) -> r.getAs[Long]("rank_fp")).toMap
    // With size-based auto-broadcast off, the only possible broadcast
    // left is an explicit hint — so the cap=0 plan must have none
    // (the gate removed the unconditional rank-table hint).
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(thresholdKey)
    spark.conf.set(thresholdKey, "-1")
    try {
      val viaShuffle = GraphOps.pagerankOn(edges, iterations = 2,
        broadcastNodeCap = 0L)
      // collect() walks only THIS plan's tree (a cached adjacency's
      // internal plan may legitimately contain broadcasts from when
      // it was first built under default settings)
      val bhj = viaShuffle.queryExecution.sparkPlan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      }
      assert(bhj.isEmpty, "cap=0 path still broadcasts the rank table")
      val s = viaShuffle.collect()
        .map(r => r.getString(0) -> r.getAs[Long]("rank_fp")).toMap
      assert(b === s)
    } finally spark.conf.set(thresholdKey, prev)
  }

  test("q_triangle_count agrees with an independent brute-force count") {
    import spark.implicits._
    val row = SparkEntry.queries("q_triangle_count")(spark, sf).collect()(0)
    // independent model: collect the oriented edge list and count
    // closed wedges by set probing — different algorithm, same graph
    val so = graft.Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_suppkey").distinct()
      .as[(Long, Long)].collect()
    val edges = so.groupBy(_._1).values.flatMap { grp =>
      val sks = grp.map(_._2).distinct.sorted
      for (i <- sks.indices; j <- (i + 1) until sks.length)
        yield (sks(i), sks(j))
    }.toSet
    val adj = edges.groupBy(_._1).map { case (a, es) => a -> es.map(_._2) }
    val naive = edges.toSeq.map { case (a, b) =>
      adj.getOrElse(b, Set.empty).count(c => edges.contains((a, c)))
    }.sum
    assert(row.getAs[Long]("n_edges") === edges.size.toLong)
    assert(row.getAs[Long]("n_triangles") === naive.toLong,
      s"triangle count ${row.getAs[Long]("n_triangles")} != naive $naive")
  }

  test("triangleCountOn: edge-iterator and wedge-join paths count " +
      "identically (the strategy gate is a pure perf choice)") {
    import spark.implicits._
    val so = graft.Tables.lineitem(spark, sf)
      .select($"l_orderkey".as("ok"), $"l_suppkey".as("sk")).distinct()
    val e = so.as("x").join(so.as("y"), Seq("ok"))
      .filter($"x.sk" < $"y.sk")
      .select($"x.sk".as("a"), $"y.sk".as("b")).distinct().cache()
    val n = e.count()
    val viaAdj = GraphOps.triangleCountOn(e, n,
      adjBroadcastEdgeCap = Long.MaxValue).head().getLong(0)
    val viaWedge = GraphOps.triangleCountOn(e, n,
      adjBroadcastEdgeCap = 0L).head().getLong(0)
    assert(viaAdj === viaWedge)
    e.unpersist()
  }

  test("hitsOn: directed star — hub is the only hub, leaves tie as " +
      "authorities") {
    import spark.implicits._
    val edges = (1 to 6).map(i => ("hub", s"leaf$i")).toDF("src", "dst")
    val rows = GraphOps.hitsOn(edges, iterations = 2,
      cacheKeyPrefix = "test.hits.star").collect()
    val (auths, hubs) = rows.partition(_.getAs[String]("side") == "auth")
    assert(hubs.map(_.getAs[String]("node")).toSeq === Seq("hub"))
    // sole hub: normalization returns exactly Fp
    assert(hubs.head.getAs[Long]("score_fp") === GraphOps.HitsFp)
    // symmetric leaves: exact integer tie at Fp div 6
    assert(auths.length === 6)
    assert(auths.map(_.getAs[Long]("score_fp")).distinct.toSeq ===
      Seq(GraphOps.HitsFp / 6))
  }

  test("hitsOn shuffle fallback (node cap exceeded) is bit-identical " +
      "to the broadcast path") {
    import spark.implicits._
    val edges = graft.Tables.lineitem(spark, sf)
      .select(concat(lit("s"), $"l_suppkey").as("src"),
        concat(lit("p"), $"l_partkey").as("dst")).distinct()
    val b = GraphOps.hitsOn(edges, iterations = 2,
        cacheKeyPrefix = "test.hits.b").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Long]("score_fp")).toMap
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(thresholdKey)
    spark.conf.set(thresholdKey, "-1")
    try {
      val viaShuffle = GraphOps.hitsOn(edges, iterations = 2,
        cacheKeyPrefix = "test.hits.s", broadcastNodeCap = 0L)
      // the only broadcasts allowed above the cap are the 1-row scalar
      // normalizers (nested-loop) — no hash-broadcast of a score table
      val bhj = viaShuffle.queryExecution.sparkPlan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      }
      assert(bhj.isEmpty, "cap=0 path still hash-broadcasts scores")
      val sres = viaShuffle.collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          r.getAs[Long]("score_fp")).toMap
      assert(b === sres)
    } finally spark.conf.set(thresholdKey, prev)
  }

  test("q_hits emits min(50, side) per side, descending, positive") {
    import spark.implicits._
    val rows = SparkEntry.queries("q_hits")(spark, sf).collect()
    val bySide = rows.groupBy(_.getAs[String]("side"))
    assert(bySide.keySet === Set("auth", "hub"))
    val li = graft.Tables.lineitem(spark, sf)
    val expected = Map(
      "hub" -> li.select($"l_suppkey").distinct().count(),
      "auth" -> li.select($"l_partkey").distinct().count())
    bySide.foreach { case (name, side) =>
      assert(side.length === math.min(50L, expected(name)))
      val scores = side.map(_.getAs[Long]("score_fp")).toSeq
      assert(scores === scores.sorted.reverse, "not descending")
      assert(scores.forall(_ > 0L))
    }
  }

  test("pagerank favors high-degree nodes") {
    val rows = SparkEntry.queries("q_pagerank")(spark, sf).collect()
    // suppliers connect to many parts; parts to few suppliers — the
    // average supplier must outrank the average part
    val (sup, part) = rows.partition(_.getAs[String]("node").startsWith("s"))
    val supAvg = sup.map(_.getAs[Long]("rank_fp")).sum.toDouble / sup.length
    val partAvg = part.map(_.getAs[Long]("rank_fp")).sum.toDouble / part.length
    assert(supAvg > partAvg,
      s"supplier avg $supAvg not above part avg $partAvg")
  }

  test("kcoreOn: a path graph cascades exactly one hop per round " +
      "(bounded-round semantics) and a cycle is stable at k=2") {
    import spark.implicits._
    // path a0-a1-...-a9: at k=2 the two endpoints peel each round,
    // so r rounds remove exactly 2r nodes; the 10-cycle never peels
    val path = (0 until 9)
      .flatMap(i => Seq((s"a$i", s"a${i + 1}"), (s"a${i + 1}", s"a$i")))
      .toDF("src", "dst")
    val cycle = (0 until 10)
      .flatMap(i => Seq((s"c$i", s"c${(i + 1) % 10}"),
        (s"c${(i + 1) % 10}", s"c$i")))
      .toDF("src", "dst")
    val kRow = Seq(2L).toDF("k")
    for (r <- 1 to 3) {
      val surv = GraphOps.kcoreOn(spark, path.unionAll(cycle), kRow,
        r, s"spec.kcore.r$r").collect()
      val pathNodes = surv.map(_.getString(0)).filter(_.startsWith("a"))
      assert(pathNodes.length === 10 - 2 * r,
        s"round $r: path should lose exactly ${2 * r} endpoints")
      val cycleNodes = surv.filter(_.getString(0).startsWith("c"))
      assert(cycleNodes.length === 10, s"round $r: cycle must be stable")
      cycleNodes.foreach(n => assert(n.getLong(1) === 2L))
    }
  }

  test("q_kcore: every surviving node meets the adaptive k and the " +
      "peel is idempotent at the emitted edge set") {
    val rows = SparkEntry.queries("q_kcore")(spark, sf).collect()
    assert(rows.nonEmpty)
    val k = rows.head.getAs[Long]("k")
    assert(k >= 3L)
    // bounded-round contract: after the LAST unrolled round every
    // emitted degree is computed over surviving endpoints only; a
    // converged peel implies deg >= k for all rows (holds at every
    // test SF -- convergence here is measured, 1 round suffices)
    rows.foreach(r => assert(r.getAs[Long]("deg") >= k,
      s"node ${r.getString(0)} below k after convergence"))
  }

  test("labelPropagationOn: star-graph 2-round replay by hand; " +
      "shuffle fallback is bit-identical") {
    import spark.implicits._
    // undirected star 10-(11,12,13): round 1 the hub sees three
    // singleton labels (tie -> smallest = 11) and every leaf sees
    // {10}; round 2 the hub's neighbors all carry 10 and the leaves'
    // hub carries 11 — the classic bipartite oscillation, pinned as
    // deterministic k-round state
    val leaves = Seq("11", "12", "13")
    val edges = leaves.flatMap(l => Seq(("10", l), (l, "10")))
      .toDF("src", "dst")
    val got = GraphOps.labelPropagationOn(edges, iterations = 2)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === Map("10" -> "10", "11" -> "11", "12" -> "11",
      "13" -> "11"))
    // catalog-graph equality of the two join strategies
    val cat = SparkEntry.queries("q_label_prop")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val li = graft.Tables.lineitem(spark, sf)
      .select($"l_suppkey".as("sk"), $"l_partkey".as("pk")).distinct()
    val e2 = li.select(concat(lit("s"), $"sk").as("src"),
        concat(lit("p"), $"pk").as("dst"))
      .unionAll(li.select(concat(lit("p"), $"pk").as("src"),
        concat(lit("s"), $"sk").as("dst")))
    val viaShuffle = GraphOps.labelPropagationOn(e2,
        broadcastNodeCap = 0L)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(viaShuffle === cat)
    // every assigned label is itself a node of the graph
    assert(cat.values.toSet.subsetOf(cat.keySet))
  }

  test("clustering coefficient matches an all-pairs brute replay and " +
      "the shuffle-join path is bit-identical to broadcast") {
    import spark.implicits._
    // hand graph: triangle 1-2-3 plus pendant 4 on node 3, isolatedish
    // edge 5-6 — coefficients 1, 1, 1/3, 0, 0, 0
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (5L, 6L))
      .toDF("a", "b")
    val got = GraphOps.clusteringCoeffOn(e, nEdges = 5L)
      .collect()
      .map(r => r.getAs[Long]("node") ->
        ((r.getAs[Long]("deg"), r.getAs[Long]("tri"),
          r.getAs[Long]("coeff_e6"))))
      .toMap
    assert(got === Map(
      1L -> ((2L, 1L, 1000000L)), 2L -> ((2L, 1L, 1000000L)),
      3L -> ((3L, 1L, 333333L)), 4L -> ((1L, 0L, 0L)),
      5L -> ((1L, 0L, 0L)), 6L -> ((1L, 0L, 0L))))
    // catalog graph: shuffle-join path (cap 0 forces it) must equal
    // the broadcast edge-iterator bit-for-bit
    val cat = SparkEntry.queries("q_clustering_coeff")(spark, sf)
      .collect().map(r => r.toSeq).toSet
    val edges = GraphOps.strongTieEdgesForTest(spark, sf)
    val viaShuffle = GraphOps.clusteringCoeffOn(edges,
        nEdges = edges.count(), adjBroadcastEdgeCap = 0L)
      .collect().map(r => r.toSeq).toSet
    assert(viaShuffle === cat)
  }

  test("resource-allocation link prediction: scores are exact rationals " +
      "and predicted pairs are non-adjacent") {
    import spark.implicits._
    val rows = SparkEntry.queries("q_link_pred_ra")(spark, sf).collect()
    assert(rows.nonEmpty)
    // brute replay: rebuild the strong-tie graph, recompute RA for
    // every returned pair from raw neighbor sets
    val edges = GraphOps.strongTieEdgesForTest(spark, sf)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")))
    val adjacency = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    rows.foreach { r =>
      val (x, y) = (r.getAs[Long]("x"), r.getAs[Long]("y"))
      assert(!adjacency(x).contains(y), s"pair ($x,$y) is an edge")
      val common = adjacency(x) intersect adjacency(y)
      val ra = common.toSeq.map(z => 1000000000L / adjacency(z).size).sum
      assert(r.getAs[Long]("ra_e9") === ra)
      assert(r.getAs[Long]("n_common") === common.size.toLong)
    }
  }

  test("q_modularity: accounting reconciles with q_label_prop labels " +
      "and the LPA partition beats the random-partition baseline") {
    val rows = SparkEntry.queries("q_modularity")(spark, sf).collect()
    assert(rows.nonEmpty)
    val labels = SparkEntry.queries("q_label_prop")(spark, sf)
      .collect().map(r => r.getAs[String]("node") ->
        r.getAs[String]("label")).toMap
    // brute edge walk with the labels the sibling query published
    import spark.implicits._
    val li = graft.Tables.lineitem(spark, sf)
      .select($"l_suppkey", $"l_partkey").distinct()
      .as[(Long, Long)].collect()
    val directed = li.flatMap { case (sk, pk) =>
      Seq((s"s$sk", s"p$pk"), (s"p$pk", s"s$sk")) }
    val m2 = directed.length.toLong
    val byC = directed.groupBy(e => labels(e._1))
    rows.foreach { r =>
      val c = r.getAs[String]("community")
      val es = byC(c)
      assert(r.getAs[Long]("deg_c") === es.length.toLong, s"$c deg")
      assert(r.getAs[Long]("in_c") ===
        es.count(e => labels(e._2) == c).toLong, s"$c in")
      assert(r.getAs[Long]("m2") === m2)
      assert(r.getAs[Long]("contrib_num") ===
        m2 * r.getAs[Long]("in_c") -
          r.getAs[Long]("deg_c") * r.getAs[Long]("deg_c"))
    }
    assert(rows.map(_.getAs[String]("community")).toSet === byC.keySet)
    val qNum = rows.map(_.getAs[Long]("contrib_num")).sum
    rows.foreach { r =>
      assert(r.getAs[Long]("q_num") === qNum)
      assert(r.getAs[Long]("q_ppm") ===
        (BigInt(qNum) * 1000000 / (BigInt(m2) * m2)).toLong)
    }
    // Q is bounded by [-1, 1] by construction; its SIGN is a data
    // property, not an invariant — synchronous LPA oscillates on
    // bipartite graphs (labels ping-pong between the two sides), so
    // at small SF the 2-round partition can land below chance. The
    // pin here is the exact algebra, not community quality.
    val qPpm = rows.head.getAs[Long]("q_ppm")
    assert(qPpm >= -1000000L && qPpm <= 1000000L)
  }

  test("q_bfs_hops: distances equal a brute frontier walk and satisfy " +
      "the BFS edge inequality") {
    val got = SparkEntry.queries("q_bfs_hops")(spark, sf)
      .collect().map(r => r.getAs[String]("node") ->
        r.getAs[Long]("dist")).toMap
    import spark.implicits._
    val li = graft.Tables.lineitem(spark, sf)
      .select($"l_suppkey", $"l_partkey").distinct()
      .as[(Long, Long)].collect()
    val adj = li.flatMap { case (sk, pk) =>
      Seq(s"s$sk" -> s"p$pk", s"p$pk" -> s"s$sk") }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val seeds = Set("s0", "s1", "s2").filter(adj.contains)
    assert(seeds.nonEmpty)
    var dist = seeds.map(_ -> 0L).toMap
    var frontier = seeds
    for (i <- 1 to GraphOps.BfsRounds) {
      val next = frontier.flatMap(adj(_)).filterNot(dist.contains)
      dist = dist ++ next.map(_ -> i.toLong)
      frontier = next
    }
    assert(got === dist)
    // edge inequality: a node at dist d < rounds forces neighbors <= d+1
    got.foreach { case (u, du) =>
      if (du < GraphOps.BfsRounds)
        adj(u).foreach(v => assert(got(v) <= du + 1, s"$u->$v"))
    }
  }

  test("q_graph_closeness: per-seed harmonic sums equal a brute " +
      "labeled BFS; min-merge over seeds reproduces q_bfs_hops") {
    val rows = SparkEntry.queries("q_graph_closeness")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    import spark.implicits._
    val li = graft.Tables.lineitem(spark, sf)
      .select($"l_suppkey", $"l_partkey").distinct()
      .as[(Long, Long)].collect()
    val adj = li.flatMap { case (sk, pk) =>
      Seq(s"s$sk" -> s"p$pk", s"p$pk" -> s"s$sk") }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val allDists = Set("s0", "s1", "s2").filter(adj.contains).map {
      seed =>
        var dist = Map(seed -> 0L)
        var frontier = Set(seed)
        for (i <- 1 to GraphOps.BfsRounds) {
          val next = frontier.flatMap(adj(_)).filterNot(dist.contains)
          dist = dist ++ next.map(_ -> i.toLong)
          frontier = next
        }
        seed -> dist
    }.toMap
    assert(rows.length === allDists.size)
    rows.foreach { r =>
      val seed = r.getAs[String]("seed")
      val ds = allDists(seed).values.filter(_ > 0)
      assert(r.getAs[Long]("n_reached") === ds.size.toLong)
      assert(r.getAs[Long]("sum_dist") === ds.sum)
      assert(r.getAs[Long]("harmonic_e6") ===
        ds.map(1000000L / _).sum)
    }
    // cross-operator identity: min over seeds of the labeled
    // distances == the multi-source q_bfs_hops table
    val merged = allDists.values.flatten
      .groupBy(_._1).map { case (n, ds) => n -> ds.map(_._2).min }
    val bfs = SparkEntry.queries("q_bfs_hops")(spark, sf)
      .collect().map(r => r.getAs[String]("node") ->
        r.getAs[Long]("dist")).toMap
    assert(merged === bfs)
  }

  test("q_rich_club: exact replay over the degree table; phi " +
      "monotonicity sanity") {
    val rows = SparkEntry.queries("q_rich_club")(spark, sf)
      .collect().sortBy(_.getAs[Long]("k"))
    assert(rows.length === GraphOps.RichClubKs.size)
    import spark.implicits._
    val li = graft.Tables.lineitem(spark, sf)
      .select($"l_suppkey", $"l_partkey").distinct()
      .as[(Long, Long)].collect()
    val dS = li.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val dP = li.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    rows.foreach { r =>
      val k = r.getAs[Long]("k")
      val nk = dS.values.count(_ > k) + dP.values.count(_ > k)
      val ek = li.count { case (s0, p0) => dS(s0) > k && dP(p0) > k }
      assert(r.getAs[Long]("n_k") === nk.toLong)
      assert(r.getAs[Long]("e_k") === ek.toLong)
      val phi = if (nk >= 2)
        2L * ek * 1000000L / (nk.toLong * (nk - 1)) else -1L
      assert(r.getAs[Long]("phi_e6") === phi)
    }
    // counts shrink as the threshold rises
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("n_k") >= b.getAs[Long]("n_k"))
        assert(a.getAs[Long]("e_k") >= b.getAs[Long]("e_k"))
      case _ =>
    }
  }
}
