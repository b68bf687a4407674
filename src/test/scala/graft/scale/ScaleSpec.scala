package graft.scale

import graft.{SparkTestSession, SparkEntry, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ScaleSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf}
  import spark.implicits._

  test("substring dedup catches an UNALIGNED planted duplicate the " +
      "fixed-stride chunk path provably misses") {
    // doc 2 repeats doc 1's 40-token body shifted by 3 tokens — less
    // than the 8-token chunk stride, so no chunk boundary aligns
    val body = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, body),
      (2L, "x1 x2 x3 " + body),
      (3L, (1 to 40).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
    // the chunk path sees NO shared chunk between docs 1 and 2
    val t = split($"text", "\\s+")
    val nChunks = (size(t) + lit(Dedup.ChunkLen - 1)) / lit(Dedup.ChunkLen)
    val chunks = docs.select($"doc_id", explode(transform(
        sequence(lit(0), nChunks.cast("int") - 1),
        i => concat_ws(" ", slice(t, i * Dedup.ChunkLen + 1,
          lit(Dedup.ChunkLen))))).as("chunk"))
    val sharedChunks = chunks.groupBy($"chunk")
      .agg(countDistinct($"doc_id").as("nd")).filter($"nd" > 1).count()
    assert(sharedChunks === 0L)
    // the anchor path reports the full 40-token run at the right spot
    val runs = Dedup.substringDedupOn(docs).collect()
    assert(runs.length === 1)
    val r = runs.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) === ((1L, 2L, 1L, 4L, 40L)))
  }

  test("substring ledger unions overlapping intervals per document") {
    // doc 1's body appears in doc 2 AND doc 3 at overlapping but
    // different offsets: doc 1's covered intervals [1,40) from the
    // doc-2 run and [11,50) from the doc-3 run must union to ONE
    // 49-token span, not 79 double-counted tokens
    val w = (1 to 50).map(i => s"w$i").mkString(" ")
    def words(a: Int, b: Int) = (a to b).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, w), // 50 tokens
      (2L, words(1, 39)), // matches doc 1 tokens 1..39
      (3L, words(11, 49)) // matches doc 1 tokens 11..49
    ).toDF("doc_id", "text")
    val led = Dedup.substringLedger0(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // doc 1: union of [1,40) and [11,50) = [1,50) → 49 tokens, 1 span
    assert(led(1L) === ((50L, 49L, 1L)))
    assert(led(2L) === ((39L, 39L, 1L)))
    assert(led(3L) === ((39L, 39L, 1L)))
  }

  test("BPE merge fold is greedy left-to-right non-overlapping") {
    def fold(syms: Seq[String], l: String, r: String): Seq[String] =
      spark.sql(s"SELECT ${TextOps.BpeMergeFoldSql} AS m FROM VALUES" +
          s" (array(${syms.map("'" + _ + "'").mkString(",")})," +
          s" '$l', '$r') AS t(syms, l, r)")
        .head().getSeq[String](0)
    // run of 4: two merges; run of 3: merge + leftover (the parity
    // case a naive global regex replace gets wrong)
    assert(fold(Seq("a", "a", "a", "a", "w"), "a", "a") ===
      Seq("aa", "aa", "w"))
    assert(fold(Seq("a", "a", "a", "w"), "a", "a") ===
      Seq("aa", "a", "w"))
    // a just-merged symbol does not re-merge with the next r
    assert(fold(Seq("a", "b", "b", "w"), "a", "b") ===
      Seq("ab", "b", "w"))
    // no occurrence → identity
    assert(fold(Seq("x", "y", "w"), "a", "b") === Seq("x", "y", "w"))
  }

  test("batched BPE: round 1 == the sequential chain's first merges, " +
      "simultaneous application == sequential application, 4x round cut") {
    val batch = SparkEntry.queries("q_bpe_train_batch")(spark, sf)
      .orderBy($"round", $"rank").collect()
      .map(r => (r.getAs[Long]("round"), r.getAs[String]("left_sym"),
        r.getAs[String]("right_sym"), r.getAs[Long]("pair_count")))
    // round cut: a full batch every round on the fixture → 24 merges
    // in 6 rounds where the sequential trainer needs 24 (4x ≥ 3x,
    // VERDICT r14 #3), and m = 4 ≥ 4 realized, not just configured
    assert(batch.length === TextOps.BpeBatchM * TextOps.BpeBatchRounds)
    assert(batch.count(_._1 == 1L) === TextOps.BpeBatchM)
    // round 1 == sequential merges 1..M: the first batch selects from
    // the same argmax-ordered pair table, and on the fixture the top
    // pairs are mutually non-interacting, so batching provably does
    // not change them (later rounds legitimately diverge where a
    // created pair outranks a base pair — sequential sees it mid-
    // round, the batch at the next round boundary)
    val seq = SparkEntry.queries("q_bpe_train")(spark, sf)
      .orderBy($"round").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3)))
    assert(batch.filter(_._1 == 1L).map(t => (t._2, t._3, t._4)).toSeq
      === seq.take(TextOps.BpeBatchM).toSeq)

    // application equivalence = "same final vocab as the sequential
    // chain" on the fixture: applying every learned rule ONE AT A
    // TIME in (round, rank) order via the sequential fold must give
    // exactly the batch trainer's final vocabulary (which applied
    // each round's rules in a single simultaneous pass)
    val w0 = Tables.documents(spark, sf)
      .select(explode(TextOps.tokens($"text")).as("w"))
      .filter($"w" =!= "")
      .groupBy($"w").agg(count(lit(1)).as("cnt"))
      .select($"w",
        concat(split($"w", ""), array(lit(TextOps.BpeEow))).as("syms"))
    var seqApplied = w0
    batch.foreach { case (_, l, r, _) =>
      seqApplied = seqApplied
        .withColumn("l", lit(l)).withColumn("r", lit(r))
        .select($"w", expr(TextOps.BpeMergeFoldSql).as("syms"))
    }
    val want = seqApplied.collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    val got = TextOps.bpeBatchFinalVocab(spark, sf)
      .select($"w", $"syms").collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(got === want)
  }

  test("large batched BPE: >=256 merges at >=8 per round, and the whole " +
      "trainer (selection + simultaneous apply) replays a driver-side " +
      "rank-order-sequential greedy loop exactly") {
    val got = SparkEntry.queries("q_bpe_train_large")(spark, sf)
      .orderBy($"round", $"rank").collect()
      .map(r => (r.getAs[Long]("round"), r.getAs[Long]("rank"),
        r.getAs[String]("left_sym"), r.getAs[String]("right_sym"),
        r.getAs[Long]("pair_count"))).toVector
    // VERDICT r15 #1 targets, asserted on the fixture: ≥ 256 merges
    // total, ≥ 8 merges in EVERY round (the fixture trains 466)
    assert(got.length >= 256, s"only ${got.length} merges trained")
    val perRound = got.groupBy(_._1)
    assert(perRound.size === TextOps.BpeLargeRounds)
    assert(perRound.values.map(_.length).min >= 8)

    // Full driver replay: bigram units, per-round pair counts, top-C
    // candidate pool, greedy all-non-interacting selection, then the
    // rules applied ONE AT A TIME in rank order (the Spark side
    // applies each round's batch in a single simultaneous fold — the
    // replay proves the non-interaction rule makes them equal).
    val wc = Tables.documents(spark, sf)
      .select(TextOps.tokens($"text").as("ts"))
      .select(filter($"ts", t => t =!= "").as("ts"))
      .filter(size($"ts") >= 2)
      .select(explode(expr(
        "zip_with(slice(ts, 1, size(ts) - 1), slice(ts, 2, size(ts) - 1)," +
          " (a, b) -> concat(a, '_', b))")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("c"))
      .as[(String, Long)].collect()
    var words: Map[String, (Vector[String], Long)] = wc.map { case (w, c) =>
      w -> ((w.split("").toVector :+ TextOps.BpeEow, c))
    }.toMap
    def interacts(y: (String, String), x: (String, String)): Boolean =
      y._2 == x._1 || y._1 == x._2 ||
        y._1 + y._2 == x._1 || y._1 + y._2 == x._2 ||
        x._1 + x._2 == y._1 || x._1 + x._2 == y._2 ||
        x._1 + x._2 == y._1 + y._2
    val merges = Vector.newBuilder[(Long, Long, String, String, Long)]
    for (round <- 1 to TextOps.BpeLargeRounds) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((_, (syms, c)) <- words; i <- 0 until syms.length - 1) {
        val k = (syms(i), syms(i + 1))
        pc(k) = pc.getOrElse(k, 0L) + c
      }
      val pool = pc.toVector
        .sortBy { case ((l, r), n) => (-n, l, r) }.take(TextOps.BpeLargeC)
      val sel = pool.foldLeft(Vector.empty[((String, String), Long)]) {
        case (acc, (x, n)) =>
          if (acc.length >= TextOps.BpeLargeC ||
            acc.exists(y => interacts(y._1, x))) acc
          else acc :+ ((x, n))
      }
      sel.zipWithIndex.foreach { case (((l, r), n), i) =>
        merges += ((round.toLong, (i + 1).toLong, l, r, n))
        words = words.view.mapValues { case (syms, c) =>
          val out = Vector.newBuilder[String]
          var j = 0
          while (j < syms.length) {
            if (j + 1 < syms.length && syms(j) == l && syms(j + 1) == r) {
              out += l + r; j += 2
            } else { out += syms(j); j += 1 }
          }
          (out.result(), c)
        }.toMap
      }
    }
    assert(got === merges.result())
    // final vocabulary equality: the simultaneous per-round fold ends
    // at exactly the rank-order-sequential replay's symbolization
    val want = words.map { case (w, (syms, _)) => w -> syms }
    val gotVocab = TextOps.bpeLargeFinalVocab(spark, sf)
      .select($"w", $"syms").collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toVector).toMap
    assert(gotVocab === want)
  }

  test("BPE training replays a driver-side Sennrich merge loop exactly") {
    val wc = Tables.documents(spark, sf)
      .select(explode(TextOps.tokens($"text")).as("w"))
      .filter($"w" =!= "").groupBy($"w").agg(count(lit(1)).as("c"))
      .as[(String, Long)].collect()
    var words: Map[Vector[String], Long] = wc.toSeq.groupMapReduce(
      p => p._1.split("").toVector :+ TextOps.BpeEow)(_._2)(_ + _)
    val merges = Vector.newBuilder[(String, String, Long)]
    for (_ <- 1 to TextOps.BpeMerges) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, c) <- words; i <- 0 until syms.length - 1) {
        val k = (syms(i), syms(i + 1))
        pc(k) = pc.getOrElse(k, 0L) + c
      }
      val ((l, r), n) = pc.minBy { case ((l, r), n) => (-n, l, r) }
      merges += ((l, r, n))
      words = words.toSeq.groupMapReduce { case (syms, _) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += l + r; i += 2
          } else { out += syms(i); i += 1 }
        }
        out.result()
      }(_._2)(_ + _)
    }
    val got = SparkEntry.queries("q_bpe_train")(spark, sf)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toVector
    assert(got === merges.result())
  }

  test("codegen dot product matches the interpreted higher-order form exactly") {
    val e = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .limit(200)
    val both = e.select(
        Similarity.dot($"v", reverse($"v")).as("fast"),
        Similarity.dotInterpreted($"v", reverse($"v")).as("ref"))
      .collect()
    both.foreach(r => assert(r.getDouble(0) === r.getDouble(1),
      "codegen and interpreted dot diverge"))
    // null input → null out, like any null-safe binary expression
    val n = e.select(Similarity.dot(lit(null).cast("array<double>"), $"v"))
      .head()
    assert(n.isNullAt(0))
    // and the expression must actually be inside whole-stage codegen
    val plan = e.select(Similarity.dot($"v", $"v")).queryExecution.executedPlan
    val inCodegen = plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec
        if w.toString.contains("dot_product") => w
    }
    assert(inCodegen.nonEmpty, s"dot_product not inside codegen:\n$plan")
  }

  test("connectedComponents labels chains, stars, and islands correctly") {
    // chain 1-2-3-4, star 10-(11,12,13), island pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (10L, 13L), (20L, 21L)).toDF("d1", "d2")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents converges for a chain as long as the round count") {
    // path graph 0-1-...-8: diameter 8 needs all 8 default rounds
    val pairs = (0L until 8L).map(i => (i, i + 1)).toDF("d1", "d2")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSet === Set(0L), s"chain not fully labeled: $got")
    // the worst case actually spends its whole budget (no false early
    // exit on a graph that needs every round)
    assert(Dedup.ccRoundsExecuted.get === 8)
  }

  test("connectedComponents exits early at the label fixpoint " +
      "(VERDICT r15 #6), with results identical to the full budget") {
    // shallow cliques (the ER-fixture shape): min labels reach every
    // node in round 1, round 2 proves the fixpoint, rounds 3..8 would
    // be pure waste — the adaptive loop must run exactly 2 of the 8
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L)).toDF("d1", "d2")
    val got = Dedup.connectedComponents(pairs, rounds = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
    assert(Dedup.ccRoundsExecuted.get === 2,
      s"expected early exit after 2 rounds, ran ${Dedup.ccRoundsExecuted.get}")
    // and the q_er_cluster path itself early-exits: its corruption
    // cliques are shallow (cross-name edges can add a hop, but never
    // the full worst case), so fewer than the pinned 4 rounds execute
    SparkEntry.queries("q_er_cluster")(spark, sf).write
      .format("noop").mode("overwrite").save()
    assert(Dedup.ccRoundsExecuted.get < 4,
      s"q_er_cluster ran ${Dedup.ccRoundsExecuted.get} of its 4-round budget")
  }

  test("minhash LSH finds exactly the exact-jaccard pairs at τ=0.8") {
    val exact = SparkEntry.queries("q_dedup_ngram_jaccard")(spark, sf)
      .select($"d1", $"d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("q_dedup_minhash_lsh")(spark, sf)
      .select($"d1", $"d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    assert(lsh === exact)
  }

  test("simhash: planted near-dup pairs have small hamming distance") {
    val sig = Dedup.simhashSignatures(Tables.documents(spark, sf))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = SparkEntry.queries("q_dedup_ngram_jaccard")(spark, sf)
      .select($"d1", $"d2").collect().map(r => (r.getLong(0), r.getLong(1)))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val dists = pairs.map { case (a, b) => hamming(sig(a), sig(b)) }
    // near-dups should be far closer than random 64-bit pairs (E=32)
    assert(dists.nonEmpty && dists.sum.toDouble / dists.length < 16.0,
      s"mean hamming ${dists.sum.toDouble / dists.length}")
  }

  test("simhash is deterministic across runs") {
    val a = Dedup.simhashSignatures(Tables.documents(spark, sf)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Dedup.simhashSignatures(Tables.documents(spark, sf)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b)
  }

  test("ANN LSH returns true candidates ranked correctly with useful recall") {
    val brute = SparkEntry.queries("q_ann_bruteforce")(spark, sf)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("q_ann_lsh")(spark, sf)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(lsh.nonEmpty)
    assert(recall >= 0.2, s"LSH recall $recall too low") // 4×4-bit bands
  }

  test("ANN LSH per-query results are subsets of candidate re-rank (≤ k each)") {
    val perQuery = SparkEntry.queries("q_ann_lsh")(spark, sf)
      .groupBy($"query_id").agg(count(lit(1)).as("n"), max($"rank").as("mx"))
      .collect()
    perQuery.foreach { r =>
      assert(r.getLong(1) <= Similarity.TopK)
      assert(r.getLong(2) <= Similarity.TopK)
    }
  }

  test("ANN multi-probe recall dominates single-probe LSH at equal tables") {
    val brute = SparkEntry.queries("q_ann_bruteforce")(spark, sf)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("q_ann_lsh")(spark, sf)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mp = SparkEntry.queries("q_ann_multiprobe")(spark, sf)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshRecall = (brute intersect lsh).size.toDouble / brute.size
    val mpRecall = (brute intersect mp).size.toDouble / brute.size
    // the probe set strictly contains the exact buckets, so the
    // candidate set — and hence the true-hit count — can only grow
    assert(mpRecall >= lshRecall,
      s"multi-probe recall $mpRecall below single-probe $lshRecall")
    // per-query bound: still <= k rows each
    SparkEntry.queries("q_ann_multiprobe")(spark, sf)
      .groupBy($"query_id").agg(count(lit(1)).as("n")).collect()
      .foreach(r => assert(r.getLong(1) <= Similarity.TopK))
  }

  test("hard negatives are cross-label and match a brute top-k replay") {
    val rows = SparkEntry.queries("q_hard_negatives")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Long]("neg_label") !==
      r.getAs[Long]("anchor_label")))
    val vecs = graft.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>"),
        $"label".cast("long")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getLong(2)))
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.map(i => a(i) * b(i)).sum
    rows.groupBy(_.getAs[Long]("anchor_id")).foreach { case (aid, rs) =>
      val (_, av, alabel) = vecs.find(_._1 == aid).get
      val want = vecs.filter(_._3 != alabel)
        .map(v => (v._1, dot(v._2, av)))
        .sortBy { case (id, c) => (-c, id) }
        .take(Similarity.TopK).map(_._1).toSeq
      val got = rs.sortBy(_.getAs[Long]("rank"))
        .map(_.getAs[Long]("negative_id")).toSeq
      assert(got === want, s"anchor $aid top-k mismatch")
    }
  }

  test("label purity cells partition the corpus and flag counts are " +
      "consistent") {
    val rows = SparkEntry.queries("q_label_purity")(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = graft.Tables.embeddings(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_members")).sum === total)
    rows.foreach { r =>
      val (n, maj, flagged) = (r.getAs[Long]("n_members"),
        r.getAs[Long]("n_majority"), r.getAs[Long]("n_flagged"))
      assert(maj + flagged === n)
      assert(r.getAs[Long]("purity_e6") === maj * 1000000L / n)
      assert(maj >= (n + r.getAs[Long]("n_labels") - 1)
        / r.getAs[Long]("n_labels"), "majority below ceiling(n/k)")
    }
  }

  test("Zipf slope matches a driver-side floor-then-sum OLS replay") {
    val row = SparkEntry.queries("q_zipf_slope")(spark, sf).head()
    val toks = graft.Tables.documents(spark, sf)
      .select($"text").collect()
      .flatMap(_.getString(0).toLowerCase.split("\\s+"))
      .filter(_.nonEmpty)
    val freq = toks.groupBy(identity).map { case (t, a) =>
      t -> a.length.toLong
    }.toSeq.sortBy { case (t, f) => (-f, t) }
    assert(row.getAs[Long]("v") === freq.length.toLong)
    assert(row.getAs[Long]("n_tokens") === toks.length.toLong)
    def e9(x: Double): Long = math.floor(x * 1e9).toLong
    val xs = freq.indices.map(i => math.log((i + 1).toDouble))
    val ys = freq.map(f => math.log(f._2.toDouble))
    val (v, sx, sy) = (freq.length.toDouble,
      xs.map(e9).sum, ys.map(e9).sum)
    val sxy = xs.zip(ys).map { case (a, b) => e9(a * b) }.sum
    val sxx = xs.map(a => e9(a * a)).sum
    val slope = (v * sxy - sx.toDouble * sy / 1e9) /
      (v * sxx - sx.toDouble * sx / 1e9)
    assert(row.getAs[Long]("slope_e6") ===
      math.floor(slope * 1e6).toLong)
    assert(row.getAs[Long]("slope_e6") < 0L,
      "rank-frequency slope must be negative")
    assert(row.getAs[Long]("intercept_e6") ===
      math.floor((sy.toDouble - slope * sx) / v / 1e9 * 1e6).toLong)
  }

  test("MaxSim late interaction matches a per-label brute replay") {
    val got = SparkEntry.queries("q_maxsim")(spark, sf).collect()
      .map(r => r.getAs[Long]("label") ->
        ((r.getAs[Long]("n_qtokens"), r.getAs[Long]("maxsim_e6"))))
      .toMap
    val vecs = graft.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>"),
        $"label".cast("long")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getLong(2)))
    val qs = vecs.filter(_._1 < Similarity.NumQueries)
    val docs = vecs.filter(_._1 >= Similarity.NumQueries).groupBy(_._3)
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.map(i => a(i) * b(i)).sum
    docs.foreach { case (label, dv) =>
      val expect = qs.map { case (_, qv, _) =>
        math.floor(dv.map(v => dot(v._2, qv)).max * 1e6).toLong
      }.sum
      assert(got(label) === ((qs.length.toLong, expect)),
        s"label $label maxsim mismatch")
    }
    assert(got.keySet === docs.keySet)
  }

  test("greedy max-coverage matches a driver-side brute replay and its " +
      "gains are non-increasing") {
    val rows = SparkEntry.queries("q_max_coverage")(spark, sf)
      .orderBy($"round".asc).collect()
    assert(rows.length === TextOps.MaxCoverRounds)
    val gains = rows.map(_.getAs[Long]("gain"))
    gains.sliding(2).foreach { case Array(a, b) =>
      assert(a >= b, "greedy gains must be non-increasing")
    }
    assert(rows.map(_.getAs[Long]("covered_total")).toSeq ===
      gains.scanLeft(0L)(_ + _).tail.toSeq)
    // brute replay of the greedy loop from raw text
    val docSh = graft.Tables.documents(spark, sf)
      .select($"doc_id", $"text").collect().flatMap { r =>
        val toks = r.getAs[String]("text").toLowerCase.split("\\s+")
        if (toks.length < 3) None
        else Some(r.getAs[Long]("doc_id") ->
          toks.sliding(3).map(_.mkString(" ")).toSet)
      }.toMap
    var covered = Set.empty[String]
    rows.foreach { r =>
      val best = docSh.keys.toSeq
        .map(id => (id, (docSh(id) diff covered).size.toLong))
        .minBy { case (id, g) => (-g, id) }
      assert((r.getAs[Long]("doc_id"), r.getAs[Long]("gain")) === best)
      covered = covered union docSh(best._1)
    }
  }

  test("source ablation cells reconstruct both rates exactly") {
    val rows = SparkEntry.queries("q_source_ablation")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val nn = rows.map(_.getAs[Long]("n_docs")).sum
    val pp = rows.map(_.getAs[Long]("n_pass")).sum
    rows.foreach { r =>
      assert(r.getAs[Long]("rate_all_e6") === pp * 1000000L / nn)
      val loo = (pp - r.getAs[Long]("n_pass")) * 1000000L /
        (nn - r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("rate_loo_e6") === loo)
      assert(r.getAs[Long]("delta_e6") === loo - pp * 1000000L / nn)
    }
  }

  test("code detect: planted-truth precision is exact, keyword vote " +
      "always fires on planted docs, and features replay per row") {
    val rows = SparkEntry.queries("q_code_detect")(spark, sf).collect()
    assert(rows.nonEmpty)
    val texts = Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val planted = id % 5 == 0 || id % 5 == 1
      // precision = 1: nothing unplanted may classify as code
      if (r.getAs[Boolean]("is_code")) assert(planted, s"fp at $id")
      // every planted suffix carries >= 2 keywords
      if (planted) assert(r.getAs[Long]("n_kw") >= 2L, s"kw at $id")
      // replay the augmentation + all four counts for this row
      val t2 =
        if (id % 5 == 0)
          texts(id) + s" def calc_$id(x): return x + ${id % 7}" +
            "; arr[i] = arr[i] * 2; { emit(x); }"
        else if (id % 5 == 1)
          texts(id) + s" total_sum = total_sum + 1; if " +
            s"(total_sum == ${id % 13}) { flush_buffer(); } " +
            "else { skip_row(); }"
        else texts(id)
      def cnt(p: String): Long =
        p.r.findAllMatchIn(t2).size.toLong
      assert(r.getAs[Long]("n_chars2") === t2.length.toLong)
      assert(r.getAs[Long]("n_brace") === cnt("[{}()\\[\\]]"), s"b $id")
      assert(r.getAs[Long]("n_op") === cnt("[;=<>+*/]"), s"o $id")
      assert(r.getAs[Long]("n_snake") === cnt("[a-z]+_[a-z]+"), s"s $id")
      assert(r.getAs[Long]("n_kw") ===
        cnt("\\bdef\\b|\\breturn\\b|\\bif\\b|\\belse\\b"), s"k $id")
      val score = (if (r.getAs[Long]("n_brace") * 100 >=
          r.getAs[Long]("n_chars2")) 1L else 0L) +
        (if (r.getAs[Long]("n_op") * 50 >=
          r.getAs[Long]("n_chars2")) 1L else 0L) +
        (if (r.getAs[Long]("n_snake") >= 2) 1L else 0L) +
        (if (r.getAs[Long]("n_kw") >= 2) 1L else 0L)
      assert(r.getAs[Long]("score") === score, s"score $id")
      assert(r.getAs[Boolean]("is_code") === (score >= 3), s"cls $id")
    }
    // the boundary is exercised from both sides
    assert(rows.count(_.getAs[Boolean]("is_code")) > 0)
    assert(rows.count(r => !r.getAs[Boolean]("is_code")) > 0)
  }

  test("matryoshka eval: overlap replays brute-force and an untruncated " +
      "ranking has recall exactly 100") {
    val got = SparkEntry.queries("q_matryoshka_eval")(spark, sf)
      .collect()
      .map(r => r.getAs[Long]("query_id") ->
        ((r.getAs[Long]("n_overlap"), r.getAs[Long]("recall_pct"))))
      .toMap
    assert(got.size === Similarity.NumQueries)
    val vecs = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d0 = a.zip(b).map { case (x, y) => x * y }.sum
      d0 / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
    }
    def topk(qid: Long, dims: Int): Set[Long] =
      vecs.toSeq.filter(_._1 != qid)
        .map { case (id, v) =>
          (id, cos(v.take(dims), vecs(qid).take(dims)))
        }
        .sortBy { case (id, c) => (-c, id) }
        .take(Similarity.TopK).map(_._1).toSet
    (0L until Similarity.NumQueries.toLong).foreach { qid =>
      val full = topk(qid, 64)
      val trunc = topk(qid, Similarity.MatDim)
      val overlap = (full intersect trunc).size.toLong
      assert(got(qid)._1 === overlap, s"q$qid overlap")
      assert(got(qid)._2 === overlap * 100L / Similarity.TopK)
      // identity: no truncation => identical ranking => full recall
      assert((full intersect topk(qid, 64)).size === Similarity.TopK)
    }
  }

  test("textrank: weighted fixed-point rounds replay brute-force and " +
      "the kept keywords dominate every dropped node") {
    val fp = GraphOps.FpOne
    val got = SparkEntry.queries("q_textrank")(spark, sf).collect()
      .map(r => (r.getAs[String]("keyword"), r.getAs[Long]("rank_fp")))
    assert(got.length === TextOps.TextRankK)
    // brute: weighted adjacency from raw text
    val w = scala.collection.mutable.Map.empty[(String, String), Long]
      .withDefaultValue(0L)
    Tables.documents(spark, sf).select($"text").as[String].collect()
      .foreach { text =>
        val toks = text.toLowerCase.split("\\s+")
        toks.sliding(2).foreach {
          case Array(x, y) if x != y =>
            w((x, y)) += 1L; w((y, x)) += 1L
          case _ =>
        }
      }
    val strength = w.toSeq.groupBy(_._1._1).view
      .mapValues(_.map(_._2).sum).toMap
    val n = strength.size.toLong
    val teleport = fp / 100 * 15 / n
    var rank = strength.keys.map(_ -> fp / n).toMap
    for (_ <- 1 to GraphOps.Iterations) {
      val contrib = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      w.foreach { case ((u, v), wt) =>
        contrib(v) += rank(u) * wt / strength(u)
      }
      rank = rank.keys.map(k =>
        k -> (teleport + 85L * contrib(k) / 100L)).toMap
    }
    val want = rank.toSeq.sortBy { case (k, r) => (-r, k) }
      .take(TextOps.TextRankK)
    assert(got.toSeq === want)
    // every kept rank beats (or ties with) every dropped rank
    val dropped = rank.toSeq.sortBy { case (k, r) => (-r, k) }
      .drop(TextOps.TextRankK)
    if (dropped.nonEmpty)
      assert(got.map(_._2).min >= dropped.map(_._2).max)
  }

  test("q_silhouette: per-cluster scores replay a brute medoid scan, " +
      "scores stay in [0, 1e6], and counts cover the corpus") {
    val got = SparkEntry.queries("q_silhouette")(spark, sf).collect()
      .map(r => r.getAs[Long]("cluster_id") ->
        ((r.getAs[Long]("n_vecs"), r.getAs[Long]("sum_s_e6"),
          r.getAs[Long]("mean_s_e6")))).toMap
    val vecs = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x =>
          math.floor(x.toDouble * 1e6).toLong).toArray)
    val anchors = vecs.filter(_._1 < Similarity.SilhouetteK).sortBy(_._1)
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val want = vecs.map { case (_, v) =>
      val byD = anchors.map { case (mid, m) => (d2(v, m), mid) }.sorted
      val (a2, cid) = byD(0)
      val b2 = byD(1)._1
      cid -> (if (b2 > 0) (b2 - a2) * 1000000L / b2 else 0L)
    }.groupBy(_._1).map { case (cid, ss) =>
      cid -> ((ss.length.toLong, ss.map(_._2).sum,
        ss.map(_._2).sum / ss.length))
    }
    assert(got === want)
    assert(got.values.map(_._1).sum === vecs.length.toLong)
    got.values.foreach { case (n, sum, mean) =>
      assert(mean >= 0L && mean <= 1000000L)
      assert(sum >= 0L && sum <= n * 1000000L)
    }
  }

  test("q_chunk_dedup: the per-doc retention ledger replays a brute " +
      "first-occurrence scan and the global invariants hold") {
    val got = SparkEntry.queries("q_chunk_dedup")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_chunks"), r.getAs[Long]("n_kept"),
          r.getAs[Long]("n_in_dup_class")))).toMap
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val L = Dedup.ChunkLen
    val allChunks = docs.flatMap { case (id, text) =>
      text.split("\\s+").grouped(L).zipWithIndex
        .map { case (g, i) => (id, i.toLong, g.mkString(" ")) }
    }
    val occ = allChunks.groupBy(_._3)
    val firstOf = occ.view.mapValues(_.map(c => (c._1, c._2)).min).toMap
    val want = allChunks.groupBy(_._1).map { case (id, cs) =>
      id -> ((cs.length.toLong,
        cs.count(c => firstOf(c._3) == ((c._1, c._2))).toLong,
        cs.count(c => occ(c._3).length > 1).toLong))
    }
    assert(got === want)
    // global conservation: kept chunks == distinct chunks
    assert(got.values.map(_._2).sum === occ.size.toLong)
    // the data actually contains duplicate chunks (else the spec is
    // inert) and no doc keeps more than it has
    assert(got.values.map(_._3).sum > 0L)
    got.values.foreach { case (n, k, _) => assert(k <= n) }
  }

  test("textrank: the shuffle_hash fallback above the broadcast node " +
      "cap is result-identical and really drops the rank-table " +
      "broadcast (VERDICT r11 #3)") {
    val viaBroadcast = SparkEntry.queries("q_textrank")(spark, sf)
      .collect().toSeq
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(thresholdKey)
    spark.conf.set(thresholdKey, "-1")
    try {
      val viaShuffle = TextOps.textrankWith(spark, sf,
        broadcastNodeCap = 0L)
      val bhj = viaShuffle.queryExecution.sparkPlan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      }
      assert(bhj.isEmpty, "cap=0 path still broadcasts the rank table")
      assert(viaShuffle.collect().toSeq === viaBroadcast)
    } finally spark.conf.set(thresholdKey, prev)
  }

  test("shapley coverage: brute owner-set replay, efficiency axiom, " +
      "and dominance over exclusive count") {
    val rows = SparkEntry.queries("q_shapley_coverage")(spark, sf)
      .collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_covered"), r.getAs[Long]("n_exclusive"),
          r.getAs[Long]("credit_lcm"), r.getAs[Long]("shapley_milli"))))
      .toMap
    assert(rows.nonEmpty)
    val L = TextOps.ShapleyLcm
    // brute: per-shingle owner sets from raw text
    val owners = scala.collection.mutable.Map.empty[String, Set[String]]
    Tables.documents(spark, sf).select($"source", $"text").collect()
      .foreach { r =>
        val toks = r.getAs[String]("text").toLowerCase.split("\\s+")
        if (toks.length >= 3) toks.sliding(3).map(_.mkString(" "))
          .foreach { sh =>
            owners(sh) = owners.getOrElse(sh, Set.empty) + r.getString(0)
          }
      }
    // lcm(1..20) really divides every owner-set size
    assert(owners.valuesIterator.forall(t => L % t.size == 0))
    val want = owners.toSeq.flatMap { case (_, t) =>
      t.toSeq.map(src => src -> t.size)
    }.groupBy(_._1).map { case (src, ts) =>
      src -> ((ts.size.toLong,
        ts.count(_._2 == 1).toLong,
        ts.map(t => L / t._2).sum))
    }
    assert(rows.keySet === want.keySet)
    want.foreach { case (src, (cov, excl, credit)) =>
      val (gCov, gExcl, gCredit, gMilli) = rows(src)
      assert((gCov, gExcl, gCredit) === ((cov, excl, credit)), src)
      assert(gMilli === credit * 1000L / L)
      // a source's value is at least its exclusive shingles and at
      // most everything it touches
      assert(gCredit >= gExcl * L && gCredit <= gCov * L)
    }
    // efficiency axiom of the Shapley value, exact at the wire:
    // credits over all sources sum to lcm * |distinct shingles|
    assert(rows.values.map(_._3).sum === L * owners.size)
  }

  test("winnowing fingerprints match a per-document brute replay") {
    val got = SparkEntry.queries("q_winnow_fingerprints")(spark, sf)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_windows"),
          r.getAs[Long]("n_fp"), r.getAs[Long]("density_e6"))))
      .toMap
    def ph(s0: String): Long = {
      var acc = 0L; var i = 0
      while (i < s0.length) {
        val cp = s0.codePointAt(i)
        acc = (acc * 31L + cp) % 2147483647L
        i += Character.charCount(cp)
      }
      acc
    }
    var checked = 0
    graft.Tables.documents(spark, sf)
      .select($"doc_id", $"text").collect().foreach { r =>
        val toks = r.getAs[String]("text").toLowerCase.split("\\s+")
        if (toks.length >= TextOps.WinnowK) {
          val hs = toks.sliding(TextOps.WinnowK)
            .map(g => ph(g.mkString(" "))).toArray
          val nW = math.max(hs.length - (TextOps.WinnowW - 1), 0)
          val fp = if (hs.length >= TextOps.WinnowW)
            hs.sliding(TextOps.WinnowW).map(_.min).toSet.size
          else 0
          val dens = if (nW > 0) fp.toLong * 1000000L / nW else 0L
          assert(got(r.getAs[Long]("doc_id")) ===
            ((hs.length.toLong, nW.toLong, fp.toLong, dens)))
          checked += 1
        }
      }
    assert(checked > 0 && checked === got.size)
  }

  test("stratified sample hits every quota exactly with the m smallest " +
      "hashes per stratum") {
    val rows = SparkEntry.queries("q_stratified_sample")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val m = rows.map(_.getAs[Long]("n_total")).min
    rows.foreach { r =>
      assert(r.getAs[Long]("n_sampled") === m, s"quota missed: $r")
    }
    // brute membership replay for the smallest and largest stratum
    val docs = graft.Tables.documents(spark, sf)
      .select($"lang", $"doc_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).groupBy(_._1)
    rows.foreach { r =>
      val lang = r.getAs[String]("lang")
      val expect = docs(lang).map(_._2)
        .sortBy(id => ((id * 2654435761L) % 4294967296L, id))
        .take(m.toInt)
      assert(r.getAs[Long]("id_checksum") === expect.sum)
    }
  }

  test("ANN IVF probes a subset yet recovers useful recall, deterministically") {
    val brute = SparkEntry.queries("q_ann_bruteforce")(spark, sf)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf1 = SparkEntry.queries("q_ann_ivf")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ivf2 = SparkEntry.queries("q_ann_ivf")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ivf1 === ivf2, "IVF must be deterministic")
    val pairs = ivf1.map(t => (t._1, t._3))
    val recall = (brute intersect pairs).size.toDouble / brute.size
    assert(recall >= 0.2, s"IVF recall $recall too low")
  }

  test("ANN PQ: 4 B/vector codes still recover useful recall, deterministically") {
    val brute = SparkEntry.queries("q_ann_bruteforce")(spark, sf)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq1 = SparkEntry.queries("q_ann_pq")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val pq2 = SparkEntry.queries("q_ann_pq")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pq1 === pq2, "PQ must be deterministic")
    val pairs = pq1.map(t => (t._1, t._3))
    val recall = (brute intersect pairs).size.toDouble / brute.size
    // 8×4-bit sampled codebook + 40-candidate exact re-rank
    assert(recall >= 0.2, s"PQ recall $recall too low")
    // every query returns exactly TopK ranked rows
    val perQuery = pq1.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perQuery.values.forall(_ == Similarity.TopK))
  }

  test("LSH near-dup pairs: perfect precision, useful recall vs all-pairs truth") {
    val exact = SparkEntry.queries("q_dedup_embed_cosine")(spark, sf)
      .select($"v1", $"v2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("q_embed_neardup_lsh")(spark, sf)
      .select($"v1", $"v2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact),
      "exact-cosine verify must make every LSH pair a true pair")
    assert(lsh.size.toDouble / exact.size >= 0.3,
      s"LSH pair recall ${lsh.size.toDouble / exact.size} too low")
  }

  test("hot-shingle corpus: df cap bounds the candidate explosion") {
    // 300 docs sharing ONE boilerplate trigram, otherwise disjoint —
    // the uncapped posting self-join would emit C(300,2) = 44 850
    // candidate pairs from that single shingle.
    val docs = (0 until 300).map(i =>
      (i.toLong, s"common alpha beta u$i v$i w$i x$i y$i z$i"))
      .toDF("doc_id", "text")
    val sh = docs.select($"doc_id",
      Dedup.shingleHashes($"text").as("sh"))
    val uncapped = Dedup.ngramCandidates(sh, maxDf = Int.MaxValue).count()
    val capped = Dedup.ngramCandidates(sh).count()
    assert(uncapped === 300L * 299 / 2)
    assert(capped === 0, "df cap must drop the boilerplate shingle")
  }

  test("count-filtered overlap keeps exactly the pairs verify-every-" +
      "candidate keeps, on a hot-shingle corpus and at verify SF") {
    // maxDf = 2 makes the 38 shingles of the shared 40-token run hot
    // (df 6): pairs (1,2) and (5,6) share ONE capped shingle and reach
    // Jaccard ≥ 0.8 / containment ≥ 0.6 only through the hot run, so
    // only the bound's least(h1, h2) term keeps them; pairs sharing
    // only hot shingles (3,4 …) are no candidates; (7,8) is a
    // candidate the bound prunes; (9,10) is a plain capped near-dup.
    val hotRun = (1 to 40).map(i => s"h$i").mkString(" ")
    def run(p: String, a: Int, b: Int) = (a to b).map(i => s"$p$i").mkString(" ")
    val docs = Seq(
      (1L, s"k1 k2 k3 a1 $hotRun"),
      (2L, s"k1 k2 k3 b1 $hotRun"),
      (3L, s"c1 c2 c3 $hotRun"),
      (4L, s"d1 d2 d3 $hotRun"),
      (5L, s"e1 e2 e3 $hotRun"),
      (6L, s"e1 e2 e3 f0 $hotRun ${run("f", 1, 30)}"),
      (7L, run("g", 1, 10)),
      (8L, s"g1 g2 g3 ${run("k", 4, 10)}"),
      (9L, run("l", 1, 20)),
      (10L, s"${run("l", 1, 19)} m20")
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def check(sh: org.apache.spark.sql.DataFrame, maxDf: Int) = {
      val cand = Dedup.ngramCandidates(sh, maxDf)
      val ov = Dedup.ngramOverlap(sh, maxDf)
      assert(rows(Dedup.jaccardPairs(ov)) === rows(Dedup.verifyPairs(cand, sh)))
      assert(rows(Dedup.containmentOf(ov)) ===
        rows(Dedup.containmentOf(Dedup.overlapOf(cand, sh))))
      (cand, ov)
    }
    val sh = docs.select($"doc_id", Dedup.shingleHashes($"text").as("sh"))
    val (cand, ov) = check(sh, maxDf = 2)
    assert(pairs(cand) === Set((1L, 2L), (5L, 6L), (7L, 8L), (9L, 10L)))
    assert(pairs(ov) === Set((1L, 2L), (5L, 6L), (9L, 10L)))
    assert(pairs(Dedup.jaccardPairs(ov)) === Set((1L, 2L), (9L, 10L)))
    assert(pairs(Dedup.containmentOf(ov)) === Set((1L, 2L), (5L, 6L), (9L, 10L)))
    check(Tables.documents(spark, sf)
      .select($"doc_id", Dedup.shingleHashes($"text").as("sh"))
      .filter(size($"sh") > 0), Dedup.MaxShingleDf)
  }

  test("df cap does not change the catalog output at verify SF") {
    val sh = Tables.documents(spark, sf)
      .select($"doc_id", Dedup.shingleHashes($"text").as("sh"))
      .filter(size($"sh") > 0)
    val capped = Dedup.ngramCandidates(sh).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = Dedup.ngramCandidates(sh, maxDf = Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === uncapped)
  }

  test("over-wide LSH buckets are dropped by the width cap") {
    // synthetic bucket table: one (band,bucket) holding 40 docs, one
    // holding 2 — with the cap forced to 20 only the small bucket's
    // pair survives.
    val rows = (0 until 40).map(i => (i.toLong, 0, 7L)) ++
      Seq((100L, 1, 9L), (101L, 1, 9L))
    val buckets = rows.toDF("doc_id", "band", "bucket")
    val capped = Dedup.lshCandidates(buckets, maxWidth = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((100L, 101L)))
    val uncapped = Dedup.lshCandidates(buckets, maxWidth = Int.MaxValue)
      .count()
    assert(uncapped === 40L * 39 / 2 + 1)
  }

  test("LSH bucket-width cap has large headroom at gate SF") {
    // q_dedup_minhash_lsh is oracled against UNCAPPED exact Jaccard,
    // so the width cap must provably not bite at the SF the gate runs:
    // assert the widest real (band,bucket) is far below MaxBucketWidth.
    val sh = Tables.documents(spark, sf)
      .select($"doc_id", Dedup.shingleHashes($"text").as("sh"))
      .filter(size($"sh") > 0)
    val widest = Dedup.bandBuckets(sh)
      .groupBy($"band", $"bucket").count()
      .agg(max($"count")).head().getLong(0)
    assert(widest * 4 <= Dedup.MaxBucketWidth,
      s"widest bucket $widest too close to cap ${Dedup.MaxBucketWidth}")
  }

  test("brute-force embedding dedup refuses above its row ceiling") {
    // guard contract (the actual count at verify SF is far below it)
    assert(graft.Tables.embeddings(spark, sf).count()
      <= Dedup.MaxBruteForceRows)
    assert(Dedup.MaxBruteForceRows <= 200000L)
    // the bounded probe must trip on an over-limit table …
    val over = spark.range(Dedup.MaxBruteForceRows + 1).toDF("id")
    val e = intercept[IllegalArgumentException] {
      Dedup.requireBruteForceable(over, "test")
    }
    assert(e.getMessage.contains("ground-truth oracle"))
    // … and pass a table exactly at the cap
    Dedup.requireBruteForceable(
      spark.range(Dedup.MaxBruteForceRows).toDF("id"), "test")
  }

  test("stratified sampleBy: class-balanced training sample with seeded determinism") {
    import graft.Tables
    val docs = Tables.documents(spark, sf).select($"doc_id", $"lang")
    // downsample the dominant class, keep the rest — the class-balance
    // pass before fine-tuning-data export
    val fractions = Map("en" -> 0.3, "de" -> 1.0, "es" -> 1.0,
      "fr" -> 1.0, "zh" -> 1.0)
    val s1 = docs.stat.sampleBy("lang", fractions, seed = 42L)
    val s2 = docs.stat.sampleBy("lang", fractions, seed = 42L)
    assert(s1.collect().map(_.getLong(0)).toSet ===
      s2.collect().map(_.getLong(0)).toSet, "same seed must reproduce")
    val byLang = s1.groupBy($"lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = docs.groupBy($"lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // non-en classes fully kept; en downsampled around 30% (Bernoulli)
    Seq("de", "es", "fr", "zh").foreach { l =>
      assert(byLang(l) === full(l), s"$l must be fully retained")
    }
    val enFrac = byLang("en").toDouble / full("en")
    assert(enFrac > 0.1 && enFrac < 0.5, s"en fraction $enFrac off target")
  }

  test("sketch-union: within-band flags hold and the string-shingle " +
      "exact Jaccard tracks the hash-set Jaccard (collision-free)") {
    import graft.Tables
    val got = SparkEntry.queries("q_sketch_union")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("exact_jaccard_ppm"),
          r.getAs[Boolean]("est_within_band"))).toMap
    assert(got.nonEmpty)
    // every pair's sketch estimate sits inside the published band —
    // the same contract the driver's oracle now pins as TRUE
    got.foreach { case (k, (_, ok)) => assert(ok, s"band broken at $k") }
    // exact per-language HASH shingle sets: the string-shingle ppm in
    // the query must agree up to xxhash64 collisions (i.e. exactly,
    // at this corpus size) modulo the trim-vs-raw token edge
    val sets = Tables.documents(spark, sf)
      .select($"lang", explode(Dedup.shingleHashes($"text")).as("h"))
      .distinct().collect()
      .groupBy(_.getString(0)).map { case (l, rs) =>
        l -> rs.map(_.getLong(1)).toSet }
    got.foreach { case ((l1, l2), (ppm, _)) =>
      val exact = sets(l1).intersect(sets(l2)).size.toDouble /
        sets(l1).union(sets(l2)).size
      assert(math.abs(ppm / 1e6 - exact) <= 0.01,
        s"$l1/$l2 ppm=$ppm hash-exact=$exact")
    }
  }

  test("sketch union is merge-order independent (distributive)") {
    val a = Seq(1L, 2L, 3L)
    val b = Seq(4L, 5L)
    val c = Seq(6L)
    def sig(chunks: Seq[Seq[Long]]): Seq[Long] =
      MinHashSigAgg.finish(chunks.foldLeft(MinHashSigAgg.zero) {
        (buf, ch) => MinHashSigAgg.reduce(buf, ch) })
    val s1 = sig(Seq(a, b, c))
    val s2 = MinHashSigAgg.finish(MinHashSigAgg.merge(
      Seq(a).foldLeft(MinHashSigAgg.zero)(MinHashSigAgg.reduce),
      Seq(b, c).foldLeft(MinHashSigAgg.zero)(MinHashSigAgg.reduce)))
    assert(s1 === s2)
  }

  test("langId is total, deterministic, and 'und' only for no-hit docs") {
    val out = SparkEntry.queries("q_text_langid")(spark, sf)
    assert(out.filter($"lang_pred".isNull).count() === 0)
    val langs = Set("en", "de", "es", "fr", "zh", "und")
    assert(out.select($"lang_pred").distinct().collect()
      .map(_.getString(0)).forall(langs.contains))
  }

  test("native LangIdExpr == interpreted langId on the whole corpus " +
      "and on adversarial edge rows") {
    val corpus = Tables.documents(spark, sf)
      .select(TextOps.langId($"text").as("native"),
        TextOps.langIdInterpreted($"text").as("interp"))
    assert(corpus.filter($"native" =!= $"interp").count() === 0)
    // edge rows: empty, whitespace-only, ties (shared es/fr words),
    // mixed case, every ASCII whitespace separator, zh hits, no hits
    val edges = Seq(
      "", "   ", "\t\n\f\r", "de la un que", "DE LA UN QUE",
      "the\tund\nelle\fde\r的", "xyzzy plugh", "und und und",
      "the der el le 的", "  leading and trailing  ",
      "the the the der der die das und ist nicht ein")
      .toDF("text")
      .select($"text", TextOps.langId($"text").as("native"),
        TextOps.langIdInterpreted($"text").as("interp"))
      .collect()
    edges.foreach(r => assert(r.getString(1) === r.getString(2),
      s"mismatch on ${r.getString(0).replace("\n", "\\n")}: " +
        s"${r.getString(1)} vs ${r.getString(2)}"))
    // shared-word credit: "de la un que" hits es AND fr 4× each —
    // first-declared (es) wins
    assert(edges.find(_.getString(0) == "de la un que")
      .get.getString(1) === "es")
  }

  test("native TextStatsExpr == interpreted six-cell recompute on the " +
      "whole corpus and on split-quirk edge rows") {
    val en = TextOps.langStopwords.head._2
    def both(df: org.apache.spark.sql.DataFrame) = df
      .select(graft.ext.TextStatsExpr.textStats($"text", en).as("native"),
        TextOps.textStatsInterpreted($"text").as("interp"))
    assert(both(Tables.documents(spark, sf))
      .filter($"native" =!= $"interp").count() === 0)
    // split quirks: leading/trailing empties kept (limit −1), empty
    // and whitespace-only docs, repeated bigrams, stopword case,
    // multi-codepoint chars (length counts code points)
    val edges = both(Seq(
      "", " ", "   ", "  a b  ", "a", "a a a a", "the the of of",
      "The THE tHe", "x\ty\nzw\fq\rr", "的 是 的 是 的",
      "one two one two one two").toDF("text")).collect()
    edges.foreach(r => assert(r.getStruct(0) === r.getStruct(1),
      s"native ${r.getStruct(0)} vs interp ${r.getStruct(1)}"))
    // spot-check absolute cells on the canonical quirk row:
    // "  a b  " -> ["", "a", "b", ""]: 4 tokens, 3 distinct, len 2,
    // 3 bigrams (" a", "a b", "b "), all distinct
    val q = both(Seq("  a b  ").toDF("text")).head().getStruct(0)
    assert(q.getLong(0) === 4L && q.getLong(1) === 3L &&
      q.getLong(2) === 2L && q.getLong(4) === 3L && q.getLong(5) === 3L)
  }

  test("native ShingleHashExpr == interpreted xxhash64 shingle " +
      "recompute on the whole corpus and edge rows") {
    def both(df: org.apache.spark.sql.DataFrame) = df
      .select(Dedup.shingleHashes($"text").as("native"),
        Dedup.shingleHashesInterpreted($"text").as("interp"))
    assert(both(Tables.documents(spark, sf))
      .filter($"native" =!= $"interp").count() === 0)
    val edges = both(Seq(
      "", " ", "a", "a b", "a b c", "a b c d",
      "x x x x x", "  a b c  ", "the the the the")
      .toDF("text")).collect()
    edges.foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1),
      s"native ${r.getSeq[Long](0)} vs interp ${r.getSeq[Long](1)}"))
    // dedup keeps FIRST occurrence and short docs yield empty sets
    val q = both(Seq("x x x x x").toDF("text")).head()
    assert(q.getSeq[Long](0).length === 1)
    assert(both(Seq("a b").toDF("text")).head().getSeq[Long](0).isEmpty)
  }

  test("shingleHashes output is duplicate-free on the whole corpus " +
      "(the |x ∪ y| = |x|+|y|−|x∩y| size-union in verifyPairs/lshScurve " +
      "is exact ONLY on distinct arrays — ADVICE r17)") {
    // A future kernel change that drops ShingleHashExpr's first-
    // occurrence dedup must fail HERE, loudly, instead of silently
    // inflating every Jaccard computed from set sizes.
    val dupRows = Tables.documents(spark, sf)
      .select(Dedup.shingleHashes($"text").as("sh"))
      .filter(size(array_distinct($"sh")) =!= size($"sh"))
      .count()
    assert(dupRows === 0L)
    // and on the adversarial repeat-heavy edge rows
    val edge = Seq("x y x y x y x y", "a a a b b b a a a")
      .toDF("text").select(Dedup.shingleHashes($"text").as("sh"))
      .filter(size(array_distinct($"sh")) =!= size($"sh")).count()
    assert(edge === 0L)
  }

  test("native BigramPairsExpr == interpreted pair recompute on the " +
      "whole corpus and edge rows") {
    def both(df: org.apache.spark.sql.DataFrame) = df
      .select(graft.ext.BigramPairsExpr.bigramPairs($"text").as("native"),
        TextOps.bigramPairsInterpreted($"text").as("interp"))
    assert(both(Tables.documents(spark, sf))
      .filter($"native" =!= $"interp").count() === 0)
    val edges = both(Seq(
      "", " ", "a", "a b", "a b c", "  a b  ", "x x x")
      .toDF("text")).collect()
    edges.foreach { r =>
      assert(r.getSeq[org.apache.spark.sql.Row](0) ===
        r.getSeq[org.apache.spark.sql.Row](1))
    }
    // duplicates preserved in order: "x x x" -> [(x,x), (x,x)]
    val q = both(Seq("x x x").toDF("text")).head()
    assert(q.getSeq[org.apache.spark.sql.Row](0).length === 2)
  }

  test("native RepetitionStatsExpr == interpreted mode-count recompute " +
      "on the whole corpus and on split-quirk edge rows") {
    def both(df: org.apache.spark.sql.DataFrame) = df
      .select(graft.ext.RepetitionStatsExpr.repetitionStats($"text")
        .as("native"),
        TextOps.repetitionStatsInterpreted($"text").as("interp"))
    assert(both(Tables.documents(spark, sf))
      .filter($"native" =!= $"interp").count() === 0)
    val edges = both(Seq(
      "", " ", "   ", "  a b  ", "a", "a a a a", "the the of of",
      "x y x y x y", "的 是 的 是 的", "one one one two")
      .toDF("text")).collect()
    edges.foreach(r => assert(r.getStruct(0) === r.getStruct(1),
      s"native ${r.getStruct(0)} vs interp ${r.getStruct(1)}"))
    // canonical: "a a a a" -> 4 tokens, 1 distinct, mode 4;
    // 3 bigrams all "a a", mode 3
    val q = both(Seq("a a a a").toDF("text")).head().getStruct(0)
    assert(q.getLong(0) === 4L && q.getLong(1) === 1L &&
      q.getLong(2) === 4L && q.getLong(3) === 3L &&
      q.getLong(4) === 1L && q.getLong(5) === 3L)
    // and the catalog query's flag fires on the degenerate row
    val flag = SparkEntry.queries("q_repetition_stats")(spark, sf)
      .collect()
    flag.foreach { r =>
      Seq("dup_tok_e6", "top_tok_e6", "dup_bi_e6", "top_bi_e6")
        .foreach { c =>
          val v = r.getAs[Long](c)
          assert(v >= 0L && v <= 1000000L, s"$c out of range: $v")
        }
    }
  }

  test("q_preference_pairs: chosen/rejected scores agree with the " +
      "quality classifier, tie-breaks deterministic, gap exact") {
    val pairs = SparkEntry.queries("q_preference_pairs")(spark, sf)
      .collect()
    assert(pairs.nonEmpty)
    val scores = SparkEntry.queries("q_quality_classifier")(spark, sf)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("score_e6"))
      .toMap
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"source", $"lang").collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getString(2))))
    val byGroup = docs.groupBy(_._2)
    pairs.foreach { r =>
      val g = (r.getAs[String]("source"), r.getAs[String]("lang"))
      val members = byGroup(g).map(_._1)
      assert(members.length === r.getAs[Long]("n_docs"))
      val chosen = r.getAs[Long]("chosen_doc")
      val rejected = r.getAs[Long]("rejected_doc")
      assert(members.contains(chosen) && members.contains(rejected))
      assert(r.getAs[Long]("chosen_e6") === scores(chosen))
      assert(r.getAs[Long]("rejected_e6") === scores(rejected))
      assert(r.getAs[Long]("gap_e6") ===
        scores(chosen) - scores(rejected))
      // argmax/argmin with doc-id tie-breaks over the group
      val best = members.map(m => (scores(m), m))
        .sortBy(t => (-t._1, t._2)).head._2
      val worst = members.map(m => (scores(m), m))
        .sortBy(t => (t._1, t._2)).head._2
      assert(chosen === best && rejected === worst)
    }
    // every group of ≥2 docs produced exactly one pair
    assert(pairs.length === byGroup.count(_._2.length >= 2))
  }

  test("q_vocab_coverage: curve monotone, exact cumulative counts, " +
      "head ranks agree with q_top_tokens") {
    val curve = SparkEntry.queries("q_vocab_coverage")(spark, sf)
      .collect().sortBy(_.getAs[Long]("k"))
    assert(curve.nonEmpty && curve.length <= TextOps.VocabCoverageK)
    var cum = 0L
    curve.foreach { r =>
      cum += r.getAs[Long]("cnt")
      assert(r.getAs[Long]("cum_tokens") === cum)
      val cov = r.getAs[Long]("coverage_e6")
      assert(cov >= 0L && cov <= 1000000L)
    }
    // coverage is non-decreasing in k
    val covs = curve.map(_.getAs[Long]("coverage_e6")).toSeq
    assert(covs === covs.sorted)
    // head of the curve == the independently spec'd corpus top-k
    val top = SparkEntry.queries("q_top_tokens")(spark, sf).collect()
      .map(r => (r.getAs[String]("token"), r.getAs[Long]("cnt")))
    curve.take(top.length).zip(top).foreach { case (c, (tok, cnt)) =>
      assert(c.getAs[String]("tok") === tok)
      assert(c.getAs[Long]("cnt") === cnt)
    }
  }

  test("fingerprint is order-sensitive and deterministic") {
    val df = Seq(
      ("a b c", "a b c"), ("a b c", "c b a"))
      .toDF("t1", "t2")
      .select(TextOps.fingerprint($"t1").as("f1"),
        TextOps.fingerprint($"t2").as("f2"))
      .collect()
    assert(df(0).getLong(0) === df(0).getLong(1)) // same text, same fp
    assert(df(1).getLong(0) !== df(1).getLong(1)) // permuted ≠
  }

  test("shingles handle short documents without error") {
    val out = Seq("one two", "a", "").toDF("text")
      .select(TextOps.shingles($"text").as("sh"))
      .collect().map(_.getSeq[String](0))
    assert(out.forall(_.isEmpty))
  }

  test("embedding near-dup pairs are symmetric-free and above threshold") {
    val rows = SparkEntry.queries("q_dedup_embed_cosine")(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.45)
    }
  }

  test("negative sampling: k per anchor, label-disjoint, rerun-stable") {
    import spark.implicits._
    val out = SparkEntry.queries("q_negative_sample")(spark, sf).collect()
    val labels = graft.Tables.embeddings(spark, sf)
      .select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val byAnchor = out.groupBy(_.getAs[Long]("anchor_id"))
    byAnchor.foreach { case (a, g) =>
      assert(g.length === Similarity.TopK, s"anchor $a")
      g.foreach { r =>
        assert(r.getAs[Long]("neg_label") !== labels(a).toLong,
          s"anchor $a sampled its own label")
      }
    }
    val again = SparkEntry.queries("q_negative_sample")(spark, sf).collect()
    assert(out.map(_.toString).sorted.sameElements(
      again.map(_.toString).sorted))
  }

  test("kmeans refinement partitions the corpus over the seed cells, deterministically") {
    val out = SparkEntry.queries("q_kmeans_refine")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val nVecs = graft.Tables.embeddings(spark, sf).count()
    // a partition: every vector exactly once
    assert(out.length.toLong === nVecs)
    assert(out.map(_._1).distinct.length === out.length)
    // cells carry the original seed labels; refinement may empty some
    // cells but must keep a real clustering (>1 cell)
    val seeds = (0 until Similarity.IvfCentroids)
      .map(i => Similarity.NumQueries + 7L * i + 3L).toSet
    assert(out.map(_._2).forall(seeds.contains))
    assert(out.map(_._2).distinct.length > 1)
    // fixed-point DAG: a second run reproduces the assignment exactly
    val again = SparkEntry.queries("q_kmeans_refine")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(out.sortBy(_._1).sameElements(again.sortBy(_._1)))
  }

  test("semdedup drops only true near-duplicates (subset of the exact " +
      "cosine tier) and keeps one member of every pair") {
    val survivors = SparkEntry.queries("q_semdedup")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val all = Tables.embeddings(spark, sf)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val dropped = all diff survivors
    // exact corpus-wide near-dup pairs at the same τ (v1 < v2)
    val exactHi = SparkEntry.queries("q_dedup_embed_cosine")(spark, sf)
      .select($"v2").collect().map(_.getLong(0)).toSet
    assert(dropped.nonEmpty, "fixture should contain semantic dups")
    assert(dropped.subsetOf(exactHi),
      "semdedup dropped a vector with no exact near-dup — precision broken")
    // the min-id survivor rule never empties a duplicate group
    assert(survivors.nonEmpty && (all diff dropped) === survivors)
  }

  test("quality classifier: fixed-point score consistent with the flag, " +
      "bounded margin, deterministic") {
    val rows = SparkEntry.queries("q_quality_classifier")(spark, sf)
      .collect()
    assert(rows.length === Tables.documents(spark, sf).count())
    rows.foreach { r =>
      val e6 = r.getAs[Long]("score_e6")
      val score = r.getAs[Double]("score")
      assert(score === e6 / 1000000.0)
      // weights bound the margin: -1.5 - 4.0 ≤ m ≤ -1.5 + 1 + 1.5 + 8
      assert(e6 >= -5500000L && e6 <= 9000000L, s"margin out of range: $e6")
      if (math.abs(score) > 1e-3)
        assert(r.getAs[Boolean]("keep") === (score > 0))
    }
    // both classes occur on the fixture — the gate actually separates
    val kept = rows.count(_.getAs[Boolean]("keep"))
    assert(kept > 0 && kept < rows.length,
      s"degenerate classifier: $kept/${rows.length} kept")
  }

  test("perplexity shuffle fallback (unigram cap exceeded) matches the " +
      "broadcast path exactly and broadcasts nothing") {
    val viaBroadcast = SparkEntry.queries("q_perplexity")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("xent_nats"))).toMap
    // with size-based auto-broadcast off, the only broadcast left in
    // an equi-join would be an explicit hint — the cap=0 path must
    // have none (the scalar vocab cross-join is a BNLJ, not a BHJ)
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(thresholdKey)
    spark.conf.set(thresholdKey, "-1")
    try {
      val viaShuffle = TextOps.perplexityOn(spark, sf, uniBroadcastCap = 0L)
      val bhj = viaShuffle.queryExecution.sparkPlan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      }
      assert(bhj.isEmpty, "cap=0 path still broadcasts the unigram LM")
      val s = viaShuffle.collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("xent_nats"))).toMap
      assert(s === viaBroadcast)
    } finally spark.conf.set(thresholdKey, prev)
  }

  test("q_ann_recall reconstructs from the catalog's own ANN outputs") {
    val recall = SparkEntry.queries("q_ann_recall")(spark, sf).collect()
      .map(r => r.getAs[Long]("query_id") -> r).toMap
    val truth = SparkEntry.queries("q_ann_bruteforce")(spark, sf)
      .collect().groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val lsh = SparkEntry.queries("q_ann_lsh")(spark, sf)
      .collect().groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    assert(recall.keySet === truth.keySet)
    recall.foreach { case (q, r) =>
      val hits = truth(q).intersect(lsh.getOrElse(q, Set.empty)).size.toLong
      assert(r.getAs[Long]("n_hit") === hits)
      assert(r.getAs[Long]("n_true") === truth(q).size.toLong)
      val rc = r.getAs[Double]("recall")
      assert(rc >= 0.0 && rc <= 1.0)
      assert(rc === hits.toDouble / truth(q).size)
    }
  }

  test("q_dedup_funnel counts agree with the ngram-jaccard catalog query") {
    val r = SparkEntry.queries("q_dedup_funnel")(spark, sf).head()
    val (cand, ver, naive) = (r.getAs[Long]("n_candidates"),
      r.getAs[Long]("n_verified"), r.getAs[Long]("naive_pairs"))
    assert(ver <= cand && cand <= naive)
    assert(ver ===
      SparkEntry.queries("q_dedup_ngram_jaccard")(spark, sf).count())
    assert(r.getAs[Double]("precision") === ver.toDouble / cand)
    assert(r.getAs[Double]("candidate_frac") === cand.toDouble / naive)
  }

  test("tokenizer fertility: totals reconcile with the per-doc token counts") {
    val fert = SparkEntry.queries("q_tokenizer_fertility")(spark, sf)
    val rows = fert.collect()
    assert(rows.nonEmpty)
    // fertility ≥ 1e4: the BPE-ish pre-tokenizer never merges across
    // whitespace, so it can only split words further
    rows.foreach { r =>
      assert(r.getAs[Long]("fertility_e4") >= 10000L,
        s"lang ${r.getAs[String]("lang")}: more words than BPE tokens")
      assert(r.getAs[Long]("chars_per_bpe_e4") > 0L)
    }
    // cross-check one total against the independent per-doc query
    val perDoc = SparkEntry.queries("q_text_token_count")(spark, sf)
      .agg(sum($"n_bpe")).head().getLong(0)
    assert(rows.map(_.getAs[Long]("n_bpe")).sum === perDoc)
  }

  test("ngram novelty: bounded by [0,1e4] and consistent with shingle dfs") {
    val nov = SparkEntry.queries("q_ngram_novelty")(spark, sf).cache()
    val bad = nov.filter($"novelty_e4" < 0 || $"novelty_e4" > 10000 ||
      $"n_novel" > $"n_shingles").count()
    assert(bad === 0)
    // corpus invariant: Σ n_novel = number of df=1 shingles
    val shingleDf1 = Tables.documents(spark, sf)
      .select(explode(TextOps.shingles($"text")).as("s"))
      .groupBy($"s").agg(count(lit(1)).as("df"))
      .filter($"df" === 1).count()
    val sumNovel = nov.agg(sum($"n_novel")).head().getLong(0)
    assert(sumNovel === shingleDf1)
    nov.unpersist()
  }

  test("epoch expand: every epoch of a source carries the full source") {
    val out = SparkEntry.queries("q_epoch_expand")(spark, sf).cache()
    // within a source all epochs are identical copies
    val uneven = out.groupBy($"source")
      .agg(countDistinct($"n_docs").as("d1"),
        countDistinct($"n_tokens").as("d2"))
      .filter($"d1" =!= 1 || $"d2" =!= 1).count()
    assert(uneven === 0)
    // epoch count per source == its repeat factor (src_num % 4 + 1)
    val eps = out.groupBy($"source").agg(max($"epoch").as("max_ep"),
      count(lit(1)).as("n_ep")).collect()
    eps.foreach { r =>
      val srcNum = r.getAs[String]("source").replaceAll("\\D", "").toLong
      assert(r.getAs[Long]("max_ep") === srcNum % 4 + 1)
      assert(r.getAs[Long]("n_ep") === srcNum % 4 + 1)
    }
    // grand total = Σ repeats(source) · docs(source)
    val total = out.agg(sum($"n_docs")).head().getLong(0)
    val want = Tables.documents(spark, sf)
      .groupBy($"source").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getAs[String]("source").replaceAll("\\D", "").toLong % 4
        + 1) * r.getAs[Long]("n")).sum
    assert(total === want)
    out.unpersist()
  }

  test("span corrupt: sentinels pair up and the spans splice back to " +
      "the original") {
    val out = SparkEntry.queries("q_span_corrupt")(spark, sf).cache()
    // token accounting: a span nets −1 input token (2 removed, 1
    // sentinel added), so original n = n_input_tokens + n_spans
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", size(TextOps.tokens($"text")).cast("long").as("n"))
    val bad = out.join(docs, "doc_id")
      .filter($"n_input_tokens" + $"n_spans" =!= $"n" ||
        $"n_target_tokens" =!= $"n_spans" * 3).count()
    assert(bad === 0)
    // splice check on every doc: substituting each sentinel in the
    // corrupted text with its target span restores the original tokens
    val restored = out
      .select($"doc_id", $"corrupted", $"target").collect().map { r =>
        val tgt = r.getAs[String]("target")
        val spans = "<extra_id_(\\d+)> (\\S+ \\S+)".r
          .findAllMatchIn(tgt).map(m => m.group(1) -> m.group(2)).toMap
        val rebuilt = r.getAs[String]("corrupted").split(" ").flatMap {
          case s if s.startsWith("<extra_id_") =>
            spans(s.stripPrefix("<extra_id_").stripSuffix(">")).split(" ")
          case t => Array(t)
        }.mkString(" ")
        r.getAs[Long]("doc_id") -> rebuilt
      }.toMap
    val originals = Tables.documents(spark, sf)
      .select($"doc_id", array_join(TextOps.tokens($"text"), " ").as("o"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("o"))
      .toMap
    assert(restored === originals)
    out.unpersist()
  }

  test("native SpanCorruptExpr == interpreted two-transform recompute " +
      "on the whole corpus and on quirk edge rows") {
    def both(df: org.apache.spark.sql.DataFrame) = df
      .select(graft.ext.SpanCorruptExpr.spanCorrupt($"text").as("native"),
        TextOps.spanCorruptInterpreted($"text").as("interp"))
    assert(both(Tables.documents(spark, sf))
      .filter($"native" =!= $"interp").count() === 0)
    // edges: span at end of doc (no following token -> no span), doc
    // shorter than first span position, empty tokens inside spans,
    // exactly-at-boundary lengths (n = 4, 5, 11, 12)
    val edges = both(Seq(
      "", " ", "a b c", "a b c d", "a b c d e", "a b c d e f",
      "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11",
      "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11 t12",
      "  a b c d e  ", "w x  y z q").toDF("text")).collect()
    edges.foreach(r => assert(r.getStruct(0) === r.getStruct(1),
      s"native ${r.getStruct(0)} vs interp ${r.getStruct(1)}"))
  }

  test("vocab encode: id sequences align with tokens and OOV counts " +
      "match the top-k complement") {
    val out = SparkEntry.queries("q_vocab_encode")(spark, sf).cache()
    // ids is a space-joined string (harness-hashable); re-split to check
    // one id per token, each in [0, VocabEncodeSize]
    val idArr = split($"ids", " ").cast("array<long>")
    val bad = out.filter(size(idArr) =!= $"n_tokens" ||
      exists(idArr, i => i.isNull || i < 0 ||
        i > TextOps.VocabEncodeSize)).count()
    assert(bad === 0)
    // independent OOV recount: tokens outside the top-k set
    val topSet = Tables.documents(spark, sf)
      .select(explode(TextOps.tokens($"text")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"tok".asc).limit(TextOps.VocabEncodeSize)
      .select($"tok").as[String].collect().toSet
    val wantOov = Tables.documents(spark, sf)
      .select(explode(TextOps.tokens($"text")).as("tok"))
      .filter(!$"tok".isin(topSet.toSeq: _*)).count()
    val gotOov = out.agg(sum($"n_oov")).head().getLong(0)
    assert(gotOov === wantOov)
    out.unpersist()
  }

  test("fim transform: split counts account exactly and P+M+S restores " +
      "the original token stream") {
    val out = SparkEntry.queries("q_fim_transform")(spark, sf).cache()
    // the three segments partition the document; multi-token docs get
    // a non-empty prefix AND middle (the cut-point ranges guarantee it)
    val bad = out.filter(
      $"n_prefix" + $"n_middle" + $"n_suffix" =!= $"n_tokens" ||
        ($"n_tokens" >= 2 &&
          ($"n_prefix" < 1 || $"n_middle" < 1 ||
            $"n_prefix" > $"n_tokens" - 1))).count()
    assert(bad === 0)
    // PSM parse: prefix ++ middle ++ suffix rebuilds the original
    val restored = out.select($"doc_id", $"fim").collect().map { r =>
      val f = r.getAs[String]("fim")
      assert(f.startsWith("<fim_prefix>"))
      val ps = f.indexOf(" <fim_suffix>")
      val ms = f.indexOf(" <fim_middle>")
      assert(ps >= 0 && ms > ps)
      val prefix = f.substring("<fim_prefix>".length, ps).trim
      val suffix = f.substring(ps + " <fim_suffix>".length, ms).trim
      val middle = f.substring(ms + " <fim_middle>".length).trim
      r.getAs[Long]("doc_id") ->
        Seq(prefix, middle, suffix).filter(_.nonEmpty).mkString(" ")
    }.toMap
    val originals = Tables.documents(spark, sf)
      .select($"doc_id", array_join(TextOps.tokens($"text"), " ").as("o"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("o"))
      .toMap
    assert(restored === originals)
    out.unpersist()
  }

  test("lang confusion: cells partition the corpus and rebuild from " +
      "the per-doc langid query") {
    val got = SparkEntry.queries("q_lang_confusion")(spark, sf).cache()
    assert(got.agg(sum($"n")).head().getLong(0) ===
      Tables.documents(spark, sf).count())
    // cell counts are exactly the per-doc prediction rollup
    val want = SparkEntry.queries("q_text_langid")(spark, sf)
      .groupBy($"lang".as("label"), $"lang_pred".as("pred"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val cells = got.collect()
      .map(r => (r.getAs[String]("label"), r.getAs[String]("pred")) ->
        r.getAs[Long]("n")).toMap
    assert(cells === want)
    // per-label shares sum to ~1 (integer floor leaves < |cells| e4)
    got.collect().groupBy(_.getAs[String]("label")).foreach {
      case (label, rs) =>
        val tot = rs.map(_.getAs[Long]("share_e4")).sum
        assert(tot <= 10000L && tot > 10000L - rs.length,
          s"label $label shares sum to $tot")
        rs.foreach(r => assert(r.getAs[Long]("label_total") ===
          rs.map(_.getAs[Long]("n")).sum))
    }
    got.unpersist()
  }

  test("pad waste: every bucket covers all docs, padding is the exact " +
      "round-up, and waste grows with bucket size") {
    val out = SparkEntry.queries("q_pad_waste")(spark, sf).cache()
    val rows = out.collect()
      .map(r => r.getAs[Long]("bucket") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("n_padded"), r.getAs[Long]("waste_e4"))).toMap
    assert(rows.keySet === Set(64L, 128L, 256L, 512L))
    val nDocs = Tables.documents(spark, sf).count()
    val lens = Tables.documents(spark, sf)
      .select(size(TextOps.tokens($"text")).cast("long").as("n"))
      .as[Long].collect()
    rows.foreach { case (b, (nd, nt, np, we4)) =>
      assert(nd === nDocs)
      assert(nt === lens.sum)
      assert(np === lens.map(n => (n + b - 1) / b * b).sum,
        s"bucket $b round-up mismatch")
      assert(np % b === 0 && np >= nt)
      assert(we4 === (np - nt) * 10000 / np && we4 >= 0 && we4 < 10000)
    }
    // coarser buckets can only pad more
    val padded = Seq(64L, 128L, 256L, 512L).map(rows(_)._3)
    assert(padded === padded.sorted)
    out.unpersist()
  }

  test("embed drift: cells partition the corpus and identical snapshots " +
      "would have zero drift") {
    val drift = SparkEntry.queries("q_embed_drift")(spark, sf).cache()
    val total = drift.agg(sum($"n_a") + sum($"n_b")).head().getLong(0)
    assert(total === Tables.embeddings(spark, sf).count(),
      "every vector lands in exactly one cell and one snapshot")
    assert(drift.filter($"drift_den" =!= $"n_a" * $"n_b").count() === 0)
    // self-drift is exactly zero: feed the SAME corpus as both
    // snapshots (every vector once as A, once as B) through the
    // identical quantize/aggregate/cross-multiply pipeline
    val e = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val cells = Similarity.ivfAssign(e, Similarity.ivfCentroidsOf(e))
    val doubled = cells.join(e, "vec_id")
      .crossJoin(Seq(true, false).toDF("is_a"))
    val self = doubled
      .select($"cell", $"is_a", posexplode(transform($"v",
        x => floor(x * 1000 + lit(0.5)).cast("long"))).as(Seq("dim", "xq")))
      .groupBy($"cell", $"dim")
      .agg(
        sum(when($"is_a", $"xq").otherwise(0L)).as("sa"),
        sum(when(!$"is_a", $"xq").otherwise(0L)).as("sb"),
        sum(when($"is_a", 1L).otherwise(0L)).as("na"),
        sum(when(!$"is_a", 1L).otherwise(0L)).as("nb"))
      .groupBy($"cell")
      .agg(sum(abs($"sa" * $"nb" - $"sb" * $"na")).as("num"))
      .filter($"num" =!= 0L).count()
    assert(self === 0L)
    drift.unpersist()
  }

  test("q_dedup_containment: asymmetric cells reconcile with the " +
      "Jaccard pairs (containment dominates Jaccard; every " +
      "threshold-passing Jaccard pair reappears)") {
    val cont = SparkEntry.queries("q_dedup_containment")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2")) ->
        (r.getAs[Long]("i"), r.getAs[Long]("sz1"),
          r.getAs[Long]("sz2"), r.getAs[Long]("cont12_e6"),
          r.getAs[Long]("cont21_e6"),
          r.getAs[Boolean]("near_subset"))).toMap
    assert(cont.nonEmpty)
    cont.foreach { case (pair, (i, sz1, sz2, c12, c21, nearSub)) =>
      // fixed-point cells are the exact integer divisions
      assert(c12 === i * 1000000L / sz1, s"$pair c12")
      assert(c21 === i * 1000000L / sz2, s"$pair c21")
      assert(i <= math.min(sz1, sz2), s"$pair intersection bound")
      assert(math.max(c12, c21) >= 600000L, s"$pair threshold")
      assert(nearSub === (math.max(c12, c21) >= 900000L),
        s"$pair flag")
      // containment >= Jaccard always: i/sz1 >= i/(sz1+sz2-i)
      val jacE6 = i * 1000000L / (sz1 + sz2 - i)
      assert(math.max(c12, c21) >= jacE6, s"$pair dominance")
    }
    // every pair the Jaccard query keeps (tau=0.8) must reappear
    // here: containment >= Jaccard >= 0.8 >= the 0.6 gate
    val jac = SparkEntry.queries("q_dedup_ngram_jaccard")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    assert(jac.subsetOf(cont.keySet),
      "jaccard-near-dup pairs missing from the containment emit")
  }

  test("q_embed_covariance: cells replay from a brute e6-grid pass; " +
      "correlation bounds and diagonal identity hold") {
    val vecs = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect()
    val n = vecs.length.toLong
    val dims = vecs.head._2.length
    val xf = vecs.map(_._2.map(x =>
      math.floor(x.toDouble * 1e6).toLong))
    val got = SparkEntry.queries("q_embed_covariance")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j")) -> r).toMap
    assert(got.size === dims * (dims + 1) / 2)
    // spot-replay a diagonal and two off-diagonal cells exactly
    Seq((0, 0), (0, 1), (3, 17)).foreach { case (i, j) =>
      val sx = xf.map(_(i)).sum
      val sy = xf.map(_(j)).sum
      val sxy = xf.map(v => v(i) * v(j)).sum
      val sxx = xf.map(v => v(i) * v(i)).sum
      val syy = xf.map(v => v(j) * v(j)).sum
      val nd = n.toDouble
      val cov = sxy / nd - (sx / nd) * (sy / nd)
      val row = got((i.toLong, j.toLong))
      assert(row.getAs[Long]("n") === n)
      assert(row.getAs[Long]("cov_e9") ===
        math.floor(cov / 1.0e12 * 1.0e9).toLong, s"cell ($i,$j)")
      if (i == j) assert(row.getAs[Long]("corr_e6") === 1000000L)
      else {
        val vx = sxx / nd - (sx / nd) * (sx / nd)
        val vy = syy / nd - (sy / nd) * (sy / nd)
        assert(row.getAs[Long]("corr_e6") ===
          math.floor(cov / math.sqrt(vx * vy) * 1e6).toLong)
      }
    }
    got.foreach { case ((i, j), r) =>
      val c = r.getAs[Long]("corr_e6")
      assert(c >= -1000001L && c <= 1000000L, s"corr out of range $i,$j")
      if (i == j) assert(c === 1000000L)
    }
  }

  test("q_pca_power: the three fixed-point power iterations replay " +
      "brutally; the emitted vector is unit-norm") {
    val vecs = Tables.embeddings(spark, sf)
      .select($"embedding").as[Seq[Float]].collect()
      .map(_.map(x => math.floor(x.toDouble * 1e6).toLong))
    val n = vecs.length
    val dims = vecs.head.length
    // exact covariance doubles from BIGINT moments
    val c = Array.ofDim[Double](dims, dims)
    for (i <- 0 until dims; j <- 0 until dims) {
      val sx = vecs.map(_(i)).sum
      val sy = vecs.map(_(j)).sum
      val sxy = vecs.map(v => v(i) * v(j)).sum
      c(i)(j) = (sxy / n.toDouble -
        (sx / n.toDouble) * (sy / n.toDouble)) / 1.0e12
    }
    var v = Array.fill(dims)(0.125)
    var vE9 = Array.fill(dims)(125000000L)
    for (_ <- 1 to 3) {
      val w = (0 until dims).map(i =>
        (0 until dims).map(j =>
          math.floor(c(i)(j) * v(j) * 1e9).toLong).sum).toArray
      val nrm = math.floor(math.sqrt(
        w.map(x => (x * x).toDouble).sum)).toLong
      vE9 = w.map(x =>
        (if (x < 0) -1L else 1L) * (math.abs(x) * 1000000000L / nrm))
      v = vE9.map(_.toDouble / 1.0e9)
    }
    val w4 = (0 until dims).map(i =>
      (0 until dims).map(j =>
        math.floor(c(i)(j) * v(j) * 1e9).toLong).sum).toArray
    val eig = math.floor(math.sqrt(
      w4.map(x => (x * x).toDouble).sum)).toLong
    val got = SparkEntry.queries("q_pca_power")(spark, sf).collect()
      .map(r => r.getAs[Long]("dim") ->
        (r.getAs[Long]("v_e9"), r.getAs[Long]("eigval_e9"))).toMap
    assert(got.size === dims)
    (0 until dims).foreach { d2 =>
      assert(got(d2.toLong)._1 === vE9(d2), s"component $d2")
      assert(got(d2.toLong)._2 === eig, s"eigval at $d2")
    }
    // renormalized vector has unit norm up to the e9 grid
    val norm2 = vE9.map(x => (x.toDouble / 1e9) *
      (x.toDouble / 1e9)).sum
    assert(math.abs(norm2 - 1.0) < 1e-3, s"norm2 $norm2")
    assert(eig > 0L, "leading eigenvalue of a covariance is positive")
  }

  test("q_pca_explained: ratio reconciles with q_pca_power and " +
      "q_embed_covariance; Rayleigh bound holds") {
    val row = SparkEntry.queries("q_pca_explained")(spark, sf)
      .collect().head
    val eig = SparkEntry.queries("q_pca_power")(spark, sf)
      .collect().head.getAs[Long]("eigval_e9")
    assert(row.getAs[Long]("eigval_e9") === eig)
    // trace reconciles with the covariance diagonal (e9 floor per
    // cell vs the covariance query's independent e9 floor)
    val diag = SparkEntry.queries("q_embed_covariance")(spark, sf)
      .collect().filter(r => r.getAs[Long]("i") == r.getAs[Long]("j"))
    assert(row.getAs[Long]("dims") === diag.length.toLong)
    val traceFromCov = diag.map(_.getAs[Long]("cov_e9")).sum
    assert((row.getAs[Long]("trace_e9") - traceFromCov).abs
      <= diag.length.toLong, "trace vs diagonal within floor dust")
    val exp = row.getAs[Long]("explained_e6")
    assert(exp === eig * 1000000L / row.getAs[Long]("trace_e9"))
    // lambda_1 <= trace, and the power estimate cannot exceed it;
    // it also must beat the isotropic floor 1/dims (any matrix's
    // top eigenvalue is at least the average eigenvalue)
    assert(exp <= 1000000L)
    assert(exp >= 1000000L / row.getAs[Long]("dims") - 1000L,
      "top eigenvalue below the trace average")
  }

  test("q_dedup_prefix_filter: equals the brute all-pairs Jaccard " +
      "join (completeness, no cap loss) and contains the df-capped set") {
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaPrefix = pairSet(
      SparkEntry.queries("q_dedup_prefix_filter")(spark, sf))
    // brute ground truth: every doc pair, exact Jaccard on shingle sets
    val sh = Tables.documents(spark, sf)
      .select($"doc_id", Dedup.shingleHashes($"text").as("sh"))
      .filter(size($"sh") > 0)
    val brute = pairSet(sh.select($"doc_id".as("d1"), $"sh".as("sh1"))
      .crossJoin(sh.select($"doc_id".as("d2"), $"sh".as("sh2")))
      .filter($"d1" < $"d2")
      .filter(size(array_intersect($"sh1", $"sh2")).cast("double") /
        size(array_union($"sh1", $"sh2")).cast("double") >= 0.8)
      .select($"d1", $"d2"))
    assert(viaPrefix === brute,
      s"extra=${viaPrefix -- brute} missing=${brute -- viaPrefix}")
    // the df-capped inverted index can only LOSE pairs vs prefix filter
    val viaCap = pairSet(
      SparkEntry.queries("q_dedup_ngram_jaccard")(spark, sf))
    assert(viaCap.subsetOf(viaPrefix))
  }

  test("q_kcenter_greedy: Gonzalez invariants — radii non-increasing, " +
      "centers distinct, first radius is the true farthest point") {
    val rows = SparkEntry.queries("q_kcenter_greedy")(spark, sf)
      .collect().sortBy(_.getAs[Long]("sel_rank"))
    assert(rows.map(_.getAs[Long]("sel_rank")).toSeq === Seq(1L, 2L, 3L))
    val ids = rows.map(_.getAs[Long]("vec_id"))
    assert(ids.distinct.length === 3, "centers must be distinct")
    assert(rows(0).isNullAt(rows(0).fieldIndex("radius_e12")))
    val (r1, r2) = (rows(1).getAs[Long]("radius_e12"),
      rows(2).getAs[Long]("radius_e12"))
    // covering a set with MORE centers can only shrink the radius
    assert(r2 <= r1 && r2 > 0L)
    // brute check of round 1: r1 is the max e6-grid distance from c0
    val e = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
      .collect().map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Float]](1)
          .map(x => math.floor(x.toDouble * 1e6).toLong).toArray).toMap
    val c0 = e(ids(0))
    val brute = e.map { case (id, v) =>
      (v.zip(c0).map { case (a, b) => (a - b) * (a - b) }.sum, id)
    }
    val (bd, bid) = brute.maxBy { case (dd, id) => (dd, -id) }
    assert(bd === r1 && bid === ids(1),
      s"round-1 argmax mismatch: got (${ids(1)}, $r1), brute ($bid, $bd)")
  }

  test("q_randomized_response: reports are conserved, the debiased " +
      "estimate tracks truth within sampling noise") {
    val rows = SparkEntry.queries("q_randomized_response")(spark, sf)
      .collect()
    val n = rows.head.getAs[Long]("n")
    val k = rows.head.getAs[Long]("k")
    assert(rows.length === k.toInt)
    // every perturbed report lands on exactly one domain type
    assert(rows.map(_.getAs[Long]("n_obs")).sum === n)
    assert(rows.map(_.getAs[Long]("n_true")).sum === n)
    rows.foreach { r =>
      // estimator identity from the emitted counts
      val want = math.max(4 * k * r.getAs[Long]("n_obs") - n, 0L) *
        1000L / (3 * k)
      assert(r.getAs[Long]("n_hat_e3") === want)
      // unbiasedness within noise: sd of n_obs is < sqrt(n), and the
      // debias multiplies by 4k/3k < 2 — 10*sqrt(n) is a >6-sigma band
      val err = math.abs(r.getAs[Long]("n_hat_e3") / 1000.0 -
        r.getAs[Long]("n_true"))
      assert(err <= 10 * math.sqrt(n.toDouble),
        s"${r.getString(0)}: estimate off by $err")
    }
  }

  test("q_kmeanspp_init: seed invariants — c0 kept at distance 0, " +
      "assignment is a partition of the corpus, keep rule replays") {
    val rows = SparkEntry.queries("q_kmeanspp_init")(spark, sf).collect()
    val n = Tables.embeddings(spark, sf).count()
    val c0 = Tables.embeddings(spark, sf).agg(min($"vec_id")).head()
      .getLong(0)
    val byId = rows.map(r => r.getAs[Long]("vec_id") -> r).toMap
    assert(byId.contains(c0), "seed c0 must always be a candidate")
    assert(byId(c0).getAs[Long]("d2_e12") === 0L)
    // every corpus vector lands on exactly one candidate
    assert(rows.map(_.getAs[Long]("n_assigned")).sum === n)
    // oversampling at l=8 concentrates near l+1 candidates
    assert(rows.length >= 3 && rows.length <= 40,
      s"implausible candidate count ${rows.length}")
    // keep rule replay: every non-seed candidate's Knuth uniform is
    // below l*d2/phi (phi = sum of ALL d2, recomputed brute)
    val allD2 = SparkEntry.queries("q_kmeanspp_init")(spark, sf)
    val phi = {
      import org.apache.spark.sql.Row
      val e = Tables.embeddings(spark, sf)
        .select($"vec_id", $"embedding").collect()
      val c0v = e.find(_.getLong(0) == c0).get
        .getAs[scala.collection.Seq[Float]](1)
        .map(x => math.floor(x.toDouble * 1e6).toLong)
      e.map { r =>
        val v = r.getAs[scala.collection.Seq[Float]](1)
          .map(x => math.floor(x.toDouble * 1e6).toLong)
        v.zip(c0v).map { case (a, b) => (a - b) * (a - b) }.sum
      }.sum
    }
    rows.filter(_.getAs[Long]("vec_id") != c0).foreach { r =>
      val id = r.getAs[Long]("vec_id")
      val u = ((id * 2654435761L) % 4294967296L + 0.5) / 4294967296.0
      val rhs = 8.0 * r.getAs[Long]("d2_e12").toDouble / phi.toDouble
      assert(u < rhs, s"candidate $id fails its own keep rule")
    }
  }

  test("q_kneser_ney: scores rebuild from the emitted counts; " +
      "probability mass and discount structure hold") {
    val rows = SparkEntry.queries("q_kneser_ney")(spark, sf).collect()
    assert(rows.length === 9)
    rows.foreach { r =>
      val (c12, c1) = (r.getAs[Long]("c12"), r.getAs[Long]("c1"))
      val (n1w1, n1w2) = (r.getAs[Long]("n1w1"), r.getAs[Long]("n1w2"))
      val nTypes = r.getAs[Long]("n_types")
      val pcont = n1w2 * 1000000000L / nTypes
      assert(r.getAs[Long]("pcont_e9") === pcont)
      if (c1 > 0) {
        val want = math.max(4 * c12 - 3, 0L) * 1000000000L / (4 * c1) +
          3 * n1w1 * pcont / (4 * c1)
        val got = r.getAs[Long]("score_e9")
        assert(got === want, s"score mismatch at ${r.getString(0)}->" +
          s"${r.getString(1)}")
        // a probability: within [0, 1e9] (integer-truncation dust
        // keeps it strictly under)
        assert(got >= 0L && got <= 1000000000L)
        // backoff mass is strictly positive whenever the context was
        // seen (n1w1 >= 1 by construction of c1 > 0)
        if (c12 == 0) assert(got > 0L,
          "unseen bigram in a seen context must get backoff mass")
      } else assert(r.isNullAt(r.fieldIndex("score_e9")))
    }
  }

  test("q_dsir_select: top-k runs as TakeOrderedAndProject and " +
      "matches a brute re-rank of the full weight table") {
    val df = SparkEntry.queries("q_dsir_select")(spark, sf)
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive
        .AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val top = plan.collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }
    assert(top.nonEmpty, "global top-k must not be a full sort")
    val got = df.collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("key_e6")))
    assert(got.length === TextOps.DsirSelectK)
    // brute replay: Gumbel-key every doc from q_dsir and rank on the
    // driver with the same (key DESC, doc_id ASC) order
    val all = SparkEntry.queries("q_dsir")(spark, sf).collect().map { r =>
      val id = r.getAs[Long]("doc_id")
      val u = ((id * 2654435761L) % 4294967296L + 0.5) / 4294967296.0
      val g = BigDecimal(-math.log(-math.log(u)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      val key = r.getAs[Long]("logw_e6") + (g * 1000000).toLongExact
      (id, key)
    }
    val want = all.sortBy { case (id, k) => (-k, id) }
      .take(TextOps.DsirSelectK)
    assert(got.sortBy(_._1).toSeq === want.sortBy(_._1).toSeq)
  }

  test("q_random_projection: plan is shuffle-free (scan-local) and " +
      "the JL isometry ratio concentrates at 1e4") {
    val df = SparkEntry.queries("q_random_projection")(spark, sf)
    val shuffles = df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty, "random projection must not shuffle")
    val rows = df.collect()
    assert(rows.length ===
      Tables.embeddings(spark, sf).count().toInt)
    val ratios = rows.map { r =>
      assert(!r.isNullAt(r.fieldIndex("ratio_e4")),
        "nonzero vectors must get a ratio")
      r.getAs[Long]("ratio_e4")
    }
    // E[‖Px‖²/(k‖x‖²)] = 1 exactly for ±1 signs; with n≥500 vectors
    // the sample mean of a χ²₁₆/16-shaped ratio sits within ±10%
    val mean = ratios.sum.toDouble / ratios.length
    assert(mean > 9000 && mean < 11000, s"JL mean ratio_e4 off: $mean")
    ratios.foreach(r => assert(r >= 0L))
  }

  test("q_dsir: target slice scores higher on average; n_feats " +
      "reconciles with the corpus bigram volume") {
    val rows = SparkEntry.queries("q_dsir")(spark, sf).collect()
    val (en, other) = rows.partition(_.getAs[String]("lang") == "en")
    assert(en.nonEmpty && other.nonEmpty)
    def mean(rs: Array[org.apache.spark.sql.Row]): Double =
      rs.map(_.getAs[Long]("logw_e6")).sum.toDouble / rs.length
    // the importance weight is log p_tgt - log p_raw; the slice that
    // DEFINES the target must look more target-like than the rest
    assert(mean(en) > mean(other),
      s"en mean ${mean(en)} !> other mean ${mean(other)}")
    // every doc with >=2 tokens contributes len-1 bigram features
    val expectFeats = Tables.documents(spark, sf)
      .select(greatest(size(TextOps.tokens($"text")) - 1, lit(0))
        .cast("long").as("nf"))
      .agg(sum($"nf")).head().getLong(0)
    assert(rows.map(_.getAs[Long]("n_feats")).sum === expectFeats)
  }

  test("q_alpha_sampling: weights replay from sqrt(toks); shares " +
      "normalize to 1e6 up to floor dust; sampling flattens ratios") {
    val rows = SparkEntry.queries("q_alpha_sampling")(spark, sf).collect()
    assert(rows.length > 1)
    rows.foreach { r =>
      assert(r.getAs[Long]("w_e3") ===
        math.floor(math.sqrt(r.getAs[Long]("toks").toDouble) * 1000.0)
          .toLong)
    }
    val dust = rows.length.toLong
    Seq("p_ppm", "q_ppm").foreach { c =>
      val tot = rows.map(_.getAs[Long](c)).sum
      assert(tot <= 1000000L && tot >= 1000000L - dust, s"$c sums to $tot")
    }
    // temperature < 1 flattens: the largest/smallest share ratio
    // strictly shrinks from p to q
    val maxP = rows.maxBy(_.getAs[Long]("p_ppm"))
    val minP = rows.minBy(_.getAs[Long]("p_ppm"))
    assert(maxP.getAs[Long]("q_ppm") * minP.getAs[Long]("p_ppm") <
      maxP.getAs[Long]("p_ppm") * minP.getAs[Long]("q_ppm"),
      "q ratio must shrink vs p ratio")
    // boost is >= 1 for the rarest slice, <= 1 for the biggest
    assert(minP.getAs[Long]("boost_e3") >= 1000L)
    assert(maxP.getAs[Long]("boost_e3") <= 1000L)
  }

  test("q_cosine_shingle_pairs: survivors replay from a brute " +
    "tf-vector walk with the df cap applied") {
    val got = SparkEntry.queries("q_cosine_shingle_pairs")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2")) ->
        (r.getAs[Long]("dot"), r.getAs[Long]("cos2_ppm"))).toMap
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val tfs = docs.map { case (id, text) =>
      val toks = text.toLowerCase.split("\\s+", -1)
      val sh = toks.sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSeq
      id -> sh.groupBy(identity).view.mapValues(_.length.toLong).toMap
    }.toMap
    val df = tfs.values.flatMap(_.keys).groupBy(identity)
      .view.mapValues(_.size).toMap
    val hot = df.filter(_._2 > Dedup.MaxShingleDf).keySet
    // the vector space is the df-CAPPED shingle space: hot shingles
    // leave vectors, dots, and norms alike
    val capped = tfs.view
      .mapValues(_.filter(kv => !hot(kv._1))).toMap
    val norms = capped.view
      .mapValues(_.values.map(v => v * v).sum).toMap
    val expect = (for {
      (a, ta) <- capped.toSeq; (b, tb) <- capped.toSeq
      if a < b
      shared = ta.keySet.intersect(tb.keySet)
      if shared.nonEmpty
    } yield {
      val dot = shared.toSeq.map(t => ta(t) * tb(t)).sum
      val cos2 = BigInt(dot) * dot * 1000000 /
        (BigInt(norms(a)) * norms(b))
      (a, b) -> (dot, cos2.toLong)
    }).filter(_._2._2 >= Dedup.CosinePairThresholdPpm).toMap
    assert(got === expect)
    assert(got.nonEmpty)
  }

  test("q_mutual_nn_margin: pairs are mutually top-1 within their IVF " +
    "cell and the margin replays from the integer grid") {
    val rows = SparkEntry.queries("q_mutual_nn_margin")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    // brute in-cell replay on the Spark-computed cell assignment
    val e = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val cells = Similarity
      .ivfAssign(e, Similarity.ivfCentroidsOf(e)).join(e, "vec_id")
      .select($"vec_id", $"cell", $"v")
      .as[(Long, Long, Seq[Double])].collect().toSeq
    val byCell = cells.groupBy(_._2)
    def dotL(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0)((acc, p) => acc + p._1 * p._2)
    val ranked = byCell.values.flatMap { vs =>
      vs.flatMap { x =>
        vs.filter(_._1 != x._1)
          .map(y => (x._1, y._1,
            math.floor(dotL(x._3, y._3) * 1000000.0).toLong))
          .sortBy(p => (-p._3, p._2))
          .zipWithIndex.map { case (p, i) => (p, i + 1) }
      }
    }.toSeq
    val top1 = ranked.filter(_._2 == 1).map(_._1)
      .map(p => p._1 -> (p._2, p._3)).toMap
    val dn = ranked.filter(_._2 <= 4).map(_._1).groupBy(_._1)
      .map { case (x, ps) => x -> (ps.map(_._3).sum, ps.length.toLong) }
    val expect = top1.collect {
      case (x, (y, c)) if x < y && top1.get(y).exists(_._1 == x) =>
        val (sx, nx) = dn(x); val (sy, ny) = dn(y)
        (x, y, c, nx, ny,
          c * 2 * nx * ny * 1000000L / (sx * ny + sy * nx))
    }.toSet
    val gotSet = rows.map(r => (r.getAs[Long]("x"), r.getAs[Long]("y"),
      r.getAs[Long]("c_e6"), r.getAs[Long]("nx"), r.getAs[Long]("ny"),
      r.getAs[Long]("margin_e6"))).toSet
    assert(gotSet === expect)
  }

  test("q_readability: counts replay from per-doc regex walks and " +
      "both formulas recompute from the group sums") {
    val rows = SparkEntry.queries("q_readability")(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .select($"lang", $"source", $"text")
      .as[(String, String, String)].collect()
    val groups = docs.groupBy(d => (d._1, d._2))
    assert(rows.length === groups.size)
    rows.foreach { r =>
      val g = groups((r.getAs[String]("lang"), r.getAs[String]("source")))
      // limit -1 matches Spark's split (trailing empties retained)
      val words = g.map(_._3.split("\\s+", -1).length.toLong).sum
      val sents = g.map(d =>
        math.max("[.!?]+".r.findAllIn(d._3).length, 1).toLong).sum
      val syl = g.map(d =>
        "[aeiouy]+".r.findAllIn(d._3.toLowerCase).length.toLong).sum
      assert(r.getAs[Long]("n_docs") === g.length.toLong)
      assert(r.getAs[Long]("words") === words)
      assert(r.getAs[Long]("sents") === sents)
      assert(r.getAs[Long]("syllables") === syl)
      assert(r.getAs[Long]("fre_e3") === math.floor((206.835
        - 1.015 * words / sents - 84.6 * syl / words) * 1000.0).toLong)
      assert(r.getAs[Long]("fk_grade_e3") === math.floor((0.39 * words
        / sents + 11.8 * syl / words - 15.59) * 1000.0).toLong)
    }
  }

  test("q_toxicity_blocklist: hits equal a JVM substring count over " +
      "the leet-normalized text; flag iff any hit") {
    val rows = SparkEntry.queries("q_toxicity_blocklist")(spark, sf)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("tox_hits"), r.getAs[Long]("n_terms_hit"),
          r.getAs[Boolean]("flagged"))).toMap
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text").collect()
    assert(docs.length === rows.size)
    def leet(s: String): String = {
      val from = TextOps.LeetFrom
      val to = TextOps.LeetTo
      s.toLowerCase.map(c =>
        { val i = from.indexOf(c); if (i >= 0) to(i) else c })
    }
    def occurrences(hay: String, needle: String): Long = {
      var i = hay.indexOf(needle); var n = 0L
      while (i >= 0) { n += 1; i = hay.indexOf(needle, i + 1) }
      n
    }
    // overlapping vs len-normalized counting: the (len - len(replace))
    // identity counts NON-overlapping occurrences, same as replace
    def nonOverlap(hay: String, needle: String): Long =
      (hay.length - hay.replace(needle, "").length) / needle.length
    docs.foreach { r =>
      val norm = leet(r.getString(1))
      val hits = TextOps.ToxTerms.map(t => nonOverlap(norm, t))
      val (gh, gt, gf) = rows(r.getLong(0))
      assert(gh === hits.sum, s"doc ${r.getLong(0)}")
      assert(gt === hits.count(_ > 0).toLong)
      assert(gf === (hits.sum > 0))
    }
    // non-vacuity: both flag values occur on this corpus
    assert(rows.values.exists(_._3) && rows.values.exists(!_._3))
  }

  test("q_toxicity_blocklist: leet obfuscation folds onto the terms") {
    // constructed strings: the operator must hit "sl0w"/"b1g"/"cra5h"
    val df = spark.createDataFrame(Seq(
      (1L, "sl0w ride", "s"), (2L, "the b1g one", "s"),
      (3L, "cr45h course", "s"), (4L, "clean text", "s")))
      .toDF("doc_id", "text", "source")
    df.createOrReplaceTempView("tox_probe")
    val norm = s"translate(lower(text), '${TextOps.LeetFrom}', " +
      s"'${TextOps.LeetTo}')"
    val hits = TextOps.ToxTerms.map(t =>
      s"cast((length($norm) - length(replace($norm, '$t', '')))" +
        s" div ${t.length} as bigint)").mkString(" + ")
    val got = spark.sql(
      s"SELECT doc_id, $hits AS h FROM tox_probe ORDER BY doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 0L))
  }

  test("q_hapax_ratio: BigInt replay per source + identities") {
    val rows = SparkEntry.queries("q_hapax_ratio")(spark, sf).collect()
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, sf)
      .select($"source", $"text").collect()
    val bySource = docs.groupBy(_.getString(0)).map { case (src, rs) =>
      val counts = rs.flatMap(_.getString(1).toLowerCase
        .split("\\s+").filter(_.nonEmpty))
        .groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
      src -> counts
    }
    assert(rows.length === bySource.size)
    rows.foreach { r =>
      val c = bySource(r.getAs[String]("source"))
      val vocab = c.size.toLong
      val toks = c.values.sum
      val hapax = c.values.count(_ == 1L).toLong
      assert(r.getAs[Long]("vocab") === vocab)
      assert(r.getAs[Long]("n_tokens") === toks)
      assert(r.getAs[Long]("n_hapax") === hapax)
      assert(r.getAs[Long]("hapax_share_e6") === hapax * 1000000L / vocab)
      assert(r.getAs[Long]("ttr_e6") === vocab * 1000000L / toks)
      assert(hapax <= vocab && vocab <= toks)
    }
  }

  test("q_good_turing: frequency-of-frequencies replay; GT identity " +
      "sum(r*·N_r) over emitted classes stays within total mass") {
    val rows = SparkEntry.queries("q_good_turing")(spark, sf)
      .collect().sortBy(_.getAs[Long]("r"))
    assert(rows.nonEmpty && rows.length <= TextOps.GtClasses)
    val counts: Seq[Long] = Tables.documents(spark, sf)
      .select($"text").collect().toSeq
      .flatMap(_.getString(0).toLowerCase.split("\\s+")
        .filter(_.nonEmpty))
      .groupBy(identity).map { case (_, ws) => ws.length.toLong }.toSeq
    val fof: Map[Long, Long] = counts.groupBy(identity)
      .map { case (c, cs) => c -> cs.size.toLong }
    val lowest = fof.keys.toSeq.sorted.take(TextOps.GtClasses.toInt)
    assert(rows.map(_.getAs[Long]("r")).toSeq === lowest)
    val nTokens = counts.sum
    val f1 = fof.getOrElse(1L, 0L)
    rows.foreach { r =>
      val rr = r.getAs[Long]("r")
      val nxt: Long = fof.getOrElse(rr + 1, 0L)
      assert(r.getAs[Long]("n_r") === fof(rr))
      assert(r.getAs[Long]("n_r_next") === nxt)
      assert(r.getAs[Long]("r_star_e6") ===
        (BigInt(rr + 1) * BigInt(nxt) * BigInt(1000000)
          / BigInt(fof(rr))).toLong)
      assert(r.getAs[Long]("p_unseen_e6") === f1 * 1000000L / nTokens)
    }
  }

  test("q_chao1_richness: Chao1 >= observed vocab; replay per source") {
    val rows = SparkEntry.queries("q_chao1_richness")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, sf)
      .select($"source", $"text").collect()
    val bySource = docs.groupBy(_.getString(0)).map { case (src, rs) =>
      src -> rs.flatMap(_.getString(1).toLowerCase.split("\\s+")
        .filter(_.nonEmpty))
        .groupBy(identity).map { case (_, ws) => ws.length.toLong }
    }
    rows.foreach { r =>
      val c = bySource(r.getAs[String]("source"))
      val (v, f1, f2) = (c.size.toLong,
        c.count(_ == 1L).toLong, c.count(_ == 2L).toLong)
      assert(r.getAs[Long]("vocab") === v)
      assert(r.getAs[Long]("f1") === f1)
      assert(r.getAs[Long]("f2") === f2)
      val chao = if (f2 > 0) v * 100 + f1 * f1 * 100 / (2 * f2)
        else v * 100 + f1 * (f1 - 1) * 100 / 2
      assert(r.getAs[Long]("chao1_e2") === chao)
      // the estimator never goes below the observed richness
      assert(r.getAs[Long]("chao1_e2") >= v * 100)
      val n = c.sum
      assert(r.getAs[Long]("coverage_e6") === (n - f1) * 1000000L / n)
    }
  }

  test("q_rouge_l: LcsExpr equals a JVM LCS replay pair-for-pair; " +
      "F1 identities hold") {
    val rows = SparkEntry.queries("q_rouge_l")(spark, sf).collect()
    assert(rows.nonEmpty)
    def lcsLen(x: Seq[Long], y: Seq[Long]): Long = {
      val prev = Array.fill(y.size + 1)(0L)
      val curr = Array.fill(y.size + 1)(0L)
      for (i <- 1 to x.size) {
        for (j <- 1 to y.size) {
          curr(j) = if (x(i - 1) == y(j - 1)) prev(j - 1) + 1
            else math.max(curr(j - 1), prev(j))
        }
        Array.copy(curr, 0, prev, 0, y.size + 1)
      }
      prev(y.size)
    }
    def hash(w: String): Long = {
      var acc = 0L
      w.foreach(c => acc = (acc * 31 + c.toLong) % 2147483647L)
      acc
    }
    val toks = Tables.documents(spark, sf)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase
        .split("\\s+").filter(_.nonEmpty).toSeq
        .map(hash).take(TextOps.RougeTokenCap)).toMap
    rows.foreach { r =>
      val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      assert(b === a + 1)
      val (x, y) = (toks(a), toks(b))
      val want = lcsLen(x, y)
      assert(r.getAs[Long]("n_a") === x.size.toLong)
      assert(r.getAs[Long]("n_b") === y.size.toLong)
      assert(r.getAs[Long]("lcs_len") === want)
      assert(want <= math.min(x.size, y.size))
      assert(r.getAs[Long]("rouge_l_f_e6") ===
        2 * want * 1000000L / (x.size + y.size))
      assert(r.getAs[Long]("rouge_l_f_e6") <= 1000000L)
    }
    // LCS of a sequence with itself is its length (F1 = 1e6)
    val x = Seq(3L, 1L, 4L, 1L, 5L)
    assert(lcsLen(x, x) === 5L)
  }
}
