package graft.scale

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` / `embeddings`:
  *
  *  - exact: hash-groupBy on content digest (one shuffle on the digest,
  *    never on the full text);
  *  - n-gram Jaccard and containment: one df-capped posting self-join
  *    per session COUNTS each candidate pair's shared capped shingles,
  *    prunes by an exact overlap upper bound (AllPairs/PPJoin count
  *    filtering), and verifies the few survivors once — the shared
  *    `dedup.ngram_overlap` entry ([[ngramOverlap]]) both queries and
  *    the funnel project. Ground truth for the sketch variants;
  *  - MinHash + LSH banding: 128 minhashes → 32 bands × 4 rows →
  *    bucket-join candidates → exact verify. The 100 TB path: shuffle
  *    volume is #docs × #bands instead of #docs × #shingles, and bucket
  *    joins replace the all-pairs comparison entirely;
  *  - SimHash: 64-bit signatures, near-dup = small Hamming distance;
  *  - embedding cosine: all-pairs above threshold (brute at test SF;
  *    the LSH-bucketed variant lives in Similarity.scala).
  *
  * MinHash/LSH parameters: P(candidate | j=0.8) = 1-(1-0.8⁴)³² ≈
  * 1-5e-8, so at the 0.8 verify threshold LSH output equals the exact
  * inverted-index output with near-certainty — both share one oracle.
  */
object Dedup {

  val NumHashes = 128
  val Bands = 32
  val RowsPerBand = 4
  val JaccardThreshold = 0.8

  /** Document-frequency cap for the inverted-index candidate pass: a
    * shingle present in more docs is dropped before the posting
    * self-join. Without it one boilerplate trigram with df=d costs
    * O(d²) join rows — the classic hot-key explosion; with it the join
    * is bounded by Σ min(df,cap)² ≤ cap · |postings|. Recall contract:
    * a true pair at jaccard ≥ 0.8 shares ≥ 0.8/1.8 ≈ 44 % of its union
    * shingles, so it is lost only if EVERY shared shingle exceeds the
    * cap — pairs made entirely of boilerplate. Those are exactly the
    * pairs the MinHash/LSH path (df-insensitive: signatures don't see
    * df) and the exact-digest pass still catch. The cap also sets the
    * count filter's slack: a pair's overlap is at most its capped
    * shared count plus the smaller of the two docs' hot-shingle counts
    * (see [[ngramOverlap]]). */
  val MaxShingleDf = 64

  /** LSH bucket-width cap: a (band,bucket) with w docs contributes
    * O(w²) candidate rows; buckets wider than this are dropped. A pair
    * in one over-wide bucket has 31 other bands to collide in
    * (P(miss | j=0.8) ≈ 5e-8 per band set), so only ≥cap-sized
    * clusters identical in EVERY band — i.e. near-exact duplicate
    * megaclusters — are affected, and those collapse in the exact
    * dedup pre-pass (q_dedup_exact) before any near-dup run. */
  val MaxBucketWidth = 1024

  /** Distinct 3-gram shingles as 64-bit hashes of the token TRIPLE —
    * no concatenated shingle strings are ever materialized. Identity
    * is hash-based; a cross-shingle collision would need ~2³² shingles
    * per doc pair (we have ~5·10²), so set algebra (and therefore
    * Jaccard) matches the string-shingle oracle exactly. */
  def shingleHashes(text: Column): Column =
    graft.ext.ShingleHashExpr.shingleHashes(text)

  /** Reference formulation of [[graft.ext.ShingleHashExpr]] via
    * split + transform + xxhash64 + array_distinct — identical values
    * (ScaleSpec corpus parity; the kernel reuses Spark's own XXH64
    * with the same seed chaining), interpreted execution: measured
    * 6.5 s vs ~0.3 s for the kernel on the sf0.1 corpus scan
    * (SketchProbe2, round 9). */
  def shingleHashesInterpreted(text: Column): Column = {
    val t = TextOps.tokens(text)
    when(size(t) < 3, array().cast("array<bigint>"))
      .otherwise(array_distinct(
        transform(sequence(lit(1), size(t) - lit(2)),
          i => xxhash64(element_at(t, i), element_at(t, i + 1),
            element_at(t, i + 2)))))
  }

  /** (doc_id, shingle-hash set) with empty docs dropped. One eager
    * checkpoint per session (GraftCaches.checkpoint) that every
    * near-dup query reads, often several times: a flat scan per read,
    * where a lazy persist paid one cache-fill job per scan. Released
    * by GraftCaches.release / Bench / Verify. */
  private def docShingles(s: SparkSession, d: String): DataFrame =
    graft.GraftCaches.checkpoint(s, s"dedup.shingles:$d") {
      // Repartition before shingling: the documents parquet is a
      // single split at test SF, and every downstream consumer
      // EXPLODES the shingle arrays (~x100 rows) — spreading the slim
      // (doc_id, text) rows first keeps the explode and the partial
      // aggregates over it on all cores (same lesson as
      // YelpQueries.amplifiedReviews, measured 8x there).
      Tables.documents(s, d)
        .repartition(s.sessionState.conf.numShufflePartitions)
        .select(col("doc_id"), shingleHashes(col("text")).as("sh"))
        .filter(size(col("sh")) > 0)
    }

  /** The one verify step of the family: for a pair DataFrame with
    * columns d1/d2, (d1, d2, i, sz1, sz2) — the exact shared-shingle
    * count and both set sizes, as longs. */
  private[scale] def overlapOf(pairs: DataFrame, sh: DataFrame): DataFrame = {
    val s1 = sh.select(col("doc_id").as("d1"), col("sh").as("sh1"))
    val s2 = sh.select(col("doc_id").as("d2"), col("sh").as("sh2"))
    pairs.join(s1, "d1").join(s2, "d2")
      .select(col("d1"), col("d2"),
        size(array_intersect(col("sh1"), col("sh2"))).cast("long").as("i"),
        size(col("sh1")).cast("long").as("sz1"),
        size(col("sh2")).cast("long").as("sz2"))
  }

  /** Pairs of an overlap table (d1, d2, i, sz1, sz2) with Jaccard ≥
    * threshold. |x ∪ y| = |x| + |y| − |x ∩ y| exactly (both arrays are
    * distinct by construction), so no per-pair array_union — a second
    * full hash-set build for every pair — is needed (guide §1.2 step
    * 2: per-task work). Same integer i and u ⇒ bit-identical jaccard
    * double whichever path produced the table. */
  private[scale] def jaccardPairs(ov: DataFrame): DataFrame =
    ov.withColumn("jaccard", col("i").cast("double") /
        (col("sz1") + col("sz2") - col("i")).cast("double"))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("d1"), col("d2"), round(col("jaccard"), 4).as("jaccard"))

  /** Exact Jaccard over distinct shingle sets for a pair DataFrame with
    * columns d1/d2; keeps pairs ≥ threshold. */
  private[scale] def verifyPairs(pairs: DataFrame, sh: DataFrame): DataFrame =
    jaccardPairs(overlapOf(pairs, sh))

  /** LSH S-CURVE CALIBRATION (VERDICT-tier banding tuner): for every
    * df-capped candidate pair, the exact Jaccard rational (i, u) runs
    * through the banding recall curve P(candidate | s) = 1 − (1−sʳ)ᵇ
    * for the production config ([[Bands]]×[[RowsPerBand]] = 32×4) and
    * the tighter 16×8 alternative, then rolls up per Jaccard decile —
    * the table that answers "what recall does my banding give at each
    * similarity level on MY corpus's pair distribution" before anyone
    * re-signs 100 TB with a new config. The curve is evaluated in e6
    * FIXED POINT with a floor after every squaring (s⁴ exact from the
    * Jaccard rational in decimal(38,0); then 5 halving-squarings for
    * (·)³² and 4 for (·)¹⁶) — the floor chain IS the operator
    * contract, replayed step-for-step by the oracle, so both engines
    * agree bit-for-bit with no transcendentals. Shape: the same
    * df-capped inverted-index join as [[ngramCandidates]], per-pair
    * scalar math, an ≤11-row rollup. */
  private def lshScurve(s: SparkSession, d: String): DataFrame = {
    val sh = docShingles(s, d)
    // every candidate, unpruned: the rollup covers all deciles
    overlapOf(ngramCandidates(sh), sh)
      // u from sizes, not array_union (see jaccardPairs)
      .withColumn("u", expr("sz1 + sz2 - i"))
      .withColumn("jac_e6", expr("i * 1000000 div u"))
      .withColumn("s4", expr(
        "cast(i as decimal(38,0)) * i * i * i * 1000000" +
          " div (cast(u as decimal(38,0)) * u * u * u)"))
      .withColumn("q1", expr("1000000 - s4"))
      .withColumn("q2", expr("q1 * q1 div 1000000"))
      .withColumn("q4", expr("q2 * q2 div 1000000"))
      .withColumn("q8", expr("q4 * q4 div 1000000"))
      .withColumn("q16", expr("q8 * q8 div 1000000"))
      .withColumn("q32", expr("q16 * q16 div 1000000"))
      .withColumn("s8", expr("s4 * s4 div 1000000"))
      .withColumn("t1", expr("1000000 - s8"))
      .withColumn("t2", expr("t1 * t1 div 1000000"))
      .withColumn("t4", expr("t2 * t2 div 1000000"))
      .withColumn("t8", expr("t4 * t4 div 1000000"))
      .withColumn("t16", expr("t8 * t8 div 1000000"))
      .groupBy(expr("jac_e6 div 100000").cast("long").as("decile"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("jac_e6")).as("sum_jac"),
        sum(expr("1000000 - q32")).as("sum_p32"),
        sum(expr("1000000 - t16")).as("sum_p16"))
      .select(col("decile"), col("n_pairs"),
        expr("cast(sum_jac div n_pairs as bigint)")
          .as("avg_jaccard_e6"),
        expr("cast(sum_p32 div n_pairs as bigint)")
          .as("recall_b32r4_e6"),
        expr("cast(sum_p16 div n_pairs as bigint)")
          .as("recall_b16r8_e6"))
  }

  /** (doc_id, sz, shingle) postings and the hot shingles (df > cap).
    * The hot set is tiny by construction (only shingles with df > cap
    * survive the aggregate, and the partial count combines map-side),
    * so joins against it are cheap. */
  private def postings(sh: DataFrame, maxDf: Int): (DataFrame, DataFrame) = {
    val posting = sh.select(col("doc_id"), size(col("sh")).as("sz"),
      explode(col("sh")).as("shingle"))
    val hot = posting.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(col("shingle"))
    (posting, hot)
  }

  /** The df-capped posting self-join: one row per (capped shared
    * shingle, a.doc_id < b.doc_id). */
  private def cappedPairs(posting: DataFrame, hot: DataFrame): DataFrame = {
    val capped = posting.join(hot, Seq("shingle"), "left_anti")
    capped.as("a").join(capped.as("b"), "shingle")
      .filter(col("a.doc_id") < col("b.doc_id"))
  }

  /** Candidate pairs from the inverted index, df-capped (see
    * [[MaxShingleDf]]): every pair sharing at least one capped
    * shingle. q_dedup_funnel counts them and q_lsh_scurve rolls all
    * of them up; the two near-dup queries read the pruned
    * [[ngramOverlap]] instead. */
  def ngramCandidates(sh: DataFrame, maxDf: Int = MaxShingleDf): DataFrame = {
    val (posting, hot) = postings(sh, maxDf)
    cappedPairs(posting, hot)
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
  }

  /** Count-filtered overlap table (d1, d2, i, sz1, sz2) over the
    * [[ngramCandidates]] pairs: the same posting self-join, but
    * GROUPED to count c = the pair's capped shared shingles. A pair's
    * true overlap i is c plus its shared hot shingles, so
    * ub = c + least(h1, h2) (h = a doc's hot-shingle count) is an
    * exact upper bound, and only pairs with 5·ub ≥ 3·least(sz1, sz2)
    * reach the array-intersect verify. That is the containment
    * filter (max containment ≥ 0.6 ⟺ 5·i ≥ 3·least(sz)); Jaccard ≥
    * 0.8 implies it, since it forces i ≥ 0.89·least(sz). So the
    * output holds every candidate either query keeps — the df-cap
    * contract is unchanged — while only ~150 of ~100k candidates
    * reach the verify on the perfbench corpus. */
  def ngramOverlap(sh: DataFrame, maxDf: Int = MaxShingleDf): DataFrame = {
    val (posting, hot) = postings(sh, maxDf)
    val h = posting.join(hot, "shingle").groupBy(col("doc_id"))
      .agg(count(lit(1)).as("h"))
    def hotOf(side: String) = h.select(col("doc_id").as(s"d$side"),
      col("h").as(s"h$side"))
    val kept = cappedPairs(posting, hot)
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.sz").as("sz1"), col("b.sz").as("sz2"))
      .agg(count(lit(1)).as("c"))
      .join(hotOf("1"), Seq("d1"), "left").join(hotOf("2"), Seq("d2"), "left")
      .filter(expr("5 * (c + least(coalesce(h1, 0), coalesce(h2, 0)))" +
        " >= 3 * least(sz1, sz2)"))
    overlapOf(kept.select(col("d1"), col("d2")), sh)
  }

  /** The session's [[ngramOverlap]], checkpointed once and shared by
    * q_dedup_ngram_jaccard, q_dedup_containment and q_dedup_funnel. */
  private def ngramOverlapOf(s: SparkSession, d: String): DataFrame =
    graft.GraftCaches.checkpoint(s, s"dedup.ngram_overlap:$d") {
      ngramOverlap(docShingles(s, d))
    }

  /** Exact near-dup ground truth over the df-capped candidates: the
    * Jaccard filter of the shared overlap table. At scale the
    * equivalent-but-cheaper MinHash path below replaces it. */
  private def ngramJaccard(s: SparkSession, d: String): DataFrame =
    jaccardPairs(ngramOverlapOf(s, d))

  /** Prefix-filtering candidates (Chaudhuri/Ganti/Kaushik 2006; the
    * AllPairs/PPJoin family) — the EXACT alternative to both the df
    * cap (which trades recall) and MinHash (which trades certainty):
    * order every document's shingles by GLOBAL rarity (df asc, then
    * shingle — any order works as long as it is one total order for
    * the whole corpus), and index only each doc's first
    * |x| − ⌈t·|x|⌉ + 1 shingles. Two sets with Jaccard ≥ t must
    * overlap within these prefixes (pigeonhole on the ⌈t·|x|⌉
    * matches required), so candidate generation is COMPLETE while
    * the posting self-join moves only ~(1−t) of the index — and the
    * rarest-first order makes those prefix tokens precisely the
    * low-df ones, so the per-token join fan is smallest-possible.
    * t = 4/5 exactly ⇒ prefix length is pure integer arithmetic:
    * sz − (4·sz + 4) div 5 + 1.
    *
    * Engine note: Spark orders hashed shingles, the oracle orders the
    * string forms — DIFFERENT prefixes, same verified output, because
    * completeness holds under any per-engine total order and the
    * exact-Jaccard verification is order-independent. */
  def prefixFilterCandidates(sh: DataFrame): DataFrame = {
    val posting = sh.select(col("doc_id"), size(col("sh")).as("sz"),
      explode(col("sh")).as("shingle"))
    val dfreq = posting.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("df").asc, col("shingle").asc)
    val prefix = posting.join(dfreq, "shingle")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= col("sz") - expr("(4 * sz + 4) div 5") + 1)
      .select(col("doc_id"), col("sz"), col("shingle"))
    // PPJoin length filter, also exact: jaccard >= 4/5 forces
    // 4·|x| <= 5·|y| and 4·|y| <= 5·|x| — prunes the cross-size fan
    // inside each prefix-token group before the distinct (measured
    // 24.8 s -> 16.3 s at the 100x probe; see BENCHNOTES)
    prefix.as("a").join(prefix.as("b"), "shingle")
      .filter(col("a.doc_id") < col("b.doc_id") &&
        col("a.sz") * 4 <= col("b.sz") * 5 &&
        col("b.sz") * 4 <= col("a.sz") * 5)
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
  }

  private def prefixFilterJaccard(s: SparkSession, d: String): DataFrame =
    verifyPairs(prefixFilterCandidates(docShingles(s, d)),
      docShingles(s, d))

  /** Oracle CTEs: `tk` tokens and `sh` the distinct 3-gram shingle
    * strings per doc — the string form of [[docShingles]]. */
  private val shingleCte = s"""tk AS (SELECT doc_id,
                         string_split_regex(lower(text), '\\s+') AS toks
                  FROM documents),
      sh AS (SELECT doc_id,
                    unnest(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                          for i in range(1, len(toks)-1)])) AS s
             FROM tk WHERE len(toks) >= 3)"""

  /** [[shingleCte]] plus the df-capped candidate pairs `cand` (the
    * [[ngramCandidates]] contract), set sizes and uncapped exact
    * intersections. */
  private val cappedCte = s"""$shingleCte,
      hot AS (SELECT s FROM sh GROUP BY s HAVING count(*) > $MaxShingleDf),
      shc AS (SELECT doc_id, s FROM sh
              WHERE s NOT IN (SELECT s FROM hot)),
      cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
               FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id),
      sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
                FROM sh GROUP BY 1),
      inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
                       CAST(count(*) AS BIGINT) AS i
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2)"""

  private val prefixFilterOracle = s"""
      WITH $shingleCte,
      sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      dfreq AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
      pfx AS (SELECT doc_id, s FROM (
                SELECT sh.doc_id, sh.s, sizes.sz,
                       row_number() OVER (PARTITION BY sh.doc_id
                         ORDER BY dfreq.df ASC, sh.s ASC) AS rk
                FROM sh JOIN dfreq USING (s) JOIN sizes USING (doc_id)) t
              WHERE rk <= sz - (4 * sz + 4) // 5 + 1),
      pfs AS (SELECT p.doc_id, p.s, z.sz
              FROM pfx p JOIN sizes z USING (doc_id)),
      cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
               FROM pfs a JOIN pfs b
                 ON a.s = b.s AND a.doc_id < b.doc_id
                AND a.sz * 4 <= b.sz * 5 AND b.sz * 4 <= a.sz * 5),
      inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
      SELECT c.d1, c.d2,
             round(i * 1.0 / (s1.sz + s2.sz - i), 4) AS jaccard
      FROM cand c
      JOIN inter ON c.d1 = inter.d1 AND c.d2 = inter.d2
      JOIN sizes s1 ON c.d1 = s1.doc_id
      JOIN sizes s2 ON c.d2 = s2.doc_id
      WHERE i * 1.0 / (s1.sz + s2.sz - i) >= $JaccardThreshold"""

  /** Shingle CONTAINMENT — the asymmetric companion to
    * [[ngramJaccard]]: c(A→B) = |A∩B|/|A| catches the
    * "document A is embedded inside the much larger B" duplication
    * that symmetric Jaccard misses entirely (a 100-shingle doc fully
    * contained in a 10 000-shingle doc has Jaccard ≈ 0.01 but
    * containment 1.0 — the quote/boilerplate/concatenated-crawl case
    * a training-data pipeline must catch). Same df-capped inverted-
    * index candidates as the Jaccard path; both directions emitted
    * as EXACT e6 fixed-point (BIGINT intersection · 1e6 div set
    * size — zero float), kept when either direction ≥ 0.6, flagged
    * near-subset at ≥ 0.9. A projection of the same shared overlap
    * table as q_dedup_ngram_jaccard, whose bound is this filter. */
  private def containment(s: SparkSession, d: String): DataFrame =
    containmentOf(ngramOverlapOf(s, d))

  /** The containment projection of an overlap table. */
  private[scale] def containmentOf(ov: DataFrame): DataFrame =
    ov.withColumn("cont12_e6", expr("i * 1000000 div sz1"))
      .withColumn("cont21_e6", expr("i * 1000000 div sz2"))
      .filter(greatest(col("cont12_e6"), col("cont21_e6"))
        >= lit(600000L))
      .withColumn("near_subset",
        greatest(col("cont12_e6"), col("cont21_e6")) >= lit(900000L))

  private val containmentOracle = s"""
      WITH $cappedCte
      SELECT c.d1, c.d2, inter.i AS i,
             s1.sz AS sz1, s2.sz AS sz2,
             CAST(inter.i * 1000000 // s1.sz AS BIGINT) AS cont12_e6,
             CAST(inter.i * 1000000 // s2.sz AS BIGINT) AS cont21_e6,
             greatest(inter.i * 1000000 // s1.sz,
                      inter.i * 1000000 // s2.sz) >= 900000
               AS near_subset
      FROM cand c
      JOIN inter ON c.d1 = inter.d1 AND c.d2 = inter.d2
      JOIN sizes s1 ON c.d1 = s1.doc_id
      JOIN sizes s2 ON c.d2 = s2.doc_id
      WHERE greatest(inter.i * 1000000 // s1.sz,
                     inter.i * 1000000 // s2.sz) >= 600000"""

  /** Mersenne prime for the 2-universal hash family. */
  private val P = 2147483647L

  /** Deterministic (a, b) coefficients for h_i(x) = (a_i·x + b_i) mod P
    * — fixed-seed LCG, so signatures are stable across runs. */
  private lazy val hashCoefs: Array[(Long, Long)] = {
    var state = 20240601L
    def next(bound: Long): Long = {
      state = state * 6364136223846793005L + 1442695040888963407L
      math.floorMod(state >>> 17, bound)
    }
    Array.fill(NumHashes)((next(P - 1) + 1, next(P)))
  }

  /** MinHash signatures: explode shingle hashes (already 64-bit
    * longs), fold into the 31-bit domain once, then derive all 128
    * min-hashes as affine transforms (aᵢ·h + bᵢ mod P — 2-universal
    * mod-prime family) inside a single codegen'd hash aggregate with
    * map-side combine. Measured against two alternatives at sf0.1:
    * multiply-shift hashing (biased — dropped a true pair at τ=0.8)
    * and a row-local nested-transform signature (3.6× slower —
    * higher-order functions are interpreted, the hash aggregate is
    * codegen'd). The explode+aggregate shape shuffles only
    * 5000×128-long signature rows, never the postings. */
  private def minhashSignatures(sh: DataFrame): DataFrame = {
    val posting = sh.select(col("doc_id"), explode(col("sh")).as("shingle"))
      .withColumn("h31", pmod(col("shingle"), lit(P)))
    val mins = (0 until NumHashes).map { i =>
      val (a, b) = hashCoefs(i)
      min(pmod(col("h31") * lit(a) + lit(b), lit(P))).as(s"h$i")
    }
    posting.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** (doc_id, band, bucket) rows from MinHash banding: band b's bucket
    * key = hash of its 4 signature rows. Public so ScaleSpec can
    * measure real bucket widths against [[MaxBucketWidth]]. */
  def bandBuckets(sh: DataFrame): DataFrame = {
    val sig = minhashSignatures(sh)
    val bandCols = (0 until Bands).map { b =>
      val rows = (0 until RowsPerBand).map(r => col(s"h${b * RowsPerBand + r}"))
      struct(lit(b).as("band"), xxhash64(rows: _*).as("bucket"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))
  }

  /** LSH banding near-dup: docs colliding in ANY band become
    * candidates, then exact-Jaccard verify. */
  private def minhashLsh(s: SparkSession, d: String): DataFrame = {
    val sh = docShingles(s, d)
    // persisted (session registry): the self-join below would otherwise
    // recompute the whole signature pipeline for each side
    val buckets = graft.GraftCaches.getOrPersist(s, s"dedup.lsh_buckets:$d") {
      bandBuckets(sh)
    }
    verifyPairs(lshCandidates(buckets), sh)
  }

  /** Candidate pairs from LSH band buckets, width-capped (see
    * [[MaxBucketWidth]]). */
  def lshCandidates(buckets: DataFrame,
      maxWidth: Int = MaxBucketWidth): DataFrame = {
    val hot = buckets.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") > maxWidth)
      .select(col("band"), col("bucket"))
    val capped = buckets.join(hot, Seq("band", "bucket"), "left_anti")
    capped.as("a").join(capped.as("b"), Seq("band", "bucket"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
  }

  /** SimHash: bit k of the signature is the sign of the sum of ±1
    * votes (bit k of each token hash) over the doc's tokens.
    * Implemented as explode → ONE hash aggregate with one long sum per
    * bit — a single codegen'd partial+final aggregation, so signature
    * computation stays map-side-combinable at 100 TB.
    *
    * Two token hashes: the default 64-bit `xxhash64` (codegen'd — the
    * 100 TB path), and a `portable` 62-bit variant (two 31-bit
    * polynomial char hashes packed as h₁ + h₂·2³¹) that DuckDB can
    * replay exactly, giving the catalog query a full value-level
    * oracle. Same signature shape and hamming semantics either way. */
  def simhashSignatures(docs: DataFrame, portable: Boolean = false): DataFrame = {
    val bits = if (portable) 62 else 64
    val hash =
      if (portable)
        TextOps.polyHash(col("w"), 31L) +
          TextOps.polyHash(col("w"), 37L) * lit(2147483648L)
      else xxhash64(col("w"))
    val tok = docs
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
      .withColumn("h", hash)
    val votes = (0 until bits).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1L)
        .otherwise(-1L)).as(s"v$b"))
    tok.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until bits).map(b =>
          when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_.bitwiseOR(_)).as("simhash"))
  }

  private def simhashQ(s: SparkSession, d: String): DataFrame =
    simhashSignatures(Tables.documents(s, d), portable = true)

  /** Max hamming distance for the banded simhash near-dup pass. */
  val SimHashMaxHamming = 3

  /** Bucket cap for the simhash pair join — deliberately much higher
    * than [[MaxBucketWidth]]: a wide simhash block bucket is a genuine
    * near-identical cluster whose pairs ARE the requested output
    * (output-bound work), unlike minhash band buckets where width is
    * mostly false-positive collisions. Found empirically: sf0.1
    * already produces an 1845-wide bucket (language-level signature
    * convergence), so the LSH-tier cap of 1024 silently lost 1 637
    * true pairs there. Beyond 2¹⁶ the quadratic OUTPUT itself is the
    * infeasibility — collapse exact duplicates (digest pre-pass)
    * before running near-dup at that density. */
  val SimHashPairsMaxWidth = 1 << 16

  /** 62 signature bits split into 4 blocks (16+16+16+14): by
    * pigeonhole, any pair within hamming ≤ 3 matches EXACTLY in at
    * least one block, so a bucket join on (block, value) finds every
    * such pair with zero recall loss — the classic simhash web-dedup
    * shape. */
  private val SimHashBlocks = Seq((0, 16), (16, 16), (32, 16), (48, 14))

  /** SimHash banded near-dup: signature → 4 block buckets → capped
    * bucket join (reuses [[lshCandidates]]) → exact hamming verify
    * with native xor/bit_count. Shuffle volume is 4 rows per doc;
    * candidates are bounded by bucket width — never all-pairs. */
  private def simhashPairs(s: SparkSession, d: String): DataFrame = {
    val sig = graft.GraftCaches.getOrPersist(s, s"dedup.simhash:$d") {
      simhashSignatures(Tables.documents(s, d), portable = true)
    }
    val blockCols = SimHashBlocks.zipWithIndex.map { case ((off, w), i) =>
      struct(lit(i).as("band"),
        shiftright(col("simhash"), off).bitwiseAND(lit((1L << w) - 1))
          .as("bucket"))
    }
    val buckets = sig
      .select(col("doc_id"), explode(array(blockCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))
    val s1 = sig.select(col("doc_id").as("d1"), col("simhash").as("h1"))
    val s2 = sig.select(col("doc_id").as("d2"), col("simhash").as("h2"))
    lshCandidates(buckets, maxWidth = SimHashPairsMaxWidth)
      .join(s1, "d1").join(s2, "d2")
      .withColumn("hamming",
        bit_count(col("h1").bitwiseXOR(col("h2"))).cast("long"))
      .filter(col("hamming") <= SimHashMaxHamming)
      .select(col("d1"), col("d2"), col("hamming"))
  }

  /** Shared DuckDB CTE computing the portable simhash signatures —
    * generated so the hash constants and bit count can never drift
    * from the Spark side. */
  private def simhashSigCte: String = {
    val h1 = TextOps.polyHashSql("w", 31L)
    val h2 = TextOps.polyHashSql("w", 37L)
    val votes = (0 until 62).map { b =>
      s"sum(CASE WHEN (h // ${1L << b}) % 2 = 1 THEN 1 ELSE -1 END) AS v$b"
    }.mkString(",\n               ")
    val recompose = (0 until 62)
      .map(b => s"CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    s"""
      WITH tok AS (SELECT doc_id,
                          unnest(string_split_regex(lower(text), '\\s+')) AS w
                   FROM documents),
      h AS (SELECT doc_id, $h1 + $h2 * 2147483648 AS h FROM tok),
      v AS (SELECT doc_id,
               $votes
            FROM h GROUP BY doc_id),
      sigs AS (SELECT doc_id, $recompose AS simhash FROM v)"""
  }

  private def simhashOracle: String =
    s"""$simhashSigCte
      SELECT doc_id, simhash FROM sigs"""

  /** Pair oracle goes all-pairs (fine at verify SF) — the Spark side
    * must find the identical set through banding. */
  private def simhashPairsOracle: String =
    s"""$simhashSigCte
      SELECT a.doc_id AS d1, b.doc_id AS d2,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT)
               AS hamming
      FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= $SimHashMaxHamming"""

  /** Exact dedup by content digest. The input plants duplicates (a
    * re-keyed copy of doc_id < 50) so the operator demonstrably
    * collapses them: output = dup groups with the kept (min) id. */
  private def exactDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", $"text")
    val planted = docs.filter($"doc_id" < 50)
      .select(($"doc_id" + 1000000L).as("doc_id"), $"text")
    docs.union(planted)
      .groupBy(md5($"text").as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min($"doc_id").as("keep_id"))
      .filter($"n_copies" > 1)
  }

  /** The reference's duplicate PROBE (SURVEY.md §2.6 A1:
    * `groupBy(all columns).count().filter("count > 1")`,
    * reference scripts/etl.py:54) — run over a union that plants
    * duplicates so the probe demonstrably fires. */
  private def dupProbe(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"doc_id", $"lang", $"source")
    val once = docs.filter($"doc_id" < 25)
    val all = docs.union(once)
    all.groupBy(all.columns.map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .filter($"cnt" > 1)
  }

  /** Hard ceiling for the brute-force embedding ground truth — above
    * this the O(n²·dim) pair join is refused outright instead of
    * melting a cluster; the scale paths are Similarity.annLsh/annIvf. */
  val MaxBruteForceRows = 200000L

  /** Embedding near-dup: all pairs with cosine ≥ 0.45 (embeddings are
    * L2-normalized so cosine = dot). Brute force is O(n²·dim) —
    * VERIFICATION TIER ONLY, guarded by [[MaxBruteForceRows]]. The
    * guard is a BOUNDED probe — limit(cap+1).count() — so it stops
    * scanning the moment the cap is provably exceeded instead of
    * counting the whole table before refusing it. */
  /** Refuses a table too large for an all-pairs verification query.
    * limit(cap+1) bounds the probe: the scan stops as soon as cap+1
    * rows exist, so an over-limit table is rejected without being
    * read end-to-end. */
  private[scale] def requireBruteForceable(df: DataFrame,
      what: String): Unit = {
    val probe = df.limit(MaxBruteForceRows.toInt + 1).count()
    require(probe <= MaxBruteForceRows,
      s"$what is a ground-truth oracle for ≤$MaxBruteForceRows " +
        s"rows (got >$MaxBruteForceRows); use annLsh/annIvf at scale")
  }

  private def embedNearDup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    requireBruteForceable(Tables.embeddings(s, d), "embedNearDup")
    val e = Tables.embeddings(s, d)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    // codegen fused dot (ext.DotProductExpr): the interpreted
    // aggregate(zip_with(..)) fold it replaced ran each of the
    // O(n²)·dim multiply-adds through a per-element eval-tree walk —
    // 18.4 s at sf0.1 vs 1.0 s fused. Both sum in ascending index
    // order, so the doubles are bit-identical (PropertySpec pins the
    // expression's parity with the interpreted fold).
    val dot = graft.ext.DotProductExpr.dotProduct($"a.v", $"b.v")
    e.as("a").join(e.as("b"), $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("v1"), $"b.vec_id".as("v2"),
        dot.as("cosine"))
      .filter($"cosine" >= 0.45)
      .select($"v1", $"v2", round($"cosine", 4).as("cosine"))
  }

  /** cos² threshold (ppm) for [[cosineShinglePairs]] — 0.6 ⇔
    * cosine ≥ 0.775, below the Jaccard-0.8 near-dup band so the
    * weighted join also surfaces pairs the set-based one ranks lower. */
  val CosinePairThresholdPpm = 600000L

  /** TF-weighted sparse cosine similarity join over 3-token shingles —
    * the WEIGHTED companion to [[ngramJaccard]]: Jaccard treats a
    * shingle seen 40× the same as once, cosine over term-frequency
    * vectors does not, which is what separates boilerplate-heavy
    * near-dups from genuinely repeated content. The vector space is
    * the DF-CAPPED shingle space — corpus-hot shingles (df >
    * [[MaxShingleDf]]) are dropped from vectors, dots AND norms alike,
    * the sparse-similarity analog of stopword removal: the cosine is
    * exact in that space, the pair volume is bounded by the cap's
    * Σdf² second moment, and — unlike a cap applied to candidates
    * only — the ONE posting self-join both enumerates pairs and
    * accumulates their dot (map-side combinable), no distinct pass,
    * no pair×postings re-join. Everything is integer: tf counts,
    * Σtf² norms, cos² as the single rational dot²·1e6/(n1·n2)
    * (DECIMAL(38,0)/HUGEINT for the square) — no sqrt ever runs.
    * Shingles travel as STRINGS, replayed verbatim by the oracle's
    * list comprehension. */
  private def cosineShinglePairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // bindOnce: without it the trigram lambda re-tokenizes the doc
    // per element per reference (see TextOps.bindOnce).
    val shingles = TextOps.bindOnce(TextOps.tokens(col("text"))) { t =>
      when(size(t) < 3, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(t) - lit(2)),
          i => concat_ws(" ", element_at(t, i), element_at(t, i + 1),
            element_at(t, i + 2))))
    }
    val tf = Tables.documents(s, d)
      .repartition(s.sessionState.conf.numShufflePartitions)
      .select($"doc_id", explode(shingles).as("sh"))
      .groupBy($"doc_id", $"sh").agg(count(lit(1)).as("tf"))
    val hot = tf.groupBy($"sh").agg(count(lit(1)).as("df"))
      .filter($"df" > MaxShingleDf).select($"sh")
    val capped = tf.join(hot, Seq("sh"), "left_anti")
    val norms = capped.groupBy($"doc_id").agg(sum($"tf" * $"tf").as("n2"))
    val dots = capped.as("a").join(capped.as("b"), "sh")
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(sum(col("a.tf") * col("b.tf")).as("dot"))
    dots
      .join(norms.select($"doc_id".as("d1"), $"n2".as("nn1")), "d1")
      .join(norms.select($"doc_id".as("d2"), $"n2".as("nn2")), "d2")
      .withColumn("cos2_ppm", expr(
        "CAST(CAST(dot AS DECIMAL(38,0)) * dot * 1000000" +
          " div (nn1 * nn2) AS BIGINT)"))
      .filter($"cos2_ppm" >= CosinePairThresholdPpm)
      .select($"d1", $"d2", $"dot", $"cos2_ppm")
  }

  private val cosinePairsOracle = s"""
      WITH tk AS (SELECT doc_id,
                         string_split_regex(lower(text), '\\s+') AS toks
                  FROM documents),
      shm AS (SELECT doc_id,
                     unnest([toks[i] || ' ' || toks[i+1] || ' '
                             || toks[i+2]
                             for i in range(1, len(toks)-1)]) AS s
              FROM tk WHERE len(toks) >= 3),
      tf AS (SELECT doc_id, s, CAST(count(*) AS BIGINT) AS tf
             FROM shm GROUP BY 1, 2),
      hot AS (SELECT s FROM tf GROUP BY s
              HAVING count(*) > $MaxShingleDf),
      cp AS (SELECT tf.* FROM tf ANTI JOIN hot USING (s)),
      nrm AS (SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS n2
              FROM cp GROUP BY 1),
      dots AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
                      CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
               FROM cp a JOIN cp b
                 ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
      sc AS (SELECT d1, d2, dot,
                    CAST(CAST(dot AS HUGEINT) * dot * 1000000
                      // (n1.n2 * n2.n2) AS BIGINT) AS cos2_ppm
             FROM dots JOIN nrm n1 ON n1.doc_id = d1
                       JOIN nrm n2 ON n2.doc_id = d2)
      SELECT d1, d2, dot, cos2_ppm
      FROM sc WHERE cos2_ppm >= $CosinePairThresholdPpm"""

  /** Shared CTE block: exact n-gram-Jaccard near-dup pairs at the
    * threshold — the ground-truth `pairs(d1, d2, jaccard)` table both
    * the pair oracles and the component oracle build on. */
  private val jaccardPairsCte = s"""$shingleCte,
      sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      pairs AS (
        SELECT d1, d2, round(j, 4) AS jaccard
        FROM (SELECT d1, d2, i * 1.0 / (s1.sz + s2.sz - i) AS j
              FROM inter
              JOIN sizes s1 ON d1 = s1.doc_id
              JOIN sizes s2 ON d2 = s2.doc_id) q
        WHERE j >= ${JaccardThreshold})"""

  private val jaccardOracle = s"""
      WITH $jaccardPairsCte
      SELECT d1, d2, jaccard FROM pairs"""

  /** Oracle for the df-CAPPED inverted-index query: candidate pairs
    * come from postings with shingle df ≤ [[MaxShingleDf]] (mirroring
    * [[ngramCandidates]] exactly), while Jaccard itself is computed
    * over the FULL shingle sets — the same split the Spark side makes.
    * This keeps oracle equality data-independent: a pair whose shared
    * shingles are all boilerplate is dropped by BOTH sides, instead of
    * relying on the fixture never containing one (ADVICE r2). */
  private val jaccardCappedOracle = s"""
      WITH $cappedCte
      SELECT c.d1, c.d2,
             round(i * 1.0 / (s1.sz + s2.sz - i), 4) AS jaccard
      FROM cand c
      JOIN inter ON c.d1 = inter.d1 AND c.d2 = inter.d2
      JOIN sizes s1 ON c.d1 = s1.doc_id
      JOIN sizes s2 ON c.d2 = s2.doc_id
      WHERE i * 1.0 / (s1.sz + s2.sz - i) >= $JaccardThreshold"""

  /** Recursive-CTE block computing components from the exact pair
    * graph (transitive reachability → min reachable id). */
  private val componentsCte = s"""
      sym AS (SELECT d1 AS a, d2 AS b FROM pairs
              UNION ALL SELECT d2, d1 FROM pairs),
      reach AS (
        SELECT a AS node, b AS r FROM sym
        UNION
        SELECT re.node, s.b FROM reach re JOIN sym s ON re.r = s.a),
      comp AS (SELECT node AS doc_id, least(node, min(r)) AS component
               FROM reach GROUP BY node)"""

  /** Min-label components of the pair graph, checked by a DuckDB
    * recursive CTE. */
  private val componentsOracle = s"""
      WITH RECURSIVE $jaccardPairsCte,
      $componentsCte
      SELECT doc_id, component FROM comp"""

  /** Survivor-per-cluster oracle: components + the q_text_quality
    * score expression + a per-component argmax. */
  private val keepBestOracle = s"""
      WITH RECURSIVE $jaccardPairsCte,
      $componentsCte,
      ql AS (SELECT doc_id,
                    round((least(length(text) / 200.0, 1.0) +
                           len(list_distinct(string_split_regex(lower(text), '\\s+'))) * 1.0 /
                           greatest(len(string_split_regex(lower(text), '\\s+')), 1)) / 2.0,
                          4) AS q
             FROM documents),
      ranked AS (SELECT c.component, c.doc_id, ql.q,
                        row_number() OVER (PARTITION BY c.component
                                           ORDER BY ql.q DESC,
                                                    c.doc_id ASC) AS rn
                 FROM comp c JOIN ql USING (doc_id))
      SELECT component, doc_id AS keep_id, q FROM ranked WHERE rn = 1"""

  /** Rounds actually executed by the most recent [[connectedComponents]]
    * call — test observability for the adaptive early exit (VERDICT
    * r15 #6: prove fewer rounds ran, not just that results match). */
  private[graft] val ccRoundsExecuted =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Connected components over a near-dup pair graph — the CLUSTERING
    * step of dedup: every node gets the min doc_id of its component,
    * so "keep one document per duplicate cluster" is a groupBy away.
    *
    * ADAPTIVE min-label propagation (VERDICT r15 #6): each round every
    * node adopts the smallest label among itself and its neighbors;
    * `rounds` is the pinned WORST CASE (= component diameter bound),
    * and the loop exits as soon as a round changes no label — at
    * 100 TB, rounds-beyond-convergence are pure waste, and near-dup
    * components are shallow by construction (diameter ≤ 2 cliques for
    * the ER fixtures), so the worst-case bound typically over-provisions
    * 2–4×. The convergence check is EXACT, not probabilistic: labels
    * are non-increasing per node, and the self-loop row already
    * carries each node's previous label into the propagation join,
    * so a per-node changed flag (newLabel < prevLabel) is computed
    * INSIDE the min-label aggregate itself — no separate diff join;
    * the probe is a short-circuit scan of the checkpointed round
    * (r16 kept a per-round node-aligned diff join; fusing it halved
    * the per-round driver-sync work), and the label table is
    * pair-members only (orders of magnitude smaller than the corpus).
    * Each round's labels are `localCheckpoint`ed: the diff needs the
    * round materialized anyway, and truncating lineage keeps round k's
    * plan flat instead of k-deep (the CcProbe round-9 lesson — 33 586
    * analyzed plan nodes — applied per round instead of only to the
    * adjacency). Consequence for plan pins: the returned frame plans
    * as a checkpoint scan, so downstream [[graft.ext.PlanStats]]
    * counts no longer include the propagation loop's shuffles
    * (q_er_cluster's pin dropped from 14 to the post-cc stages only —
    * conscious update, PLANS.md r16). Cluster note: localCheckpoint
    * is not fault-tolerant — swap for a reliable checkpoint dir when
    * running on real clusters.
    *
    * @param pairs columns (d1, d2), each pair once with d1 < d2
    * @return (doc_id, component) for every node appearing in `pairs`
    */
  def connectedComponents(pairs: DataFrame, rounds: Int = 8,
      cacheKey: Option[String] = None): DataFrame = {
    val spark = pairs.sparkSession
    val sym = pairs.select(col("d1").as("node"), col("d2").as("nbr"))
      .union(pairs.select(col("d2").as("node"), col("d1").as("nbr")))
    // Self-loop per node, so one join+min covers "self ∪ neighbors".
    // This keeps each round referencing the previous labels exactly
    // ONCE — a second reference (e.g. a left join to keep isolated
    // nodes) would double evaluation work per round: 2^rounds blowup.
    val adjRaw = sym.union(sym.select(col("node")).distinct()
      .select(col("node"), col("node").as("nbr")))
    // The adjacency is re-read every round — materialize it, or the
    // whole upstream pair pipeline re-executes `rounds` times. Two
    // layers to that, and BOTH matter:
    //  1. PRE-PARTITIONED on the join key (repartition before the
    //     checkpoint): the materialized layout keeps that hash
    //     partitioning, so every round's join reads it without an
    //     exchange and the per-round cost is ONE exchange (the
    //     min-label groupBy).
    //  2. LINEAGE-TRUNCATED (eager localCheckpoint), not merely
    //     persisted: an InMemoryRelation still carries its child
    //     plan, and the analyzer re-walks the full LSH subtree at
    //     EVERY adjacency reference — the 8-round tree analyzed to
    //     33 586 plan nodes with 4.2 s of the 7.5 s wall time being
    //     pure planning (CcProbe, round 9). The checkpointed frame
    //     plans as a flat scan: measured 7.5 s → 1.0 s at sf0.1.
    //     Cluster note: localCheckpoint is not fault-tolerant — a
    //     lost executor forces a job restart; swap for a reliable
    //     checkpoint dir when running on real clusters.
    val adj = cacheKey match {
      case Some(k) => graft.GraftCaches.checkpoint(spark, k)(
        adjRaw.repartition(col("nbr")))
      case None => adjRaw.repartition(col("nbr")).localCheckpoint()
    }
    // Initial labels = identity, read off the adjacency's SELF-LOOP
    // rows: exactly one per node by construction, already partitioned
    // on nbr(=node) from the checkpointed layout — no distinct
    // exchange, no extra checkpoint job (the r16 form paid both per
    // call; the adjacency cache made them the only per-call setup
    // cost left).
    var labels = adj.filter(col("nbr") === col("node"))
      .select(col("node"), col("node").as("label"))
    var r = 0
    var converged = false
    while (r < rounds && !converged) {
      r += 1
      // The convergence witness is FUSED into the propagation
      // aggregate (VERDICT r16 #2): the self-loop row (nbr == node)
      // delivers each node's PREVIOUS label into the same join, so
      // the per-node changed flag is one extra min+compare in the
      // groupBy — labels are non-increasing per node, so
      // newLabel < prevLabel is an exact change witness. The r15
      // design probed convergence with a separate node-aligned
      // diff JOIN per round (a second full join job on top of the
      // checkpoint); fusing it cuts the per-round driver-sync work
      // to the checkpoint job plus a short-circuit scan of the
      // already-checkpointed partitions (no join, no exchange) —
      // measured 1.45 s → ~1.0 s in-sequence for q_er_cluster.
      val next = adj.alias("g")
        .join(labels.alias("l"), col("g.nbr") === col("l.node"))
        .groupBy(col("g.node"))
        .agg(min(col("l.label")).as("label"),
          (min(col("l.label")) <
            min(when(col("g.nbr") === col("g.node"), col("l.label"))))
            .as("chg"))
        .localCheckpoint()
      // exact fixpoint test (skipped on the final worst-case round —
      // there is no further round to save): any changed label set
      // its chg flag inside the aggregate above
      converged = r < rounds && next.filter(col("chg")).isEmpty
      labels = next.select(col("node"), col("label"))
    }
    ccRoundsExecuted.set(r)
    labels.select(col("node").as("doc_id"), col("label").as("component"))
  }

  /** q_dedup_components: cluster ids over the MinHash-LSH pair graph
    * (which itself equals the exact-Jaccard pairs — ScaleSpec). */
  private def componentsQ(s: SparkSession, d: String): DataFrame =
    connectedComponents(minhashLsh(s, d).select(col("d1"), col("d2")),
      cacheKey = Some(s"dedup.cc_adj:$d"))

  /** The dedup ENDPOINT: one survivor per near-dup cluster, chosen by
    * quality (tie → smallest doc_id) — LSH pairs → connected
    * components → quality join → TopKPerKey k=1. Per-partition heaps
    * mean only one candidate row per (partition, component) crosses
    * the final shuffle; the component table is pair-members only,
    * orders of magnitude smaller than the corpus. */
  private def keepBest(s: SparkSession, d: String): DataFrame = {
    val comp = connectedComponents(
      minhashLsh(s, d).select(col("d1"), col("d2")),
      cacheKey = Some(s"dedup.cc_adj:$d"))
    val quality = Tables.documents(s, d)
      .select(col("doc_id"), TextOps.qualityScore(col("text")).as("q"))
    graft.ext.TopKPerKey.topK(comp.join(quality, "doc_id"),
        Seq("component"), Seq(("q", false), ("doc_id", true)), 1)
      .select(col("component"), col("doc_id").as("keep_id"), col("q"))
  }

  /** Benchmark-contamination screen: fraction of a training doc's
    * distinct shingles that appear anywhere in the eval set (docs with
    * doc_id < 20 stand in for a benchmark). The standard n-gram
    * containment check run before training. Shape at scale: the eval
    * shingle set is benchmark-sized → broadcast; the corpus posting
    * stream stays map-side (one groupBy on doc_id, combineable), so
    * the corpus never shuffles its shingles — only (doc_id, count)
    * partials. */
  private def contamination(s: SparkSession, d: String): DataFrame = {
    val sh = docShingles(s, d)
    val evalSet = sh.filter(col("doc_id") < 20)
      .select(explode(col("sh")).as("shingle")).distinct()
      .withColumn("is_eval", lit(1L))
    val corpus = sh.filter(col("doc_id") >= 20)
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
    corpus.join(broadcast(evalSet), Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("is_eval"), lit(0L))).as("n_hits"))
      .withColumn("ratio",
        round(col("n_hits").cast("double") / col("n_shingles"), 4))
      .filter(col("ratio") >= 0.1)
  }

  private val contaminationOracle = s"""
      WITH $shingleCte,
      ev AS (SELECT DISTINCT s FROM sh WHERE doc_id < 20),
      c AS (SELECT doc_id, s FROM sh WHERE doc_id >= 20),
      agg AS (SELECT c.doc_id, count(*) AS n_shingles,
                     CAST(sum(CASE WHEN ev.s IS NOT NULL THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_hits
              FROM c LEFT JOIN ev ON c.s = ev.s
              GROUP BY 1)
      SELECT doc_id, n_shingles, n_hits,
             round(n_hits * 1.0 / n_shingles, 4) AS ratio
      FROM agg WHERE round(n_hits * 1.0 / n_shingles, 4) >= 0.1"""

  /** The doc_id below which documents count as the NEW batch for the
    * incremental-dedup query (the rest is the indexed corpus). */
  val IncrementalBatchMax = 50L

  /** INCREMENTAL dedup: screen a new batch against an already-indexed
    * corpus without recomputing the corpus. The batch's band buckets
    * probe the corpus's bucket table — at 100 TB the corpus buckets
    * are a stored, bucketed-by-(band,bucket) table maintained
    * incrementally, so a day's ingest shuffles only ITS OWN signatures
    * (batch × 32 band rows) plus the collided candidates, never the
    * corpus. Exact-Jaccard verify keeps precision 1.0. Here both
    * sides come from one cached bucket pass (shared with
    * q_dedup_minhash_lsh's registry entry) split by id — the plan
    * after the split is identical to the stored-index probe. */
  private def incrementalDedup(s: SparkSession, d: String): DataFrame = {
    val sh = docShingles(s, d)
    val buckets = graft.GraftCaches.getOrPersist(s, s"dedup.lsh_buckets:$d") {
      bandBuckets(sh)
    }
    val batch = buckets.filter(col("doc_id") < IncrementalBatchMax)
    val corpus = buckets.filter(col("doc_id") >= IncrementalBatchMax)
    val cand = batch.as("a").join(corpus.as("b"), Seq("band", "bucket"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    verifyPairs(cand, sh)
  }

  /** Chunk width (tokens) for duplicate-span removal. */
  val SpanTokens = 3

  /** C4-style duplicate-SPAN removal: split every doc into
    * non-overlapping `SpanTokens`-token chunks, keep only the globally
    * FIRST occurrence of each repeated chunk (order = (doc_id, chunk
    * position)), and reassemble each doc from its surviving chunks
    * (the sub-chunk tail is always kept). This is the intra-corpus
    * fine-grained pass that runs AFTER whole-doc dedup: boilerplate
    * repeated across documents disappears from every doc but its
    * first.
    *
    * Shape at scale: one shuffle of (chunk, pos) pairs for the
    * global-first groupBy, one hash join back, one groupBy doc_id to
    * reassemble — all map-side combinable; the chunk key would be a
    * 64-bit hash at 100 TB (string keys here keep the oracle exact,
    * the plan is identical either way). */
  def dedupSpans(docs: DataFrame): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    // Spread the slim (doc_id, text) rows before tokenize+posexplode:
    // the single-split test parquet serialized BOTH consumers of
    // `base` (the chunk explode and the reassembly join) onto one
    // task each (r18 StageProbe: two ~0.28 CPU-s single-task stages),
    // and the shared repartition exchange is stage-reused at runtime
    // so the scan itself now runs once. Production many-split inputs
    // make this a near-no-op (the amplifiedReviews discipline).
    val base = docs
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), toks.as("toks"))
      .withColumn("nc", (size(col("toks")) / SpanTokens)
        .cast("long"))
      .withColumn("tail_str", array_join(
        slice(col("toks"), (col("nc") * SpanTokens + 1).cast("int"),
          greatest(size(col("toks")) - (col("nc") * SpanTokens).cast("int"),
            lit(0))), " "))
    val chunked = base
      .select(col("doc_id"), col("nc"),
        posexplode(when(col("nc") > 0,
            // bindOnce: `toks` is a collapsed-projection alias for the
            // tokenization; an unbound lambda re-splits the doc once
            // per chunk (see TextOps.bindOnce)
            TextOps.bindOnce(col("toks")) { tk =>
              transform(sequence(lit(0), (col("nc") - 1).cast("int")),
                i => array_join(
                  slice(tk, i * SpanTokens + 1, lit(SpanTokens)), " "))
            })
          .otherwise(array().cast("array<string>"))).as(Seq("idx", "chunk")))
      .withColumn("pos", col("doc_id") * 100000L + col("idx"))
    val firsts = chunked.groupBy(col("chunk"))
      .agg(min(col("pos")).as("keep_pos"))
    val kept = chunked.join(firsts, "chunk")
      .filter(col("pos") === col("keep_pos"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("idx"), col("chunk")))),
          s => s.getField("chunk")), " ").as("body"))
    base.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        array_join(filter(array(col("body"), col("tail_str")),
          x => x.isNotNull && x =!= ""), " ").as("text_clean"),
        col("nc").as("n_chunks"),
        (col("nc") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  private def dedupSpansQ(s: SparkSession, d: String): DataFrame =
    dedupSpans(Tables.documents(s, d))

  /** Boilerplate document-frequency ceiling: a chunk is boilerplate
    * within its SOURCE when more than `BoilerplateDfPct`% of that
    * source's documents contain it. */
  val BoilerplateDfPct = 5L

  /** C4-style BOILERPLATE removal — the df-thresholded complement of
    * [[dedupSpans]]: instead of keeping the first occurrence of every
    * repeated chunk, a chunk that appears in more than
    * `BoilerplateDfPct`% of a source's documents (site chrome, nav
    * text, legal footers) is stripped from EVERY document of that
    * source, first occurrence included. Rare cross-doc repetition
    * survives (that is dedupSpans' job).
    *
    * Shape at scale: chunk document-frequencies collapse map-side
    * before one (source, chunk) shuffle; the boilerplate set is the
    * high-df tail only — orders of magnitude smaller than the chunk
    * stream — and prunes via a left-anti join; reassembly is the same
    * one groupBy(doc_id) as dedupSpans. The df threshold is compared
    * in INTEGER form (100·df > pct·docs), so no float boundary exists
    * for engines to disagree on. */
  def boilerplateStrip(docs: DataFrame): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    // same input spread as dedupSpans (shared-exchange + parallel
    // explode; see the note there)
    val base = docs
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), col("source"), toks.as("toks"))
      .withColumn("nc", (size(col("toks")) / SpanTokens).cast("long"))
      .withColumn("tail_str", array_join(
        slice(col("toks"), (col("nc") * SpanTokens + 1).cast("int"),
          greatest(size(col("toks")) - (col("nc") * SpanTokens).cast("int"),
            lit(0))), " "))
    val chunked = base
      .select(col("doc_id"), col("source"), col("nc"),
        posexplode(when(col("nc") > 0,
            // bindOnce: same per-chunk re-tokenization fix as
            // dedupSpans (see TextOps.bindOnce)
            TextOps.bindOnce(col("toks")) { tk =>
              transform(sequence(lit(0), (col("nc") - 1).cast("int")),
                i => array_join(
                  slice(tk, i * SpanTokens + 1, lit(SpanTokens)), " "))
            })
          .otherwise(array().cast("array<string>"))).as(Seq("idx", "chunk")))
    val srcDocs = docs.groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("nd"))
    val boiler = chunked
      .groupBy(col("source"), col("chunk"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .join(srcDocs, "source")
      .filter(col("df") * 100L > lit(BoilerplateDfPct) * col("nd"))
      .select(col("source"), col("chunk"))
    val kept = chunked.join(boiler, Seq("source", "chunk"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("idx"), col("chunk")))),
          s => s.getField("chunk")), " ").as("body"))
    base.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        array_join(filter(array(col("body"), col("tail_str")),
          x => x.isNotNull && x =!= ""), " ").as("text_clean"),
        col("nc").as("n_chunks"),
        (col("nc") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  private def boilerplateQ(s: SparkSession, d: String): DataFrame =
    boilerplateStrip(Tables.documents(s, d))

  private val boilerplateOracle = s"""
      WITH tok AS (SELECT doc_id, source,
                          string_split_regex(lower(text), '\\s+') AS toks
                   FROM documents),
      base AS (SELECT doc_id, source, toks,
                      CAST(len(toks) // $SpanTokens AS BIGINT) AS nc,
                      array_to_string(
                        toks[len(toks) // $SpanTokens * $SpanTokens + 1
                             : len(toks)], ' ') AS tail_str
               FROM tok),
      chunked AS (SELECT doc_id, source, nc, i AS idx,
                         array_to_string(
                           toks[i * $SpanTokens + 1
                                : i * $SpanTokens + $SpanTokens], ' ')
                           AS chunk
                  FROM base CROSS JOIN unnest(range(nc)) AS t(i)),
      src_docs AS (SELECT source, count(DISTINCT doc_id) AS nd
                   FROM documents GROUP BY 1),
      boiler AS (SELECT c.source, c.chunk
                 FROM (SELECT source, chunk,
                              count(DISTINCT doc_id) AS df
                       FROM chunked GROUP BY 1, 2) c
                 JOIN src_docs s ON c.source = s.source
                 WHERE c.df * 100 > $BoilerplateDfPct * s.nd),
      kept AS (SELECT c.doc_id,
                      CAST(count(*) AS BIGINT) AS n_kept,
                      string_agg(c.chunk, ' ' ORDER BY c.idx) AS body
               FROM chunked c ANTI JOIN boiler b
                 ON c.source = b.source AND c.chunk = b.chunk
               GROUP BY 1)
      SELECT b.doc_id,
             concat_ws(' ', nullif(k.body, ''), nullif(b.tail_str, ''))
               AS text_clean,
             b.nc AS n_chunks,
             b.nc - coalesce(k.n_kept, 0) AS n_removed
      FROM base b LEFT JOIN kept k ON b.doc_id = k.doc_id"""

  private val dedupSpansOracle = s"""
      WITH tok AS (SELECT doc_id,
                          string_split_regex(lower(text), '\\s+') AS toks
                   FROM documents),
      base AS (SELECT doc_id, toks,
                      CAST(len(toks) // $SpanTokens AS BIGINT) AS nc,
                      array_to_string(
                        toks[len(toks) // $SpanTokens * $SpanTokens + 1
                             : len(toks)], ' ') AS tail_str
               FROM tok),
      chunked AS (SELECT doc_id, nc, i AS idx,
                         array_to_string(
                           toks[i * $SpanTokens + 1
                                : i * $SpanTokens + $SpanTokens], ' ')
                           AS chunk,
                         doc_id * 100000 + i AS pos
                  FROM base CROSS JOIN unnest(range(nc)) AS t(i)),
      firsts AS (SELECT chunk, min(pos) AS keep_pos
                 FROM chunked GROUP BY 1),
      kept AS (SELECT c.doc_id,
                      CAST(count(*) AS BIGINT) AS n_kept,
                      string_agg(c.chunk, ' ' ORDER BY c.idx) AS body
               FROM chunked c JOIN firsts f ON c.chunk = f.chunk
               WHERE c.pos = f.keep_pos
               GROUP BY 1)
      SELECT b.doc_id,
             concat_ws(' ', nullif(k.body, ''), nullif(b.tail_str, ''))
               AS text_clean,
             b.nc AS n_chunks,
             b.nc - coalesce(k.n_kept, 0) AS n_removed
      FROM base b LEFT JOIN kept k ON b.doc_id = k.doc_id"""

  /** Dedup-funnel efficiency report — the one-row summary a pipeline
    * publishes about its own candidate generation: how many pairs the
    * blocked (df-capped) inverted index proposed, how many survived
    * exact verification, the stage precision, and the candidate
    * fraction relative to the naive n·(n−1)/2 all-pairs — the number
    * that justifies the blocking design at 100 TB. All counts are the
    * catalog's own oracled pipelines re-aggregated: n_verified is the
    * Jaccard filter of the shared overlap table, the one verify path
    * of the df-capped family. Ratios are ONE divide of exact BIGINTs. */
  private def dedupFunnel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sh = docShingles(s, d)
    val verified = jaccardPairs(ngramOverlapOf(s, d))
    ngramCandidates(sh).agg(count(lit(1)).as("n_candidates"))
      .crossJoin(broadcast(verified.agg(count(lit(1)).as("n_verified"))))
      .crossJoin(broadcast(sh.agg(count(lit(1)).as("n_docs"))))
      .select($"n_docs", $"n_candidates", $"n_verified",
        expr("(n_docs * (n_docs - 1)) div 2").as("naive_pairs"),
        ($"n_verified".cast("double") / $"n_candidates").as("precision"),
        ($"n_candidates".cast("double") /
          expr("(n_docs * (n_docs - 1)) div 2")).as("candidate_frac"))
  }

  private val dedupFunnelOracle = s"""
      WITH $cappedCte,
      ver AS (SELECT c.d1 FROM cand c
              JOIN inter ON c.d1 = inter.d1 AND c.d2 = inter.d2
              JOIN sizes s1 ON c.d1 = s1.doc_id
              JOIN sizes s2 ON c.d2 = s2.doc_id
              WHERE i * 1.0 / (s1.sz + s2.sz - i) >= $JaccardThreshold),
      agg AS (SELECT (SELECT count(*) FROM sizes) AS n_docs,
                     (SELECT count(*) FROM cand) AS n_candidates,
                     (SELECT count(*) FROM ver) AS n_verified)
      SELECT CAST(n_docs AS BIGINT) AS n_docs,
             CAST(n_candidates AS BIGINT) AS n_candidates,
             CAST(n_verified AS BIGINT) AS n_verified,
             CAST((n_docs * (n_docs - 1)) // 2 AS BIGINT) AS naive_pairs,
             CAST(n_verified AS DOUBLE) / n_candidates AS precision,
             CAST(n_candidates AS DOUBLE)
               / ((n_docs * (n_docs - 1)) // 2) AS candidate_frac
      FROM agg"""

  /** Tokens per non-overlapping chunk in [[chunkDedup]]. */
  val ChunkLen = 8

  /** Sub-document exact dedup at CHUNK granularity with a
    * first-occurrence retention policy — the C4 rule ("remove all
    * but one of any repeated three-sentence span") adapted to the
    * corpus's unpunctuated text: documents split into non-overlapping
    * [[ChunkLen]]-token chunks, each repeated chunk keeps ONLY its
    * (doc_id, idx)-minimal occurrence, and the per-document ledger
    * reports how many chunks survive. Distinct from q_dedup_exact
    * (whole-doc) and q_dedup_spans (winnow-sampled fingerprints):
    * this is the RETENTION side — which doc keeps which span, the
    * bookkeeping an actual corpus rewrite needs. Shape: explode to
    * chunks (scan-local), ONE groupBy(chunk) for the global
    * first-occurrence (min struct — map-side combinable), one
    * co-partitioned join back, one per-doc rollup. No all-pairs
    * anything; shuffle ∝ corpus chunks. */
  private def chunkDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // bindOnce: unbound lambda re-splits the doc once per chunk
    // (see TextOps.bindOnce)
    val chunks = Tables.documents(s, d)
      // input spread before the row-multiplying explode (see
      // dedupSpans): both consumers (first-occurrence agg + join-back)
      // read the shared repartition exchange in parallel
      .repartition(s.sessionState.conf.numShufflePartitions)
      .select($"doc_id", posexplode(
        TextOps.bindOnce(split($"text", "\\s+")) { t =>
          val nChunks = (size(t) + lit(ChunkLen - 1)) / lit(ChunkLen)
          transform(sequence(lit(0), nChunks.cast("int") - 1),
            i => concat_ws(" ", slice(t, i * ChunkLen + 1, lit(ChunkLen))))
        }).as(Seq("idx", "chunk")))
    val first = chunks.groupBy($"chunk")
      .agg(min(struct($"doc_id", $"idx")).as("keep"),
        count(lit(1)).as("n_occ"))
    chunks.join(first, "chunk")
      .select($"doc_id",
        ($"keep.doc_id" === $"doc_id" && $"keep.idx" === $"idx")
          .as("kept"),
        ($"n_occ" > 1L).as("dup"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when($"kept", 1L).otherwise(0L)).as("n_kept"),
        sum(when($"dup", 1L).otherwise(0L)).as("n_in_dup_class"))
  }

  /** Anchor gram length (tokens) for [[substringDedupOn]] — the same
    * granularity as [[ChunkLen]], but slid at stride 1. */
  val AnchorTokens = 8
  /** Global occurrence cap per anchor gram: grams seen more often are
    * stopword-ish runs and are dropped before the self-join, bounding
    * candidate pairs per gram at cap² (the JaccardDfCap discipline). */
  val AnchorDfCap = 8L
  /** Minimum duplicated-run length (tokens) worth reporting. */
  val MinDupRun = 12L
  /** Deterministic output cap of [[substringDedupOn]]. */
  val SubstringTopK = 50

  /** UNALIGNED exact-substring dedup (the Lee et al. 2021
    * "Deduplicating Training Data Makes Language Models Better"
    * suffix-array case, arXiv 2107.06499, re-expressed relationally):
    * [[chunkDedup]]'s fixed-stride chunks are blind to duplicates
    * offset by < [[ChunkLen]] tokens across documents — here every
    * k-token window at EVERY position is an anchor (stride 1, the
    * distributed stand-in for suffix-array adjacency), rare anchors
    * self-join on the exact gram, and matches extend to MAXIMAL
    * duplicated runs along each (doc_a, doc_b, pa − pb) diagonal via
    * gaps-and-islands (consecutive pa ⇒ common substring of
    * matches + k − 1 tokens). A mid-run anchor over the df cap splits
    * the reported run in two — a deterministic, engine-identical
    * approximation, conservative in the safe direction.
    *
    * Scale shape: anchors ∝ corpus tokens (scan-local explode); ONE
    * map-side-combined gram df aggregate; the self-join is an
    * equi-join on the gram with ≤ cap² pairs per gram BY
    * CONSTRUCTION; the islands window partitions by (pair, diagonal);
    * final output is a TakeOrderedAndProject top-k. At 100 TB the
    * gram key would carry a 64-bit poly hash instead of the string —
    * same plan, smaller shuffle ([[graft.ext.PolyHashExpr]]). */
  def substringDedupOn(docs: DataFrame, k: Int = AnchorTokens,
      dfCap: Long = AnchorDfCap, minRun: Long = MinDupRun,
      topK: Int = SubstringTopK): DataFrame =
    substringRunsOn(docs, k, dfCap, minRun)
      .orderBy(col("run_tokens").desc, col("doc_a"), col("doc_b"),
        col("a_start"), col("b_start"))
      .limit(topK)

  /** ALL maximal cross-document duplicated runs ≥ minRun (the
    * un-limited form [[substringDedupOn]] tops and
    * [[substringLedger]] accounts). */
  def substringRunsOn(docs: DataFrame, k: Int = AnchorTokens,
      dfCap: Long = AnchorDfCap, minRun: Long = MinDupRun): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    // Repartition the slim (doc_id, text) rows BEFORE the stride-1
    // anchor explode: the documents parquet is a single split at test
    // SFs, so the explode + per-anchor poly-hash — the query's whole
    // per-token compute — ran as ONE task (measured 1.07 CPU-s serial
    // out of a 1.9 s wall at sf0.1; r18 StageProbe). Spreading the
    // input first is the amplifiedReviews/docShingles discipline: a
    // many-split production input makes this a near-no-op, and
    // row-multiplying operators must spread their INPUT rather than
    // rely on their output being spread.
    val anchors = docs
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), split(col("text"), "\\s+").as("t"))
      .filter(size(col("t")) >= k)
      // bindOnce: an unbound lambda re-splits the doc once per anchor
      // position — O(n²) per doc (see TextOps.bindOnce)
      .select(col("doc_id"), explode(TextOps.bindOnce(col("t")) { tk =>
        transform(sequence(lit(1), size(tk) - lit(k - 1)),
          j => struct(j.cast("bigint").as("pos"),
            array_join(slice(tk, j, lit(k)), " ").as("g")))
      }).as("a"))
      // the documented gram-key shrink path, now the implementation
      // (round 15): the ~60-byte gram string is hashed to a 62-bit
      // key IN the scan projection (two independent 31-bit poly
      // hashes, both DuckDB-replayable, combined as h31·(2³¹−1)+h131
      // < 2⁶² — a single 31-bit key would give ~6000 expected
      // colliding pairs at 5M anchors; the pair needs ≈ (5e6)²/2 /
      // 4.6e18 ≈ 3e-6 here, and a FALSE RUN additionally needs
      // minRun−k+1 consecutive collisions on one diagonal), so the
      // df aggregate and the self-join shuffle 8-byte longs, never
      // strings. Both engines hash identically, so the oracle compare
      // is exact even in the astronomically-unlikely collision case.
      .select(col("doc_id"), col("a.pos").as("pos"),
        (graft.ext.PolyHashExpr.polyHash(col("a.g"), 31L)
          * 2147483647L +
          graft.ext.PolyHashExpr.polyHash(col("a.g"), 131L)).as("g"))
    // df filter as a COUNT WINDOW over the g-partition rather than a
    // separate aggregate + join: the aggregate branch and the join
    // branch each re-ran the whole 5M-gram explode+hash (their
    // exchanges differ in schema, so ReuseExchange cannot collapse
    // them) — the window form shuffles the anchors ONCE, the df
    // filter runs post-shuffle, and the self-join's two branches
    // share that single exchange (and its hashpartitioning(g), so
    // the join adds no exchange of its own). Measured 2.2 → 1.2 s
    // at sf0.1.
    val wG = W.partitionBy(col("g"))
    val kept = anchors
      .withColumn("df", count(lit(1)).over(wG))
      .filter(col("df") <= dfCap && col("df") >= 2)
      .select(col("doc_id"), col("pos"), col("g"))
    val m = kept.select(col("g"), col("doc_id").as("doc_a"),
        col("pos").as("pa"))
      .join(kept.select(col("g"), col("doc_id").as("doc_b"),
        col("pos").as("pb")), "g")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("pa"), col("pb"),
        (col("pa") - col("pb")).as("diag"))
    val w = W.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pa"))
    m.withColumn("grp", col("pa") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("grp"))
      .agg(min(col("pa")).as("a_start"), min(col("pb")).as("b_start"),
        (count(lit(1)) + lit((k - 1).toLong)).as("run_tokens"))
      .filter(col("run_tokens") >= minRun)
      .select(col("doc_a"), col("doc_b"), col("a_start"),
        col("b_start"), col("run_tokens"))
  }

  private def substringDedupQ(s: SparkSession, d: String): DataFrame =
    substringDedupOn(
      Tables.documents(s, d).select(col("doc_id"), col("text")))

  /** Per-document duplicate-coverage LEDGER over the UNALIGNED runs —
    * the removal-side bookkeeping ([[chunkDedup]]'s ledger at
    * substring granularity): every run covers the half-open token
    * interval [start, start + run) on BOTH participating documents;
    * per document the distinct intervals union via sort-by-start +
    * exclusive running max of the end (touching intervals merge, a
    * gap opens an island), and the ledger reports covered tokens,
    * span count, and coverage ppm — exactly what a corpus rewrite
    * needs to size the cut. Shape: the runs subtree (anchor-bounded)
    * plus per-document windows and one rollup; every window is
    * partitioned by doc_id. */
  private def substringLedger(s: SparkSession, d: String): DataFrame =
    substringLedger0(
      Tables.documents(s, d).select(col("doc_id"), col("text")))

  /** [[substringLedger]] over an arbitrary (doc_id, text) frame —
    * public for the overlap-union spec. */
  def substringLedger0(docs: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val runs = substringRunsOn(docs)
    val iv = runs.select(col("doc_a").as("doc_id"),
        col("a_start").as("st"),
        (col("a_start") + col("run_tokens")).as("en"))
      .unionAll(runs.select(col("doc_b").as("doc_id"),
        col("b_start").as("st"),
        (col("b_start") + col("run_tokens")).as("en")))
      .distinct()
    val w1 = W.partitionBy(col("doc_id")).orderBy(col("st"), col("en"))
    val cov = iv
      .withColumn("pm", max(col("en")).over(
        w1.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("pm").isNull || col("st") > col("pm"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("brk")).over(
        w1.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("st")).as("ist"), max(col("en")).as("ien"))
      .groupBy(col("doc_id"))
      .agg(sum(col("ien") - col("ist")).as("dup_tokens"),
        count(lit(1)).as("n_spans"))
    docs.select(col("doc_id"),
        size(split(col("text"), "\\s+")).cast("long").as("n_tokens"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        expr("coalesce(dup_tokens, 0) * 1000000 div n_tokens")
          .as("dup_ppm"))
  }

  /** Shared chained CTEs producing the maximal-run table `r` (the
    * DuckDB replay of [[substringRunsOn]]), reused by the
    * q_dedup_substring and q_dedup_substring_ledger oracles. */
  private def substringRunCtes: String = s"""
      WITH tk AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t
                  FROM documents),
      an0 AS (SELECT doc_id, u.pos AS pos, u.g AS gs FROM (
               SELECT doc_id,
                      unnest(list_transform(
                        range(1, len(t) - ${AnchorTokens - 2}),
                        j -> struct_pack(pos := CAST(j AS BIGINT),
                          g := array_to_string(
                            t[j:j+${AnchorTokens - 1}], ' ')))) AS u
               FROM tk WHERE len(t) >= $AnchorTokens)),
      an AS (SELECT doc_id, pos,
                    ${graft.scale.TextOps.polyHashSql("gs", 31L)}
                      * 2147483647
                      + ${graft.scale.TextOps.polyHashSql("gs", 131L)}
                      AS g
             FROM an0),
      rare AS (SELECT g FROM an GROUP BY g
               HAVING count(*) <= $AnchorDfCap AND count(*) >= 2),
      kept AS (SELECT an.* FROM an JOIN rare USING (g)),
      m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.pos AS pa, b.pos AS pb, a.pos - b.pos AS diag
            FROM kept a JOIN kept b
              ON a.g = b.g AND a.doc_id < b.doc_id),
      i AS (SELECT doc_a, doc_b, diag, pa, pb,
                   pa - row_number() OVER (PARTITION BY doc_a, doc_b,
                     diag ORDER BY pa) AS grp
            FROM m),
      r AS (SELECT doc_a, doc_b, CAST(min(pa) AS BIGINT) AS a_start,
                   CAST(min(pb) AS BIGINT) AS b_start,
                   CAST(count(*) + ${AnchorTokens - 1} AS BIGINT)
                     AS run_tokens
            FROM i GROUP BY doc_a, doc_b, diag, grp
            HAVING count(*) + ${AnchorTokens - 1} >= $MinDupRun)"""

  val queries: Seq[Q] = Seq(
    Q("q_dedup_substring", substringDedupQ, Some(s"""$substringRunCtes
      SELECT doc_a, doc_b, a_start, b_start, run_tokens
      FROM r
      ORDER BY run_tokens DESC, doc_a ASC, doc_b ASC, a_start ASC,
               b_start ASC
      LIMIT $SubstringTopK"""),
      // headline (round 15, VERDICT r14 #4): the heaviest LLM-tier
      // operator added in r14 (df-capped anchor self-join + islands
      // windows) — an AnchorDfCap or window-plan regression must show
      // up in the bench, as it did for q_chunk_dedup in r13
      headline = true),

    Q("q_dedup_substring_ledger", substringLedger, Some(s"""$substringRunCtes,
      iv AS (SELECT DISTINCT doc_id, st, en FROM (
               SELECT doc_a AS doc_id, a_start AS st,
                      a_start + run_tokens AS en FROM r
               UNION ALL
               SELECT doc_b, b_start, b_start + run_tokens FROM r)),
      pw AS (SELECT doc_id, st, en,
                    max(en) OVER (PARTITION BY doc_id
                                  ORDER BY st, en
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) AS pm
             FROM iv),
      isl AS (SELECT doc_id, st, en,
                     sum(CASE WHEN pm IS NULL OR st > pm THEN 1
                         ELSE 0 END) OVER (PARTITION BY doc_id
                                           ORDER BY st, en) AS island
              FROM pw),
      g AS (SELECT doc_id, island, min(st) AS ist, max(en) AS ien
            FROM isl GROUP BY 1, 2),
      cov AS (SELECT doc_id, CAST(sum(ien - ist) AS BIGINT)
                       AS dup_tokens,
                     CAST(count(*) AS BIGINT) AS n_spans
              FROM g GROUP BY 1),
      nt AS (SELECT doc_id,
                    CAST(len(string_split_regex(text, '\\s+'))
                      AS BIGINT) AS n_tokens
             FROM documents)
      SELECT nt.doc_id, nt.n_tokens,
             CAST(coalesce(cov.dup_tokens, 0) AS BIGINT) AS dup_tokens,
             CAST(coalesce(cov.n_spans, 0) AS BIGINT) AS n_spans,
             CAST(coalesce(cov.dup_tokens, 0) * 1000000 // nt.n_tokens
               AS BIGINT) AS dup_ppm
      FROM nt LEFT JOIN cov USING (doc_id)""")),

    Q("q_chunk_dedup", chunkDedup, headline = true, oracle = Some(s"""
      WITH tk AS (SELECT doc_id,
                         string_split_regex(text, '\\s+') AS toks
                  FROM documents),
      ix AS (SELECT doc_id,
                    unnest(range(0, (len(toks) + ${ChunkLen - 1})
                      // $ChunkLen)) AS idx,
                    toks
             FROM tk),
      ch AS (SELECT doc_id, CAST(idx AS BIGINT) AS idx,
                    array_to_string(toks[idx * $ChunkLen + 1 :
                      idx * $ChunkLen + $ChunkLen], ' ') AS chunk
             FROM ix),
      rk AS (SELECT doc_id, idx, chunk,
                    row_number() OVER (PARTITION BY chunk
                      ORDER BY doc_id ASC, idx ASC) AS rn,
                    count(*) OVER (PARTITION BY chunk) AS n_occ
             FROM ch)
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_chunks,
             CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_in_dup_class
      FROM rk GROUP BY 1""")),

    Q("q_dedup_funnel", dedupFunnel, Some(dedupFunnelOracle)),
    Q("q_dedup_spans", dedupSpansQ, Some(dedupSpansOracle),
      headline = true),
    Q("q_boilerplate_strip", boilerplateQ, Some(boilerplateOracle)),
    Q("q_dedup_exact", exactDedup, Some("""
      SELECT md5(text) AS text_hash, count(*) AS n_copies,
             min(doc_id) AS keep_id
      FROM (SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50) u
      GROUP BY 1 HAVING count(*) > 1""")),
    Q("q_dup_probe", dupProbe, Some("""
      SELECT doc_id, lang, source, count(*) AS cnt
      FROM (SELECT doc_id, lang, source FROM documents
            UNION ALL
            SELECT doc_id, lang, source FROM documents WHERE doc_id < 25) u
      GROUP BY 1, 2, 3 HAVING count(*) > 1""")),
    Q("q_dedup_ngram_jaccard", ngramJaccard, Some(jaccardCappedOracle)),
    Q("q_lsh_scurve", lshScurve, Some(s"""
      WITH $cappedCte,
      base AS (SELECT i.i, s1.sz + s2.sz - i.i AS u
               FROM cand c
               JOIN inter i ON c.d1 = i.d1 AND c.d2 = i.d2
               JOIN sizes s1 ON c.d1 = s1.doc_id
               JOIN sizes s2 ON c.d2 = s2.doc_id),
      fx AS (SELECT i * 1000000 // u AS jac_e6,
                    CAST(i AS HUGEINT) * i * i * i * 1000000
                      // (CAST(u AS HUGEINT) * u * u * u) AS s4
             FROM base),
      c1 AS (SELECT jac_e6, s4, 1000000 - s4 AS q1,
                    s4 * s4 // 1000000 AS s8
             FROM fx),
      c2 AS (SELECT *, q1 * q1 // 1000000 AS q2,
                    1000000 - s8 AS t1 FROM c1),
      c3 AS (SELECT *, q2 * q2 // 1000000 AS q4,
                    t1 * t1 // 1000000 AS t2 FROM c2),
      c4 AS (SELECT *, q4 * q4 // 1000000 AS q8,
                    t2 * t2 // 1000000 AS t4 FROM c3),
      c5 AS (SELECT *, q8 * q8 // 1000000 AS q16,
                    t4 * t4 // 1000000 AS t8 FROM c4),
      c6 AS (SELECT *, q16 * q16 // 1000000 AS q32,
                    t8 * t8 // 1000000 AS t16 FROM c5)
      SELECT CAST(jac_e6 // 100000 AS BIGINT) AS decile,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(jac_e6) // count(*) AS BIGINT) AS avg_jaccard_e6,
             CAST(sum(1000000 - q32) // count(*) AS BIGINT)
               AS recall_b32r4_e6,
             CAST(sum(1000000 - t16) // count(*) AS BIGINT)
               AS recall_b16r8_e6
      FROM c6 GROUP BY 1""")),
    Q("q_cosine_shingle_pairs", cosineShinglePairs,
      Some(cosinePairsOracle)),
    Q("q_dedup_prefix_filter", prefixFilterJaccard,
      Some(prefixFilterOracle)),
    Q("q_dedup_containment", containment, Some(containmentOracle)),
    // Oracled against UNCAPPED exact Jaccard: LSH equality is
    // probabilistic (P(miss | j=0.8) ≈ 5e-8 per pair) and the bucket
    // cap provably cannot bite at gate SF — ScaleSpec asserts the
    // widest band bucket stays far below MaxBucketWidth.
    Q("q_dedup_minhash_lsh", minhashLsh, Some(jaccardOracle),
      headline = true),
    // Same probabilistic-equality argument as q_dedup_minhash_lsh:
    // the oracle is the EXACT cross-set pair list; LSH misses a true
    // τ=0.8 pair with P ≈ 5e-8.
    Q("q_dedup_incremental", incrementalDedup, Some(s"""
      WITH $jaccardPairsCte
      SELECT d1, d2, jaccard FROM pairs
      WHERE d1 < $IncrementalBatchMax AND d2 >= $IncrementalBatchMax""")),
    Q("q_dedup_components", componentsQ, Some(componentsOracle)),
    Q("q_dedup_keep_best", keepBest, Some(keepBestOracle)),
    Q("q_contamination", contamination, Some(contaminationOracle)),
    Q("q_dedup_simhash", simhashQ, Some(simhashOracle)),
    Q("q_dedup_simhash_pairs", simhashPairs, Some(simhashPairsOracle)),
    Q("q_dedup_embed_cosine", embedNearDup, Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings)
      SELECT a.vec_id AS v1, b.vec_id AS v2,
             round(list_dot_product(a.v, b.v), 4) AS cosine
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE list_dot_product(a.v, b.v) >= 0.45"""))
  )
}
