package graft.tools

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Builds an order-of-magnitude scale replica of a testdata sfDir for
  * perf probing (the "would this plan survive 10× the data" question,
  * answered with a measurement instead of plan reasoning).
  *
  * Each fact table is unioned `factor` times with per-replica key
  * shifts chosen so replicas occupy DISJOINT key spaces while keeping
  * referential integrity intact (orders.o_custkey shifts in lockstep
  * with customer.c_custkey, lineitem with orders/part/supplier, …).
  * That makes every join/group/dedup workload grow linearly in the
  * data — i.e. a correctly-shaped plan should show ≈factor× runtime,
  * and anything quadratic shows up immediately. Text-bearing columns
  * (documents.text, part.p_name) get a per-replica word prefix so
  * shingle/token/entity workloads gain NEW content rather than 10
  * verbatim copies (verbatim copies would collapse under distinct()
  * or explode every LSH bucket — either way not a linear-scale probe).
  * Dimension tables (region, nation) are copied verbatim, as a real
  * 100 TB deployment would: facts grow, dims don't.
  *
  *   sbt "runMain graft.tools.ScaleProbe /root/testdata/sf0.1 target/sfprobe 10"
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val Array(src, out, factorS) = args.take(3)
    val factor = factorS.toInt
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // copies events.parquet as stored, whatever its timestamp encoding
    val spark = graft.GraftSession.create(cpus, src,
      Map("spark.sql.legacy.parquet.nanosAsLong" -> "true"))

    val K = 10000000L  // entity-key stride (cust/supp/part/doc/vec/user)
    val O = 100000000L // event/order-key stride (denser id spaces)

    /** Prefix every word with a replica tag — new shingles/tokens per
      * replica, so similarity workloads see fresh content, not copies. */
    def perturb(c: Column, i: Int): Column =
      if (i == 0) c
      else array_join(transform(split(c, " "), w => concat(lit(s"r$i"), w)), " ")

    def scale(table: String, mods: Map[String, (Column, Int) => Column]): Unit = {
      val df = spark.read.parquet(s"$src/$table.parquet")
      val scaled = (0 until factor).map { i =>
        df.select(df.columns.map { c =>
          mods.get(c).map(f => f(col(c), i).as(c)).getOrElse(col(c))
        }: _*)
      }.reduce(_ unionByName _)
      scaled.write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"[scaleprobe] $table -> ${factor}x")
    }

    def keyShift(stride: Long): (Column, Int) => Column =
      (c, i) => c + lit(stride * i)

    Seq("region", "nation").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scaleprobe] $t -> verbatim (dimension)")
    }
    scale("customer", Map("c_custkey" -> keyShift(K)))
    scale("supplier", Map("s_suppkey" -> keyShift(K)))
    scale("part", Map("p_partkey" -> keyShift(K), "p_name" -> (perturb _)))
    scale("orders", Map("o_orderkey" -> keyShift(O), "o_custkey" -> keyShift(K)))
    scale("lineitem", Map("l_orderkey" -> keyShift(O),
      "l_partkey" -> keyShift(K), "l_suppkey" -> keyShift(K)))
    scale("events", Map("event_id" -> keyShift(O), "user_id" -> keyShift(K)))
    scale("documents", Map("doc_id" -> keyShift(K), "text" -> (perturb _)))
    scale("embeddings", Map("vec_id" -> keyShift(K)))
    spark.stop()
  }
}
