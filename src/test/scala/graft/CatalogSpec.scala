package graft

import org.apache.spark.sql.{types, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  val sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession.create(4, sf,
    Map("spark.sql.warehouse.dir" -> "target/spark-warehouse"))
}

/** Smoke + invariant coverage for every catalog entry at sf0.001. */
class CatalogSpec extends AnyFunSuite {
  import SparkTestSession._

  test("catalog names are unique and oracle keys ⊆ query keys") {
    val names = SparkEntry.catalog.map(_.name)
    assert(names.distinct.size === names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  for (q <- SparkEntry.catalog) {
    test(s"${q.name} runs and returns rows") {
      val df = q.run(spark, sf)
      assert(df.count() > 0, s"${q.name} returned 0 rows at sf0.001")
      // The driver's pandas-based oracle harness can only sort/hash
      // SCALAR cells — a top-level array/map/struct column makes the
      // whole query unverifiable (the q_vocab_encode r8 lesson).
      // Nested output must be serialized (array_join / to_json) on
      // both the Spark and oracle sides.
      if (q.oracle.isDefined) {
        val complex = df.schema.fields.collect {
          case f if f.dataType.isInstanceOf[types.ArrayType] ||
            f.dataType.isInstanceOf[types.MapType] ||
            f.dataType.isInstanceOf[types.StructType] => f.name
        }
        assert(complex.isEmpty, s"${q.name} is oracled but emits " +
          s"non-scalar column(s) ${complex.mkString(", ")} — the " +
          "harness cannot hash these; serialize them to strings")
      }
    }
  }

  test("q_topk returns exactly 10 descending totals") {
    val rows = SparkEntry.queries("q_topk")(spark, sf)
      .collect().map(_.getDouble(1))
    assert(rows.length === 10)
    assert(rows.sameElements(rows.sorted(Ordering[Double].reverse)))
  }

  test("q_approx_percentiles within 5% of exact percentiles") {
    val approx = SparkEntry.queries("q_approx_percentiles")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exact = SparkEntry.queries("q_percentiles")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    exact.foreach { case (k, p50) =>
      assert(math.abs(approx(k) - p50) / p50 < 0.05, s"$k")
    }
  }

  test("q_approx_distinct: exact columns match a recompute and the " +
      "within-5% estimate flags hold (the driver-checkable contract)") {
    val r = SparkEntry.queries("q_approx_distinct")(spark, sf).collect()(0)
    val exact = Tables.lineitem(spark, sf)
      .select("l_orderkey").distinct().count()
    assert(r.getAs[Long]("exact_orders") === exact)
    assert(r.getAs[Boolean]("orders_within_5pct"))
    assert(r.getAs[Boolean]("parts_within_5pct"))
  }

  test("filter pushdown reaches the parquet scan") {
    val plan = SparkEntry.queries("q_filter_revenue")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["))
    assert(plan.contains("l_shipdate"), "shipdate filter not pushed")
  }

  test("broadcast join is chosen for dimension sides") {
    val plan = SparkEntry.queries("q_join_broadcast_dims")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }
}

/** Boundary semantics locked from the reference (SURVEY.md §5.2). */
class SemanticsSpec extends AnyFunSuite {
  import SparkTestSession._
  import org.apache.spark.sql.functions._

  test("super-category chain is first-match in keyword order") {
    import spark.implicits._
    val df = Seq(
      ("BURNISHED ECONOMY THING", "polished"), // first keyword wins
      ("PLATED ECONOMY STANDARD", "economy"),
      ("nothing matches here", "other"),
      (null.asInstanceOf[String], "other")
    ).toDF("p_type", "expected")
    val got = df.withColumn("category",
      ops.ScalarQueries.superCategoryCol(col("p_type")))
    assert(got.filter($"category" =!= $"expected").count() === 0)
  }

  test("case-chain boundaries are inclusive like the reference sentiment") {
    import spark.implicits._
    val buckets = Seq(50000.0 -> "low", 50000.01 -> "mid",
      150000.0 -> "mid", 150000.01 -> "high")
    val df = buckets.toDF("o_totalprice", "expected")
      .withColumn("bucket",
        when($"o_totalprice" <= 50000.0, "low")
          .when($"o_totalprice" <= 150000.0, "mid")
          .otherwise("high"))
    assert(df.filter($"bucket" =!= $"expected").count() === 0)
  }

  test("q_cdc_merge: latest change wins and tombstones remove their key") {
    import spark.implicits._
    val out = SparkEntry.queries("q_cdc_merge")(spark, sf).cache()
    // every merge key is accounted for exactly once across all shards
    val keyTotal = out.agg(org.apache.spark.sql.functions.sum($"n_keys"))
      .head().getLong(0)
    val distinctKeys = Tables.orders(spark, sf)
      .select($"o_custkey").distinct().count()
    assert(keyTotal === distinctKeys)
    // independent recomputation of the per-key fate via a groupBy max:
    // the newest seq decides; a final %7==0 change tombstones the key
    val fate = Tables.orders(spark, sf)
      .groupBy($"o_custkey")
      .agg(org.apache.spark.sql.functions.max($"o_orderkey").as("last_seq"))
      .withColumn("dead", $"last_seq" % 7 === 0)
    val wantDead = fate.filter($"dead").count()
    val gotDead = out.agg(org.apache.spark.sql.functions.sum($"n_tombstoned"))
      .head().getLong(0)
    assert(gotDead === wantDead)
    assert(out.filter($"n_alive" + $"n_tombstoned" =!= $"n_keys")
      .count() === 0)
    out.unpersist()
  }
}
