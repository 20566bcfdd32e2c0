package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  val sf: String = "/root/testdata/sf0.001"
  // local[threads, maxFailures]: task retries ON, like a real cluster
  // (FaultToleranceSpec injects first-attempt failures and asserts the
  // retried result is identical)
  lazy val spark: SparkSession = SessionDefaults.session(sf, "local[4,2]", 4)

  /** Runs `body` in the Metrics window `window` and returns its result
    * and the window's record. */
  def windowRecord[T](window: String)(body: => T): (T, Metrics.QueryRecord) = {
    val result = Metrics.measured(spark, window)(body)
    (result, Metrics.take(spark, Seq(window))(window))
  }

  /** Runs `action` in the Metrics window `window` and returns its result
    * and the values its `.observe()` point `point` recorded. */
  def observedIn[T](window: String, point: String)(action: => T): (T, Map[String, Any]) = {
    val (result, record) = windowRecord(window)(action)
    org.scalatest.Assertions.assert(record.observed.contains(point),
      s"observed metric '$point' never reached window '$window' (saw: ${record.observed.keySet})")
    (result, record.observed(point))
  }
}

class RelationalSpec extends AnyFunSuite {
  import SparkTestSession._

  test("entry smoke: flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("registry is well-formed: unique names, every oracle names a query") {
    val names = Registry.all.map(_.name)
    val dups = names.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate registry names: $dups")
    val orphanOracles = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(orphanOracles.isEmpty, s"oracles without queries: $orphanOracles")
  }

  test("mergeSchema read unions generations; evolved column is null only for v1 rows") {
    import org.apache.spark.sql.functions.col
    val base = operators.Evolution.evolvedLayout(spark, sf)
    val df = spark.read.option("mergeSchema", "true").parquet(base)
    assert(df.columns.contains("o_orderstatus"), "evolved column missing from merged schema")
    assert(df.columns.contains("gen"), "generation partition column missing")
    assert(df.where(col("gen") === 1 && col("o_orderstatus").isNotNull).count() == 0,
      "v1 rows must surface the evolved column as NULL")
    assert(df.where(col("gen") === 2 && col("o_orderstatus").isNull).count() == 0,
      "v2 rows must keep their o_orderstatus")
  }

  test("every registered query runs and returns rows at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"$name returned no rows")
    }
  }

  test("registry names are unique and every oracle key is a query") {
    val names = Registry.all.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("q11 approx distinct within 5% of the registered exact twin") {
    val row = SparkEntry.queries("q11_approx_distinct")(spark, sf).collect()(0)
    // the tolerance is anchored to the driver-checked q11_distinct_exact
    // registry row (same columns, DuckDB-replayed), not an ad-hoc count
    val ex = SparkEntry.queries("q11_distinct_exact")(spark, sf).collect()(0)
    Seq(("approx_part", "exact_part"), ("approx_supp", "exact_supp"))
      .foreach { case (a, e) =>
        val approx = row.getAs[Long](a)
        val exact = ex.getAs[Long](e)
        assert(math.abs(approx - exact).toDouble / exact < 0.05,
          s"$a=$approx $e=$exact")
      }
  }

  test("q01 pushes filter and projection into the parquet scan") {
    val plan = SparkEntry.queries("q01_scan_filter")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"),
      s"missing pushdown in:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"projection not pruned in:\n$plan")
  }

  test("q13 plans a broadcast join (no shuffle of the dim side)") {
    val plan = SparkEntry.queries("q13_join_broadcast")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("q20 top-k uses TakeOrderedAndProject, not a global sort") {
    val plan = SparkEntry.queries("q20_topk")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$plan")
  }

  private def hashExchanges(plan: String): Int =
    "Exchange hashpartitioning".r.findAllIn(plan).length

  test("q38 as-of join is a single-shuffle plan") {
    val plan = SparkEntry.queries("q38_asof_join")(spark, sf)
      .queryExecution.executedPlan.toString
    // one hash exchange (user_id for the window); the final ORDER BY is a
    // range exchange. A join-then-max formulation would need 2+.
    assert(hashExchanges(plan) == 1,
      s"expected exactly one hash exchange:\n$plan")
    assert(!plan.contains("Join"), s"as-of must not plan a join:\n$plan")
  }

  test("q42 pushes filters to scans and top-10s without a global sort") {
    val plan = SparkEntry.queries("q42_tpch_q3")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k:\n$plan")
    assert(plan.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"segment filter not pushed:\n$plan")
    assert(plan.contains("LessThan(o_orderdate,"),
      s"date filter not pushed:\n$plan")
  }

  test("q44 prunes partitions at planning time") {
    val plan = SparkEntry.queries("q44_partitioned_sink")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"),
      s"partition filter not applied:\n$plan")
    assert(plan.contains("(lang#") && plan.contains("= en"),
      s"lang=en must prune partitions:\n$plan")
  }

  test("q43 broadcasts the small dims") {
    val plan = SparkEntry.queries("q43_tpch_q5")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2,
      s"nation+region must broadcast:\n$plan")
  }

  test("bucketed tables join with zero exchanges (co-located join)") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.col
    // explicit external paths — the static warehouse conf stays untouched
    val wh = Files.createTempDirectory("graft-wh").toString
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Tables.t(spark, sf, "orders")
        .write.bucketBy(4, "o_custkey").sortBy("o_custkey")
        .option("path", s"$wh/orders_b").mode("overwrite")
        .saveAsTable("orders_b")
      Tables.t(spark, sf, "customer")
        .write.bucketBy(4, "c_custkey").sortBy("c_custkey")
        .option("path", s"$wh/customer_b").mode("overwrite")
        .saveAsTable("customer_b")
      val joined = spark.table("orders_b").join(spark.table("customer_b"),
        col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() ==
        Tables.t(spark, sf, "orders").join(
          Tables.t(spark, sf, "customer"),
          col("o_custkey") === col("c_custkey")).count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("q35 pipeline shuffles narrow rows, never the document text") {
    val plan = SparkEntry.queries("q35_corpus_pipeline")(spark, sf)
      .queryExecution.executedPlan.toString
    // dedup window exchange + final agg exchange only
    assert(hashExchanges(plan) == 2,
      s"expected two hash exchanges (dedup + final agg):\n$plan")
    // the exchanges must carry the md5 hash, not the text column
    val exchangeLines = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).mkString("\n")
    assert(!exchangeLines.contains("text"),
      s"text column must not reach a shuffle:\n$exchangeLines")
  }
}
