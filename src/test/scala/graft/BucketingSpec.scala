package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape proof for the bucketed co-located join (q50): writing both
  * sides bucketed by the join key removes the shuffle exchanges that the
  * identical un-bucketed join needs. This is the at-scale contract —
  * shuffle the fact table once at ingest, never per query.
  */
class BucketingSpec extends AnyFunSuite {
  import SparkTestSession._

  private def countExchanges(plan: org.apache.spark.sql.execution.SparkPlan): Int =
    Metrics.planNodes(plan).count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])

  test("bucketed join plans zero shuffle exchanges; plain join needs them") {
    val bucketed = operators.Bucketing.bucketedJoin(spark, sf)
    // materialize so AQE finalizes the executed plan before inspection
    bucketed.write.format("noop").mode("overwrite").save()
    val bucketedExchanges = countExchanges(bucketed.queryExecution.executedPlan)

    val plain = Tables.t(spark, sf, "orders").hint("merge")
      .join(Tables.t(spark, sf, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"))
    plain.write.format("noop").mode("overwrite").save()
    val plainExchanges = countExchanges(plain.queryExecution.executedPlan)

    // the bucketed plan still shuffles for the final small groupBy on
    // c_mktsegment, but the JOIN itself reads co-located buckets: the
    // two big pre-join exchanges on the key are gone
    assert(plainExchanges >= bucketedExchanges + 2,
      s"expected >=2 fewer exchanges when bucketed: bucketed=$bucketedExchanges plain=$plainExchanges")
    val planStr = bucketed.queryExecution.executedPlan.toString
    assert(planStr.contains("SelectedBucketsCount") || planStr.contains("Bucketed: true"),
      s"bucketed scan not detected in plan:\n$planStr")
  }

  test("q50 result equals the un-bucketed formulation") {
    val q50 = SparkEntry.queries("q50_bucketed_join")(spark, sf)
    val ref = Tables.t(spark, sf, "orders")
      .join(Tables.t(spark, sf, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        Canon.dsum(col("o_totalprice")).as("sum_price"),
        countDistinct(col("o_custkey")).as("n_custs"))
      .orderBy(col("c_mktsegment").asc_nulls_last)
    assert(q50.collect().toSeq == ref.collect().toSeq,
      "bucketed layout changed the join result")
  }
}
