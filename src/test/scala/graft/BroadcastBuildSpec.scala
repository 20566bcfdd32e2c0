package graft

import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** Build-side guard: the queries whose unhinted plans broadcast a fact
  * (lineitem, or orders where a smaller filtered side exists) must build
  * their hash tables from the filtered small side. Size-only statistics
  * estimate a join's output as the product of its inputs, so a filtered
  * dimension composite looks larger than a projected fact scan, and AQE
  * never revisits a broadcast it did not plan. Each test runs the query
  * at the fixture scale and reads every broadcast's `numOutputRows` from
  * the final adaptive plan. */
class BroadcastBuildSpec extends AnyFunSuite {
  import SparkTestSession._

  private val Guarded = Seq("q42_tpch_q3", "q43_tpch_q5", "q64_tpch_q18",
    "q77_dpp_join", "q106_tpch_q9", "q107_tpch_q10", "q109_tpch_q12")

  private lazy val lineitemRows = Tables.t(spark, sf, "lineitem").count()

  Guarded.foreach { name =>
    test(s"$name builds every broadcast from under 20% of lineitem's rows") {
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      val built = Metrics.planNodes(df.queryExecution.executedPlan).collect {
        case b: BroadcastExchangeExec => b.metrics("numOutputRows").value
      }
      assert(built.nonEmpty, s"$name plans no broadcast")
      val cap = lineitemRows / 5
      assert(built.forall(_ < cap),
        s"$name broadcasts ${built.mkString(", ")} rows; each build must " +
          s"stay under $cap (20% of lineitem's $lineitemRows)")
    }
  }
}
