package graft

import org.scalatest.funsuite.AnyFunSuite

/** NOT IN ternary-logic semantics (q100): one NULL in the subquery
  * column empties the result entirely — the property that forces the
  * null-aware anti join plan and that a naive anti-join rewrite gets
  * wrong. */
class NaajSpec extends AnyFunSuite {
  import SparkTestSession._

  test("a NULL in the NOT IN subquery empties the result") {
    import spark.implicits._
    Seq(Some(1L), Some(2L), Some(3L)).toDF("k").createOrReplaceTempView("naaj_l")
    Seq(Some(2L), None).toDF("v").createOrReplaceTempView("naaj_r_null")
    Seq(Some(2L)).toDF("v").createOrReplaceTempView("naaj_r")
    val withNull = spark.sql(
      "SELECT k FROM naaj_l WHERE k NOT IN (SELECT v FROM naaj_r_null)")
    assert(withNull.count() == 0,
      "NULL in the subquery must make every NOT IN comparison UNKNOWN")
    val noNull = spark.sql(
      "SELECT k FROM naaj_l WHERE k NOT IN (SELECT v FROM naaj_r)")
    assert(noNull.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
  }

  test("NOT IN over a nullable column plans the null-aware anti join") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    import spark.implicits._
    // nullable SCHEMA (Option-typed) with no actual NULL: the planner
    // must stay null-aware (nullability is a static property), and with
    // a non-empty result AQE can't short-circuit the join away (a build
    // side CONTAINING a null collapses to EmptyRelation at runtime —
    // itself the NAAJ fast path, but then no join node survives to
    // inspect)
    Seq(Some(1L), Some(2L), Some(3L)).toDF("k").createOrReplaceTempView("naaj_l2")
    Seq(Some(2L)).toDF("v").createOrReplaceTempView("naaj_r2")
    val df = spark.sql(
      "SELECT k FROM naaj_l2 WHERE k NOT IN (SELECT v FROM naaj_r2)")
    df.collect()
    val nodes = Metrics.planNodes(df.queryExecution.executedPlan)
    // SPARK-32290: single-column NOT IN over a nullable build side →
    // BroadcastHashJoin LeftAnti with the null-aware flag (a pre-32290
    // planner degenerates to BroadcastNestedLoopJoin)
    val naaj = nodes.collect { case b: BroadcastHashJoinExec => b }
      .exists(_.isNullAwareAntiJoin)
    assert(naaj, "expected isNullAwareAntiJoin=true on the broadcast anti join:\n" +
      df.queryExecution.executedPlan.toString)
    assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "NOT IN degenerated to a nested-loop join")
  }

  test("q100 equals the complement on the null-free fixture") {
    val anti = SparkEntry.queries("q100_notin_naaj")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val all = Tables.t(spark, sf, "customer")
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    val inP = Tables.t(spark, sf, "orders")
      .where("o_orderstatus = 'P'")
      .select("o_custkey").collect().map(_.getLong(0)).toSet
    assert(anti == all.diff(inP))
    assert(inP.nonEmpty, "fixture should have P orders, else the test is vacuous")
  }
}
