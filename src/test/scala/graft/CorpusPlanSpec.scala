package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.scalatest.funsuite.AnyFunSuite

/** Executed-plan shape for the corpus operators added in r4: the scale
  * claims in their doc-comments, held as assertions.
  */
class CorpusPlanSpec extends AnyFunSuite {
  import SparkTestSession._

  private def executed(df: DataFrame): SparkPlan = {
    df.write.format("noop").mode("overwrite").save()
    df.queryExecution.executedPlan
  }

  private def shuffles(p: SparkPlan): Seq[ShuffleExchangeLike] =
    Metrics.planNodes(p).collect { case e: ShuffleExchangeLike => e }

  test("q59 chunking is map-only: the one exchange is the output sort") {
    val plan = executed(SparkEntry.queries("q59_doc_chunks")(spark, sf))
    val ex = shuffles(plan)
    assert(ex.size == 1
      && ex.head.outputPartitioning.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.physical.RangePartitioning])
    assert(!plan.toString.contains("HashAggregate"))
  }

  test("q60 sessionization shuffles the corpus once: both windows and the " +
    "session aggregate reuse the user_id partitioning") {
    val plan = executed(SparkEntry.queries("q60_batch_sessions")(spark, sf))
    val hashEx = shuffles(plan).filter(_.outputPartitioning.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.physical.HashPartitioning])
    assert(hashEx.size == 1, s"expected 1 hash exchange, got:\n$plan")
    assert(hashEx.head.outputPartitioning.toString.contains("user_id"))
    assert(plan.toString.contains("partial_count")) // map-side combine
  }

  test("q61 centroids combine map-side: partial sums cross the wire, not vectors") {
    val plan = executed(SparkEntry.queries("q61_label_centroids")(spark, sf))
    val s = plan.toString
    assert(s.contains("partial_sum"))
    // only label+embedding are read (column pruning through posexplode)
    assert(s.contains("ReadSchema: struct<embedding:array<float>,label:int>"))
  }
}
