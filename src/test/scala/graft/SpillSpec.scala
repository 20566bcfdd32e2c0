package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Tiered spill demonstration — SURVEY §2A row 26.
  *
  * The reference falls back memory → local disk when a tier fills
  * (celeborn: worker/src/main/scala/org/apache/celeborn/service/deploy/worker/storage/TierWriter.scala:295-299,
  * StorageManager.scala:1078-1177). Spark's executor-side analogue is
  * operator spill: when an in-memory row buffer crosses its threshold the
  * rows move into a disk-backed UnsafeExternalSorter, the operator's
  * `spillSize` SQL metric records the bytes, and the query result must
  * be unchanged.
  *
  * These tests force the window and sort-merge-join buffers to spill by
  * shrinking their thresholds to a few rows, assert the query's
  * [[Metrics]] record shows `spillBytes` > 0, and hash-compare against
  * the unconstrained run — the same differential shape as
  * FaultToleranceSpec. The memory→disk cache tier
  * (persist MEMORY_AND_DISK) is demonstrated last.
  */
class SpillSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Temporarily set SQL confs, restoring the previous values after. */
  private def withConfs[T](pairs: (String, String)*)(body: => T): T = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def canonical(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Window over 3 fat partitions (l_returnflag) — thousands of rows per
    * window buffer, so a 64-row spill threshold forces many spills. */
  private def windowQuery(): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_returnflag")).orderBy(col("l_orderkey"), col("l_linenumber"))
    Tables.t(spark, sf, "lineitem")
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"))
      .withColumn("rn", row_number().over(w))
      .withColumn("run_qty",
        sum(col("l_quantity").cast("decimal(18,2)")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .where(col("rn") % 97 === 0)
  }

  test("window buffer spills to disk under a row threshold; result unchanged") {
    val clean = canonical(windowQuery())
    val (constrained, record) = windowRecord("spill_window") {
      withConfs(
        "spark.sql.windowExec.buffer.in.memory.threshold" -> "32",
        "spark.sql.windowExec.buffer.spill.threshold" -> "64")(canonical(windowQuery()))
    }
    assert(record.spillBytes > 0, "expected window buffer to spill under 64-row threshold")
    assert(constrained == clean, "spilled run differs from in-memory run")
  }

  /** Sort-merge join whose buffered side has multi-row key groups
    * (orders ⋈ lineitem on orderkey: up to 7 matches per key), broadcast
    * disabled so SMJ is the chosen strategy. */
  private def smjQuery(): DataFrame =
    Tables.t(spark, sf, "orders").hint("merge")
      .join(Tables.t(spark, sf, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), Canon.dsum(col("l_quantity")).as("qty"))

  test("sort-merge-join match buffer spills under a row threshold; result unchanged") {
    val clean = canonical(smjQuery())
    val (constrained, record) = windowRecord("spill_smj") {
      withConfs(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold" -> "1",
        "spark.sql.sortMergeJoinExec.buffer.spill.threshold" -> "2")(canonical(smjQuery()))
    }
    assert(record.spillBytes > 0, "expected SMJ match buffer to spill under 2-row threshold")
    assert(constrained == clean, "spilled run differs from in-memory run")
  }

  test("MEMORY_AND_DISK persist: cached tiers serve repeated actions identically") {
    val df = Tables.t(spark, sf, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(Canon.dsum(col("l_quantity")).as("qty"))
    df.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val first = canonical(df)
      val cachedInfo = spark.sparkContext.getRDDStorageInfo
      assert(cachedInfo.exists(i => i.memSize + i.diskSize > 0),
        "expected a cached RDD with bytes in the memory or disk tier")
      assert(canonical(df) == first, "cached re-read differs from first materialization")
    } finally df.unpersist(blocking = true)
  }
}
