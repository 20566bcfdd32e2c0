package graft.operators

import graft.{Canon, QueryDef, Tables, TempDirs}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed (pre-shuffled) co-located joins — the storage-layout answer
  * to the shuffle the reference exists to serve: if both sides of a
  * repeated equi-join are written bucketed by the join key with the same
  * bucket count, every subsequent join reads co-located buckets and the
  * exchange disappears from the plan entirely
  * (celeborn's analogue is reusing registered shuffle files across reads,
  * e.g. docs/developers/storage.md "reduce partition" layout — here the
  * layout lives in the table format instead of a shuffle service).
  *
  * At 100 TB this is the difference between shuffling the fact table on
  * every join and shuffling it once at ingest: bucket the canonical
  * tables by their join keys and all downstream joins/aggregations on
  * that key are exchange-free. BucketingSpec asserts the plan shape:
  * zero shuffle exchanges in the bucketed join, two in the plain one.
  */
object Bucketing {

  private val BucketCount = 8

  /** One bucketed copy of (orders, customer) per sf dir per JVM.
    * External tables (explicit temp path) so the in-memory catalog owns
    * only metadata and nothing is written into the repo's warehouse dir.
    * Returns (ordersTable, customerTable) catalog names for `dir`. */
  def bucketedTables(s: SparkSession, dir: String): (String, String) = {
    val tag = Integer.toHexString(dir.hashCode).takeWhile(_ != '-')
    val (ot, ct) = (s"graft_orders_b_$tag", s"graft_customer_b_$tag")
    TempDirs.layout(dir, "graft_bucketed") { base =>
      // repartition by the bucket key first => one file per bucket, so
      // the bucketed scan also preserves the sortBy order within buckets
      Tables.t(s, dir, "orders").repartition(BucketCount, col("o_custkey"))
        .write.mode("overwrite")
        .bucketBy(BucketCount, "o_custkey").sortBy("o_custkey")
        .option("path", s"$base/orders").saveAsTable(ot)
      Tables.t(s, dir, "customer").repartition(BucketCount, col("c_custkey"))
        .write.mode("overwrite")
        .bucketBy(BucketCount, "c_custkey").sortBy("c_custkey")
        .option("path", s"$base/customer").saveAsTable(ct)
    }
    (ot, ct)
  }

  /** The co-located join both tables were bucketed for: per-segment
    * order stats. Broadcast suppressed via merge hint so the plan is the
    * bucket-reading SMJ whose exchange-freedom BucketingSpec asserts. */
  def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val (ot, ct) = bucketedTables(s, dir)
    s.table(ot).hint("merge")
      .join(s.table(ct), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        Canon.dsum(col("o_totalprice")).as("sum_price"),
        countDistinct(col("o_custkey")).as("n_custs"))
  }

  private def q50(s: SparkSession, dir: String): DataFrame =
    bucketedJoin(s, dir).orderBy(col("c_mktsegment").asc_nulls_last)

  private val q50Sql =
    s"""SELECT c_mktsegment, COUNT(*) AS n_orders,
       |  ${Canon.sqlDsum("o_totalprice")} AS sum_price,
       |  COUNT(DISTINCT o_custkey) AS n_custs
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_mktsegment
       |ORDER BY c_mktsegment ASC NULLS LAST""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q50_bucketed_join", q50, Some(q50Sql)))
}
