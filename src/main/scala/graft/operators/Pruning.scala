package graft.operators

import graft.{Canon, QueryDef, Tables, TempDirs}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dynamic partition pruning (DPP): the runtime analogue of q44's
  * planning-time partition pruning — the partition filter is not known
  * until the dimension side is evaluated, so Catalyst injects a
  * `dynamicpruning` subquery that reuses the dim's broadcast to skip
  * fact partitions at execution time. This is the engine-side mirror of
  * the reference's AQE range reads (worker sorts and serves only the
  * requested slice, celeborn: worker/.../PartitionFilesSorter.java:208-224):
  * in both cases the system reads the subset the runtime proved
  * relevant, not the layout's full extent.
  *
  * At 100 TB this is the difference between scanning 7 years of a
  * date-partitioned fact table and scanning the 2 years a filtered dim
  * actually references — no operator change, just layout + join. The
  * `dynamicpruning` expression in PartitionFilters is plan-asserted in
  * `PruningSpec`.
  */
object Pruning {

  /** The year-partitioned orders layout, built once per (JVM, sf dir). */
  def yearPartitionedOrders(s: SparkSession, dir: String): String =
    TempDirs.layout(dir, "graft_dpp_orders") { out =>
      Tables.t(s, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
        .write.partitionBy("o_year").mode("overwrite").parquet(out)
    }

  /** q77: ship-years of returned lineitems decide which order-year
    * partitions exist at all for the aggregate — the fact side scans
    * only those partitions, proven at runtime by the dim subquery. The
    * dim (one row per calendar year at any scale) is the build side:
    * unhinted, the planner's size estimates broadcast the fact instead
    * (all 150k orders rows at sf0.1), and with no dim broadcast to
    * reuse the final plan drops the pruning filter
    * (`dynamicpruningexpression(true)`). */
  private def q77(s: SparkSession, dir: String): DataFrame = {
    val fact = s.read.parquet(yearPartitionedOrders(s, dir))
    val dim = Tables.t(s, dir, "lineitem")
      .where(col("l_returnflag") === "R")
      .select(year(col("l_shipdate")).as("o_year")).distinct()
    fact.join(broadcast(dim), Seq("o_year"))
      // partition-dir discovery types o_year as INT; the oracle's year()
      // is BIGINT — cast for schema parity
      .groupBy(col("o_year").cast("long").as("o_year"))
      .agg(count(lit(1)).as("n_orders"),
        Canon.dsum(col("o_totalprice"), 2).as("total_price"))
      .orderBy(col("o_year").asc_nulls_last)
  }

  private val q77Sql =
    s"""WITH dim AS (SELECT DISTINCT year(l_shipdate) AS o_year FROM lineitem
       |  WHERE l_returnflag = 'R')
       |SELECT year(o_orderdate) AS o_year, COUNT(*) AS n_orders,
       |  ${Canon.sqlDsum("o_totalprice", 2)} AS total_price
       |FROM orders JOIN dim ON year(o_orderdate) = dim.o_year
       |GROUP BY 1 ORDER BY o_year ASC NULLS LAST""".stripMargin

  /** q80 runtime Bloom-filter join (Catalyst's InjectRuntimeFilter):
    * the ROW-level sibling of q77's partition-level DPP. The selective
    * dim side (urgent orders) builds a `bloom_filter_agg` at execution
    * time and the fact side applies `might_contain(l_orderkey)` BEFORE
    * its shuffle, so non-qualifying lineitem rows never enter the
    * exchange. At 100 TB this is the difference between shuffling the
    * whole fact table and shuffling the ~20% a selective dim actually
    * joins — semantics unchanged (the filter only drops rows the join
    * would drop), which is why the plain-join oracle still matches.
    *
    * The injection rule is size-threshold-driven
    * (`applicationSideScanSizeThreshold` defaults to 10 GB — correct
    * for production, unreachable at test SF), so the demo pins the
    * thresholds on a CLONED session: `newSession()` shares the
    * SparkContext and builder confs but takes runtime conf changes in
    * isolation, so no other query's contracted plan shape can be
    * perturbed. The `merge` hint keeps the join a shuffle join — on a
    * broadcast join the filter would be redundant with the build-side
    * hash table. `might_contain` presence is plan-asserted in
    * PruningSpec, with a filtered-vs-unfiltered differential. */
  private[graft] def q80(s0: SparkSession, dir: String): DataFrame = {
    val s = s0.newSession()
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "64MB")
    // InjectRuntimeFilter only fires on a PROBABLY-shuffle join: at test
    // SF the filtered dim is broadcast-able by size, which vetoes the
    // rule (canBroadcastBySize), so broadcast is disabled here — exactly
    // the 100 TB condition the demo models, where neither side fits
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val o = Tables.t(s, dir, "orders")
      .where(col("o_orderpriority") === "1-URGENT")
    val l = Tables.t(s, dir, "lineitem")
    l.hint("merge").join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        Canon.dsum(col("l_extendedprice"), 2).as("sum_price"))
      .orderBy(col("l_returnflag").asc_nulls_last)
  }

  private val q80Sql =
    s"""SELECT l_returnflag, COUNT(*) AS n_rows,
       |  ${Canon.sqlDsum("l_extendedprice", 2)} AS sum_price
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE o_orderpriority = '1-URGENT'
       |GROUP BY l_returnflag ORDER BY l_returnflag ASC NULLS LAST""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q77_dpp_join", q77, Some(q77Sql)),
    QueryDef("q80_bloom_join", q80, Some(q80Sql)))
}
