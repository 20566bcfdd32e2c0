package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8: the remainder of the TPC-H query suite (Q4, Q6, Q8–Q17,
  * Q19, Q20, Q22), completing all 22 official query shapes alongside
  * the previously-landed Q1/Q2/Q3/Q5/Q7/Q18/Q21. The fixture schema
  * (FIXTURES.md) carries no partsupp table and drops several columns
  * (l_shipmode, l_commitdate/receiptdate, c_phone, p_container,
  * *_comment), so — following the q99 precedent for Q2 — each query
  * keeps the OFFICIAL query's plan-shape class (the thing the suite
  * exists to exercise: semi/anti decorrelation, disjunctive pushdown,
  * correlated scalar aggregates, two-level aggregation, conditional
  * aggregation, top-k) while substituting schema-available predicates.
  * Every adaptation is documented per query.
  *
  * The reference verifies exactly these shapes end-to-end by A/B-ing
  * vanilla vs celeborn-shuffled Spark over groupBy/join/window plans
  * (celeborn: tests/spark-it/.../SparkTestBase.scala:111-150); TPC-H is
  * the canonical superset of those shapes.
  *
  * Oracle-parity disciplines (SURVEY §7): decimal-cast accumulation for
  * every double sum (Canon.dsum rationale), full ORDER BY with explicit
  * null ordering, BIGINT casts where DuckDB and Spark default-widths
  * differ.
  */
object TpchFull {

  private def ts(d: String) = lit(d).cast("timestamp")
  private def revenue =
    sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .cast("decimal(28,4)")).cast("double")

  // ---------------------------------------------------------------- Q4
  /** Q103: TPC-H Q4 (order-priority checking) — the EXISTS-over-facts
    * shape: count orders per priority where SOME lineitem shipped late.
    * Official late predicate l_commitdate < l_receiptdate is schema-gone;
    * the q94 proxy (shipped > 30 days after order date) substitutes.
    * Catalyst decorrelates the EXISTS into one left-semi join keyed on
    * orderkey — at scale one shuffle pair, no per-row re-execution. */
  private def q103(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.t(s, dir, "orders")
      .where(col("o_orderdate") >= ts("1996-01-01") &&
        col("o_orderdate") < ts("1996-04-01"))
    val li = Tables.t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
    orders.join(li,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority").asc_nulls_last)
  }

  private val q103Sql =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1996-04-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority ASC NULLS LAST""".stripMargin

  // ---------------------------------------------------------------- Q6
  /** Q104: TPC-H Q6 (forecasting revenue change) — the pure
    * scan-predicate aggregate: zero joins, zero shuffles past the
    * partial agg; the date/discount/quantity filters all reach the
    * parquet scan. The plan IS the query at any scale. */
  private def q104(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "lineitem")
      .where(col("l_shipdate") >= ts("1996-01-01") &&
        col("l_shipdate") < ts("1997-01-01") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(sum((col("l_extendedprice") * col("l_discount"))
        .cast("decimal(28,4)")).cast("double").as("revenue"))

  private val q104Sql =
    """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(28,4))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07
      |  AND l_quantity < 24""".stripMargin

  // ---------------------------------------------------------------- Q8
  /** Q105: TPC-H Q8 (national market share) — the two-role-dimension
    * shape: nation joins twice (customer side restricts the market,
    * supplier side tags the share numerator), and the share is a
    * conditional-over-total ratio per year. Both nation copies and
    * region broadcast unconditionally (fixed 25/5-row dims at every
    * TPC-H scale); supplier — which GROWS with sf — broadcasts through
    * the size-conditional hint (r16, VERDICT r15: a bare broadcast()
    * is honored at ANY size, so at sf1000 it would ship a GB-scale
    * build to every executor; past the cap the join is left to AQE's
    * measured-size re-plan under Bench's scale-raised threshold). The
    * unhinted part/orders/customer chain is the sf100 melt the
    * threshold scaling exists for: statically-estimated file sizes put
    * filtered part and customer under Bench's scaled static threshold
    * (BHJ — the fact never shuffles for them), while orders exceeds
    * it and keeps the one genuine fact shuffle. p_type = 'ECONOMY'
    * substitutes the official 'ECONOMY ANODIZED STEEL' (fixture p_type
    * is single-word). */
  private def q105(s: SparkSession, dir: String): DataFrame = {
    val supp = Tables.t(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey").as("s_nationkey_src"))
    val custNation = Tables.t(s, dir, "nation")
      .select(col("n_nationkey").as("cn_key"), col("n_regionkey").as("cn_region"))
    val suppNation = Tables.t(s, dir, "nation")
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val volume = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .cast("decimal(28,4)")
    Tables.t(s, dir, "part").where(col("p_type") === "ECONOMY")
      .join(Tables.t(s, dir, "lineitem"), col("p_partkey") === col("l_partkey"))
      // The date filter keeps ~2/7 of orders, and the surviving
      // (orderkey, custkey, orderdate) side builds a ~2.6 GiB relation
      // at sf100 — broadcasting it is what keeps the 600M-row fact
      // from shuffling on orderkey (r16i A/B: 41.4 s hinted-equivalent
      // vs 252.2 s SMJ, the single biggest q105 lever). AQE cannot be
      // trusted to find this on its own at a threshold that is also
      // safe for text-bearing frames (compressed-byte measures
      // under-estimate text 20-40x), so the hint is explicit and
      // size-conditional: past 3 GB of base-table footprint (~sf300)
      // the build would crowd the 8 GiB relation cap and the join
      // belongs back in the shuffle path (where bucketed co-location
      // is the real 100-TB answer, OPTIMIZATION_r17.md).
      .join(Tables.broadcastIfUnder(s, dir, "orders", capBytes = 3L << 30)(
          Tables.t(s, dir, "orders")
            .where(col("o_orderdate") >= ts("1995-01-01") &&
              col("o_orderdate") <= ts("1996-12-31"))),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(custNation), col("c_nationkey") === col("cn_key"))
      .join(broadcast(Tables.t(s, dir, "region").where(col("r_name") === "AMERICA")),
        col("cn_region") === col("r_regionkey"))
      .join(Tables.broadcastIfUnder(s, dir, "supplier")(supp),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(suppNation), col("s_nationkey_src") === col("sn_key"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(round(
        sum(when(col("supp_nation") === "NATION_3", volume)
          .otherwise(lit(0).cast("decimal(28,4)"))).cast("double") /
          sum(volume).cast("double"), 6).as("mkt_share"))
      .orderBy(col("o_year").asc_nulls_last)
  }

  private val q105Sql =
    """SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
      |  ROUND(
      |    CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
      |      THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))
      |      ELSE CAST(0 AS DECIMAL(28,4)) END) AS DOUBLE) /
      |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE),
      |    6) AS mkt_share
      |FROM part
      |  JOIN lineitem ON p_partkey = l_partkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |  JOIN region ON n1.n_regionkey = r_regionkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
      |  AND o_orderdate >= TIMESTAMP '1995-01-01'
      |  AND o_orderdate <= TIMESTAMP '1996-12-31'
      |GROUP BY 1
      |ORDER BY o_year ASC NULLS LAST""".stripMargin

  // ---------------------------------------------------------------- Q9
  /** Q106: TPC-H Q9 (product-type profit) — profit per supplier-nation
    * per year for a part-name family. ps_supplycost is schema-gone; the
    * cost leg substitutes 0.6 × p_retailprice × l_quantity (a fixed
    * margin against the part's list price), keeping the
    * expression-over-4-table-join shape intact. */
  /** Q106's join/aggregate kernel over EXPLICIT inputs, so a bucketed
    * layout (catalog facts bucketed by orderkey) runs the identical
    * computation as the registry entry's plain parquet frames. With the dims
    * broadcast (the SessionDefaults sf100 thresholds), the lineitem ⋈
    * orders sort-merge is the only fact shuffle left; when BOTH facts
    * arrive bucketed by orderkey, broadcast joins preserve lineitem's
    * bucket partitioning through the dim attachments and that SMJ runs
    * exchange-free — the 100 TB answer for a key joined many times per
    * day (the ingest shuffle amortizes across repeats). */
  def q106Kernel(part: DataFrame, lineitem: DataFrame, supplier: DataFrame,
      orders: DataFrame, nation: DataFrame): DataFrame = {
    val profit = (col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
      col("p_retailprice") * col("l_quantity") * lit(0.6)).cast("decimal(28,4)")
    part.where(col("p_name").like("%red%"))
      .join(lineitem, col("p_partkey") === col("l_partkey"))
      .join(supplier, col("l_suppkey") === col("s_suppkey"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(sum(profit).cast("double").as("sum_profit"))
      .orderBy(col("nation").asc_nulls_last, col("o_year").desc_nulls_last)
  }

  private def q106(s: SparkSession, dir: String): DataFrame =
    q106Kernel(Tables.t(s, dir, "part"), Tables.t(s, dir, "lineitem"),
      Tables.t(s, dir, "supplier"), Tables.t(s, dir, "orders"),
      Tables.t(s, dir, "nation"))

  private val q106Sql =
    """SELECT n_name AS nation,
      |  CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
      |    - p_retailprice * l_quantity * 0.6 AS DECIMAL(28,4))) AS DOUBLE) AS sum_profit
      |FROM part
      |  JOIN lineitem ON p_partkey = l_partkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |WHERE p_name LIKE '%red%'
      |GROUP BY 1, 2
      |ORDER BY nation ASC NULLS LAST, o_year DESC NULLS LAST""".stripMargin

  // --------------------------------------------------------------- Q10
  /** Q107: TPC-H Q10 (returned-item reporting) — top-20 customers by
    * returned revenue in a quarter: fact join filtered on the return
    * flag, grouped on the full customer projection, then a bounded
    * TakeOrderedAndProject (never a global sort) delivers the top-k.
    * c_address/phone/comment are schema-gone and dropped from the
    * projection. */
  private def q107(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "customer")
      .join(Tables.t(s, dir, "orders")
          .where(col("o_orderdate") >= ts("1996-01-01") &&
            col("o_orderdate") < ts("1996-04-01")),
        col("c_custkey") === col("o_custkey"))
      .join(Tables.t(s, dir, "lineitem").where(col("l_returnflag") === "R"),
        col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(revenue.as("revenue"))
      .orderBy(col("revenue").desc_nulls_last, col("c_custkey").asc_nulls_last)
      .limit(20)

  private val q107Sql =
    """SELECT c_custkey, c_name, c_acctbal, n_name,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
      |FROM customer
      |  JOIN orders ON c_custkey = o_custkey
      |  JOIN lineitem ON o_orderkey = l_orderkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1996-04-01'
      |  AND l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC NULLS LAST, c_custkey ASC NULLS LAST
      |LIMIT 20""".stripMargin

  // --------------------------------------------------------------- Q11
  /** Q108: TPC-H Q11 (important stock) — the fraction-of-global-total
    * HAVING shape: per-part value filtered against a scalar aggregate
    * of the SAME derived table. partsupp is schema-gone; the
    * part-supplier link and value run over lineitem (extendedprice as
    * the stock-value proxy) restricted to a nation group. The CTE is
    * evaluated once; the scalar total broadcasts back — all comparisons
    * stay in exact decimals, only the output casts to double. Shared
    * ANSI text runs verbatim on both engines. */
  private def q108(s: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(s, dir)
    s.sql(q108Sql)
  }

  private val q108Sql =
    """WITH val AS (
      |  SELECT l_partkey AS partkey,
      |    SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS value_dec
      |  FROM lineitem
      |    JOIN supplier ON l_suppkey = s_suppkey
      |    JOIN nation ON s_nationkey = n_nationkey
      |  WHERE n_name IN ('NATION_3', 'NATION_13', 'NATION_18')
      |  GROUP BY 1)
      |SELECT partkey, CAST(value_dec AS DOUBLE) AS part_value
      |FROM val
      |WHERE value_dec > (SELECT SUM(value_dec) * 0.001 FROM val)
      |ORDER BY part_value DESC NULLS LAST, partkey ASC NULLS LAST""".stripMargin

  // --------------------------------------------------------------- Q12
  /** Q109: TPC-H Q12 (shipping modes / priority) — conditional
    * aggregation over a DERIVED category. l_shipmode and
    * commit/receipt dates are schema-gone; the category becomes the
    * shipping-latency tier (days from order to ship), preserving the
    * CASE-inside-SUM over CASE-derived-group shape. */
  private def q109(s: SparkSession, dir: String): DataFrame = {
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.t(s, dir, "orders")
      .join(Tables.t(s, dir, "lineitem")
          .where(col("l_shipdate") >= ts("1996-01-01") &&
            col("l_shipdate") < ts("1997-01-01")),
        col("o_orderkey") === col("l_orderkey"))
      .withColumn("ship_speed",
        when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"), "SLOW")
          .when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"), "MEDIUM")
          .otherwise("FAST"))
      .groupBy(col("ship_speed"))
      .agg(
        sum(when(hi, 1L).otherwise(0L)).cast("long").as("high_line_count"),
        sum(when(!hi, 1L).otherwise(0L)).cast("long").as("low_line_count"))
      .orderBy(col("ship_speed").asc_nulls_last)
  }

  private val q109Sql =
    """SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN 'SLOW'
      |            WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY THEN 'MEDIUM'
      |            ELSE 'FAST' END AS ship_speed,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-01-01'
      |GROUP BY 1
      |ORDER BY ship_speed ASC NULLS LAST""".stripMargin

  // --------------------------------------------------------------- Q13
  /** Q110: TPC-H Q13 (customer order-count distribution) — the
    * two-level aggregation over an OUTER join: customers with zero
    * orders must survive to the c_count=0 bucket, so the join is
    * left-outer with the order-side predicate INSIDE the join condition
    * (a WHERE would silently turn it inner — the classic Q13 trap).
    * o_comment NOT LIKE is schema-gone; o_orderstatus <> 'P' stands in
    * as the order-side predicate. */
  private def q110(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "customer")
      .join(Tables.t(s, dir, "orders").where(col("o_orderstatus") =!= "P"),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc_nulls_last, col("c_count").desc_nulls_last)

  private val q110Sql =
    """WITH c_orders AS (
      |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderstatus <> 'P'
      |  GROUP BY c_custkey)
      |SELECT c_count, COUNT(*) AS custdist
      |FROM c_orders
      |GROUP BY c_count
      |ORDER BY custdist DESC NULLS LAST, c_count DESC NULLS LAST""".stripMargin

  // --------------------------------------------------------------- Q14
  /** Q111: TPC-H Q14 (promotion effect) — the conditional-share scalar:
    * promo revenue over total revenue for one month. p_type = 'PROMO'
    * is the fixture's literal promo family. Ratio computed double/double
    * from exact decimal sums, rounded to 6 places on both engines. */
  private def q111(s: SparkSession, dir: String): DataFrame = {
    val vol = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .cast("decimal(28,4)")
    Tables.t(s, dir, "lineitem")
      .where(col("l_shipdate") >= ts("1996-09-01") &&
        col("l_shipdate") < ts("1996-10-01"))
      .join(Tables.t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .agg(round(lit(100.0) *
        sum(when(col("p_type") === "PROMO", vol)
          .otherwise(lit(0).cast("decimal(28,4)"))).cast("double") /
        sum(vol).cast("double"), 6).as("promo_revenue"))
  }

  private val q111Sql =
    """SELECT ROUND(100.0 *
      |  CAST(SUM(CASE WHEN p_type = 'PROMO'
      |    THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))
      |    ELSE CAST(0 AS DECIMAL(28,4)) END) AS DOUBLE) /
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE),
      |  6) AS promo_revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1996-09-01'
      |  AND l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin

  // --------------------------------------------------------------- Q15
  /** Q112: TPC-H Q15 (top supplier) — the argmax-over-aggregate shape:
    * quarterly revenue per supplier, then the supplier(s) matching the
    * global MAX. The revenue CTE is referenced twice (once for the
    * scalar MAX, once for the join); comparisons stay in exact decimal.
    * Shared ANSI text runs verbatim on both engines. */
  private def q112(s: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(s, dir)
    s.sql(q112Sql)
  }

  private val q112Sql =
    """WITH rev AS (
      |  SELECT l_suppkey AS suppkey,
      |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS total_rev
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY 1)
      |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
      |FROM supplier JOIN rev ON s_suppkey = suppkey
      |WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
      |ORDER BY s_suppkey ASC NULLS LAST""".stripMargin

  // --------------------------------------------------------------- Q16
  /** Q113: TPC-H Q16 (parts/supplier relationship) — COUNT(DISTINCT)
    * under a NOT IN exclusion. partsupp is schema-gone (link via
    * lineitem); the complaints exclusion becomes s_acctbal < 0.
    * Shared ANSI text: the NOT IN subquery is provably non-null
    * (s_suppkey is the key), so both engines plan a plain anti join. */
  private def q113(s: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(s, dir)
    s.sql(q113Sql)
  }

  private val q113Sql =
    """SELECT p_brand, p_type, p_size,
      |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
      |FROM part JOIN lineitem ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      |  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC NULLS LAST, p_brand ASC NULLS LAST,
      |  p_type ASC NULLS LAST, p_size ASC NULLS LAST""".stripMargin

  // --------------------------------------------------------------- Q17
  /** Q114: TPC-H Q17 (small-quantity-order revenue) — the correlated
    * scalar AVG: lineitems below 20% of their part's average quantity.
    * Catalyst decorrelates into ONE partkey-keyed average joined back
    * (not per-row re-execution) — q99's discipline extended to an
    * inequality. l_quantity is integer-valued, so AVG is exact in
    * double regardless of accumulation order. p_container is
    * schema-gone; the brand filter alone scopes the part family. */
  private def q114(s: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(s, dir)
    s.sql(q114Sql)
  }

  private val q114Sql =
    """SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE)
      |    / 7.0 AS DOUBLE) AS avg_yearly
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand = 'Brand#1'
      |  AND l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
      |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin

  // --------------------------------------------------------------- Q19
  /** Q115: TPC-H Q19 (discounted revenue) — the disjunctive-predicate
    * join: three OR'd brand/size/quantity conjuncts over part⋈lineitem.
    * The scale discipline: Catalyst keeps the equi-join on partkey and
    * evaluates the OR as a post-join filter, but it does NOT derive the
    * per-side superset filters — so they are pushed EXPLICITLY here
    * (brand ∈ {1,2,3} ∧ size ∈ [1,15] on part; quantity ∈ [1,30] on
    * lineitem), each a provable implication of the OR, shrinking both
    * scan outputs before the shuffle. TpchFullSpec proves the rewrite
    * equals the naive form. */
  private def q115(s: SparkSession, dir: String): DataFrame = {
    val part = Tables.t(s, dir, "part")
      .where(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3") &&
        col("p_size") >= 1 && col("p_size") <= 15)
    val li = Tables.t(s, dir, "lineitem")
      .where(col("l_quantity") >= 1 && col("l_quantity") <= 30)
    val arm = (b: String, smax: Int, qlo: Int, qhi: Int) =>
      col("p_brand") === b && col("p_size") <= smax &&
        col("l_quantity") >= qlo && col("l_quantity") <= qhi
    li.join(part, col("l_partkey") === col("p_partkey") &&
        (arm("Brand#1", 5, 1, 11) || arm("Brand#2", 10, 10, 20) ||
          arm("Brand#3", 15, 20, 30)))
      .agg(revenue.as("revenue"))
  }

  private val q115Sql =
    """SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
      |       AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
      |       AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
      |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  // --------------------------------------------------------------- Q20
  /** Q116: TPC-H Q20 (potential part promotion) — the
    * aggregate-threshold semi-join chain: suppliers holding a dominant
    * share (>30%) of some filtered part's annual shipped quantity.
    * ps_availqty is schema-gone; the per-part share threshold runs as a
    * window total over the (part, supplier) aggregate.
    *
    * Spark-first shuffle sharing: the explicit `repartition(partkey)`
    * BEFORE the aggregate makes one exchange serve the whole chain —
    * HashPartitioning(partkey) satisfies the aggregate's
    * ClusteredDistribution(partkey, suppkey) (subset rule) and passes
    * through the aggregate to satisfy the window's
    * partitionBy(partkey) too; the naive SQL form shuffles once on
    * (partkey, suppkey) for the group-by and AGAIN on partkey for the
    * window (TpchFullSpec counts the exchanges). The share comparison
    * stays in exact decimals (0.3 as a decimal literal, never a double
    * multiply). */
  private def q116(s: SparkSession, dir: String): DataFrame = {
    val shipped = Tables.t(s, dir, "lineitem")
      .where(col("l_shipdate") >= ts("1996-01-01") &&
        col("l_shipdate") < ts("1997-01-01"))
      .join(Tables.t(s, dir, "part").where(col("p_name").like("small%"))
          .select(col("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey").as("partkey"), col("l_suppkey").as("suppkey"),
        col("l_quantity").cast("decimal(28,2)").as("q"))
      .repartition(col("partkey"))
      .groupBy(col("partkey"), col("suppkey"))
      .agg(sum(col("q")).as("qty"))
    val w = Window.partitionBy(col("partkey"))
    val dominant = shipped
      .withColumn("part_qty", sum(col("qty")).over(w))
      .where(col("qty") > lit(new java.math.BigDecimal("0.3")) * col("part_qty"))
      .select(col("suppkey")).distinct()
    Tables.t(s, dir, "supplier")
      .join(dominant, col("s_suppkey") === col("suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy(col("s_suppkey").asc_nulls_last)
  }

  private val q116Sql =
    """WITH shipped AS (
      |  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
      |    SUM(CAST(l_quantity AS DECIMAL(28,2))) AS qty
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_name LIKE 'small%'
      |    AND l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1997-01-01'
      |  GROUP BY 1, 2),
      |shares AS (
      |  SELECT suppkey, qty,
      |    SUM(qty) OVER (PARTITION BY partkey) AS part_qty
      |  FROM shipped)
      |SELECT s_suppkey, s_name FROM supplier
      |WHERE s_suppkey IN (SELECT suppkey FROM shares WHERE qty > 0.3 * part_qty)
      |ORDER BY s_suppkey ASC NULLS LAST""".stripMargin

  // --------------------------------------------------------------- Q22
  /** Q117: TPC-H Q22 (global sales opportunity) — anti join plus a
    * scalar-aggregate threshold: rich customers (balance above the
    * positive-balance average of their country group) with no RECENT
    * orders. c_phone is schema-gone; the country-code grouping runs on
    * c_nationkey. The official "no orders at all" predicate is
    * schema-adapted to "no orders since 2001" — on this fixture every
    * customer has orders (150 customers / 1500 orders vs TPC-H's 2/3
    * orderless customers), so dormancy carries the anti-join shape.
    * The average is compared multiplicatively (bal × n > Σbal) so every
    * comparison stays in exact integers/decimals — no double division
    * on the filter path. Shared ANSI text runs verbatim on both
    * engines. */
  private def q117(s: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(s, dir)
    s.sql(q117Sql)
  }

  private val q117Sql =
    """SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(28,2))) AS DOUBLE) AS totacctbal
      |FROM customer
      |WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
      |  AND CAST(c_acctbal AS DECIMAL(28,2)) *
      |      (SELECT COUNT(*) FROM customer
      |       WHERE c_acctbal > 0.0 AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13)) >
      |      (SELECT SUM(CAST(c_acctbal AS DECIMAL(28,2))) FROM customer
      |       WHERE c_acctbal > 0.0 AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13))
      |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |                  AND o_orderdate >= TIMESTAMP '2001-01-01')
      |GROUP BY c_nationkey
      |ORDER BY cntrycode ASC NULLS LAST""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q103_tpch_q4", q103, Some(q103Sql)),
    QueryDef("q104_tpch_q6", q104, Some(q104Sql)),
    QueryDef("q105_tpch_q8", q105, Some(q105Sql)),
    QueryDef("q106_tpch_q9", q106, Some(q106Sql)),
    QueryDef("q107_tpch_q10", q107, Some(q107Sql)),
    QueryDef("q108_tpch_q11", q108, Some(q108Sql)),
    QueryDef("q109_tpch_q12", q109, Some(q109Sql)),
    QueryDef("q110_tpch_q13", q110, Some(q110Sql)),
    QueryDef("q111_tpch_q14", q111, Some(q111Sql)),
    QueryDef("q112_tpch_q15", q112, Some(q112Sql)),
    QueryDef("q113_tpch_q16", q113, Some(q113Sql)),
    QueryDef("q114_tpch_q17", q114, Some(q114Sql)),
    QueryDef("q115_tpch_q19", q115, Some(q115Sql)),
    QueryDef("q116_tpch_q20", q116, Some(q116Sql)),
    QueryDef("q117_tpch_q22", q117, Some(q117Sql)))
}
