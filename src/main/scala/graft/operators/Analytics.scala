package graft.operators

import graft.{QueryDef, Tables, TempDirs}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-2 analytics additions: exact percentiles, pivot, and the
  * explicit salted two-phase aggregation (the hot-key pattern AQE's
  * skew join covers for joins but not for single-key aggregations —
  * same lesson as the reference's skew-partition chunk split,
  * celeborn: client-spark/common/.../CelebornPartitionUtil.java:60-100).
  */
object Analytics {

  /** Q39: exact interpolated percentiles of l_quantity per return flag.
    * l_quantity is integer-valued, so the quarter-fraction interpolation
    * is exact in binary and matches DuckDB's quantile_cont bit-for-bit. */
  private def q39(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.25)").as("p25"),
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.75)").as("p75"),
        expr("percentile(l_quantity, 0.9)").as("p90"))
      .orderBy(col("l_returnflag").asc_nulls_last)

  private val q39Sql =
    """SELECT l_returnflag,
      |  quantile_cont(l_quantity, 0.25) AS p25,
      |  quantile_cont(l_quantity, 0.5) AS p50,
      |  quantile_cont(l_quantity, 0.75) AS p75,
      |  quantile_cont(l_quantity, 0.9) AS p90
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag ASC NULLS LAST""".stripMargin

  /** Q40: pivot — order counts per priority × status. The pivot column
    * values are pinned so the output schema is static (at scale the
    * distinct-value discovery pass is the part to avoid). */
  private def q40(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .count()
      .na.fill(0L)
      .select(col("o_orderpriority"), col("F").as("n_f"),
        col("O").as("n_o"), col("P").as("n_p"))
      .orderBy(col("o_orderpriority").asc_nulls_last)

  private val q40Sql =
    """SELECT o_orderpriority,
      |  COUNT(*) FILTER (o_orderstatus = 'F') AS n_f,
      |  COUNT(*) FILTER (o_orderstatus = 'O') AS n_o,
      |  COUNT(*) FILTER (o_orderstatus = 'P') AS n_p
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY o_orderpriority ASC NULLS LAST""".stripMargin

  /** Q41: salted two-phase aggregation. Phase 1 spreads each group key
    * over 8 salt buckets (a hot key becomes 8 parallel partial states);
    * phase 2 merges the 8 partials per key. The salt is derived from
    * l_orderkey, so it is deterministic and the final merge is exact —
    * the result must equal the plain GROUP BY the oracle runs. */
  private def q41(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "lineitem")
      .withColumn("salt", pmod(col("l_orderkey"), lit(8)))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(count(lit(1)).as("pn"),
        sum(col("l_quantity").cast("decimal(28,2)")).as("pq"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("pn")).cast("long").as("n"),
        sum(col("pq")).cast("double").as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_last)

  private val q41Sql =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag ASC NULLS LAST""".stripMargin

  private def revenue = sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
    .cast(org.apache.spark.sql.types.DecimalType(28, 4))).cast("double")

  /** Q42: TPC-H Q3 (shipping priority, adapted to fixture columns) —
    * the classic 3-way join + filtered aggregate + top-10. Catalyst
    * pushes both date filters and the segment filter into the scans;
    * the top-10 is TakeOrderedAndProject, never a global sort. The
    * filtered customer ⋈ orders composite is the build side: size-only
    * statistics estimate a join's output as the product of its inputs,
    * so unhinted the planner broadcasts the projected lineitem scan
    * instead (582k rows at sf0.1), and AQE never revisits a broadcast.
    * The composite has at most one row per order, so the hint keys on
    * orders' footprint and drops out with it at scale. */
  private def q42(s: SparkSession, dir: String): DataFrame =
    Tables.broadcastIfUnder(s, dir, "orders")(
      Tables.t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
        .join(Tables.t(s, dir, "orders")
          .where(col("o_orderdate") < lit("1995-03-15").cast("timestamp")),
          col("c_custkey") === col("o_custkey")))
      .join(Tables.t(s, dir, "lineitem")
        .where(col("l_shipdate") > lit("1995-03-15").cast("timestamp")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(revenue.as("revenue"))
      .orderBy(col("revenue").desc_nulls_last,
        col("o_orderdate").asc_nulls_last, col("l_orderkey").asc_nulls_last)
      .limit(10)

  private val q42Sql =
    """SELECT l_orderkey, o_orderdate,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |  JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1995-03-15'
      |  AND l_shipdate > TIMESTAMP '1995-03-15'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC NULLS LAST, o_orderdate ASC NULLS LAST,
      |  l_orderkey ASC NULLS LAST
      |LIMIT 10""".stripMargin

  /** Q43: TPC-H Q5 (local-supplier volume, adapted) — 6-way star join
    * with the two small dims broadcast, revenue per nation for 1997.
    * The customer ⋈ orders(1997) composite is the build side lineitem
    * streams through (as q42; unhinted, all of lineitem is broadcast). */
  private def q43(s: SparkSession, dir: String): DataFrame =
    Tables.broadcastIfUnder(s, dir, "orders")(
      Tables.t(s, dir, "customer")
        .join(Tables.t(s, dir, "orders")
          .where(year(col("o_orderdate")) === 1997),
          col("c_custkey") === col("o_custkey")))
      .join(Tables.t(s, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .join(Tables.t(s, dir, "supplier"),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.t(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.t(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey") && col("r_name") === "ASIA")
      .groupBy(col("n_name"))
      .agg(revenue.as("revenue"))
      .orderBy(col("revenue").desc_nulls_last, col("n_name").asc_nulls_last)

  private val q43Sql =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |  JOIN lineitem ON o_orderkey = l_orderkey
      |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA' AND year(o_orderdate) = 1997
      |GROUP BY n_name
      |ORDER BY revenue DESC NULLS LAST, n_name ASC NULLS LAST""".stripMargin

  /** Q44: partitioned sink + partition-pruned read. Documents land as
    * `lang=<v>/part-*.parquet`; the re-read filters one partition, which
    * Catalyst prunes at planning time (PartitionFilters, no data read
    * from the other four) — the layout that makes 100 TB corpora
    * queryable per-language without full scans. */
  private def q44(s: SparkSession, dir: String): DataFrame = {
    val out = TempDirs.createTempDirectory("graft_part_sink")
    Tables.t(s, dir, "documents")
      .write.partitionBy("lang").mode("overwrite").parquet(out)
    s.read.parquet(out)
      .where(col("lang") === "en")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).cast("long").as("total_chars"))
      .orderBy(col("lang").asc_nulls_last)
  }

  private val q44Sql =
    """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM documents WHERE lang = 'en' GROUP BY lang
      |ORDER BY lang ASC NULLS LAST""".stripMargin

  /** Q45: the full ranking/analytic window surface in one query —
    * lead, lag, ntile, percent_rank, cume_dist per customer segment.
    * percent_rank/cume_dist are exact small-integer ratios, so the
    * doubles match the oracle bit-for-bit. */
  private def q45(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").asc_nulls_last, col("c_custkey").asc_nulls_last)
    Tables.t(s, dir, "customer")
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        lag(col("c_custkey"), 1).over(w).as("prev_c"),
        lead(col("c_custkey"), 1).over(w).as("next_c"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
      .orderBy(col("c_mktsegment").asc_nulls_last, col("c_custkey").asc_nulls_last)
  }

  private val q45Sql =
    """SELECT c_mktsegment, c_custkey, c_acctbal,
      |  lag(c_custkey, 1) OVER w AS prev_c,
      |  lead(c_custkey, 1) OVER w AS next_c,
      |  ntile(4) OVER w AS quartile,
      |  percent_rank() OVER w AS pr,
      |  cume_dist() OVER w AS cd
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment
      |  ORDER BY c_acctbal ASC NULLS LAST, c_custkey ASC NULLS LAST)
      |ORDER BY c_mktsegment ASC NULLS LAST, c_custkey ASC NULLS LAST""".stripMargin

  /** Q46: schema-on-read JSON — `from_json` parses `events.props` into a
    * typed struct at scan time (unlike per-path get_json_object, one
    * parse serves every field), then a typed aggregate per event type. */
  private def q46(s: SparkSession, dir: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    Tables.t(s, dir, "events")
      .withColumn("p", from_json(col("props"), schema))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("p.k")).cast("long").as("sum_k"),
        min(col("p.k")).as("min_k"),
        max(col("p.k")).as("max_k"))
      .orderBy(col("event_type").asc_nulls_last)
  }

  private val q46Sql =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
      |  MIN(CAST(props->>'k' AS BIGINT)) AS min_k,
      |  MAX(CAST(props->>'k' AS BIGINT)) AS max_k
      |FROM events GROUP BY event_type
      |ORDER BY event_type ASC NULLS LAST""".stripMargin

  /** Q63: TPC-H Q7 (volume shipping, adapted) — revenue flow between a
    * nation pair in both directions, by supplier nation × customer
    * nation × ship year. Two independent joins to the broadcast nation
    * dim (supplier side and customer side) with the pair predicate as a
    * residual — the fact tables shuffle on their join keys only. */
  private def q63(s: SparkSession, dir: String): DataFrame = {
    val n1 = broadcast(Tables.t(s, dir, "nation"))
      .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
    val n2 = broadcast(Tables.t(s, dir, "nation"))
      .select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))
    Tables.t(s, dir, "lineitem")
      .join(Tables.t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(n1, col("s_nationkey") === col("sk"))
      .join(n2, col("c_nationkey") === col("ck"))
      .where((col("supp_nation") === "NATION_18" && col("cust_nation") === "NATION_19")
        || (col("supp_nation") === "NATION_19" && col("cust_nation") === "NATION_18"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(revenue.as("revenue"))
      .orderBy(col("supp_nation").asc_nulls_last,
        col("cust_nation").asc_nulls_last, col("l_year").asc_nulls_last)
  }

  private val q63Sql =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |  year(l_shipdate) AS l_year,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |WHERE (n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
      |   OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18')
      |GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
      |ORDER BY supp_nation ASC NULLS LAST, cust_nation ASC NULLS LAST,
      |  l_year ASC NULLS LAST""".stripMargin

  /** Q64: TPC-H Q18 (large-volume orders) — the HAVING-subquery shape:
    * orders whose line quantities total past a threshold, joined back
    * for customer detail. The qualifying-key set is computed once
    * (group + having) and semi-joined; quantities accumulate in
    * DECIMAL(28,2) on both engines (order-independent). The qualifying
    * orders ⋈ customer composite is the build side of the join back to
    * lineitem (as q42; unhinted, all of lineitem is broadcast). */
  private def q64(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.t(s, dir, "lineitem")
    val big = l.groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("decimal(28,2)")).as("qty"))
      .where(col("qty") > 300).select(col("l_orderkey").as("bigkey"))
    Tables.broadcastIfUnder(s, dir, "orders")(
      Tables.t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("bigkey"), "left_semi")
        .join(Tables.t(s, dir, "customer"), col("o_custkey") === col("c_custkey")))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"))
      .agg(sum(col("l_quantity").cast("decimal(28,2)")).cast("double").as("total_qty"))
      .orderBy(col("o_totalprice").desc_nulls_last, col("o_orderdate").asc_nulls_last,
        col("o_orderkey").asc_nulls_last)
      .limit(100)
  }

  private val q64Sql =
    """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS total_qty
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |  JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_orderkey IN (
      |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      |  HAVING SUM(CAST(l_quantity AS DECIMAL(28,2))) > 300)
      |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
      |ORDER BY o_totalprice DESC NULLS LAST, o_orderdate ASC NULLS LAST,
      |  o_orderkey ASC NULLS LAST
      |LIMIT 100""".stripMargin

  /** Q94: TPC-H Q21 (suppliers who kept orders waiting) — the
    * multi-level EXISTS / NOT EXISTS shape. The textbook form correlates
    * two subqueries against lineitem per outer row, which decorrelates
    * into a semi-join AND an anti-join, each rescanning lineitem; here
    * it is rewritten Spark-first around ONE orderkey partitioning: after
    * the lineitem⋈orders sort-merge join, the per-(order, supplier)
    * late-flag fold and the per-order supplier/late counts both run
    * exchange-free (HashPartitioning(l_orderkey) satisfies the grouped
    * and windowed distributions), and the EXISTS/NOT-EXISTS pair
    * collapses to `n_supp > 1 AND n_late = 1` — some other supplier
    * shipped in the order, no other supplier was late. "Late" is
    * l_shipdate > o_orderdate + 30 days (the schema carries no
    * receipt/commit dates). Supplier detail joins by broadcast. */
  private def q94(s: SparkSession, dir: String): DataFrame = {
    val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS")
    val perSupp = Tables.t(s, dir, "lineitem")
      .join(Tables.t(s, dir, "orders").where(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(late, 1).otherwise(0)).as("late"))
    val w = Window.partitionBy(col("l_orderkey"))
    val waiting = perSupp
      .withColumn("n_supp", count(lit(1)).over(w))
      .withColumn("n_late", sum(col("late")).over(w))
      .where(col("late") === 1 && col("n_supp") > 1 && col("n_late") === 1)
    waiting
      .join(Tables.broadcastIfUnder(s, dir, "supplier")(
          Tables.t(s, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc_nulls_last, col("s_name").asc_nulls_last)
  }

  private val q94Sql =
    """WITH j AS (
      |  SELECT l_orderkey AS okey, l_suppkey AS skey,
      |    MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY
      |        THEN 1 ELSE 0 END) AS late
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE o_orderstatus = 'F'
      |  GROUP BY 1, 2),
      |f AS (
      |  SELECT skey FROM (
      |    SELECT skey, late,
      |      COUNT(*) OVER (PARTITION BY okey) AS n_supp,
      |      SUM(late) OVER (PARTITION BY okey) AS n_late
      |    FROM j) x
      |  WHERE late = 1 AND n_supp > 1 AND n_late = 1)
      |SELECT s_name, COUNT(*) AS numwait
      |FROM f JOIN supplier ON skey = s_suppkey
      |GROUP BY s_name
      |ORDER BY numwait DESC NULLS LAST, s_name ASC NULLS LAST""".stripMargin

  /** Q119: CUBE over (returnflag, linestatus) — all four grouping-set
    * levels in ONE pass (Spark expands the sets map-side and shares one
    * exchange; a UNION ALL of four GROUP BYs would scan and shuffle 4×).
    * GROUPING() markers disambiguate "NULL because rolled up" from a
    * NULL data value — projected as g_rf/g_ls and leading the ORDER BY
    * so both engines order the levels identically. Completes the q10
    * rollup family (rollup ⊂ cube ⊂ grouping sets). */
  private def q119(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping(col("l_returnflag")).cast("int").as("g_rf"),
        grouping(col("l_linestatus")).cast("int").as("g_ls"),
        count(lit(1)).as("n"),
        graft.Canon.dsum(col("l_quantity")).as("sum_qty"))
      .select(col("l_returnflag"), col("l_linestatus"), col("g_rf"),
        col("g_ls"), col("n"), col("sum_qty"))
      .orderBy(col("g_rf").asc_nulls_last, col("g_ls").asc_nulls_last,
        col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  private val q119Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
      |  CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY g_rf ASC NULLS LAST, g_ls ASC NULLS LAST,
      |  l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q119_cube", q119, Some(q119Sql)),
    QueryDef("q39_percentiles", q39, Some(q39Sql)),
    QueryDef("q40_pivot", q40, Some(q40Sql)),
    QueryDef("q41_salted_agg", q41, Some(q41Sql)),
    QueryDef("q42_tpch_q3", q42, Some(q42Sql)),
    QueryDef("q43_tpch_q5", q43, Some(q43Sql)),
    QueryDef("q44_partitioned_sink", q44, Some(q44Sql)),
    QueryDef("q45_window_funcs", q45, Some(q45Sql)),
    QueryDef("q46_json_struct", q46, Some(q46Sql)),
    QueryDef("q47_subqueries", q47, Some(q47Sql)),
    QueryDef("q63_tpch_q7", q63, Some(q63Sql)),
    QueryDef("q64_tpch_q18", q64, Some(q64Sql)),
    QueryDef("q94_tpch_q21", q94, Some(q94Sql)),
    QueryDef("q99_tpch_q2", q99, Some(q99Sql)),
    QueryDef("q100_notin_naaj", q100, Some(q100Sql)))

  /** Q99: TPC-H Q2's correlation pattern — rows selected by a correlated
    * SCALAR aggregate subquery (Q2 picks the supplier matching each
    * part's MIN supplycost; this schema carries no partsupp, so the
    * shape runs as: the customer(s) holding each nation's MAX account
    * balance). Catalyst decorrelates the scalar subquery into ONE keyed
    * aggregate joined back — not a per-outer-row re-execution — which is
    * the q47 discipline extended from EXISTS to scalar aggregates; the
    * same ANSI text runs on both engines. */
  private def q99(s: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(s, dir)
    s.sql(q99Sql)
  }

  private val q99Sql =
    """SELECT n_name, c_name, c_acctbal
      |FROM customer c JOIN nation ON c.c_nationkey = n_nationkey
      |WHERE c.c_acctbal = (SELECT MAX(c2.c_acctbal) FROM customer c2
      |    WHERE c2.c_nationkey = c.c_nationkey)
      |ORDER BY n_name ASC NULLS LAST, c_name ASC NULLS LAST,
      |  c_acctbal ASC NULLS LAST""".stripMargin

  /** Q100: NOT IN — the null-aware anti join class, distinct from q15's
    * NOT EXISTS anti join: one NULL in the subquery empties the whole
    * result (ternary logic). When the build side is nullable Spark
    * plans the single-column null-aware BroadcastHashJoin (SPARK-32290,
    * asserted in NaajSpec on a nullable frame — not a nested loop); on
    * this fixture Catalyst PROVES o_custkey non-null and legally
    * degrades to the plain anti join — exactly the planning distinction
    * the class exists to test. Both engines return the complement. */
  private def q100(s: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(s, dir)
    s.sql(q100Sql)
  }

  private val q100Sql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE c_custkey NOT IN (
      |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
      |ORDER BY c_custkey ASC NULLS LAST, c_name ASC NULLS LAST""".stripMargin

  /** Q47: the SQL entry path — correlated EXISTS / NOT EXISTS, which
    * Catalyst decorrelates into semi/anti joins (same ANSI text runs on
    * both engines; integer-only predicates keep it float-free). */
  private def q47(s: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(s, dir)
    s.sql(q47Sql)
  }

  private val q47Sql =
    """SELECT n_name, COUNT(*) AS n_cust
      |FROM nation JOIN customer ON c_nationkey = n_nationkey
      |WHERE EXISTS (SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c_custkey AND o.o_totalprice > 100000)
      |  AND NOT EXISTS (SELECT 1 FROM orders o2
      |    WHERE o2.o_custkey = c_custkey AND o2.o_orderstatus = 'F')
      |GROUP BY n_name
      |ORDER BY n_name ASC NULLS LAST""".stripMargin
}
