package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-9: concentration profiling — per-group GINI COEFFICIENT of a
  * value distribution (0 = perfectly even, →1 = one member holds
  * everything), the summary a selection/mixing pipeline watches so one
  * source/customer/domain does not silently dominate a mix (q84/q88's
  * diagnostics sibling).
  *
  * Spark-first shape: the exact Gini needs every group fully sorted
  * (the q126 scale-killer shape), so the registry entry computes the
  * GROUPED-DATA (trapezoidal-Lorenz) Gini over a capped histogram:
  * G = 1 − Σ cnt_k·(S_{k−1} + S_k)/(n·S_B) where S is the cumulative
  * ACTUAL bin mass Σx (not a midpoint guess). Round-10 redesign
  * (VERDICT r9 item 1): (a) bin masses are the exact per-bin sums, so
  * a whale's wealth is never smeared to a midpoint, and a bin whose
  * members are (near-)equal contributes exactly; (b) the body bins
  * span [min, p99̂] — the cap from 2-pass
  * [[RobustStats.refinedQuantile]] — with everything above capped into
  * the top bin at its true mass, so a single outlier can no longer
  * stretch the bin width and erase the body's resolution (the old
  * failure: skew-fixture Gini read 0.50 vs exact 0.99; the law in
  * ProfilingOpsSpec now holds within 0.02). Cost: three cap scans
  * (range init + 2 refinement passes, brackets checkpointed per pass —
  * round-11 lineage fix) + one range pass + one binned aggregate = 5
  * scans — all map + bins-sized keyed aggregates, no per-group sort.
  *
  * Determinism/oracle: counts are exact integers, bin masses are
  * exact DECIMAL(38,12) sums (order-independent), the cumulative fold
  * runs over ≤B decimal rows, and cap/bin arithmetic is the shared
  * +−×÷/floor double tree — DuckDB re-derives G exactly. A zero-mass
  * group (all x = 0, permitted by the x ≥ 0 contract) is perfectly
  * even: G = 0 by explicit guard, not NaN. */
object Gini {

  private val B = RobustStats.B

  /** PUBLIC API — per-group capped-histogram Gini of (g, x) rows with
    * x ≥ 0: (g, n, gini), 9-dp rounded.
    *
    * `pairedScale = Some(s)` runs the per-bin mass sums on the
    * paired-longs exact path ([[graft.Canon.psumAggs]]) instead of
    * DECIMAL(38,12) aggregation buffers — bit-identical when every x
    * is an exact multiple of 10^-s with x·10^s < 2^63 (caller-owed
    * bound); the recombined per-bin mass stays DECIMAL through the
    * cumulative fold. Default None keeps the decimal accumulate for
    * arbitrary inputs. */
  def giniSketch(base: DataFrame,
      pairedScale: Option[Int] = None): DataFrame = {
    val cap = RobustStats.refinedQuantile(base, 0.99, passes = 2)
      .select(col("g"), col("q_est").as("cap"))
    val rng = base.groupBy(col("g"))
      .agg(min(col("x")).as("lo"), count(lit(1)).as("nr"))
    val (sxAggs, sx) =
      graft.Canon.exactDecimalSum(col("x"), "sx", "decimal(38,12)", pairedScale)
    val binned = base
      .join(broadcast(rng), Seq("g")).join(broadcast(cap), Seq("g"))
      // B−1 body bins over [lo, cap]; bin B−1 is the open tail [cap, ∞)
      // via the clamp. Degenerate cap ≤ lo (≥99% of mass at the min):
      // bin 0 holds the floor, the tail bin everything above it.
      .withColumn("w", (col("cap") - col("lo")) / lit((B - 1).toDouble))
      .withColumn("bin",
        when(col("w") <= 0.0,
          when(col("x") > col("lo"), lit(B - 1)).otherwise(lit(0)))
          .otherwise(greatest(least(floor((col("x") - col("lo")) / col("w")),
            lit((B - 1).toDouble)), lit(0.0)).cast("int")))
      .groupBy(col("g"), col("bin"))
      .agg(count(lit(1)).as("cnt"),
        // exact, order-independent bin mass (Canon.dsum discipline);
        // kept DECIMAL through the cumulative fold so the running
        // sums are exact in both engines, cast to double only at use
        (min(col("nr")).as("n") +: sxAggs): _*)
      .withColumn("sx", sx)
    val wb = Window.partitionBy(col("g")).orderBy(col("bin").asc_nulls_last)
    val cum = binned
      .withColumn("sv", sum(col("sx")).over(wb).cast("double"))
      .withColumn("sv_before",
        (sum(col("sx")).over(wb) - col("sx")).cast("double"))
    cum.groupBy(col("g"))
      .agg(min(col("n")).as("n"),
        sum((col("cnt").cast("double") * (col("sv_before") + col("sv")))
          .cast("decimal(38,12)")).cast("double").as("num"),
        max(col("sv")).as("stot"))
      .select(col("g"), col("n"),
        round(when(col("stot") === 0.0, lit(0.0))
          .otherwise(lit(1.0) -
            col("num") / (col("n").cast("double") * col("stot"))), 9)
          .as("gini"))
      .orderBy(col("g").asc_nulls_last)
  }

  /** Q151: Gini of per-customer 1997 revenue within each nation — the
    * "does one whale customer own the nation's revenue" audit. */
  private def q151(s: SparkSession, dir: String): DataFrame = {
    // paired-longs bounds: o_totalprice decimal(12,2) < 1e7, so the
    // per-customer Σ(price·100) < 1e9·orders-per-customer — a single
    // long ([[graft.Canon.psum1]]) holds past 10^9 orders per key; the
    // per-bin revenue masses are 2-dp doubles < 2^53 with x·100 < 1e11,
    // Σhi < (1e11/2^30)·rows ≈ 93·rows — safe at any real corpus
    val rev = Tables.t(s, dir, "orders")
      .where(year(col("o_orderdate")) === 1997)
      .groupBy(col("o_custkey"))
      .agg(graft.Canon.psum1(col("o_totalprice"), 2).as("x"))
    val base = rev.join(Tables.t(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("g"), col("x"))
    giniSketch(base, pairedScale = Some(2))
  }

  private val q151Sql = {
    val binSql =
      s"""CASE WHEN (cp.cap - r.lo) / ${B - 1}.0 <= 0
         |      THEN (CASE WHEN b.x > r.lo THEN ${B - 1} ELSE 0 END)
         |      ELSE CAST(GREATEST(LEAST(FLOOR((b.x - r.lo) / ((cp.cap - r.lo) / ${B - 1}.0)), ${B - 1}.0), 0.0) AS INTEGER) END"""
        .stripMargin.replaceAll("\n\\s*", " ")
    s"""WITH base AS (
       |  SELECT n_name AS g, x FROM (
       |    SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS x
       |    FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1997 GROUP BY o_custkey) rev
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey),
       |${RobustStats.refinedQuantileSqlFor("", 0.99, passes = 2)},
       |cp AS (SELECT g, q_est AS cap FROM qr),
       |rng AS (SELECT g, MIN(x) AS lo, COUNT(*) AS nr FROM base GROUP BY g),
       |binned AS (
       |  SELECT b.g, $binSql AS bin, COUNT(*) AS cnt,
       |    SUM(CAST(b.x AS DECIMAL(38,12))) AS sx,
       |    MIN(r.nr) AS n
       |  FROM base b JOIN rng r USING (g) JOIN cp USING (g)
       |  GROUP BY 1, 2),
       |folded AS (
       |  SELECT g, bin, cnt, n,
       |    CAST(SUM(sx) OVER (PARTITION BY g ORDER BY bin ASC) AS DOUBLE) AS sv,
       |    CAST(SUM(sx) OVER (PARTITION BY g ORDER BY bin ASC) - sx AS DOUBLE) AS sv_before
       |  FROM binned)
       |SELECT g, MIN(n) AS n,
       |  ROUND(CASE WHEN MAX(sv) = 0 THEN 0.0
       |    ELSE 1.0 - CAST(SUM(CAST(CAST(cnt AS DOUBLE) * (sv_before + sv)
       |        AS DECIMAL(38,12))) AS DOUBLE)
       |      / (CAST(MIN(n) AS DOUBLE) * MAX(sv)) END, 9) AS gini
       |FROM folded
       |GROUP BY g
       |ORDER BY g ASC NULLS LAST""".stripMargin
  }

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q151_gini", q151, Some(q151Sql)))
}
