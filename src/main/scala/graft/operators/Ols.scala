package graft.operators

import graft.{QueryDef, Tables}
import graft.Canon.{exactSum, sqlXyMoments}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9: grouped ordinary least squares — closed-form simple linear
  * regression per group, the "fit a trend inside every segment" pass a
  * profiling pipeline runs per source/cohort/feature (complement of
  * q132's logistic GD: that is iterative-classifier, this is one-shot
  * analytic).
  *
  * Spark-first shape: ONE aggregation pass — slope/intercept/R² are
  * pure functions of the five moment sums (Σx, Σy, Σx², Σy², Σxy), so
  * the whole fit is a map-side-combinable groupBy; no iteration, no
  * window, no second scan. At 100 TB this is exactly one exchange of
  * six numbers per group.
  *
  * Determinism/oracle: each product is one double multiply (identical
  * IEEE op both engines), accumulated as DECIMAL(38,12) — exact,
  * order-independent sums (the [[graft.Canon]] discipline) — then the
  * closed form is evaluated in doubles on the same expression tree, so
  * DuckDB replays slope/intercept/R² bit-for-bit before the final
  * 9-dp display rounding. */
object Ols {

  /** PUBLIC API — per-group OLS of y on x over (g, x, y) rows:
    * (g, n, slope, intercept, r2), 9-dp rounded.
    *
    * `pairedScales = Some((sx, sy))` switches the five moment sums to
    * the paired-longs exact path (the q164 discipline,
    * [[graft.Canon.psumAggs]]): x and y are each scaled ONCE to the
    * longs x·10^sx / y·10^sy, every square and cross product is pure
    * long arithmetic, and the sums aggregate as paired longs —
    * bit-identical to the decimal accumulate when x (resp. y) is an
    * exact multiple of 10^-sx (resp. 10^-sy) and |y²|·10^2sy < 2^63
    * (the largest term; proven in PairedSumSpec). Row bound: the y²
    * term's Σhi stays in a long up to ~2^63/(max y²·10^2sy/2^30) rows
    * PER GROUP (8.6e9 rows for q147's magnitudes — ≈10 TB of lineitem
    * per return flag). Past that, salt the group (paired-sum per
    * (g, salt), decimal-combine the ≤1024 exact per-salt partials —
    * exactness composes); default None keeps the decimal accumulate
    * for arbitrary inputs. */
  def olsByGroup(base: DataFrame,
      pairedScales: Option[(Int, Int)] = None): DataFrame = {
    val moments = pairedScales match {
      case Some((sx, sy)) =>
        import graft.Canon.{psumAggs, psumDouble, pterm}
        base.select(col("g"),
            pterm(col("x"), sx).as("ux"), pterm(col("y"), sy).as("uy"))
          .groupBy(col("g"))
          .agg(count(lit(1)).cast("double").as("n"),
            psumAggs(col("ux"), "sx") ++ psumAggs(col("uy"), "sy") ++
              psumAggs(col("ux") * col("ux"), "sxx") ++
              psumAggs(col("uy") * col("uy"), "syy") ++
              psumAggs(col("ux") * col("uy"), "sxy"): _*)
          .select(col("g"), col("n"),
            psumDouble("sx", sx).as("sx"), psumDouble("sy", sy).as("sy"),
            psumDouble("sxx", 2 * sx).as("sxx"),
            psumDouble("syy", 2 * sy).as("syy"),
            psumDouble("sxy", sx + sy).as("sxy"))
      case None =>
        base.groupBy(col("g"))
          .agg(count(lit(1)).cast("double").as("n"),
            exactSum(col("x")).as("sx"), exactSum(col("y")).as("sy"),
            exactSum(col("x") * col("x")).as("sxx"),
            exactSum(col("y") * col("y")).as("syy"),
            exactSum(col("x") * col("y")).as("sxy"))
    }
    moments
      .withColumn("dx", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("dy", col("n") * col("syy") - col("sy") * col("sy"))
      .withColumn("cov", col("n") * col("sxy") - col("sx") * col("sy"))
      .select(col("g"), col("n").cast("long").as("n"),
        round(col("cov") / col("dx"), 9).as("slope"),
        round((col("sy") - (col("cov") / col("dx")) * col("sx")) / col("n"), 9)
          .as("intercept"),
        round((col("cov") * col("cov")) / (col("dx") * col("dy")), 9).as("r2"))
      .orderBy(col("g").asc_nulls_last)
  }

  /** Q147: regress net revenue (l_extendedprice·(1−l_discount)) on
    * gross price per return flag. The relation is structural — y =
    * x·(1−d) with d ∈ [0, 0.1] — so the fit is guaranteed by
    * construction, not by a generator accident: slope = the flag's
    * average retained fraction (≈ 1 − mean discount ≈ 0.95), and R²
    * is pinned near 1 because the discount jitter is ≤10% of x.
    * (Round-10 premise repair: the fixture generates l_extendedprice
    * independently of l_quantity — unlike real TPC-H — so the r9
    * price~quantity regression measured noise; VERDICT r9 item 3.) */
  // paired-longs bounds (pairedScales = (2, 4)): x = l_extendedprice is
  // decimal(12,2) (exact at 2 dp ✓); y = x·(1−d) with d decimal(12,2)
  // is exact at 4 dp, and pterm's HALF_UP 4-dp rounding of the double
  // product recovers it exactly (double error ~1e-11 ≪ 5e-5 ✓). The
  // largest term is y²·10^8 < (1.1e5)²·10^8 = 1.21e18 < 2^63 ✓; its
  // per-group Σhi ≈ 1.13e9·rows bounds the group at ~8.6e9 rows (≈10 TB
  // of lineitem per return flag — the salting remedy in the scaladoc
  // covers the decade past that).
  private def q147(s: SparkSession, dir: String): DataFrame =
    olsByGroup(Tables.t(s, dir, "lineitem").select(
      col("l_returnflag").as("g"), col("l_extendedprice").as("x"),
      (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("y")),
      pairedScales = Some((2, 4)))

  private val q147Sql =
    s"""WITH b AS (
      |  SELECT l_returnflag AS g, l_extendedprice AS x,
      |    l_extendedprice * (1.0 - l_discount) AS y
      |  FROM lineitem),
      |m AS (
      |  SELECT g, CAST(COUNT(*) AS DOUBLE) AS n,
      |$sqlXyMoments
      |  FROM b GROUP BY 1),
      |d AS (
      |  SELECT g, n, sx, sy,
      |    n * sxx - sx * sx AS dx, n * syy - sy * sy AS dy,
      |    n * sxy - sx * sy AS cov
      |  FROM m)
      |SELECT g, CAST(n AS BIGINT) AS n,
      |  ROUND(cov / dx, 9) AS slope,
      |  ROUND((sy - (cov / dx) * sx) / n, 9) AS intercept,
      |  ROUND((cov * cov) / (dx * dy), 9) AS r2
      |FROM d
      |ORDER BY g ASC NULLS LAST""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q147_ols_by_group", q147, Some(q147Sql)))
}
