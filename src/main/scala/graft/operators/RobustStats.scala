package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Robust/approximate statistics for 100 TB profiling.
  *
  * q123 — MERGEABLE quantile sketch in the fixed-bin histogram family:
  * a (min, max, bin-counts) triple is re-aggregatable by construction
  * (counts add; ranges union), so partial sketches combine map-side and
  * across batches/slices exactly like the q90 HLL registers — the
  * "quantiles over a sharded corpus without a global sort" pass.
  * Estimates interpolate inside the winning bin; the error bound is one
  * bin width, asserted against exact order statistics in
  * RobustStatsSpec. Every count is an exact integer and the bin rule /
  * interpolation are the same double expression tree on both engines,
  * so the sketch itself is DuckDB-replayable — the oracle re-derives
  * identical estimates, not just similar ones.
  *
  * q124 / q126 — round-9: the registry entries are the SKETCH-BACKED
  * plans (caps / CDF from the q123 histogram — two tiny keyed
  * aggregates plus map-only passes, parallelism unbounded). The exact
  * order-statistic versions survive as PUBLIC API ([[winsorizeExact]],
  * [[quantileTransformExact]]) and differential twins in
  * RobustStatsSpec: their per-group `row_number`/`percent_rank` windows
  * sort the whole corpus across |groups| tasks, which the r8 sf1 study
  * measured at 3.7×/6.6× cost growth at 10× data — correct at any
  * scale, affordable only at small ones.
  */
object RobustStats {

  private[operators] val B = 256

  // ---------------------------------------------------- shared sketch
  /** Per-group (lo, hi, n) range frame of `base` = (g, x). */
  private def rangeOf(base: DataFrame): DataFrame =
    base.groupBy(col("g"))
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"),
        count(lit(1)).as("n"))

  /** Bin width (0-guarded upstream by binOf's degenerate case). */
  private def widthCol: Column = (col("hi") - col("lo")) / lit(B.toDouble)

  /** Bin of x under a (lo, hi) range: floor((x-lo)/w) capped to B-1;
    * a degenerate group (hi == lo, w = 0) puts all mass in bin 0 —
    * without the guard (x-lo)/w is 0/0 = NaN and floor(NaN) faults
    * under ANSI (both engines). */
  private[operators] def binOf: Column =
    when(col("hi") === col("lo"), lit(0))
      .otherwise(least(floor((col("x") - col("lo")) / widthCol).cast("int"),
        lit(B - 1)))

  private[operators] def binSqlOf(x: String): String =
    s"""CASE WHEN hi = lo THEN 0
       |  ELSE LEAST(CAST(FLOOR(($x - lo) / ((hi - lo) / ${B}.0)) AS INTEGER), ${B - 1})
       |  END""".stripMargin

  /** The cumulative histogram: (g, bin, cnt, cum, cum_before) per
    * non-empty bin, plus the group's (lo, hi, w, n). Two group-keyed
    * exchanges (range, then ≤B rows per group); everything downstream
    * of it is bins-sized. Shared with [[Mad]] (q150) and [[Gini]]
    * (q151), which sketch DERIVED value columns through the same
    * machinery. */
  private[operators] def cumHist(base: DataFrame): DataFrame = {
    val rng = rangeOf(base)
    val binned = base.join(broadcast(rng), Seq("g"))
      .withColumn("bin", binOf)
      .groupBy(col("g"), col("bin")).agg(count(lit(1)).as("cnt"))
    val wc = Window.partitionBy(col("g")).orderBy(col("bin").asc_nulls_last)
    binned
      .withColumn("cum", sum(col("cnt")).over(wc))
      .withColumn("cum_before", col("cum") - col("cnt"))
      .join(broadcast(rng), Seq("g"))
      .withColumn("w", widthCol)
  }

  /** WITH-body for the cumulative histogram over an arbitrary (g, x)
    * base: caller supplies `${p}base`'s SELECT; defines `${p}rng` and
    * `${p}cum`. The `p` prefix lets two sketches (e.g. q150's value
    * pass and deviation pass) chain in one statement. */
  private[operators] def cumHistSqlFor(p: String, baseSelect: String): String = {
    val binSql = binSqlOf("x")
    s"""${p}base AS ($baseSelect),
       |${p}rng AS (SELECT g, MIN(x) AS lo, MAX(x) AS hi, COUNT(*) AS n
       |  FROM ${p}base GROUP BY g),
       |${p}binned AS (
       |  SELECT b.g, $binSql AS bin, COUNT(*) AS cnt
       |  FROM ${p}base b JOIN ${p}rng USING (g) GROUP BY 1, 2),
       |${p}cum AS (
       |  SELECT g, bin, cnt,
       |    SUM(cnt) OVER (PARTITION BY g ORDER BY bin ASC) AS cum,
       |    SUM(cnt) OVER (PARTITION BY g ORDER BY bin ASC) - cnt AS cum_before
       |  FROM ${p}binned)""".stripMargin
  }

  private val cumHistSql = cumHistSqlFor("",
    "SELECT l_returnflag AS g, l_extendedprice AS x FROM lineitem")

  /** Sketch quantile estimates for probabilities `qs`: one row per
    * (g, q) with the interpolated estimate — the q123 formula, shared
    * by the winsorize caps. `cum` must be [[cumHist]]'s output. */
  private[operators] def sketchQuantiles(s: SparkSession, cum: DataFrame,
      qs: Seq[Double]): DataFrame = {
    val hit = cum
      .crossJoin(broadcast(s.range(1).select(
        explode(array(qs.map(lit(_)): _*)).as("q"))))
      .withColumn("t", ceil(col("q") * col("n")).cast("long"))
      .where(col("cum") >= col("t"))
    val pick = Window.partitionBy(col("g"), col("q"))
      .orderBy(col("bin").asc_nulls_last)
    hit.withColumn("rk", row_number().over(pick)).where(col("rk") === 1)
      .select(col("g"), col("q"),
        (col("lo") + col("w") * (col("bin") +
          (col("t") - col("cum_before")).cast("double") / col("cnt")))
          .as("q_est"))
  }

  /** SQL twin of [[sketchQuantiles]]: defines CTE `${p}qhit`
    * (g, q, q_est) given `${p}cum` + `${p}rng`. */
  private[operators] def sketchQuantilesSqlFor(p: String, qs: Seq[Double]): String =
    // ::DOUBLE: a bare 0.05 literal is DECIMAL in DuckDB, and decimal
    // q*n is exact where Spark's double q*n carries 0.05's representation
    // error — CEIL could land on different integers at n ≡ 0 (mod 20)
    s"""${p}qset AS (SELECT unnest([${qs.map(q => s"$q::DOUBLE").mkString(", ")}]) AS q),
       |${p}qhit_all AS (
       |  SELECT c.g, q.q, c.bin, c.cnt, c.cum_before,
       |    rng.lo, (rng.hi - rng.lo) / ${B}.0 AS w,
       |    CAST(CEIL(q.q * rng.n) AS BIGINT) AS t,
       |    ROW_NUMBER() OVER (PARTITION BY c.g, q.q ORDER BY c.bin ASC) AS rk
       |  FROM ${p}cum c JOIN ${p}rng rng USING (g) CROSS JOIN ${p}qset q
       |  WHERE c.cum >= CAST(CEIL(q.q * rng.n) AS BIGINT)),
       |${p}qhit AS (
       |  SELECT g, q, lo + w * (bin + CAST(t - cum_before AS DOUBLE) / cnt) AS q_est
       |  FROM ${p}qhit_all WHERE rk = 1)""".stripMargin

  private def sketchQuantilesSql(qs: Seq[Double]): String =
    sketchQuantilesSqlFor("", qs)

  // ------------------------------------- refined (robust) quantile
  /** OUTLIER-ROBUST quantile by iterative bracket refinement (the
    * round-10 fix for VERDICT r9 item 1: a single [min, max] histogram
    * pass lets one 1e6 outlier stretch the bin width until the median
    * estimate is off by half a bin — ProfilingOpsSpec's planted-outlier
    * law). Pass 1 histograms the full range; each later pass histograms
    * ONLY the members of the previous pass's winning bin (the bin
    * containing the target rank), so the bracket — and the error bound —
    * shrinks by B per pass: |est − exact| ≤ range/B^passes (2e6 range,
    * 3 passes → 0.12). This is the classic distributed
    * selection-in-rounds: each pass is one scan + one ≤B-row keyed
    * aggregate, parallelism never depends on |groups|, and no per-group
    * sort exists anywhere — the 100 TB shape, at the price of
    * `passes + 1` scans of the base (range init + one per pass).
    *
    * `base` is (g, x). With `weight = Some(w)` (round-11) each row
    * carries mass w ≥ 0 — "the median byte price weighted by token
    * count", the statistic a corpus profiler usually wants: counts
    * become weight sums, and the integer rank t = ⌈q·n⌉ becomes the
    * continuous target mass τ = q·W (no ceil: weighted quantiles
    * interpolate in mass, not rank). Same scans, brackets and error
    * bound. With weights all 1 and q·n integral the two are the same
    * estimate, bit for bit (ProfilingOpsSpec).
    *
    * Lineage discipline (round-11 fix, VERDICT r10 item 1): the
    * ≤|groups|-row bracket frame is `localCheckpoint()`ed after the
    * init and after every pass, and the final estimate frame is
    * checkpointed before returning — the same per-round lineage cut
    * q55/q74/q101 use. Without it each pass re-embedded every parent
    * pass's plan inline (`base` appeared ~2^(passes+1) times) and
    * q150's executed plan held 256 parquet scans; with it the plan is
    * exactly the documented passes+1 scans, and callers that join the
    * result repeatedly (q150 joins `med` twice) pay zero re-derivation.
    * Checkpoints are LAZY as of r17 (driver-job diet, the q133/CC
    * pattern): each pass's bracket is materialized by the NEXT pass's
    * own broadcast build instead of a standalone job — measured at the
    * bench SF: q150 39→31 jobs / 4.9→4.4 s, q161 18→14 / 1.7→1.2 s,
    * with lineage still cut at every pass (the checkpoint finalizes
    * inside the consuming job, so no 2^passes re-derivation returns).
    *
    * Determinism/oracle: membership in pass k replays the parent
    * passes' exact bin formula — pure +,−,×,÷, floor on doubles plus
    * integer counts, no transcendentals — so DuckDB re-derives the same
    * brackets, counts, and interpolation bit-for-bit
    * ([[refinedQuantileSqlFor]]). Ranks stay EXACT at every pass
    * (clamping keeps every member counted; only the final within-bin
    * interpolation is approximate). A target rank that falls in a
    * clamped tail bin converges to the bin's nominal edge — the desired
    * robust (winsorized) behavior for cap estimation. The weighted
    * path keeps this contract for INTEGER-VALUED weights (token counts,
    * byte counts, quantities — the real uses): every weight sum is an
    * exact integer in doubles (< 2^53), so sums are order-independent.
    * Fractional weights stay engine-deterministic per plan but lose the
    * cross-engine guarantee — keep oracle-checked paths integral. */
  private[graft] def refinedQuantile(base: DataFrame, q: Double,
      passes: Int = 3, weight: Option[Column] = None): DataFrame = {
    require(passes >= 1 && q > 0.0 && q <= 1.0,
      s"refined quantile needs 0 < q <= 1 and passes >= 1, got q = $q, passes = $passes")
    // a bin's mass, and the name of its per-group total
    val (mass, tot) = weight.fold((count(lit(1)), "n"))(w => (sum(w), "wtot"))
    val wc = Window.partitionBy(col("g")).orderBy(col("bin").asc_nulls_last)
    // bin of x at refinement level k, two-sided clamp (clamp before the
    // int cast: a far outlier's floor() must not overflow the cast)
    def binAt(k: Int): Column =
      when(col(s"w$k") <= 0.0, lit(0)).otherwise(
        greatest(least(floor((col("x") - col(s"lo$k")) / col(s"w$k")),
          lit((B - 1).toDouble)), lit(0.0)).cast("int"))
    // member of pass k = inside the winning bin of EVERY parent pass,
    // replaying each parent's exact bin rule (edge bins keep their
    // clamp semantics: bin 0 ⇔ floor ≤ 0, bin B−1 ⇔ floor ≥ B−1)
    def member(k: Int): Column = (1 until k).map { i =>
      val f = floor((col("x") - col(s"lo$i")) / col(s"w$i"))
      when(col(s"w$i") <= 0.0, lit(true))
        .when(col(s"bin$i") === lit(B - 1), f >= lit((B - 1).toDouble))
        .when(col(s"bin$i") === lit(0), f <= lit(0.0))
        .otherwise(f === col(s"bin$i").cast("double"))
    }.foldLeft(lit(true))(_ && _)

    // bracket state: level-k range (lo_k, w_k), parent winning bins,
    // the group's total mass, the target t, and the mass ranked below
    // the bracket c_lo
    val range = base.groupBy(col("g")).agg(
      min(col("x")).as("lo1"),
      ((max(col("x")) - min(col("x"))) / lit(B.toDouble)).as("w1"),
      mass.as(tot))
    var br: DataFrame = (weight match {
      case None => range
        .withColumn("t", ceil(lit(q) * col("n")).cast("long"))
        .withColumn("c_lo", lit(0L))
      case Some(_) => range
        // a group whose weights sum to zero has no defined weighted
        // quantile (t = 0 selects an empty first bin and the final
        // interpolation divides 0/0) — drop it, matching the
        // drop-undefined contract of the drift operators
        .where(col("wtot") > 0.0)
        .withColumn("t", lit(q) * col("wtot"))
        .withColumn("c_lo", lit(0.0))
    }).localCheckpoint(false)
    for (k <- 1 to passes) {
      // r16 job-count pass: the bracket columns are functionally
      // determined by g, so GROUPING by them alongside (g, bin) leaves
      // the aggregate unchanged and removes the second broadcast join
      // (and its per-pass broadcast-build job) the old plan used to
      // re-attach them after the histogram.
      val brCols = br.columns.filterNot(_ == "g").map(col).toSeq
      val win = base.join(broadcast(br), Seq("g"))
        .where(member(k))
        .withColumn("bin", binAt(k))
        .groupBy(Seq(col("g"), col("bin")) ++ brCols: _*)
        .agg(mass.as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(wc))
        .withColumn("cum_before", col("cum") - col("cnt"))
        .where(col("c_lo") + col("cum") >= col("t"))
        .withColumn("rk", row_number().over(wc))
        .where(col("rk") === 1)
      if (k == passes)
        return win.select(col("g"),
          (col(s"lo$k") + col(s"w$k") * (col("bin").cast("double") +
            (col("t") - col("c_lo") - col("cum_before")).cast("double") /
              col("cnt").cast("double"))).as("q_est"))
          .localCheckpoint(false)
      val carried = (1 until k).flatMap(i =>
        Seq(col(s"lo$i"), col(s"w$i"), col(s"bin$i")))
      br = win.select(Seq(col("g")) ++ carried ++ Seq(
        col(s"lo$k"), col(s"w$k"), col("bin").as(s"bin$k"),
        (col(s"lo$k") + col(s"w$k") * col("bin").cast("double"))
          .as(s"lo${k + 1}"),
        (col(s"w$k") / lit(B.toDouble)).as(s"w${k + 1}"),
        col(tot), col("t"),
        (col("c_lo") + col("cum_before")).as("c_lo")): _*)
        .localCheckpoint(false)
    }
    sys.error("unreachable")
  }

  /** PUBLIC API — weighted outlier-robust quantile of a (g, x, wt)
    * frame, wt ≥ 0: [[refinedQuantile]] weighted by `wt`, (g, q_est)
    * per group whose weights sum above zero. */
  def weightedRefinedQuantile(base: DataFrame, q: Double,
      passes: Int = 3): DataFrame =
    refinedQuantile(base, q, passes, Some(col("wt")))

  /** SQL twin of [[refinedQuantile]]: given a caller-defined CTE
    * `${p}base` = (g, x), plus the weight column when `weight` names
    * one, emits the chained refinement CTEs ending in `${p}qr` =
    * (g, q_est). Same arithmetic trees as the DataFrame path — DuckDB
    * replays every bracket and count exactly. */
  private[operators] def refinedQuantileSqlFor(p: String, q: Double,
      passes: Int = 3, weight: Option[String] = None): String = {
    def binSql(k: Int) =
      s"""CASE WHEN b.w$k <= 0 THEN 0
         |      ELSE CAST(GREATEST(LEAST(FLOOR((x.x - b.lo$k) / b.w$k), ${B - 1}.0), 0.0) AS INTEGER) END"""
        .stripMargin.replaceAll("\n\\s*", " ")
    def memberSql(k: Int): String = (1 until k).map { i =>
      s"""(CASE WHEN b.w$i <= 0 THEN TRUE
         |      WHEN b.bin$i = ${B - 1} THEN FLOOR((x.x - b.lo$i) / b.w$i) >= ${B - 1}.0
         |      WHEN b.bin$i = 0 THEN FLOOR((x.x - b.lo$i) / b.w$i) <= 0.0
         |      ELSE FLOOR((x.x - b.lo$i) / b.w$i) = CAST(b.bin$i AS DOUBLE) END)"""
        .stripMargin.replaceAll("\n\\s*", " ")
    }.foldLeft("TRUE")((a, c) => s"$a AND $c")
    // the mass, total and target columns, and the final within-bin
    // fraction, of the unweighted and weighted paths
    val (tot, mass, rb0Tail, frac) = weight match {
      case None => ("n", "COUNT(*)",
        s"""COUNT(*) AS n,
           |    CAST(CEIL($q::DOUBLE * COUNT(*)) AS BIGINT) AS t,
           |    CAST(0 AS BIGINT) AS c_lo
           |  FROM ${p}base GROUP BY g)""",
        "CAST(t - c_lo - cum_before AS DOUBLE) / CAST(cnt AS DOUBLE)")
      case Some(w) => ("wtot", s"SUM(x.$w)",
        s"""SUM($w) AS wtot,
           |    $q::DOUBLE * SUM($w) AS t,
           |    0.0::DOUBLE AS c_lo
           |  FROM ${p}base GROUP BY g
           |  HAVING SUM($w) > 0)""",
        "(t - c_lo - cum_before) / cnt")
    }
    val init =
      s"""${p}rb0 AS (
         |  SELECT g, MIN(x) AS lo1, (MAX(x) - MIN(x)) / ${B}.0 AS w1,
         |    $rb0Tail""".stripMargin
    val chain = (1 to passes).map { k =>
      val counts =
        s"""${p}rc$k AS (
           |  SELECT b.g, ${binSql(k)} AS bin, $mass AS cnt
           |  FROM ${p}base x JOIN ${p}rb${k - 1} b USING (g)
           |  WHERE ${memberSql(k)}
           |  GROUP BY 1, 2),
           |${p}rs$k AS (
           |  SELECT g, bin, cnt,
           |    SUM(cnt) OVER (PARTITION BY g ORDER BY bin ASC) AS cum,
           |    SUM(cnt) OVER (PARTITION BY g ORDER BY bin ASC) - cnt AS cum_before
           |  FROM ${p}rc$k),
           |${p}rw$k AS (
           |  SELECT b.*, s.bin, s.cnt, s.cum_before
           |  FROM ${p}rs$k s JOIN ${p}rb${k - 1} b USING (g)
           |  WHERE b.c_lo + s.cum >= b.t
           |  QUALIFY ROW_NUMBER() OVER (PARTITION BY b.g ORDER BY s.bin ASC) = 1)""".stripMargin
      if (k == passes) counts
      else {
        val carried = (1 until k)
          .flatMap(i => Seq(s"lo$i", s"w$i", s"bin$i"))
        val cols = (Seq("g") ++ carried ++ Seq(
          s"lo$k", s"w$k", s"bin AS bin$k",
          s"lo$k + w$k * CAST(bin AS DOUBLE) AS lo${k + 1}",
          s"w$k / ${B}.0 AS w${k + 1}",
          tot, "t", "c_lo + cum_before AS c_lo")).mkString(", ")
        s"""$counts,
           |${p}rb$k AS (SELECT $cols FROM ${p}rw$k)""".stripMargin
      }
    }.mkString(",\n")
    val fin =
      s"""${p}qr AS (
         |  SELECT g, lo$passes + w$passes * (CAST(bin AS DOUBLE)
         |    + $frac) AS q_est
         |  FROM ${p}rw$passes)""".stripMargin
    s"$init,\n$chain,\n$fin"
  }

  // ------------------------------------------------------------- q161
  /** Q161: QUANTITY-WEIGHTED robust median of l_extendedprice per
    * return flag — "the median unit's price", where each lineitem row
    * counts once per unit it ships. Integer weights keep the whole
    * chain bit-exact across engines (see [[refinedQuantile]]'s
    * determinism contract). */
  private def q161(s: SparkSession, dir: String): DataFrame =
    weightedRefinedQuantile(
      (Tables.t(s, dir, "lineitem")
        .select(col("l_returnflag").as("g"), col("l_extendedprice").as("x"),
          col("l_quantity").as("wt"))), 0.5)
      .select(col("g"), round(col("q_est"), 6).as("wmedian"))
      .orderBy(col("g").asc_nulls_last)

  private val q161Sql =
    s"""WITH base AS (
       |  SELECT l_returnflag AS g, l_extendedprice AS x, l_quantity AS wt
       |  FROM lineitem),
       |${refinedQuantileSqlFor("", 0.5, weight = Some("wt"))}
       |SELECT g, ROUND(q_est, 6) AS wmedian
       |FROM qr
       |ORDER BY g ASC NULLS LAST""".stripMargin

  // ------------------------------------------------------------- q123
  /** Q123: histogram-sketch quantiles (p50/p90/p99) of l_extendedprice
    * per return flag. Two group-keyed passes (range, then counts) and a
    * bins-sized frame thereafter. */
  private def q123(s: SparkSession, dir: String): DataFrame = {
    val base = (
      Tables.t(s, dir, "lineitem")
        .select(col("l_returnflag").as("g"), col("l_extendedprice").as("x")))
    sketchQuantiles(s, cumHist(base), Seq(0.5, 0.9, 0.99))
      .select(col("g"), col("q"), round(col("q_est"), 6).as("q_est"))
      .orderBy(col("g").asc_nulls_last, col("q").asc_nulls_last)
  }

  private val q123Sql =
    s"""WITH $cumHistSql,
       |${sketchQuantilesSql(Seq(0.5, 0.9, 0.99))}
       |SELECT g, q, ROUND(q_est, 6) AS q_est
       |FROM qhit
       |ORDER BY g ASC NULLS LAST, q ASC NULLS LAST""".stripMargin

  // ------------------------------------------------------------- q124
  /** PUBLIC API — EXACT winsorize thresholds by order statistics (the
    * rank-⌈0.05n⌉ / rank-⌈0.95n⌉ elements): per-group (p_lo, p_hi).
    * Correct at any scale but the per-group `row_number` sorts the
    * whole frame across |groups| tasks — use for small group counts ×
    * big groups only as an audit; the q124 registry default derives the
    * caps from the mergeable histogram sketch instead. Differential
    * twin in RobustStatsSpec. */
  def winsorizeExact(base: DataFrame): DataFrame = {
    val n = Window.partitionBy(col("g"))
    base
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("g")).orderBy(col("x").asc_nulls_last)))
      .withColumn("n", count(lit(1)).over(n))
      .where(col("rn") === greatest(lit(1L), ceil(col("n") * 0.05).cast("long")) ||
        col("rn") === ceil(col("n") * 0.95).cast("long"))
      .groupBy(col("g"))
      .agg(min(col("x")).as("p_lo"), max(col("x")).as("p_hi"))
  }

  /** Q124: winsorized aggregate of l_extendedprice per return flag —
    * caps at the SKETCH p05/p95 estimates (within one bin width of the
    * exact order statistics — asserted vs [[winsorizeExact]] in
    * RobustStatsSpec), the capped decimal sum, and the per-tail clamp
    * counts. Scale shape: two bins-sized keyed aggregates + one
    * broadcast-join map pass — no per-group corpus sort anywhere. */
  /** PUBLIC API — sketch winsorize caps: per-group (p_lo, p_hi) as the
    * histogram-interpolated p05/p95 (within one bin width of
    * [[winsorizeExact]]'s order statistics — RobustStatsSpec). */
  def winsorizeSketchCaps(s: SparkSession, base: DataFrame): DataFrame =
    sketchQuantiles(s, cumHist(base), Seq(0.05, 0.95))
      .groupBy(col("g"))
      .agg(min(when(col("q") === 0.05, col("q_est"))).as("p_lo"),
        min(when(col("q") === 0.95, col("q_est"))).as("p_hi"))

  private def q124(s: SparkSession, dir: String): DataFrame = {
    val base = (
      Tables.t(s, dir, "lineitem")
        .select(col("l_returnflag").as("g"), col("l_extendedprice").as("x")))
    base.join(broadcast(winsorizeSketchCaps(s, base)), Seq("g"))
      .withColumn("capped",
        when(col("x") < col("p_lo"), col("p_lo"))
          .when(col("x") > col("p_hi"), col("p_hi"))
          .otherwise(col("x")))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("capped").cast("decimal(28,6)")).cast("double"), 4)
          .as("wsum"),
        sum(when(col("x") < col("p_lo"), 1L).otherwise(0L)).cast("long").as("n_lo"),
        sum(when(col("x") > col("p_hi"), 1L).otherwise(0L)).cast("long").as("n_hi"))
      .orderBy(col("g").asc_nulls_last)
  }

  private val q124Sql =
    s"""WITH $cumHistSql,
       |${sketchQuantilesSql(Seq(0.05, 0.95))},
       |caps AS (
       |  SELECT g, MIN(CASE WHEN q = 0.05::DOUBLE THEN q_est END) AS p_lo,
       |    MIN(CASE WHEN q = 0.95::DOUBLE THEN q_est END) AS p_hi
       |  FROM qhit GROUP BY g)
       |SELECT b.g, COUNT(*) AS n,
       |  ROUND(CAST(SUM(CAST(CASE WHEN x < p_lo THEN p_lo
       |                     WHEN x > p_hi THEN p_hi
       |                     ELSE x END AS DECIMAL(28,6))) AS DOUBLE), 4) AS wsum,
       |  CAST(SUM(CASE WHEN x < p_lo THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
       |  CAST(SUM(CASE WHEN x > p_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_hi
       |FROM base b JOIN caps USING (g)
       |GROUP BY b.g
       |ORDER BY g ASC NULLS LAST""".stripMargin

  // ------------------------------------------------------------- q126
  /** PUBLIC API — EXACT quantile (rank) transform: x → percent_rank(x)
    * per group (sklearn's QuantileTransformer). The defining full-sort
    * semantics; parallelism capped at |groups| — audit/differential
    * use only (see q126's sketch default). */
  def quantileTransformExact(base: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("g")).orderBy(col("x").asc_nulls_last)
    base.withColumn("pr", percent_rank().over(w))
  }

  /** `rows` (carrying their group's lo, hi, w and n) in their [[binOf]]
    * bin with the sketch-CDF rank pr = (cum_before + cnt·frac) / n from
    * `hist`'s (g, bin, cnt, cum_before), frac being the row's linear
    * position inside its bin (1 in a degenerate hi = lo group). */
  private def sketchCdf(rows: DataFrame, hist: DataFrame): DataFrame =
    rows.withColumn("bin", binOf)
      .join(broadcast(hist.select(col("g"), col("bin"), col("cnt"),
        col("cum_before"))), Seq("g", "bin"))
      .withColumn("frac",
        when(col("hi") === col("lo"), lit(1.0))
          .otherwise(least(
            (col("x") - col("lo")) / col("w") - col("bin").cast("double"),
            lit(1.0))))
      .withColumn("pr",
        (col("cum_before").cast("double") +
          col("cnt").cast("double") * col("frac")) / col("n").cast("double"))

  /** PUBLIC API — sketch-CDF quantile transform: x → F̂(x) from the
    * mergeable histogram (cum_before + within-bin linear mass) — a
    * map-only pass after two bins-sized aggregates, the 100 TB shape.
    * |F̂(x) − percent_rank(x)| is bounded by the winning bin's mass
    * fraction (asserted in RobustStatsSpec). Degenerate group (hi ==
    * lo): all mass lands in bin 0 with frac 1 → F̂ = 1 for every row. */
  def quantileTransformSketch(s: SparkSession, base: DataFrame): DataFrame = {
    // checkpointed: the g-level and (g,bin)-level broadcasts below are
    // DIFFERENT projections, so exchange reuse cannot dedupe them — an
    // uncheckpointed hist would re-derive the two-scan cumHist lineage
    // once per broadcast (r11, VERDICT r10 item 4). Eager, as in
    // [[profile]]: a lazy checkpoint read by two broadcasts is computed
    // by both of their jobs when AQE runs them concurrently.
    val hist = cumHist(base)
      .select(col("g"), col("bin"), col("cnt"), col("cum_before"),
        col("lo"), col("hi"), col("w"), col("n"))
      .localCheckpoint()
    sketchCdf(base.join(broadcast(hist.select(col("g"), col("lo"), col("hi"),
        col("w"), col("n")).distinct()), Seq("g")), hist)
  }

  /** Q126: quantile transform — the SKETCH-CDF default: x → F̂(x), then
    * the per-group decile histogram of the transformed values as the
    * scale-independent verification output (a correct transform puts
    * ≈10% of each group in every decile; the deviation is the sketch
    * error, itself deterministic and oracle-replayed exactly). */
  private def q126(s: SparkSession, dir: String): DataFrame = {
    val base = (
      Tables.t(s, dir, "lineitem")
        .select(col("l_returnflag").as("g"), col("l_extendedprice").as("x")))
    quantileTransformSketch(s, base)
      .withColumn("decile",
        least(floor(col("pr") * 10).cast("int"), lit(9)))
      .groupBy(col("g"), col("decile"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("g").asc_nulls_last, col("decile").asc_nulls_last)
  }

  private val q126Sql =
    s"""WITH $cumHistSql,
       |pr AS (
       |  SELECT b.g,
       |    (CAST(c.cum_before AS DOUBLE) + CAST(c.cnt AS DOUBLE) *
       |      (CASE WHEN rng.hi = rng.lo THEN 1.0
       |            ELSE LEAST((b.x - rng.lo) / ((rng.hi - rng.lo) / ${B}.0)
       |                         - CAST(${binSqlOf("b.x")} AS DOUBLE), 1.0)
       |            END)) / CAST(rng.n AS DOUBLE) AS pr
       |  FROM base b
       |    JOIN rng USING (g)
       |    JOIN cum c ON c.g = b.g AND c.bin = ${binSqlOf("b.x")})
       |SELECT g, LEAST(CAST(FLOOR(pr * 10) AS INTEGER), 9) AS decile,
       |  COUNT(*) AS n
       |FROM pr
       |GROUP BY 1, 2
       |ORDER BY g ASC NULLS LAST, decile ASC NULLS LAST""".stripMargin

  // ------------------------------------------------------------- q152
  /** PUBLIC API — the UNIFIED robust profile (round-11, VERDICT r10
    * item 6): q123/q124/q126/q150/q151 each rescanned the corpus to
    * build the same per-group histogram; a real 100 TB profiler
    * computes ALL the statistics from one shared sketch. Three corpus
    * scans total, each checkpointed so nothing ever re-derives:
    *   scan 1  per-group range (lo, hi, n);
    *   scan 2  the (bin, cnt, Σx) histogram — ≤B·|groups| rows;
    *           quantiles (p50/p90/p99), winsorize caps (p05/p95) and
    *           the Lorenz/Gini fold all derive from it without
    *           touching the corpus again;
    *   scan 3  ONE combined row pass aggregated on (g, decile,
    *           dev-bin): sketch-CDF decile occupancy (q126's law), the
    *           |x − p50| deviation histogram (→ MAD + outlier-mass
    *           estimate), and the winsorized sum / clamp counts.
    * Everything downstream of the scans is ≤10·B rows per group; no
    * per-group sort, no collect, parallelism never depends on
    * |groups|.
    *
    * Precision contract (all deterministic, DuckDB-replayed exactly):
    * quantiles/caps within one bin width (q123's bound); MAD within
    * one deviation-bin width (dmax/B) of the deviation median;
    * `n_out_est` is the uniform-in-bin interpolated tail mass of the
    * deviation histogram (a double ESTIMATE — q150 stays the
    * refinement-hardened exact counter); `gini` is the UNCAPPED
    * histogram fold (a far outlier coarsens its bins — q151 stays the
    * p99-capped audit). Laws pinned in ProfilingOpsSpec.
    *
    * `pairedScale = Some(s)` switches the two FACT-SIZED decimal sums
    * (scan 2's per-bin mass, scan 3's winsorized sum) to the
    * paired-longs exact path ([[graft.Canon.psumAggs]]). Bit-identical
    * when every x is an exact multiple of 10^-s with x·10^s < 2^63;
    * the winsorized values (clamped at interpolated caps, arbitrary
    * mantissas) keep their DECIMAL(·,6) rounding semantics via the
    * scale-6 [[graft.Canon.pterm]], so the caller additionally owes
    * |x|·10^6 < 2^63 — both bounds trivial for the fixture measures.
    * Default None keeps decimal aggregation for arbitrary inputs. */
  def profile(s: SparkSession, base: DataFrame,
      pairedScale: Option[Int] = None): DataFrame = {
    // rng, hist and cells are checkpointed EAGERLY: each feeds several
    // broadcasts or stages of one plan, which AQE submits as concurrent
    // jobs, and a lazy checkpoint is then computed by each of them; once
    // the first finishes, its lineage (and the SQL metrics in it) is
    // released, so the later job's task reports to accumulators that no
    // longer exist and its metrics drop out of the query's record
    val rng = rangeOf(base).localCheckpoint() // ---------------------- scan 1
    val wc = Window.partitionBy(col("g")).orderBy(col("bin").asc_nulls_last)
    val (sxAggs, sx) =
      graft.Canon.exactDecimalSum(col("x"), "sx", "decimal(38,12)", pairedScale)
    val hist = base.join(broadcast(rng), Seq("g")) // ------------ scan 2
      .withColumn("bin", binOf)
      .groupBy(col("g"), col("bin"))
      .agg(count(lit(1)).as("cnt"), sxAggs: _*)
      .withColumn("sx", sx)
      .withColumn("cum", sum(col("cnt")).over(wc))
      .withColumn("cum_before", col("cum") - col("cnt"))
      .withColumn("sv", sum(col("sx")).over(wc).cast("double"))
      .withColumn("sv_before",
        (sum(col("sx")).over(wc) - col("sx")).cast("double"))
      .join(broadcast(rng), Seq("g"))
      .withColumn("w", widthCol)
      .localCheckpoint()
    // quantile pivot, Gini fold, and the per-group profile frame: all
    // bins-sized lineage over the two checkpointed frames
    val pv = sketchQuantiles(s, hist, Seq(0.05, 0.5, 0.9, 0.95, 0.99))
      .groupBy(col("g")).agg(
        min(when(col("q") === 0.05, col("q_est"))).as("p_lo"),
        min(when(col("q") === 0.5, col("q_est"))).as("med"),
        min(when(col("q") === 0.9, col("q_est"))).as("p90"),
        min(when(col("q") === 0.95, col("q_est"))).as("p_hi"),
        min(when(col("q") === 0.99, col("q_est"))).as("p99"))
    val giniF = hist.groupBy(col("g")).agg(
      min(col("n")).as("gn"),
      sum((col("cnt").cast("double") * (col("sv_before") + col("sv")))
        .cast("decimal(38,12)")).cast("double").as("gnum"),
      max(col("sv")).as("stot"))
      .select(col("g"),
        when(col("stot") === 0.0, lit(0.0))
          .otherwise(lit(1.0) - col("gnum") /
            (col("gn").cast("double") * col("stot"))).as("gini"))
    val prof = rng.join(pv, Seq("g"))
      .withColumn("w", widthCol)
      .withColumn("dmax",
        greatest(col("hi") - col("med"), col("med") - col("lo")))
      .withColumn("dw", col("dmax") / lit(B.toDouble))
    val rows = sketchCdf(base.join(broadcast(prof), Seq("g")), hist) // scan 3
      .withColumn("decile", least(floor(col("pr") * 10).cast("int"), lit(9)))
      .withColumn("dev", abs(col("x") - col("med")))
      .withColumn("dbin", when(col("dw") <= 0.0, lit(0))
        .otherwise(least(floor(col("dev") / col("dw")),
          lit((B - 1).toDouble)).cast("int")))
      .withColumn("capped",
        when(col("x") < col("p_lo"), col("p_lo"))
          .when(col("x") > col("p_hi"), col("p_hi"))
          .otherwise(col("x")))
    val (scapAggs, scap) = graft.Canon.exactDecimalSum(col("capped"), "scap",
      "decimal(28,6)", pairedScale.map(_ => 6))
    val cells = rows.groupBy(col("g"), col("decile"), col("dbin"))
      .agg(count(lit(1)).as("cnt"),
        (Seq(
          sum(when(col("x") < col("p_lo"), 1L).otherwise(0L)).as("c_lo"),
          sum(when(col("x") > col("p_hi"), 1L).otherwise(0L)).as("c_hi"),
          min(col("n")).as("n")) ++ scapAggs): _*)
      .withColumn("scap", scap)
      .localCheckpoint()
    val decdev = cells.groupBy(col("g"), col("decile"))
      .agg(sum(col("cnt")).as("dcnt"), min(col("n")).as("n"))
      .groupBy(col("g"))
      .agg(max(abs(col("dcnt").cast("double") / col("n").cast("double")
        - lit(0.1))).as("dec_maxdev"))
    val wdc = Window.partitionBy(col("g")).orderBy(col("dbin").asc_nulls_last)
    val devh = cells.groupBy(col("g"), col("dbin"))
      .agg(sum(col("cnt")).as("cnt"), min(col("n")).as("n"))
      .withColumn("cum", sum(col("cnt")).over(wdc))
      .withColumn("cum_before", col("cum") - col("cnt"))
      .withColumn("t", ceil(lit(0.5) * col("n")).cast("long"))
    val madh = devh.where(col("cum") >= col("t"))
      .withColumn("rk", row_number().over(wdc))
      .where(col("rk") === 1)
      .join(prof.select(col("g"), col("dw")), Seq("g"))
      .select(col("g"), (col("dw") * (col("dbin").cast("double") +
        (col("t") - col("cum_before")).cast("double") /
          col("cnt").cast("double"))).as("mad"))
    // interpolated tail mass beyond 3·1.4826·MAD: per-bin contribution
    // cnt·clamp(thr/dw − dbin, 0, 1); decimal-accumulated so the ≤B-row
    // double sum is order-independent (Canon.dsum discipline)
    val nout = devh.join(madh, Seq("g"))
      .join(prof.select(col("g"), col("dw")), Seq("g"))
      .withColumn("contrib",
        when(col("dw") <= 0.0, col("cnt").cast("double"))
          .otherwise(col("cnt").cast("double") * greatest(least(
            lit(3.0 * 1.4826) * col("mad") / col("dw")
              - col("dbin").cast("double"), lit(1.0)), lit(0.0))))
      .groupBy(col("g"))
      .agg(min(col("n")).as("n"),
        sum(col("contrib").cast("decimal(38,12)")).as("n_le"))
      .select(col("g"),
        (col("n").cast("double") - col("n_le").cast("double"))
          .as("n_out_est"))
    val winsor = cells.groupBy(col("g"))
      .agg(sum(col("scap")).as("scap"),
        sum(col("c_lo")).as("n_lo"), sum(col("c_hi")).as("n_hi"))
    prof.select(col("g"), col("n"), col("med"), col("p90"), col("p99"),
        col("p_lo"), col("p_hi"))
      .join(giniF, Seq("g"))
      .join(decdev, Seq("g")).join(madh, Seq("g"))
      .join(nout, Seq("g")).join(winsor, Seq("g"))
      .select(col("g"), col("n"),
        round(col("med"), 6).as("p50"),
        round(col("p90"), 6).as("p90"),
        round(col("p99"), 6).as("p99"),
        round(col("p_lo"), 6).as("p_lo"),
        round(col("p_hi"), 6).as("p_hi"),
        round(col("scap").cast("double"), 4).as("wsum"),
        col("n_lo"), col("n_hi"),
        round(col("dec_maxdev"), 6).as("dec_maxdev"),
        round(col("mad"), 6).as("mad"),
        round(col("n_out_est"), 3).as("n_out_est"),
        round(col("gini"), 9).as("gini"))
      .orderBy(col("g").asc_nulls_last)
  }

  /** Q152: the unified robust profile of l_extendedprice per return
    * flag — the shared-scan replacement for running
    * q123+q124+q126+q150+q151 separately. */
  // paired-longs bounds (pairedScale = 2): l_extendedprice is
  // decimal(12,2) < 1.1e5, so x·100 < 1.1e7 and a whole-group bin's
  // Σhi < (1.1e7/2^30)·rows ≈ 0.011·rows; the scale-6 winsorized term
  // is < 1.1e11 with Σhi < 103·rows — both safe past 10^13 rows
  private def q152(s: SparkSession, dir: String): DataFrame =
    profile(s,
      (Tables.t(s, dir, "lineitem")
        .select(col("l_returnflag").as("g"), col("l_extendedprice").as("x"))),
      pairedScale = Some(2))

  /** SQL twin of [[profile]] over an arbitrary (g, x) base SELECT —
    * shared by q152 (single column) and q155 (melted whole-table). */
  private def profileSqlFor(baseSelect: String): String = {
    val binX = binSqlOf("b.x")
    s"""WITH base AS ($baseSelect),
       |rng AS (SELECT g, MIN(x) AS lo, MAX(x) AS hi, COUNT(*) AS n
       |  FROM base GROUP BY g),
       |binned AS (
       |  SELECT b.g, $binX AS bin, COUNT(*) AS cnt,
       |    SUM(CAST(b.x AS DECIMAL(38,12))) AS sx
       |  FROM base b JOIN rng USING (g) GROUP BY 1, 2),
       |cum AS (
       |  SELECT g, bin, cnt, sx,
       |    SUM(cnt) OVER (PARTITION BY g ORDER BY bin ASC) AS cum,
       |    SUM(cnt) OVER (PARTITION BY g ORDER BY bin ASC) - cnt AS cum_before,
       |    CAST(SUM(sx) OVER (PARTITION BY g ORDER BY bin ASC) AS DOUBLE) AS sv,
       |    CAST(SUM(sx) OVER (PARTITION BY g ORDER BY bin ASC) - sx AS DOUBLE) AS sv_before
       |  FROM binned),
       |${sketchQuantilesSqlFor("", Seq(0.05, 0.5, 0.9, 0.95, 0.99))},
       |pv AS (
       |  SELECT g,
       |    MIN(CASE WHEN q = 0.05::DOUBLE THEN q_est END) AS p_lo,
       |    MIN(CASE WHEN q = 0.5::DOUBLE THEN q_est END) AS med,
       |    MIN(CASE WHEN q = 0.9::DOUBLE THEN q_est END) AS p90,
       |    MIN(CASE WHEN q = 0.95::DOUBLE THEN q_est END) AS p_hi,
       |    MIN(CASE WHEN q = 0.99::DOUBLE THEN q_est END) AS p99
       |  FROM qhit GROUP BY g),
       |gini_t AS (
       |  SELECT c.g, MIN(r.n) AS gn,
       |    CAST(SUM(CAST(CAST(c.cnt AS DOUBLE) * (c.sv_before + c.sv)
       |      AS DECIMAL(38,12))) AS DOUBLE) AS gnum,
       |    MAX(c.sv) AS stot
       |  FROM cum c JOIN rng r USING (g) GROUP BY c.g),
       |gini_f AS (
       |  SELECT g, CASE WHEN stot = 0 THEN 0.0
       |    ELSE 1.0 - gnum / (CAST(gn AS DOUBLE) * stot) END AS gini
       |  FROM gini_t),
       |prof AS (
       |  SELECT r.g, r.lo, r.hi, (r.hi - r.lo) / ${B}.0 AS w, r.n,
       |    pv.p_lo, pv.med, pv.p90, pv.p_hi, pv.p99,
       |    GREATEST(r.hi - pv.med, pv.med - r.lo) / ${B}.0 AS dw
       |  FROM rng r JOIN pv USING (g)),
       |rows0 AS (
       |  SELECT b.g, p.n, p.p_lo, p.p_hi, p.med, p.dw, b.x, c.cnt, c.cum_before,
       |    CASE WHEN hi = lo THEN 1.0
       |         ELSE LEAST((b.x - lo) / p.w - CAST(c.bin AS DOUBLE), 1.0) END AS frac
       |  FROM base b JOIN prof p USING (g)
       |    JOIN cum c ON c.g = b.g AND c.bin = $binX),
       |rows_ AS (
       |  SELECT g, n, p_lo, p_hi, x,
       |    LEAST(CAST(FLOOR(((CAST(cum_before AS DOUBLE) + CAST(cnt AS DOUBLE) * frac)
       |      / CAST(n AS DOUBLE)) * 10) AS INTEGER), 9) AS decile,
       |    CASE WHEN dw <= 0 THEN 0
       |         ELSE CAST(LEAST(FLOOR(ABS(x - med) / dw), ${B - 1}.0) AS INTEGER) END AS dbin,
       |    CASE WHEN x < p_lo THEN p_lo WHEN x > p_hi THEN p_hi ELSE x END AS capped
       |  FROM rows0),
       |cells AS (
       |  SELECT g, decile, dbin, COUNT(*) AS cnt,
       |    SUM(CAST(capped AS DECIMAL(28,6))) AS scap,
       |    SUM(CASE WHEN x < p_lo THEN 1 ELSE 0 END) AS c_lo,
       |    SUM(CASE WHEN x > p_hi THEN 1 ELSE 0 END) AS c_hi,
       |    MIN(n) AS n
       |  FROM rows_ GROUP BY 1, 2, 3),
       |decdev AS (
       |  SELECT g, MAX(ABS(CAST(dcnt AS DOUBLE) / CAST(n AS DOUBLE) - 0.1::DOUBLE)) AS dec_maxdev
       |  FROM (SELECT g, decile, SUM(cnt) AS dcnt, MIN(n) AS n
       |        FROM cells GROUP BY 1, 2) dd
       |  GROUP BY g),
       |devh AS (
       |  SELECT g, dbin, cnt, n,
       |    SUM(cnt) OVER (PARTITION BY g ORDER BY dbin ASC) AS cum,
       |    SUM(cnt) OVER (PARTITION BY g ORDER BY dbin ASC) - cnt AS cum_before,
       |    CAST(CEIL(0.5::DOUBLE * n) AS BIGINT) AS t
       |  FROM (SELECT g, dbin, SUM(cnt) AS cnt, MIN(n) AS n
       |        FROM cells GROUP BY 1, 2) dh),
       |madh AS (
       |  SELECT d.g, p.dw * (CAST(d.dbin AS DOUBLE)
       |    + CAST(d.t - d.cum_before AS DOUBLE) / CAST(d.cnt AS DOUBLE)) AS mad
       |  FROM devh d JOIN prof p USING (g)
       |  WHERE d.cum >= d.t
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY d.g ORDER BY d.dbin ASC) = 1),
       |nout AS (
       |  SELECT d.g,
       |    CAST(MIN(d.n) AS DOUBLE) - CAST(SUM(CAST(
       |      CASE WHEN p.dw <= 0 THEN CAST(d.cnt AS DOUBLE)
       |           ELSE CAST(d.cnt AS DOUBLE) * GREATEST(LEAST(
       |             ${3.0 * 1.4826}::DOUBLE * m.mad / p.dw - CAST(d.dbin AS DOUBLE),
       |             1.0), 0.0) END
       |      AS DECIMAL(38,12))) AS DOUBLE) AS n_out_est
       |  FROM devh d JOIN madh m USING (g) JOIN prof p USING (g)
       |  GROUP BY d.g),
       |winsor AS (
       |  SELECT g, ROUND(CAST(SUM(scap) AS DOUBLE), 4) AS wsum,
       |    CAST(SUM(c_lo) AS BIGINT) AS n_lo, CAST(SUM(c_hi) AS BIGINT) AS n_hi
       |  FROM cells GROUP BY g)
       |SELECT p.g, p.n,
       |  ROUND(p.med, 6) AS p50, ROUND(p.p90, 6) AS p90, ROUND(p.p99, 6) AS p99,
       |  ROUND(p.p_lo, 6) AS p_lo, ROUND(p.p_hi, 6) AS p_hi,
       |  w.wsum, w.n_lo, w.n_hi,
       |  ROUND(d.dec_maxdev, 6) AS dec_maxdev,
       |  ROUND(m.mad, 6) AS mad,
       |  ROUND(o.n_out_est, 3) AS n_out_est,
       |  ROUND(gi.gini, 9) AS gini
       |FROM prof p JOIN gini_f gi USING (g) JOIN decdev d USING (g)
       |  JOIN madh m USING (g) JOIN nout o USING (g) JOIN winsor w USING (g)
       |ORDER BY g ASC NULLS LAST""".stripMargin
  }

  private val q152Sql = profileSqlFor(
    "SELECT l_returnflag AS g, l_extendedprice AS x FROM lineitem")

  // ------------------------------------------------------------- q155
  /** PUBLIC API — WHOLE-TABLE profile: [[profile]] over every metric
    * column at once via a map-only melt (explode of (name, value)
    * structs), group key = `group/metric`. The point at 100 TB: the
    * scan count stays THREE regardless of how many columns are
    * profiled — a per-column profiler pays 3·k scans; this pays 3
    * (each reading k columns). The melt multiplies rows ×k map-side,
    * never shuffles unmelted, and every downstream frame stays
    * ≤10·B·k·|groups| rows. */
  def profileTable(s: SparkSession, df: DataFrame, g: Column,
      metrics: Seq[(String, Column)],
      pairedScale: Option[Int] = None): DataFrame = {
    val pairs = array(metrics.map { case (n, c) =>
      struct(lit(n).as("m"), c.cast("double").as("x")) }: _*)
    val base = df.select(g.cast("string").as("gg"), explode(pairs).as("p"))
      .select(concat_ws("/", col("gg"), col("p.m")).as("g"),
        col("p.x").as("x"))
    profile(s, base, pairedScale)
  }

  /** Q155: the one-pass profile of ALL four lineitem measures
    * (quantity, price, discount, tax) per return flag — 12 profile
    * rows from the same 3 scans q152 spends on one column. */
  // same bounds as q152: all four melted measures are decimal(12,2)
  // cast to exact 2-dp doubles < 1.1e5
  private def q155(s: SparkSession, dir: String): DataFrame =
    profileTable(s,
      (Tables.t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_discount"),
          col("l_extendedprice"), col("l_quantity"), col("l_tax"))),
      col("l_returnflag"),
      Seq("discount" -> col("l_discount"),
        "price" -> col("l_extendedprice"),
        "quantity" -> col("l_quantity"),
        "tax" -> col("l_tax")),
      pairedScale = Some(2))

  private val q155Sql = profileSqlFor(
    """SELECT l_returnflag || '/discount' AS g, l_discount AS x FROM lineitem
      |  UNION ALL SELECT l_returnflag || '/price', l_extendedprice FROM lineitem
      |  UNION ALL SELECT l_returnflag || '/quantity', l_quantity FROM lineitem
      |  UNION ALL SELECT l_returnflag || '/tax', l_tax FROM lineitem""".stripMargin)

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q123_hist_quantiles", q123, Some(q123Sql)),
    QueryDef("q124_winsorize", q124, Some(q124Sql)),
    QueryDef("q126_quantile_transform", q126, Some(q126Sql)),
    QueryDef("q152_robust_profile", q152, Some(q152Sql)),
    QueryDef("q155_table_profile", q155, Some(q155Sql)),
    QueryDef("q161_weighted_median", q161, Some(q161Sql)))
}
