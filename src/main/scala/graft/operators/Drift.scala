package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-11: DISTRIBUTION DRIFT between two snapshots of the same
  * population — the monitor a training-data pipeline runs when a new
  * crawl/batch lands: "did the value distribution move, by how much,
  * and where". The classic score is PSI (Σ(p−q)·ln(p/q)), but ln
  * breaks the engine/oracle bit-parity discipline (only +−×÷/floor
  * replay exactly across Spark and DuckDB), so the registry entry
  * reports the two standard transcendental-free divergences:
  * total-variation distance TVD = ½·Σ|p_A − p_B| (the max probability
  * mass any event's frequency moved, 0..1) and the symmetrized
  * chi-square Σ(p_A−p_B)²/(p_A+p_B) (0..2, quadratic — small drift
  * everywhere vs large drift somewhere separate cleanly), plus the bin
  * edge where |p_A − p_B| peaks (`drift_at` — WHERE the distribution
  * moved).
  *
  * Spark-first shape: one shared-range pass over BOTH periods (the
  * grids must match or the divergences are meaningless), one
  * (g, bin)-keyed histogram with per-period counts folded map-side,
  * everything downstream ≤B rows per group — two corpus scans total,
  * no per-group sort, parallelism independent of |groups|. Both
  * period counters come from ONE scan (conditional sums), not a scan
  * per period.
  *
  * Determinism/oracle: counts are exact integers; rates, |Δ|, and the
  * χ² terms are the shared +−×÷ double tree; per-group folds
  * decimal-accumulate (order-independent); the peak bin tie-breaks on
  * the lower bin id — DuckDB re-derives every number exactly. A group
  * missing either period is dropped (drift against an empty snapshot
  * is undefined); a degenerate group (hi = lo) collapses to one bin
  * with p_A = p_B = 1 → TVD = χ² = 0, the correct "no drift" verdict. */
/* Reference anchor: the reference engine's monitoring plane keeps
 * sliding-window histograms per metric (celeborn: common/src/main/scala/
 * org/apache/celeborn/common/metrics/source/AbstractSource.scala:46-65,
 * CelebornHistogram over a ResettableSlidingWindowReservoir) and leaves
 * distribution comparison to the operator; this engine makes the
 * comparison itself a first-class, oracle-replayable operator. */
object Drift {

  private val B = RobustStats.B

  /** The shared range pass, as (range, binned rows): the per-group
    * (g, lo, hi) range over BOTH periods, checkpointed (scan 1), and
    * `base` with each row's [[RobustStats.binOf]] under it (scan 2). */
  private def binnedByRange(base: DataFrame): (DataFrame, DataFrame) = {
    val rng = base.groupBy(col("g")) // ----------------------- scan 1
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      .localCheckpoint()
    (rng, base.join(broadcast(rng), Seq("g")) // --------------- scan 2
      .withColumn("bin", RobustStats.binOf))
  }

  /** Both periods' row counts per (g, `key`) from ONE scan of a frame
    * carrying `period` ∈ {0, 1} (conditional sums, not a scan per
    * period): (g, key, ca, cb). */
  private def periodCounts(rows: DataFrame, key: String): DataFrame =
    rows.groupBy(col("g"), col(key))
      .agg(sum(when(col("period") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("period") === 1, 1L).otherwise(0L)).as("cb"))

  /** Per-group period totals (g, na, nb) of [[periodCounts]]'s frame; a
    * group missing either period is dropped (drift against an empty
    * snapshot is undefined). */
  private def periodTotals(counts: DataFrame): DataFrame =
    counts.groupBy(col("g"))
      .agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
      .where(col("na") > 0 && col("nb") > 0)

  /** [[periodCounts]]'s frame with its group totals and each key's
    * period rates pa, pb and their gap d = |pa − pb|. */
  private def periodRates(counts: DataFrame): DataFrame =
    counts.join(broadcast(periodTotals(counts)), Seq("g"))
      .withColumn("pa", col("ca").cast("double") / col("na").cast("double"))
      .withColumn("pb", col("cb").cast("double") / col("nb").cast("double"))
      .withColumn("d", abs(col("pa") - col("pb")))

  /** Per-group (n_a, n_b, `extra`…, tvd, chi2) of [[periodRates]]'s
    * frame: TVD = ½·Σd and the symmetrized χ² = Σ(pa−pb)²/(pa+pb). */
  private def divergences(rates: DataFrame, extra: Column*): DataFrame =
    rates.groupBy(col("g"))
      .agg(min(col("na")).as("n_a"), (min(col("nb")).as("n_b") +: extra) ++ Seq(
        // decimal-accumulated: the ≤B-row double folds must be
        // order-independent for oracle parity (Canon.dsum discipline)
        round(lit(0.5) * sum(col("d").cast("decimal(38,12)")).cast("double"), 6)
          .as("tvd"),
        round(sum(((col("pa") - col("pb")) * (col("pa") - col("pb")) /
          (col("pa") + col("pb"))).cast("decimal(38,12)")).cast("double"), 6)
          .as("chi2")): _*)

  /** Each group's row with the largest gap `d`, ties to the lowest
    * `key` (deterministic on both engines). */
  private def peak(rows: DataFrame, key: String): DataFrame =
    rows.withColumn("rk", row_number().over(Window.partitionBy(col("g"))
        .orderBy(col("d").desc_nulls_last, col(key).asc_nulls_last)))
      .where(col("rk") === 1)

  /** PUBLIC API — per-group drift profile of a (g, period, x) frame,
    * period ∈ {0 = baseline snapshot, 1 = new snapshot}:
    * (g, n_a, n_b, tvd, chi2, drift_at). */
  def histDrift(base: DataFrame): DataFrame = {
    val (rng, withBin) = binnedByRange(base)
    val rates = periodRates(periodCounts(withBin, "bin")
      .localCheckpoint()) // ≤B·|groups| rows; reused by agg + peak
    val driftAt = peak(rates.join(broadcast(rng), Seq("g")), "bin")
      .select(col("g"), round(col("lo") + (col("hi") - col("lo")) /
        lit(B.toDouble) * col("bin").cast("double"), 6).as("drift_at"))
    divergences(rates).join(driftAt, Seq("g"))
      .select(col("g"), col("n_a"), col("n_b"), col("tvd"), col("chi2"),
        col("drift_at"))
      .orderBy(col("g").asc_nulls_last)
  }

  /** PUBLIC API — CATEGORICAL drift of a (g, period, cat) frame: the
    * numeric path bins values; categories ARE the bins, so the rates
    * are exact and the peak is the category itself. Same divergences
    * (TVD, symmetrized χ²), same one-scan dual-period fold, same
    * decimal-accumulated order-independent sums; `drift_cat` is the
    * category whose frequency moved most (ties → lexicographically
    * first, deterministic on both engines). The corpus "source-mix
    * moved under the new crawl" monitor. */
  def catDrift(base: DataFrame): DataFrame = {
    val rates = periodRates(periodCounts(base, "cat") // -------- one scan
      .localCheckpoint()) // ≤|categories|·|groups| rows
    val driftCat = peak(rates, "cat")
      .select(col("g"), col("cat").as("drift_cat"), round(col("d"), 6).as("drift_d"))
    divergences(rates, count(lit(1)).as("n_cats")).join(driftCat, Seq("g"))
      .select(col("g"), col("n_a"), col("n_b"), col("n_cats"),
        col("tvd"), col("chi2"), col("drift_cat"), col("drift_d"))
      .orderBy(col("g").asc_nulls_last)
  }

  // ---- oracle generators: the SQL twins of the fold helpers above,
  // ---- each text pinned byte for byte by oracle-sql.tsv

  /** The `base` CTE of a ≤1997 / 1998+ snapshot split of `table`:
    * (g, period, `value`…) with g = `g` and period from `date`'s year. */
  private def splitBaseSql(table: String, g: String, date: String,
      value: String): String =
    s"""base AS (
       |  SELECT $g AS g,
       |    CASE WHEN EXTRACT(year FROM $date) <= 1997 THEN 0 ELSE 1 END AS period,
       |    $value
       |  FROM $table)""".stripMargin

  /** [[periodCounts]] and [[periodTotals]] in SQL: the `binned`
    * (`key`…, ca, cb) CTE grouped on its first two columns over `from`,
    * and the `tot` (g, na, nb) CTE of groups holding both periods. */
  private def periodCountsSql(key: String, from: String): String =
    s"""binned AS (
       |  SELECT $key,
       |    SUM(CASE WHEN period = 0 THEN 1 ELSE 0 END) AS ca,
       |    SUM(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS cb
       |  FROM $from GROUP BY 1, 2),
       |tot AS (
       |  SELECT g, SUM(ca) AS na, SUM(cb) AS nb FROM binned GROUP BY g
       |  HAVING SUM(ca) > 0 AND SUM(cb) > 0)""".stripMargin

  /** [[periodRates]] and [[divergences]] in SQL: the `rates` CTE keyed
    * by `key` (the text after `n.g, `, up to `t.na`) and the `agg` CTE
    * with `extra` select lines after n_b. */
  private def divergencesSql(key: String, extra: String): String =
    s"""rates AS (
       |  SELECT n.g, $key t.na, t.nb,
       |    CAST(n.ca AS DOUBLE) / CAST(t.na AS DOUBLE) AS pa,
       |    CAST(n.cb AS DOUBLE) / CAST(t.nb AS DOUBLE) AS pb,
       |    ABS(CAST(n.ca AS DOUBLE) / CAST(t.na AS DOUBLE)
       |      - CAST(n.cb AS DOUBLE) / CAST(t.nb AS DOUBLE)) AS d
       |  FROM binned n JOIN tot t USING (g)),
       |agg AS (
       |  SELECT g, CAST(MIN(na) AS BIGINT) AS n_a, CAST(MIN(nb) AS BIGINT) AS n_b,$extra
       |    ROUND(0.5::DOUBLE * CAST(SUM(CAST(d AS DECIMAL(38,12))) AS DOUBLE), 6) AS tvd,
       |    ROUND(CAST(SUM(CAST((pa - pb) * (pa - pb) / (pa + pb)
       |      AS DECIMAL(38,12))) AS DOUBLE), 6) AS chi2
       |  FROM rates GROUP BY g)""".stripMargin

  /** q153 and q157's shared prefix: the ≤1997 / 1998+ price split of
    * lineitem, its per-group `rng` and the binned period counts. */
  private val priceHistSql =
    s"""${splitBaseSql("lineitem", "l_returnflag", "l_shipdate", "l_extendedprice AS x")},
       |rng AS (SELECT g, MIN(x) AS lo, MAX(x) AS hi FROM base GROUP BY g),
       |${periodCountsSql(s"b.g, ${RobustStats.binSqlOf("b.x")} AS bin", "base b JOIN rng USING (g)")}""".stripMargin

  /** Q154: order-priority-mix drift per order status between the ≤1997
    * / 1998+ order snapshots — "did the source composition move". */
  private def q154(s: SparkSession, dir: String): DataFrame =
    catDrift(Tables.t(s, dir, "orders")
      .select(col("o_orderstatus").as("g"),
        when(year(col("o_orderdate")) <= 1997, 0).otherwise(1).as("period"),
        col("o_orderpriority").as("cat")))

  private val q154Sql =
    s"""WITH ${splitBaseSql("orders", "o_orderstatus", "o_orderdate", "o_orderpriority AS cat")},
       |${periodCountsSql("g, cat", "base")},
       |${divergencesSql("n.cat,", "\n    COUNT(*) AS n_cats,")},
       |peak AS (
       |  SELECT g, cat AS drift_cat, ROUND(d, 6) AS drift_d
       |  FROM (
       |    SELECT g, cat, d,
       |      ROW_NUMBER() OVER (PARTITION BY g ORDER BY d DESC, cat ASC) AS rk
       |    FROM rates) pk
       |  WHERE rk = 1)
       |SELECT a.g, a.n_a, a.n_b, a.n_cats, a.tvd, a.chi2, p.drift_cat, p.drift_d
       |FROM agg a JOIN peak p USING (g)
       |ORDER BY g ASC NULLS LAST""".stripMargin

  /** Q153: l_extendedprice drift per return flag between the ≤1997 and
    * 1998+ shipment snapshots (the fixture's l_shipdate spans
    * 1995–2001, so this splits the corpus near its middle) — the "new
    * crawl landed, did prices move" monitor shape. */
  private def q153(s: SparkSession, dir: String): DataFrame =
    histDrift(priceSplit(s, dir))

  /** The (g, period, x) split q153 and q157 compare: l_extendedprice per
    * return flag, ≤1997 shipments against 1998+. */
  private def priceSplit(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "lineitem")
      .select(col("l_returnflag").as("g"),
        when(year(col("l_shipdate")) <= 1997, 0).otherwise(1).as("period"),
        col("l_extendedprice").as("x"))

  private val q153Sql =
    s"""WITH $priceHistSql,
       |${divergencesSql("n.bin, ", "")},
       |peak AS (
       |  SELECT g, ROUND(lo + (hi - lo) / ${B}.0 * CAST(bin AS DOUBLE), 6) AS drift_at
       |  FROM (
       |    SELECT r.g, r.bin, rg.lo, rg.hi,
       |      ROW_NUMBER() OVER (PARTITION BY r.g ORDER BY r.d DESC, r.bin ASC) AS rk
       |    FROM rates r JOIN rng rg USING (g)) pk
       |  WHERE rk = 1)
       |SELECT a.g, a.n_a, a.n_b, a.tvd, a.chi2, p.drift_at
       |FROM agg a JOIN peak p USING (g)
       |ORDER BY g ASC NULLS LAST""".stripMargin

  /** PUBLIC API — DRIFT TIME SERIES of a (g, bucket, x) frame: TVD
    * between every pair of CONSECUTIVE buckets (bucket = integer time
    * id, e.g. months-since-epoch) on one shared per-group grid — q153
    * answers "did the distribution move between two snapshots"; this
    * answers WHEN. The missing-bin problem (a bin present in only one
    * month must still contribute its full mass) is solved without any
    * outer join: each histogram row explodes into its two pair
    * contributions — (pair = bucket, p_curr = p) and (pair = bucket+1,
    * p_prev = p) — and the (g, pair, bin) re-aggregate sees at most
    * one nonzero value per side, so every double sum is exact. Pairs
    * where either bucket is empty for the group are dropped via the
    * tiny consecutive-bucket frame (drift vs an empty month is
    * undefined, same contract as [[histDrift]]).
    *
    * Scale shape: one shared-range scan + one (g, bucket, bin)
    * histogram scan; the explode doubles ≤B·|buckets|·|groups| tiny
    * rows, never corpus rows. All arithmetic +−×÷/abs on exact counts
    * → DuckDB replays the full series bit-for-bit. */
  def driftSeries(base: DataFrame): DataFrame = {
    val hist = binnedByRange(base)._2
      .groupBy(col("g"), col("bucket"), col("bin"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val tot = hist.groupBy(col("g"), col("bucket"))
      .agg(sum(col("cnt")).as("n"))
    // consecutive-bucket pairs where BOTH sides have rows
    val pairs = tot.select(col("g"), (col("bucket") + 1).as("pair"),
        col("n").as("n_prev"))
      .join(tot.select(col("g"), col("bucket").as("pair"),
        col("n").as("n_curr")), Seq("g", "pair"))
    val contrib = hist.join(broadcast(tot), Seq("g", "bucket"))
      .withColumn("p", col("cnt").cast("double") / col("n").cast("double"))
      .select(col("g"), col("bin"),
        explode(array(
          struct((col("bucket") + 1).as("pair"), col("p").as("pp"),
            lit(0.0).as("pc")),
          struct(col("bucket").as("pair"), lit(0.0).as("pp"),
            col("p").as("pc")))).as("e"))
      .select(col("g"), col("e.pair").as("pair"), col("bin"),
        col("e.pp").as("pp"), col("e.pc").as("pc"))
      .groupBy(col("g"), col("pair"), col("bin"))
      .agg(sum(col("pp")).as("pp"), sum(col("pc")).as("pc"))
    contrib.join(broadcast(pairs), Seq("g", "pair"))
      .groupBy(col("g"), col("pair"))
      .agg(min(col("n_prev")).as("n_prev"), min(col("n_curr")).as("n_curr"),
        round(lit(0.5) * sum(abs(col("pp") - col("pc"))
          .cast("decimal(38,12)")).cast("double"), 6).as("tvd"))
      .select(col("g"), col("pair").as("bucket"), col("n_prev"),
        col("n_curr"), col("tvd"))
      .orderBy(col("g").asc_nulls_last, col("bucket").asc_nulls_last)
  }

  /** Q156: the month-over-month l_extendedprice drift series per
    * return flag — "which month did prices move". Bucket = months
    * since year 0 (yr·12 + mo−1), pure integer arithmetic on both
    * engines. */
  private def q156(s: SparkSession, dir: String): DataFrame =
    driftSeries(Tables.t(s, dir, "lineitem")
      .select(col("l_returnflag").as("g"),
        (year(col("l_shipdate")) * 12 + month(col("l_shipdate")) - 1)
          .cast("long").as("bucket"),
        col("l_extendedprice").as("x")))

  private val q156Sql = {
    val binX = RobustStats.binSqlOf("b.x")
    s"""WITH base AS (
       |  SELECT l_returnflag AS g,
       |    CAST(EXTRACT(year FROM l_shipdate) * 12
       |      + EXTRACT(month FROM l_shipdate) - 1 AS BIGINT) AS bucket,
       |    l_extendedprice AS x
       |  FROM lineitem),
       |rng AS (SELECT g, MIN(x) AS lo, MAX(x) AS hi FROM base GROUP BY g),
       |hist AS (
       |  SELECT b.g, b.bucket, $binX AS bin, COUNT(*) AS cnt
       |  FROM base b JOIN rng USING (g) GROUP BY 1, 2, 3),
       |tot AS (SELECT g, bucket, SUM(cnt) AS n FROM hist GROUP BY 1, 2),
       |pairs AS (
       |  SELECT a.g, a.bucket + 1 AS pair, a.n AS n_prev, c.n AS n_curr
       |  FROM tot a JOIN tot c ON a.g = c.g AND c.bucket = a.bucket + 1),
       |contrib AS (
       |  SELECT g, pair, bin, SUM(pp) AS pp, SUM(pc) AS pc FROM (
       |    SELECT h.g, h.bucket + 1 AS pair, h.bin,
       |      CAST(h.cnt AS DOUBLE) / CAST(t.n AS DOUBLE) AS pp, 0.0::DOUBLE AS pc
       |    FROM hist h JOIN tot t USING (g, bucket)
       |    UNION ALL
       |    SELECT h.g, h.bucket AS pair, h.bin,
       |      0.0::DOUBLE AS pp, CAST(h.cnt AS DOUBLE) / CAST(t.n AS DOUBLE) AS pc
       |    FROM hist h JOIN tot t USING (g, bucket)) u
       |  GROUP BY 1, 2, 3)
       |SELECT c.g, c.pair AS bucket,
       |  CAST(MIN(p.n_prev) AS BIGINT) AS n_prev,
       |  CAST(MIN(p.n_curr) AS BIGINT) AS n_curr,
       |  ROUND(0.5::DOUBLE * CAST(SUM(CAST(ABS(c.pp - c.pc) AS DECIMAL(38,12)))
       |    AS DOUBLE), 6) AS tvd
       |FROM contrib c JOIN pairs p ON c.g = p.g AND c.pair = p.pair
       |GROUP BY c.g, c.pair
       |ORDER BY c.g ASC NULLS LAST, c.pair ASC NULLS LAST""".stripMargin
  }

  /** PUBLIC API — two-sample KOLMOGOROV–SMIRNOV statistic per group:
    * D = max over the shared grid of |F̂_A(edge) − F̂_B(edge)| (CDFs
    * evaluated at bin right-edges), with `ks_at` = the edge where the
    * gap peaks (ties → lowest edge). TVD (q153) integrates pointwise
    * density differences and saturates for any disjointness; KS is the
    * CDF-supremum view the statistics literature tests against — a
    * location SHIFT moves KS toward 1 even when per-bin overlaps keep
    * TVD moderate. Bin-granular: |D − D_exact| is bounded by the mass
    * of one bin (the within-bin CDF crossing), the same one-bin
    * contract as q123. Same 2-scan dual-period fold as [[histDrift]];
    * the cumulative fold runs over ≤B rows per group; exact integer
    * cumulative counts divided once at the end — DuckDB replays D and
    * the peak edge bit-for-bit. */
  def ksTest(base: DataFrame): DataFrame = {
    val (rng, withBin) = binnedByRange(base)
    val counts = periodCounts(withBin, "bin")
    val wc = Window.partitionBy(col("g")).orderBy(col("bin").asc_nulls_last)
    val gaps = counts.join(broadcast(periodTotals(counts)), Seq("g"))
      .withColumn("cuma", sum(col("ca")).over(wc))
      .withColumn("cumb", sum(col("cb")).over(wc))
      .withColumn("d", abs(col("cuma").cast("double") / col("na").cast("double")
        - col("cumb").cast("double") / col("nb").cast("double")))
    peak(gaps.join(broadcast(rng), Seq("g")), "bin")
      .select(col("g"), col("na").as("n_a"), col("nb").as("n_b"),
        round(col("d"), 6).as("ks"),
        round(col("lo") + (col("hi") - col("lo")) / lit(B.toDouble) *
          (col("bin").cast("double") + 1.0), 6).as("ks_at"))
      .orderBy(col("g").asc_nulls_last)
  }

  /** Q157: the KS statistic for the same ≤1997 / 1998+ price split as
    * q153 — the supremum-gap companion to its integrated TVD. */
  private def q157(s: SparkSession, dir: String): DataFrame =
    ksTest(priceSplit(s, dir))

  private val q157Sql =
    s"""WITH $priceHistSql,
       |gaps AS (
       |  SELECT n.g, n.bin, t.na, t.nb,
       |    ABS(CAST(SUM(n.ca) OVER w AS DOUBLE) / CAST(t.na AS DOUBLE)
       |      - CAST(SUM(n.cb) OVER w AS DOUBLE) / CAST(t.nb AS DOUBLE)) AS d
       |  FROM binned n JOIN tot t USING (g)
       |  WINDOW w AS (PARTITION BY n.g ORDER BY n.bin ASC))
       |SELECT gp.g, CAST(gp.na AS BIGINT) AS n_a, CAST(gp.nb AS BIGINT) AS n_b,
       |  ROUND(gp.d, 6) AS ks,
       |  ROUND(r.lo + (r.hi - r.lo) / ${B}.0 * (CAST(gp.bin AS DOUBLE) + 1.0), 6) AS ks_at
       |FROM (
       |  SELECT g, bin, na, nb, d,
       |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY d DESC, bin ASC) AS rk
       |  FROM gaps) gp JOIN rng r USING (g)
       |WHERE gp.rk = 1
       |ORDER BY g ASC NULLS LAST""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q153_dist_drift", q153, Some(q153Sql)),
    QueryDef("q154_cat_drift", q154, Some(q154Sql)),
    QueryDef("q156_drift_series", q156, Some(q156Sql)),
    QueryDef("q157_ks_test", q157, Some(q157Sql)))
}
