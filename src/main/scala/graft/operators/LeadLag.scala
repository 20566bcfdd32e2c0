package graft.operators

import graft.{QueryDef, Tables}
import graft.Canon.exactSum
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-12: lead–lag screen — which series LEADS which. For every
  * pair of groups' daily series, the Pearson correlation of
  * (a_t, b_{t+lag}) across lags −k..k, reporting the lag where the
  * coupling peaks: "errors lead purchase drops by one day" is an
  * actionable monitor where q164's same-day correlation reads ~0.
  * The causal-screening companion to the association family (q164
  * same-tick, q166 rank, q167 self-memory, q168 streaming) — a peak
  * at lag ≠ 0 is the classic precursor signal (Granger's idea without
  * the regression apparatus).
  *
  * Oracle parity: per (pair, lag), the paired sample runs through the
  * q164/q168 moment discipline — exact DECIMAL(38,12) sums of 12-dp
  * rounded products, one +−×÷√ closed form, 9-dp round; the best lag
  * is picked by rank (|corr| desc, lag asc — deterministic), and
  * degenerate (zero-variance) paired samples emit NULL and never win
  * the rank. DuckDB replays every number.
  *
  * Scale: the only fact-sized stage is the map-combined daily count;
  * the lag join is an equi-join on (day + lag) over the CHECKPOINTED
  * (group, day) frame exploded ×(2k+1) — ≤ groups² · days · (2k+1)
  * tiny rows, partitioned by pair; no day×day cross join exists.
  *
  * Reference anchor: celeborn's gauges are watched independently
  * (common/.../metrics/source/AbstractSource.scala); "which gauge
  * moves FIRST" is the escalation question the ops plane leaves to
  * humans — here it is a query.
  */
object LeadLag {

  /** PUBLIC API — lead–lag screen over a (g, day, x) daily frame: for
    * every ordered-by-name pair (ga < gb), the per-lag Pearson corr of
    * (a_t, b_{t+lag}) for lag in [−maxLag, maxLag]; emits the peak-
    * |corr| lag (ties: lower lag) plus the lag-0 corr for contrast.
    * Positive best_lag ⇒ ga leads gb by that many days. */
  def leadLag(daily: DataFrame, maxLag: Int = 7): DataFrame = {
    val s = daily.select(col("g"), col("day"), col("x")).localCheckpoint()
    val lagged = s
      .select(col("g").as("ga"), col("day"), col("x").as("xa"),
        explode(expr(s"sequence(${-maxLag}, $maxLag)")).as("lag"))
      .withColumn("day_b", date_add(col("day"), col("lag").cast("int")))
    val pairs = lagged
      .join(s.select(col("g").as("gb"), col("day").as("day_b"),
        col("x").as("xb")), Seq("day_b"))
      .where(col("ga") < col("gb"))
    val perLag = pairs
      // sequence() yields ints; the audit reports lag as BIGINT (the
      // oracle's type), so cast before the aggregate
      .withColumn("lag", col("lag").cast("long"))
      .groupBy(col("ga"), col("gb"), col("lag"))
      .agg(count(lit(1)).as("n"),
        exactSum(col("xa")).as("sa"), exactSum(col("xb")).as("sb"),
        exactSum(col("xa") * col("xa")).as("saa"),
        exactSum(col("xb") * col("xb")).as("sbb"),
        exactSum(col("xa") * col("xb")).as("sab"))
      .select(col("ga"), col("gb"), col("lag"), col("n"),
        when((col("n") * col("saa") - col("sa") * col("sa")) *
          (col("n") * col("sbb") - col("sb") * col("sb")) > 0,
          round((col("n") * col("sab") - col("sa") * col("sb")) /
            sqrt((col("n") * col("saa") - col("sa") * col("sa")) *
              (col("n") * col("sbb") - col("sb") * col("sb"))), 9))
          .as("corr"))
    val wBest = Window.partitionBy(col("ga"), col("gb"))
      .orderBy(abs(col("corr")).desc_nulls_last, col("lag").asc)
    // a NULL (degenerate) lag must never win the rank; a pair with NO
    // defined lag anywhere is absent from the output, by contract
    val best = perLag.where(col("corr").isNotNull)
      .withColumn("rk", row_number().over(wBest))
      .where(col("rk") === 1)
      .select(col("ga"), col("gb"), col("lag").as("best_lag"),
        col("n").as("n_best"), col("corr").as("corr_best"))
    val lag0 = perLag.where(col("lag") === 0)
      .select(col("ga"), col("gb"), col("corr").as("corr_lag0"))
    // LEFT join: a pair whose day ranges overlap only at nonzero lags
    // has a best_lag but no lag-0 row — it must still be emitted, with
    // NULL corr_lag0, or genuine precursor pairs silently vanish
    // (r12 ADVICE); the SQL mirror uses the same LEFT JOIN
    best.join(lag0, Seq("ga", "gb"), "left")
      .orderBy(col("ga").asc_nulls_last, col("gb").asc_nulls_last)
  }

  /** Q179: lead–lag over the event types' daily volume series. */
  private def q179(s: SparkSession, dir: String): DataFrame =
    leadLag(Tables.t(s, dir, "events")
      .groupBy(col("event_type").as("g"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x")))

  private val q179Sql: String =
    """WITH s AS (
      |  SELECT event_type AS g, CAST(ts AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |lags AS (SELECT UNNEST(range(-7, 8)) AS lag),
      |pairs AS (
      |  SELECT a.g AS ga, b.g AS gb, l.lag, a.x AS xa, b.x AS xb
      |  FROM s a CROSS JOIN lags l
      |  JOIN s b ON b.day = a.day + CAST(l.lag AS INTEGER)
      |    AND a.g < b.g),
      |perlag AS (
      |  SELECT ga, gb, CAST(lag AS BIGINT) AS lag,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(xa AS DECIMAL(38,12))) AS DOUBLE) AS sa,
      |    CAST(SUM(CAST(xb AS DECIMAL(38,12))) AS DOUBLE) AS sb,
      |    CAST(SUM(CAST(xa * xa AS DECIMAL(38,12))) AS DOUBLE) AS saa,
      |    CAST(SUM(CAST(xb * xb AS DECIMAL(38,12))) AS DOUBLE) AS sbb,
      |    CAST(SUM(CAST(xa * xb AS DECIMAL(38,12))) AS DOUBLE) AS sab
      |  FROM pairs GROUP BY 1, 2, 3),
      |corr AS (
      |  SELECT ga, gb, lag, n,
      |    CASE WHEN (n * saa - sa * sa) * (n * sbb - sb * sb) > 0 THEN
      |      ROUND((n * sab - sa * sb) /
      |        SQRT((n * saa - sa * sa) * (n * sbb - sb * sb)), 9)
      |    END AS corr
      |  FROM perlag),
      |best AS (
      |  SELECT ga, gb, lag AS best_lag, n AS n_best, corr AS corr_best
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY ga, gb
      |      ORDER BY ABS(corr) DESC NULLS LAST, lag ASC) AS rk
      |    FROM corr WHERE corr IS NOT NULL) WHERE rk = 1)
      |SELECT best.ga, best.gb, best.best_lag, best.n_best,
      |  best.corr_best, c0.corr AS corr_lag0
      |FROM best LEFT JOIN corr c0
      |  ON best.ga = c0.ga AND best.gb = c0.gb AND c0.lag = 0
      |ORDER BY best.ga ASC NULLS LAST, best.gb ASC NULLS LAST""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q179_lead_lag", q179, Some(q179Sql)))
}
