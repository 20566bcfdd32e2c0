package graft.streaming

import graft.{QueryDef, Tables}
import graft.Canon.{exactSum, sqlXyMoments}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-12: the STREAMING ASSOCIATION WATCHDOG — q164's correlation
  * deployed ON the ingest stream: every closed event-time window emits
  * the Pearson correlation between two event attributes per group —
  * "page the curator the window the value↔payload relationship breaks"
  * (a feature pipeline whose inputs decouple mid-stream is corrupting
  * every model trained on that window). The q158 drift watchdog reads
  * marginal movement; this reads JOINT movement the marginals miss —
  * two attributes can each hold their distribution while their
  * coupling inverts.
  *
  * Engine mechanics: unlike q158's count VECTOR (which forces a typed
  * Aggregator), correlation state is six SCALAR moment sums
  * (n, Σx, Σy, Σx², Σy², Σxy) — plain `sum()` aggregates in ONE
  * streaming groupBy, the textbook streaming-legal shape. State per
  * open (window, group) is six decimals (~200 bytes), watermark-
  * bounded; the closed form runs in the projection after the agg.
  *
  * Determinism/oracle: the same DECIMAL(38,12) moment discipline as
  * [[graft.operators.Assoc.corrMatrix]] — exact order-independent
  * sums, then one +−×÷√ double expression — so the streaming leg, the
  * q168 batch twin, and DuckDB agree bit-for-bit (StreamingSpec
  * proves micro-batch independence + stream ≡ batch row equality).
  *
  * Reference anchor: celeborn's metrics plane exports independent
  * per-metric gauges/histograms (common/.../metrics/source/
  * AbstractSource.scala:46); cross-metric coupling is left to external
  * dashboards — here it is a first-class streaming query.
  */
object StreamAssoc {

  /** The six scalar moment aggregates shared by both legs. Callers
    * MUST pre-filter to complete (x, y) pairs — n counts rows while
    * the sums skip NULLs, so an unfiltered incomplete pair would
    * inflate n and bias the correlation (r12 ADVICE). Both legs and
    * the SQL mirror apply the same complete-pair filter. */
  private def momentAggs: Seq[Column] = Seq(
    count(lit(1)).as("n"),
    exactSum(col("x")).as("sx"), exactSum(col("y")).as("sy"),
    exactSum(col("x") * col("x")).as("sxx"),
    exactSum(col("y") * col("y")).as("syy"),
    exactSum(col("x") * col("y")).as("sxy"))

  /** The shared closed form: corr from the six moments, 9-dp rounded,
    * NULL when either side is degenerate (zero variance). */
  private def corrCol: Column = {
    val dx = col("n") * col("sxx") - col("sx") * col("sx")
    val dy = col("n") * col("syy") - col("sy") * col("sy")
    val cov = col("n") * col("sxy") - col("sx") * col("sy")
    when(dx * dy > 0, round(cov / sqrt(dx * dy), 9)).otherwise(lit(null))
  }

  /** PUBLIC API — the streaming watchdog over a (g, ts, x, y) stream:
    * watermarked event-time tumbling windows, each closed window
    * emitting (window_start, g, n, corr_xy).
    *
    * Same UTC requirement as [[StreamDrift.watch]]: `window(ts, …)`
    * buckets are epoch/UTC-aligned while the batch twin's day
    * bucketing follows the session timezone; the stream ≡ batch
    * guarantee needs one bucketing rule. */
  def watch(events: DataFrame, windowLen: String = "1 day",
      watermark: String = "1 day"): DataFrame = {
    val tz = events.sparkSession.conf.get("spark.sql.session.timeZone")
    require(java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC,
      s"StreamAssoc.watch requires spark.sql.session.timeZone=UTC (got $tz)")
    events.where(col("x").isNotNull && col("y").isNotNull)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("g"))
      .agg(momentAggs.head, momentAggs.tail: _*)
      .select(col("window.start").as("window_start"), col("g"), col("n"),
        corrCol.as("corr_xy"))
  }

  /** Q168: the batch twin — daily correlation between event value and
    * the payload's k field per event type, through the SAME moment
    * aggregates and closed form as the streaming leg. */
  private def q168(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "events")
      .select(col("event_type").as("g"), to_date(col("ts")).as("day"),
        col("value").as("x"),
        get_json_object(col("props"), "$.k").cast("double").as("y"))
      .where(col("x").isNotNull && col("y").isNotNull)
      .groupBy(col("g"), col("day"))
      .agg(momentAggs.head, momentAggs.tail: _*)
      .select(col("g"), col("day"), col("n"), corrCol.as("corr_xy"))
      .orderBy(col("g").asc_nulls_last, col("day").asc_nulls_last)

  private val q168Sql: String =
    s"""SELECT g, day, n,
       |  CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0 THEN
       |    ROUND((n * sxy - sx * sy) /
       |      SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)), 9) END AS corr_xy
       |FROM (
       |  SELECT event_type AS g, CAST(ts AS DATE) AS day,
       |    CAST(COUNT(*) AS BIGINT) AS n,
       |$sqlXyMoments
       |  FROM (SELECT event_type, ts, value AS x,
       |          CAST(props->>'k' AS DOUBLE) AS y FROM events) e
       |  WHERE x IS NOT NULL AND y IS NOT NULL
       |  GROUP BY 1, 2) m
       |ORDER BY g ASC NULLS LAST, day ASC NULLS LAST""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q168_stream_corr", q168, Some(q168Sql)))
}
