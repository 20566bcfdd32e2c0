package graft.streaming

import graft.{QueryDef, Tables}
import graft.Canon.exactSum
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-12: the STREAMING TREND WATCHDOG — the trend family deployed
  * on the ingest stream, completing the watchdog trio (q158 drift,
  * q168 correlation, q178 slope): every closed event-time window emits
  * the least-squares slope of the metric against time-within-window —
  * "page the operator the day the error rate started CLIMBING", before
  * any batch q171/q172 run sees the day.
  *
  * Engine mechanics: OLS slope state is five SCALAR moment sums
  * (n, Σt, Σv, Σt², Σtv) — plain `sum()` in ONE streaming groupBy
  * (the q168 shape, streaming-legal), ~170 bytes per open
  * (window, group), watermark-bounded. The time axis is SECONDS WITHIN
  * THE WINDOW (floor-epoch mod 86400 for the UTC-day windows): offsets
  * stay ≤ 86400, so Σt² is bounded by 7.5e9·n and the DECIMAL(38,12)
  * moment sums cannot overflow at any realistic window volume — raw
  * epoch micros would overflow the decimal at ~10⁴ rows.
  *
  * Determinism/oracle: the [[StreamAssoc]] discipline — each product
  * rounds to 12 dp into an exact decimal sum (order-free, so the
  * micro-batch split cannot move the result), then one +−×÷ double
  * closed form; the streaming leg, the q178 batch twin, and DuckDB
  * agree bit-for-bit (StreamingSpec proves batching independence).
  * Windows with a single distinct second (denominator 0) emit NULL.
  *
  * Reference anchor: celeborn alerts on threshold crossings of gauges
  * (common/.../metrics); a slope watchdog fires on the DERIVATIVE —
  * the difference between "disk is 80% full" and "disk fills by 5%/h".
  */
object StreamSlope {

  /** The five scalar moment aggregates shared by both legs; `t` is
    * seconds within the (UTC-day) bucket. */
  private def momentAggs: Seq[Column] = Seq(
    count(lit(1)).as("n"),
    exactSum(col("t")).as("st"), exactSum(col("v")).as("sv"),
    exactSum(col("t") * col("t")).as("stt"),
    exactSum(col("t") * col("v")).as("stv"))

  /** The shared closed form: slope (metric units per second) from the
    * five moments, 12-dp rounded, NULL on a degenerate time axis. */
  private def slopeCol: Column = {
    val den = col("n") * col("stt") - col("st") * col("st")
    when(den > 0,
      round((col("n") * col("stv") - col("st") * col("sv")) / den, 12))
      .otherwise(lit(null))
  }

  /** Seconds within the UTC day of `ts` — floor-epoch mod 86400, the
    * pure-integer bucket offset both engines compute identically. */
  private def tInDay(ts: Column): Column =
    pmod(ts.cast("long"), lit(86400L))

  /** PUBLIC API — the streaming watchdog over a (ts, g, v) stream:
    * watermarked UTC-day tumbling windows, each closed window emitting
    * (window_start, g, n, slope_per_sec).
    *
    * Same UTC requirement as [[StreamDrift.watch]]: the within-window
    * offset is epoch mod 86400, which equals time-since-window-start
    * only for epoch-aligned (UTC) day windows. */
  def watch(events: DataFrame, watermark: String = "1 day"): DataFrame = {
    val tz = events.sparkSession.conf.get("spark.sql.session.timeZone")
    require(java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC,
      s"StreamSlope.watch requires spark.sql.session.timeZone=UTC (got $tz)")
    events.withColumn("t", tInDay(col("ts")))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day"), col("g"))
      .agg(momentAggs.head, momentAggs.tail: _*)
      .select(col("window.start").as("window_start"), col("g"), col("n"),
        slopeCol.as("slope_per_sec"))
  }

  /** Q178: the batch twin — per event type and day, the within-day
    * least-squares slope of the event value, through the SAME moments
    * and closed form as the streaming leg. */
  private def q178(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "events")
      .select(col("event_type").as("g"), to_date(col("ts")).as("day"),
        tInDay(col("ts")).as("t"), col("value").as("v"))
      .groupBy(col("g"), col("day"))
      .agg(momentAggs.head, momentAggs.tail: _*)
      .select(col("g"), col("day"), col("n"), slopeCol.as("slope_per_sec"))
      .orderBy(col("g").asc_nulls_last, col("day").asc_nulls_last)

  private val q178Sql: String =
    s"""SELECT g, day, n,
       |  CASE WHEN n * stt - st * st > 0 THEN
       |    ROUND((n * stv - st * sv) / (n * stt - st * st), 12)
       |  END AS slope_per_sec
       |FROM (
       |  SELECT event_type AS g, CAST(ts AS DATE) AS day,
       |    CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CAST(t AS DECIMAL(38,12))) AS DOUBLE) AS st,
       |    CAST(SUM(CAST(v AS DECIMAL(38,12))) AS DOUBLE) AS sv,
       |    CAST(SUM(CAST(t * t AS DECIMAL(38,12))) AS DOUBLE) AS stt,
       |    CAST(SUM(CAST(t * v AS DECIMAL(38,12))) AS DOUBLE) AS stv
       |  FROM (SELECT event_type, ts,
       |          CAST(FLOOR(epoch(ts)) AS BIGINT) % 86400 AS t,
       |          value AS v FROM events) e
       |  GROUP BY 1, 2) m
       |ORDER BY g ASC NULLS LAST, day ASC NULLS LAST""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q178_stream_slope", q178, Some(q178Sql)))
}
