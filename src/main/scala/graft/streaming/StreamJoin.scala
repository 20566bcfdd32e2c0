package graft.streaming

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stream-stream event-time join: click→purchase attribution where the
  * purchase follows the click by the same user within 5 minutes, both
  * sides arriving as throttled file streams.
  *
  * This is the stateful-join shape the reference's streaming consumers
  * (Flink hybrid shuffle, SURVEY §2A rows 33-34) run against a shuffle
  * service: both streams hash-exchange on `user_id`, and each side
  * buffers rows in a state store until the other side's watermark passes
  * the time-range bound, at which point state is evicted.
  *
  * State bounding at 100 TB: the range condition (`p_ts` within
  * [click_ts, click_ts + 5 min]) plus BOTH-side watermarks let Spark
  * compute exactly how long a buffered click can still match — state per
  * key is O(events within watermark delay + range), not O(stream). The
  * fixture spans 30 days and files arrive in hash order (not time
  * order), so the registered query uses a 35-day delay to retain
  * everything and stay bit-equal to the batch oracle; a production
  * deployment sets the delay to its lateness SLA (minutes), shrinking
  * state by the same factor.
  *
  * The join runs through [[RateLimited.toMemory]] (state partitions
  * scoped down for the stream's lifetime); its micro-batch times reach
  * the caller's metrics window with no call from here.
  */
object StreamJoin {

  /** Clicks ⋈ purchases as two independent watermarked throttled file
    * streams (a "topic" per side — each scans only its own events);
    * returns the joined pairs via a memory sink (append mode — the only
    * mode stream-stream inner joins support; see
    * [[RateLimited.toMemory]]). */
  def clickPurchasePairs(s: SparkSession, clickSrc: String, purchaseSrc: String,
      schema: org.apache.spark.sql.types.StructType,
      watermarkDelay: String, maxFilesPerTrigger: Int): DataFrame = {
    def side(src: String, tsAlias: String) =
      RateLimited.throttledStream(s, src, schema, maxFilesPerTrigger)
        .select(col("user_id"), col("ts").as(tsAlias), col("event_id"))
        .withWatermark(tsAlias, watermarkDelay)
    RateLimited.toMemory(s, "append") {
      val clicks = side(clickSrc, "click_ts")
        .withColumnRenamed("event_id", "click_id")
      val purchases = side(purchaseSrc, "p_ts")
        .withColumnRenamed("user_id", "p_user")
        .withColumnRenamed("event_id", "purchase_id")
      clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") > col("click_ts") &&
          col("p_ts") <= col("click_ts") + expr("INTERVAL 5 MINUTES"))
    }._1
  }

  /** q51: per-user-bucket attribution counts over the streamed pairs,
    * equal to the batch interval join (DuckDB oracle). */
  private def q51(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.t(s, dir, "events")
    val clickSrc = RateLimited.typedLayout(s, dir, "click")
    val purchaseSrc = RateLimited.typedLayout(s, dir, "purchase")
    val pairs = clickPurchasePairs(s, clickSrc, purchaseSrc, ev.schema,
      watermarkDelay = "35 days", maxFilesPerTrigger = 2)
    pairs.groupBy((col("user_id") % 10).as("user_bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("purchase_id")).as("n_purchases"))
      .orderBy(col("user_bucket").asc_nulls_last)
  }

  private val q51Sql =
    """SELECT a.user_id % 10 AS user_bucket, COUNT(*) AS n_pairs,
      |  COUNT(DISTINCT a.user_id) AS n_users,
      |  COUNT(DISTINCT b.event_id) AS n_purchases
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id
      |  AND a.event_type = 'click' AND b.event_type = 'purchase'
      |  AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
      |GROUP BY user_bucket
      |ORDER BY user_bucket ASC NULLS LAST""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q51_stream_stream_join", q51, Some(q51Sql)))
}
