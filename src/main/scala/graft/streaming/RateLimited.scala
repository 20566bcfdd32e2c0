package graft.streaming

import graft.{Canon, QueryDef, Tables, TempDirs}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Rate-limited streaming reads — Spark's pull-based analogue of the
  * reference's credit-based flow control
  * (celeborn: client-flink/common/.../RemoteBufferStreamReader.java:95-131,
  * worker/.../CreditStreamManager.java: a reader only receives as many
  * buffers as it has granted credits). Spark inverts the mechanism — the
  * source THROTTLES what each micro-batch may admit (`maxFilesPerTrigger`
  * for file sources, `maxOffsetsPerTrigger` for offset-based ones) — but
  * the guarantee under test is the same: bounded per-batch intake with
  * results identical to the unthrottled batch computation.
  *
  * At 100 TB the throttle is what keeps a backfill from admitting the
  * whole corpus into one micro-batch: state stores and shuffles stay
  * sized to `maxFilesPerTrigger × maxPartitionBytes`, not to the corpus.
  *
  * Streams here and in [[StreamJoin]] run to completion through one
  * memory-sink runner, [[toMemory]]. They report nothing themselves: a
  * stream started inside a [[graft.Metrics.measured]] window counts its
  * micro-batch jobs and batch times there.
  */
object RateLimited {

  /** Throttled file-stream read: each micro-batch admits at most
    * `maxFilesPerTrigger` files regardless of how many are pending. */
  def throttledStream(s: SparkSession, srcDir: String, schema: StructType,
      maxFilesPerTrigger: Int): DataFrame =
    s.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)

  /** Run `agg` over a throttled stream of `srcDir` to completion
    * (complete mode, see [[toMemory]]) and return (result table, number
    * of non-empty batches). */
  def runThrottled(s: SparkSession, srcDir: String, schema: StructType,
      maxFilesPerTrigger: Int)(agg: DataFrame => DataFrame): (DataFrame, Int) =
    toMemory(s, "complete")(agg(throttledStream(s, srcDir, schema, maxFilesPerTrigger)))

  /** Shuffle partitions of the streams [[toMemory]] runs. State
    * partitioning is captured from spark.sql.shuffle.partitions at query
    * START and every micro-batch commits one state store per partition
    * (4 for a stream-stream join): at local test scale 32 partitions ×
    * 3 batches is pure commit overhead, so the conf is scoped down for
    * the stream's lifetime and restored after. On a real cluster this is
    * the knob sized to executor count (state stores spread across
    * workers). */
  private val StatePartitions = 8

  /** Run `stream` to completion into a fresh memory table (AvailableNow:
    * drain everything pending, honoring the source's throttle, then
    * stop) under [[StatePartitions]] shuffle partitions, and return
    * (the table, number of non-empty batches). */
  private[streaming] def toMemory(s: SparkSession, outputMode: String)
      (stream: => DataFrame): (DataFrame, Int) = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, StatePartitions.toString)
    try {
      val tbl = "graft_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = stream.writeStream.format("memory").queryName(tbl)
        .outputMode(outputMode).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      (s.table(tbl), q.recentProgress.count(_.numInputRows > 0))
    } finally s.conf.set(key, prev)
  }

  /** Events of `dir` re-laid-out as 6 parquet files, built once per JVM
    * (and shared with other streaming queries, e.g. q75), so repeated
    * bench iterations measure the throttled read, not the rewrite. */
  def sourceLayout(s: SparkSession, dir: String): String =
    sixFiles(dir, "graft_rate_src")(Tables.t(s, dir, "events"))

  /** One event type of `dir` as its own 6-file stream source (a "topic"
    * per type — the two sides of a stream-stream join are independent
    * streams, and each side should scan only its own data). */
  def typedLayout(s: SparkSession, dir: String, eventType: String): String =
    sixFiles(dir, s"graft_rate_$eventType")(
      Tables.t(s, dir, "events").where(col("event_type") === eventType))

  /** `rows` written once per JVM as 6 parquet files whose modification
    * times are distinct, 1 s apart in ascending file-name order. The
    * file source admits files in modification-time order, and files one
    * write lands in the same instant tie, so without this the files of
    * a micro-batch (and with them which batch carries the max event
    * time, and so whether AvailableNow runs a trailing no-data batch)
    * vary between runs. */
  private def sixFiles(dir: String, prefix: String)(rows: => DataFrame): String =
    TempDirs.layout(dir, prefix) { d =>
      rows.repartition(6).write.mode("overwrite").parquet(d)
      val files = new java.io.File(d).listFiles()
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .sortBy(_.getName)
      val t0 = System.currentTimeMillis() - 1000L * files.length
      files.zipWithIndex.foreach { case (f, i) =>
        require(f.setLastModified(t0 + 1000L * i), s"cannot set the mtime of $f")
      }
    }

  /** q49: events re-laid-out as 6 files, streamed 2 files per trigger
    * (3+ micro-batches), aggregated in complete mode — the final answer
    * must equal the plain batch aggregate (DuckDB oracle). The >=3
    * micro-batch progress assertion lives in StreamingSpec. */
  private def q49(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.t(s, dir, "events")
    val src = sourceLayout(s, dir)
    val (result, _) = runThrottled(s, src, ev.schema, maxFilesPerTrigger = 2) {
      _.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), Canon.dsum(col("value"), 6).as("sum_value"))
    }
    result.orderBy(col("event_type").asc_nulls_last)
  }

  private val q49Sql =
    s"""SELECT event_type, COUNT(*) AS n, ${Canon.sqlDsum("value", 6)} AS sum_value
       |FROM events GROUP BY event_type
       |ORDER BY event_type ASC NULLS LAST""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q49_rate_limited", q49, Some(q49Sql)))
}
