package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet table loader for the TPC-H-ish star schema + events/documents/
  * embeddings (schemas in FIXTURES.md). One parquet file per table; at
  * cluster scale these would be directories of many files — the reader
  * code is identical either way, and Catalyst handles split planning.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else parquet(spark, s"$dir/$name.parquet")

  /** Open a parquet table — one file, or a flat directory of part files —
    * WITHOUT a Spark job. A bare `spark.read.parquet(path)` infers the
    * schema with a one-task job per call (36 of the 86 jobs of a tpch
    * pass); here the driver reads the same single footer that
    * non-merging inference reads and hands the schema to the reader.
    * Control-plane metadata stays on the driver, data work goes to the
    * executors. Not for partitioned layouts: those need partition
    * discovery's inference, so their read-backs keep `read.parquet`.
    *
    * No cache: a footer read costs far less than the inference job it
    * replaces, so every call re-reads it and a file rewritten
    * mid-session is opened with its new schema. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(footerSchema(spark, path)).parquet(path)

  /** The Spark schema of `path`'s first data file by name (`_*` and `.*`
    * names skipped, as file listing does), read and converted with the
    * calls Spark's inference task makes: the footer without its row-group
    * metadata (a small fraction of `ParquetFileReader.open`'s CPU),
    * converted under the session's parquet confs. */
  private def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val status = fs.getFileStatus(p) // FileNotFoundException names the path
    def isData(f: FileStatus) = f.isFile && !f.getPath.getName.startsWith("_") &&
      !f.getPath.getName.startsWith(".")
    val file =
      if (status.isFile) status
      else fs.listStatus(p).filter(isData).sortBy(_.getPath.getName).headOption
        .getOrElse(throw new java.io.FileNotFoundException(
          s"no parquet data file in directory: $path"))
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** Fixture quirk (historical): some generator versions write `events.ts`
    * as INT64 TIMESTAMP(NANOS) parquet, which Spark 4 rejects outright
    * (PARQUET_TYPE_ILLEGAL) unless this session conf is set. It must be set
    * at session CONSTRUCTION (SessionDefaults.session does) —
    * the footer schema conversion ([[parquet]]) and the scan both consult
    * only the session conf, so a per-read option cannot express it. Newer
    * fixtures write plain TIMESTAMP(MICROS); the loader below handles
    * either encoding by inspecting the read schema. */
  val NanosConf = "spark.sql.legacy.parquet.nanosAsLong"

  /** Read `ts` as an instant TIMESTAMP at microsecond precision regardless
    * of the fixture's physical encoding: nanos-as-long files are truncated
    * to micros (the same truncation DuckDB applies, keeping oracle parity);
    * timezone-less micros files (pyarrow's default) arrive as TIMESTAMP_NTZ
    * and are cast to instant semantics under the session's UTC timezone —
    * bit-identical micros, but usable by `unix_micros` and as a streaming
    * event-time column, and the same instant DuckDB sees. */
  private def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = parquet(spark, s"$dir/events.parquet")
    val fixed = raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
    fixed.select("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  /** Register all tables of a scale-factor dir as temp views. */
  def registerViews(spark: SparkSession, dir: String): Unit =
    names.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))

  /** On-disk bytes of `$dir/$name.parquet` (file or directory of part
    * files) — the cheap scale signal the size-conditional broadcast
    * hints and Bench's threshold scaling key on. 0 when absent. */
  def bytesOf(spark: SparkSession, dir: String, name: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** The documents table fanned out by `doc_id` right after the read
    * (optimization guide §2.5 "one huge unsplittable file … repartition
    * immediately after the read"): the fixture tables are
    * single-row-group parquet files, so a scan stage is ONE task
    * regardless of core count, and everything Spark fuses into it —
    * tokenize/shingle explode plus the partial aggregation of every text
    * operator — runs serial (r16 job/stage/task counts: q166's timed run
    * was 14 s of task time across 15 single-task stages; q28's 60-sum
    * simhash aggregation 3.7 s in one task). Repartitioning right after
    * the read unlocks the cores.
    *
    * Scale discipline: only fires while the table's on-disk footprint
    * is at most [[FanOutCapBytes]] (256 MB — an exchange of ≤ 256 MB
    * compressed costs well under a second on every protocol tier) AND
    * the scan would plan fewer splits than the session's parallelism.
    * At sf10+ the table crosses the cap and the plan is untouched — the
    * sf100 board shapes keep their measured slopes. The partitioning is
    * BY `doc_id`, which every downstream per-doc aggregation satisfies as
    * a clustered distribution (subset rule), so the repartition REPLACES
    * the aggregation's own exchange instead of adding one — and it moves
    * the compact un-exploded rows where the replaced exchange moved the
    * exploded ones (§2.3: shuffle the light form). */
  def fannedDocuments(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val bytes = bytesOf(spark, dir, "documents")
    val p = spark.sparkContext.defaultParallelism
    // the SESSION's split size, not the 128 MB default, so the guard
    // predicts the scan's planned splits under any session conf
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val plannedSplits = math.max(1L, (bytes + maxSplit - 1) / maxSplit)
    if (bytes <= FanOutCapBytes && plannedSplits < p)
      docs.repartition(p, org.apache.spark.sql.functions.col("doc_id"))
    else docs
  }

  /** See [[fannedDocuments]]. */
  val FanOutCapBytes: Long = 256L << 20

  /** `broadcast(df)` only while the backing table's parquet footprint
    * stays under `capBytes` (default 64 MB compressed ≈ a few hundred
    * MB in-memory) — above it the hint is DROPPED, not honored at any
    * size the way a bare `broadcast()` is, and the join is left to the
    * optimizer: under Bench's scale-raised adaptive threshold AQE
    * re-plans from MEASURED post-shuffle sizes, and a genuinely
    * fact-sized dim falls back to a shuffle join instead of shipping
    * hundreds of MB to every executor (VERDICT r15 item 1: the q105
    * force-broadcast of a 10⁶-row supplier was honored regardless of
    * size while the real melt sat in the unhinted chain). `df` may be
    * a projection/filter of the table; sizing keys on the BASE table's
    * footprint, the conservative upper bound. */
  def broadcastIfUnder(spark: SparkSession, dir: String, name: String,
      capBytes: Long = 64L << 20)(df: DataFrame): DataFrame =
    if (bytesOf(spark, dir, name) <= capBytes)
      org.apache.spark.sql.functions.broadcast(df)
    else df
}
