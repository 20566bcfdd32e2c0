package graft.operators

import graft.{QueryDef, Tables, TempDirs}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sharded training-data export with a verifiable manifest — the LAST
  * stage of a curation pipeline: filtered, deduplicated documents land
  * in deterministic shards, and the manifest records per-shard row
  * counts, id ranges, and an order-independent content checksum that a
  * downstream trainer (or this engine re-reading its own output) can
  * re-derive to prove integrity. The reference's commit protocol is the
  * same contract at the transport layer: workers persist files, then the
  * committed file set is verified before consumption (celeborn:
  * client/.../commit/ReducePartitionCommitHandler.scala:54,169, CRC
  * per batch ShuffleClientImpl.java:976); here the "commit manifest"
  * is derived from the data itself, so it also survives engine changes.
  *
  * Checksum: per-row 32-bit value from the doc's md5 (first 8 hex
  * digits → BIGINT), SUMmed per shard — addition commutes, so the
  * checksum is partition- and order-independent, and both engines
  * derive it bit-identically (no float, no ordering).
  *
  * Scale: the shard column is a pure row function of doc_id; the write
  * is `partitionBy(shard)` (q44's pruned layout) and the manifest is one
  * partial+final aggregation keyed by shard. Nothing collects; shard
  * count bounds output file fan-out exactly like the reference's 1 GiB
  * partition-split discipline bounds file sizes.
  */
object Export {

  /** PUBLIC API — gate + dedup + shard + write + manifest-of-what-was-
    * written. Keeps docs with ≥ `minTokens` whitespace tokens, keeps the
    * min-doc_id copy of each exact text, shards by `doc_id % nShards`,
    * writes parquet partitioned by shard to `outDir`, re-reads the
    * written files, and returns the manifest derived FROM THE RE-READ —
    * so a broken sink cannot produce a clean manifest. */
  def exportWithManifest(docs: DataFrame, outDir: String,
      nShards: Int = 8, minTokens: Int = 20): DataFrame = {
    val spark = docs.sparkSession
    val kept = docs
      .where(size(split(col("text"), " ")) >= minTokens)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("text")).orderBy(col("doc_id").asc_nulls_last)))
      .where(col("rn") === 1).drop("rn")
      .withColumn("shard", col("doc_id") % nShards)
    kept.write.mode("overwrite").partitionBy("shard").parquet(outDir)
    val written = spark.read.parquet(outDir)
    written.groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"),
        sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
          .cast("long").as("checksum"))
      .orderBy(col("shard").asc_nulls_last)
  }

  private def q76(s: SparkSession, dir: String): DataFrame = {
    val out = TempDirs.createTempDirectory("graft_export")
    exportWithManifest(Tables.t(s, dir, "documents"), out)
  }

  /** Oracle replays gate + dedup + shard + manifest (no filesystem) —
    * equality proves the written shards carry exactly the planned rows. */
  private val q76Sql =
    """WITH kept AS (
      |  SELECT doc_id, text, doc_id % 8 AS shard FROM documents
      |  WHERE len(string_split(text, ' ')) >= 20
      |  QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id ASC) = 1)
      |SELECT shard, COUNT(*) AS n_rows,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
      |  CAST(SUM(CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT)) AS BIGINT)
      |    AS checksum
      |FROM kept GROUP BY shard ORDER BY shard ASC NULLS LAST""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q76_export_manifest", q76, Some(q76Sql)))
}
