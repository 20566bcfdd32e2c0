package graft.operators

import graft.{QueryDef, Tables, TempDirs}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Output-layout management: compact a table into range-partitioned,
  * size-targeted, sorted parquet files — the small-files discipline a
  * 100 TB pipeline needs at every sink (thousands of tiny writer
  * outputs → a bounded number of well-sized, clusterable files; the
  * same concern the reference exists to manage for shuffle files,
  * its 1 GiB partition-split threshold CelebornConf.scala:5321-5341
  * being the mirror image: split too-big, compact too-small).
  *
  * `repartitionByRange` gives globally range-clustered files (file k
  * holds keys < file k+1 — min/max footer stats then prune range
  * queries to one file); `sortWithinPartitions` orders rows inside
  * each file (row-group stats + better encodings);
  * `maxRecordsPerFile` caps file size without another shuffle.
  *
  * The oracle checks CONTENT is preserved exactly (grouped checksum of
  * the re-read); the layout contract (file count, per-file row caps,
  * disjoint key ranges) is asserted in CompactionSpec.
  */
object Compaction {

  /** PUBLIC API — write `df` as `nFiles` range-clustered runs on
    * `keyCol`, each file capped at `maxRecordsPerFile` rows and sorted
    * by the key; returns the re-read. */
  def compactByRange(df: DataFrame, keyCol: String, nFiles: Int,
      maxRecordsPerFile: Long, out: String): DataFrame = {
    df.repartitionByRange(nFiles, col(keyCol))
      .sortWithinPartitions(col(keyCol))
      .write.option("maxRecordsPerFile", maxRecordsPerFile)
      .mode("overwrite").parquet(out)
    df.sparkSession.read.parquet(out)
  }

  /** q65: compact orders into 8 range-clustered files on o_orderkey and
    * prove the round trip loses nothing: per-status counts and exact
    * decimal totals over the re-read must equal the source table. */
  private def q65(s: SparkSession, dir: String): DataFrame = {
    val out = TempDirs.createTempDirectory("graft_compaction")
    compactByRange(Tables.t(s, dir, "orders"), "o_orderkey",
      nFiles = 8, maxRecordsPerFile = 4096L, out = out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(28,2)")).cast("double").as("total"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy(col("o_orderstatus").asc_nulls_last)
  }

  private val q65Sql =
    """SELECT o_orderstatus, COUNT(*)::BIGINT AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total,
      |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
      |FROM orders GROUP BY o_orderstatus
      |ORDER BY o_orderstatus ASC NULLS LAST""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q65_compaction", q65, Some(q65Sql)))
}
