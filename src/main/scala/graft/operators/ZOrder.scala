package graft.operators

import graft.{Canon, QueryDef, Tables, TempDirs}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) clustering: a write layout that makes file
  * skipping work for TWO filter columns at once. q65's compaction
  * clusters by one range key; filtering on any other column still scans
  * every file. Interleaving the bits of two keys into one Morton value
  * and range-clustering on THAT gives every file a tight min/max box in
  * both dimensions, so parquet footer stats prune files for either (or
  * both) predicates — the lakehouse-side mirror of the reference's
  * partition-split discipline (bounded files, CelebornConf.scala:5321)
  * applied to read-side IO instead of write-side balance.
  *
  * The skipping is MEASURED, not assumed: `ZOrderSpec` reads the scan's
  * own `numFiles`/`filesSize` metrics (the same surface `Metrics.scala`
  * exports) and asserts a two-column box query opens strictly fewer
  * files on the z-ordered layout than linear clustering does on its
  * non-leading column.
  */
object ZOrder {

  /** 16-bit × 16-bit Morton interleave of two non-negative int columns,
    * as a pure codegen'd bit expression (no UDF): spreads each value's
    * low 16 bits to even positions via shift-and-mask doubling, then ORs
    * the second key's spread bits shifted by one. */
  def morton16(a: Column, b: Column): Column = {
    def spread(c: Column): Column = {
      // classic bit-twiddling: x = (x | x<<8) & 0x00FF00FF; ... down to
      // every-other-bit occupancy (16 -> 32 bits)
      val x0 = c.bitwiseAND(lit(0xFFFFL))
      val x1 = x0.bitwiseOR(shiftleft(x0, 8)).bitwiseAND(lit(0x00FF00FFL))
      val x2 = x1.bitwiseOR(shiftleft(x1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
      val x3 = x2.bitwiseOR(shiftleft(x2, 2)).bitwiseAND(lit(0x33333333L))
      x3.bitwiseOR(shiftleft(x3, 1)).bitwiseAND(lit(0x55555555L))
    }
    spread(a).bitwiseOR(shiftleft(spread(b), 1))
  }

  /** PUBLIC API — rewrite `df` as `nFiles` parquet files clustered on
    * the Morton order of (`colA`, `colB`) (both truncated to 16 bits),
    * each file internally sorted so row-group stats are tight too. */
  def zorderWrite(df: DataFrame, outDir: String, colA: String, colB: String,
      nFiles: Int = 16): Unit =
    df.withColumn("_z", morton16(col(colA), col(colB)))
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode("overwrite").parquet(outDir)

  /** q79: lineitem z-ordered on (l_partkey, l_suppkey); a box predicate
    * on BOTH columns aggregates identically to the flat table (oracle),
    * while the file-skipping evidence lives in ZOrderSpec's scan
    * metrics. */
  private def q79(s: SparkSession, dir: String): DataFrame = {
    val out = TempDirs.createTempDirectory("graft_zorder")
    zorderWrite(Tables.t(s, dir, "lineitem"), out, "l_partkey", "l_suppkey")
    s.read.parquet(out)
      .where(col("l_partkey") < 100 && col("l_suppkey") < 40)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_orderkey")).cast("long").as("sum_okey"),
        Canon.dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_last)
  }

  private val q79Sql =
    s"""SELECT l_returnflag, COUNT(*) AS n,
       |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
       |  ${Canon.sqlDsum("l_quantity")} AS sum_qty
       |FROM lineitem WHERE l_partkey < 100 AND l_suppkey < 40
       |GROUP BY l_returnflag ORDER BY l_returnflag ASC NULLS LAST""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q79_zorder_layout", q79, Some(q79Sql)))
}
