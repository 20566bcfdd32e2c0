package graft.operators

import graft.{Canon, QueryDef, Tables, TempDirs}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Schema evolution on read: a dataset written over time by producers on
  * different schema versions must stay queryable as ONE table. The old
  * batch lacks a column the new batch has; `mergeSchema` unions the
  * footers at planning time and back-fills nulls — no rewrite of the
  * historical data (at 100 TB, rewriting history on every schema change
  * is the thing this feature exists to avoid).
  *
  * The reference stores schema-opaque bytes and leaves evolution to the
  * engine (celeborn README.md: "data could be stored in memory, local
  * disks, or DFS" — layout, not schema, is its concern); Spark's
  * parquet footer merge is the engine-side answer.
  */
object Evolution {

  /** Two-generation layout per sf dir per JVM: even order keys written
    * with the v1 schema (3 columns), odd keys with v2 (adds
    * o_orderstatus). */
  def evolvedLayout(s: SparkSession, dir: String): String =
    TempDirs.layout(dir, "graft_evolve") { base =>
      val o = Tables.t(s, dir, "orders")
      o.where(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$base/gen=1")
      o.where(col("o_orderkey") % 2 =!= 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderstatus"))
        .write.mode("overwrite").parquet(s"$base/gen=2")
    }

  /** q54: merged-schema read over both generations; v1 rows surface the
    * evolved column as NULL and aggregate alongside v2 rows. */
  private def q54(s: SparkSession, dir: String): DataFrame =
    s.read.option("mergeSchema", "true").parquet(evolvedLayout(s, dir))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("o_custkey")).as("n_custs"),
        Canon.dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first)

  private val q54Sql =
    s"""SELECT CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE o_orderstatus END AS o_orderstatus,
       |  COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_custs,
       |  ${Canon.sqlDsum("o_totalprice")} AS sum_price
       |FROM orders
       |GROUP BY 1 ORDER BY 1 ASC NULLS FIRST""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q54_schema_evolution", q54, Some(q54Sql)))
}
