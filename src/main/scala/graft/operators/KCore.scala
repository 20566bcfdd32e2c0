package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8: k-core decomposition — iterative peeling (remove nodes of
  * degree < k, repeat) until the k-core remains. Completes the graph
  * fixpoint family: q74 PageRank (value iteration), q55 connected
  * components (label propagation), q120 triangles (one-shot join) —
  * peeling is the DATA-DEPENDENT-workset class: each round shrinks the
  * edge set, so per-round cost decreases (unlike PageRank's constant
  * rounds).
  *
  * Round = one node-keyed degree aggregate + two semi joins filtering
  * the edge list; `localCheckpoint` cuts lineage per round exactly like
  * the other fixpoints (reliable-checkpoint note in
  * [[Clusters.connectedComponents]] applies).
  *
  * Determinism/oracle: a FIXED number of peel rounds (8 — convergence
  * on every fixture scale is asserted in KCoreSpec, and a converged
  * round is idempotent so extra rounds are harmless) with the
  * per-round (nodes, edges) trajectory as output — the DuckDB oracle
  * replays the same 8 rounds as chained CTEs. Counting the trajectory
  * rather than dumping the core keeps the output scale-independent
  * and makes the CONVERGENCE SHAPE itself the verified artifact. */
object KCore {

  private val K = 4
  private val Rounds = 8

  /** PUBLIC API — peel to the k-core; returns the surviving undirected
    * edge list (u < v). Peels until the edge count is STABLE (a
    * converged round is a fixpoint: no node below k remains), so the
    * result is a true k-core on any graph shape — a pendant chain
    * longer than a fixed round budget cannot leak through. `rounds` is
    * a safety cap only (each round removes ≥1 node before convergence,
    * so it is never the binding limit on graphs with < rounds peelable
    * layers); the per-round count is one cheap job over the
    * checkpointed frame, the same materialization q133 already pays. */
  def kcoreEdges(edges: DataFrame, k: Int, rounds: Int = 1000): DataFrame = {
    // r16 job-count pass: LAZY localCheckpoint + the convergence count
    // as the materializing action — one driver job per round where
    // eager-checkpoint-then-count paid two. (A lazy local checkpoint is
    // finalized by the first job that computes the frame; Spark
    // recomputes any partition that job skipped, and count() skips
    // none.)
    var und = edges
      .select(least(col("src"), col("dst")).cast("long").as("u"),
        greatest(col("src"), col("dst")).cast("long").as("v"))
      .where(col("u") =!= col("v")).distinct()
      .localCheckpoint(false)
    var prev = und.count()
    var stable = false
    var r = 0
    while (!stable && r < rounds) {
      und = peel(und, k)
      val cur = und.count()
      stable = cur == prev
      prev = cur
      r += 1
    }
    und
  }

  /** One peel round over the (u, v) edge list: the edges whose two
    * endpoints both have degree ≥ k, lazily checkpointed so the round's
    * one action finalizes it. */
  private def peel(und: DataFrame, k: Int): DataFrame = {
    val deg = und.select(col("u").as("id"))
      .unionAll(und.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
      .where(col("d") >= k)
    und
      .join(deg.select(col("id").as("u")), Seq("u"), "left_semi")
      .join(deg.select(col("id").as("v")), Seq("v"), "left_semi")
      .select(col("u"), col("v"))
      .localCheckpoint(false)
  }

  /** Q133: the 8-round peel trajectory of the 1996 co-purchase graph
    * at k=4: (round, n_nodes, n_edges) per round. */
  private def q133(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.t(s, dir, "lineitem")
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("l_orderkey").as("k"), col("l_partkey"))
    val edges0 = li.select(col("k"), col("l_partkey").as("src"))
      .join(li.select(col("k"), col("l_partkey").as("dst")), "k")
      .where(col("src") < col("dst"))
      .select(col("src"), col("dst"))
    var und = edges0
      .select(col("src").as("u"), col("dst").as("v")).distinct()
      .localCheckpoint()
    val traj = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]()
    for (r <- 1 to Rounds) {
      und = peel(und, K)
      // r16 job-count pass: ONE action per round — the endpoint explode
      // counts nodes (distinct) and edges (rows/2, exact: every u<v
      // edge contributes exactly two endpoint rows) while the same job
      // finalizes the round's lazy checkpoint. Was 3 jobs per round
      // (eager checkpoint + edge count + node distinct-count).
      val row = und.select(explode(array(col("u"), col("v"))).as("id"))
        .agg(count_distinct(col("id")).as("n_nodes"),
          count(lit(1)).as("rows2")).head()
      traj += ((r, row.getLong(0), row.getLong(1) / 2))
    }
    import s.implicits._
    traj.toSeq.toDF("round", "n_nodes", "n_edges")
      .orderBy(col("round").asc_nulls_last)
  }

  private val q133Sql = {
    // MATERIALIZED: each round references its predecessor three times
    // (degree scan + two IN subqueries) — un-materialized CTEs would
    // re-evaluate the whole chain 3^rounds times
    def round(prev: String, out: String): String =
      s"""d_$out AS MATERIALIZED (SELECT id, COUNT(*) AS d FROM (
         |  SELECT u AS id FROM $prev UNION ALL SELECT v AS id FROM $prev)
         |  GROUP BY id HAVING COUNT(*) >= $K),
         |$out AS MATERIALIZED (SELECT u, v FROM $prev
         |  WHERE u IN (SELECT id FROM d_$out)
         |    AND v IN (SELECT id FROM d_$out))""".stripMargin
    val rounds = (1 to Rounds)
      .map(r => round(if (r == 1) "e0" else s"e${r - 1}", s"e$r"))
      .mkString(",\n")
    val stats = (1 to Rounds).map(r =>
      s"""SELECT $r AS round,
         |  (SELECT COUNT(*) FROM (SELECT u AS id FROM e$r
         |    UNION SELECT v FROM e$r) x) AS n_nodes,
         |  (SELECT COUNT(*) FROM e$r) AS n_edges""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH li AS (
       |  SELECT l_orderkey AS k, l_partkey FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
       |    AND l_shipdate < TIMESTAMP '1997-01-01'),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       |  FROM li a JOIN li b ON a.k = b.k WHERE a.l_partkey < b.l_partkey),
       |$rounds
       |SELECT round, CAST(n_nodes AS BIGINT) AS n_nodes,
       |  CAST(n_edges AS BIGINT) AS n_edges
       |FROM ($stats)
       |ORDER BY round ASC NULLS LAST""".stripMargin
  }

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q133_kcore", q133, Some(q133Sql)))
}
