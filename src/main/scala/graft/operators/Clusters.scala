package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Connected components over near-duplicate pair sets — the step that
  * turns pairwise dedup output (q27/q28) into per-document keep/drop
  * decisions. Without it a dedup pipeline double-drops transitive
  * duplicates: pairs (a,b) and (b,c) must collapse to ONE cluster
  * {a,b,c} keeping exactly one canonical doc, not two independent drops.
  *
  * Algorithm: iterated min-label propagation (each node takes the min of
  * its own and its neighbours' labels) to a fixpoint. Labels settle in
  * O(graph diameter) rounds plus one final round to observe no change
  * (3 total on the fixture, whose widest component is the triangle);
  * near-dup clusters are dense (near-cliques of mutual high-Jaccard
  * pairs), so the diameter stays in single digits on real corpora. For adversarial
  * long-chain graphs the O(log n) alternating large-star/small-star
  * scheme (Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SoCC '14) halves chains per round; propagation is chosen
  * here because its per-round plan is two shuffles of bare (id, label)
  * pairs with map-side-combined min — no per-key array ever
  * materializes, so a hot node (one doc near-duplicating millions)
  * degrades into partial-aggregated min, not a crowded bucket (the
  * skew lesson of CelebornPartitionUtil.java:60-100).
  *
  * Each round ends in an eager `localCheckpoint`: lineage would
  * otherwise double per iteration and re-execute the whole prefix on
  * every action (the same reason the reference replicates pushed
  * shuffle data rather than replaying mappers, PushDataHandler.scala:190
  * — pay a small materialization to cut the recompute chain).
  */
object Clusters {

  /** PUBLIC API — connected components of an undirected graph given as
    * a (src, dst) pair DataFrame. Returns (id, component) for every
    * node incident to at least one edge, where component = min node id
    * reachable. Throws if the label fixpoint is not reached within
    * `maxIter` rounds rather than returning a partial clustering.
    *
    * `checkpointDir`: when set, per-round materialization uses RELIABLE
    * `checkpoint()` into that directory (DFS in production) instead of
    * executor-local `localCheckpoint()`. Local blocks die with their
    * executor — a lost executor mid-fixpoint kills the job; reliable
    * checkpoints survive and lost partitions recompute from the files.
    * Local is the right default for short local runs (no write
    * round-trip); the DFS path is the 100 TB hardening. Operational
    * notes for that path: each round writes a labels snapshot, so set
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (or sweep
    * the directory) to bound DFS usage at ≤ maxIter snapshots, and the
    * dir is set on the SHARED SparkContext — use a dedicated directory
    * per job if other operators checkpoint concurrently.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25,
      checkpointDir: Option[String] = None): DataFrame = {
    // r16 job-count pass (local path): LAZY localCheckpoint per round
    // with the convergence check as the materializing action — the
    // full-scan max(chg) aggregate computes every partition, so the
    // lazy checkpoint finalizes inside the SAME job and each round
    // costs one driver job where eager-checkpoint-then-count paid two.
    // The reliable-checkpoint path keeps its eager materialization
    // (checkpoint() semantics differ; that path is the 100 TB
    // hardening, not the fixture hot path).
    val lazyLocal = checkpointDir.isEmpty
    val mat: DataFrame => DataFrame = checkpointDir match {
      case Some(dir) =>
        edges.sparkSession.sparkContext.setCheckpointDir(dir)
        df => df.checkpoint()
      case None => df => df.localCheckpoint()
    }
    // Symmetrize once and materialize: every round joins this frame.
    val sym = mat(edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst"))))
    var labels = mat(sym.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id")))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrMin = sym
        .join(labels.select(col("id").as("dst"), col("lbl").as("nlbl")), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("nlbl")).as("nbr_lbl"))
      val nextRaw = labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nbr_lbl"), col("lbl"))).as("lbl"),
          (col("nbr_lbl") < col("lbl")).as("chg"))
      val next =
        if (lazyLocal) nextRaw.localCheckpoint(false) else mat(nextRaw)
      converged = !next
        .agg(coalesce(max(col("chg")), lit(false)).as("any"))
        .head().getBoolean(0)
      labels = next.drop("chg")
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")
    labels
  }

  /** q55: cluster the exact n-gram Jaccard pairs (q27_dedup_ngram's
    * edge set at threshold 0.5) and emit the per-document dedup
    * decision: (doc_id, cluster, keep) where keep marks the canonical
    * (min-id) member. The fixture contains a planted triangle
    * {45, 267, 413} that only a transitive clustering collapses. */
  private def q55(s: SparkSession, dir: String): DataFrame = {
    // doc_id fan-out: parallel shingle explode, exchange count unchanged
    // (Tables.fannedDocuments — no-op past the 256 MB cap)
    val docs = Tables.fannedDocuments(s, dir)
    val edges = Dedup.ngramJaccardPairs(docs, 0.5)
      .select(col("d1").as("src"), col("d2").as("dst"))
    val cc = connectedComponents(edges)
    docs.select(col("doc_id"))
      .join(cc.select(col("id").as("doc_id"), col("lbl").as("cluster")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
      .withColumn("keep", col("cluster") === col("doc_id"))
      .orderBy(col("doc_id").asc_nulls_last)
  }

  /** Independent oracle: exact all-pairs Jaccard edges + recursive-CTE
    * transitive closure — no replay of the propagation rounds. */
  private val q55Sql =
    s"""WITH RECURSIVE ${Dedup.jaccardEdgeCtesSql(0.5)},
      |${Dedup.closureCtesSql}
      |SELECT doc_id, COALESCE(c.cluster, doc_id) AS cluster,
      |  (COALESCE(c.cluster, doc_id) = doc_id) AS keep
      |FROM documents LEFT JOIN comp c ON documents.doc_id = c.id
      |ORDER BY doc_id ASC NULLS LAST""".stripMargin

  // ------------------------------------------------------------- q163
  /** PUBLIC API — the CONTAINMENT-AWARE dedup ACTION (round-11,
    * q160's consumer): cluster the containment edges transitively and
    * keep, per cluster, the LARGEST document (ties → min doc id) — the
    * superset that subsumes every contained member. The q55 min-id
    * election is right for symmetric near-dup clusters (all members
    * equivalent); under containment the members are NOT equivalent —
    * dropping the superset and keeping a fragment loses text — so the
    * election key is size. Size here is the POST-CAP DISTINCT-SHINGLE
    * count ([[graft.operators.Dedup.containmentShingleSizes]]) — the
    * same measure containment itself is scored on — not raw token
    * count, which a repetitive fragment can inflate past the genuine
    * superset (ADVICE r11). Singletons keep themselves; docs with no
    * shingles (< 3 tokens) elect at sz 0. */
  def containmentKeep(docs: DataFrame, threshold: Double = 0.8): DataFrame = {
    val edges = Dedup.containmentPairs(docs, threshold)
      .select(col("d1").as("src"), col("d2").as("dst"))
    val cc = connectedComponents(edges)
    val labeled = docs
      .select(col("doc_id"))
      .join(Dedup.containmentShingleSizes(docs), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("sz"), lit(0L)).as("sz"))
      .join(cc.select(col("id").as("doc_id"), col("lbl").as("cluster")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("sz"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
    val wk = Window.partitionBy(col("cluster"))
      .orderBy(col("sz").desc_nulls_last, col("doc_id").asc_nulls_last)
    labeled.withColumn("keep", row_number().over(wk) === 1)
      .select(col("doc_id"), col("cluster"), col("sz"), col("keep"))
      .orderBy(col("doc_id").asc_nulls_last)
  }

  private def q163(s: SparkSession, dir: String): DataFrame =
    containmentKeep(Tables.fannedDocuments(s, dir))

  /** Independent oracle: exact string-shingle containment edges (with
    * the engine's dfCap mirrored via the shared
    * [[graft.operators.Dedup.containmentCtesSql]] chain) +
    * recursive-CTE closure + the same largest-shingle-set election. */
  private val q163Sql =
    s"""WITH RECURSIVE ${Dedup.containmentCtesSql(Dedup.DefaultDfCap)},
      |p AS (SELECT d1, d2 FROM (
      |  SELECT d1, d2, GREATEST(CAST(inter AS DOUBLE) / CAST(s1.sz AS DOUBLE),
      |    CAST(inter AS DOUBLE) / CAST(s2.sz AS DOUBLE)) AS cmax
      |  FROM i JOIN sz s1 ON i.d1 = s1.doc_id JOIN sz s2 ON i.d2 = s2.doc_id) x
      |  WHERE cmax >= 0.8),
      |${Dedup.closureCtesSql},
      |lab AS (
      |  SELECT documents.doc_id, COALESCE(c.cluster, documents.doc_id) AS cluster,
      |    CAST(COALESCE(s.sz, 0) AS BIGINT) AS sz
      |  FROM documents
      |    LEFT JOIN comp c ON documents.doc_id = c.id
      |    LEFT JOIN sz s ON documents.doc_id = s.doc_id)
      |SELECT doc_id, cluster, sz,
      |  (ROW_NUMBER() OVER (PARTITION BY cluster
      |    ORDER BY sz DESC, doc_id ASC) = 1) AS keep
      |FROM lab
      |ORDER BY doc_id ASC NULLS LAST""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q163_containment_keep", q163, Some(q163Sql)),
    QueryDef("q55_dedup_clusters", q55, Some(q55Sql)))
}
