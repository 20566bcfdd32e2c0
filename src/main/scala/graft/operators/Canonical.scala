package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8: entity canonicalization — the "keep-best and merge" step
  * that follows near-dup clustering in a production dedup pipeline:
  * q55 DECIDES the clusters; this operator ELECTS each cluster's
  * canonical record (best quality, deterministic tie-break) and merges
  * the cluster's attributes into its survivor row. The reference-side
  * counterpart of "merge the pushed duplicates into one committed
  * file" (celeborn worker merge: worker/.../PushDataHandler.scala:148),
  * re-expressed as a data-curation operator.
  *
  * Scale shape: the clustering is q55's min-label propagation
  * (O(diameter) rounds, node-keyed exchanges); the election + merge add
  * ONE cluster-keyed shuffle serving both the rank window and the
  * aggregate (same partitioning), output is one row per multi-member
  * cluster. Nothing is collected; the canonical choice is a window
  * rank, not a per-cluster driver loop. */
object Canonical {

  /** PUBLIC API — elect one canonical row per cluster and merge member
    * attributes. `assignments` = (doc_id, cluster); `docs` must carry
    * doc_id, lang, n_chars. Canonical = max n_chars, tie → min doc_id.
    *
    * The election IS an aggregate: `max_by(payload, struct(n_chars,
    * -doc_id))` folds the winner map-side alongside the merge counters,
    * so the whole operator is ONE cluster-keyed aggregation — no rank
    * window, no self-join of the member frame, no second exchange (a
    * window formulation pays a separate sort+exchange and then a join
    * back to the aggregate; FeatureCanonSpec counts the exchanges).
    * The ordering key is unique per member (doc_id breaks ties), so
    * the fold is deterministic in any merge order. */
  def canonicalize(docs: DataFrame, assignments: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("n_chars"))
      .join(assignments, Seq("doc_id"))
      .groupBy(col("cluster"))
      .agg(
        max_by(struct(col("doc_id"), col("lang")),
          struct(col("n_chars"), (-col("doc_id")).as("nid"))).as("win"),
        count(lit(1)).as("n_members"),
        sum(col("n_chars")).cast("long").as("total_chars"),
        // size(collect_set) keeps the distinct single-phase
        // (cluster-keyed only); countDistinct would expand into its
        // own extra (cluster, lang) exchange
        size(collect_set(col("lang"))).cast("long").as("n_langs"))
      .where(col("n_members") > 1)
      .select(col("cluster"), col("win.doc_id").as("canonical_id"),
        col("win.lang").as("canonical_lang"),
        col("n_members"), col("total_chars"), col("n_langs"))
      .orderBy(col("cluster").asc_nulls_last)

  /** Q122: canonicalize q55's n-gram Jaccard clusters over documents. */
  private def q122(s: SparkSession, dir: String): DataFrame = {
    // doc_id fan-out: see Tables.fannedDocuments (no-op past the 256 MB cap)
    val docs = Tables.fannedDocuments(s, dir)
    val edges = Dedup.ngramJaccardPairs(docs, 0.5)
      .select(col("d1").as("src"), col("d2").as("dst"))
    val cc = Clusters.connectedComponents(edges)
    val assignments = docs.select(col("doc_id"))
      .join(cc.select(col("id").as("doc_id"), col("lbl").as("cluster")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("cluster"))
    canonicalize(docs, assignments)
  }

  /** Oracle: q55's independent closure (exact all-pairs Jaccard +
    * recursive-CTE reachability — no replay of the propagation rounds)
    * extended with the election window and the merge aggregate. */
  private val q122Sql =
    s"""WITH RECURSIVE ${Dedup.jaccardEdgeCtesSql(0.5)},
      |${Dedup.closureCtesSql},
      |lbl AS (SELECT doc_id, COALESCE(c.cluster, doc_id) AS cluster, lang, n_chars
      |  FROM documents LEFT JOIN comp c ON documents.doc_id = c.id),
      |ranked AS (SELECT doc_id, cluster, lang,
      |  ROW_NUMBER() OVER (PARTITION BY cluster
      |    ORDER BY n_chars DESC NULLS LAST, doc_id ASC NULLS LAST) AS rk
      |  FROM lbl),
      |agg AS (SELECT cluster, COUNT(*) AS n_members,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  COUNT(DISTINCT lang) AS n_langs
      |  FROM lbl GROUP BY cluster)
      |SELECT r.cluster, r.doc_id AS canonical_id, r.lang AS canonical_lang,
      |  a.n_members, a.total_chars, a.n_langs
      |FROM ranked r JOIN agg a ON r.cluster = a.cluster
      |WHERE r.rk = 1 AND a.n_members > 1
      |ORDER BY r.cluster ASC NULLS LAST""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q122_entity_canonical", q122, Some(q122Sql)))
}
