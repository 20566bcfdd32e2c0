package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Re-aggregatable distinct-count sketches (Apache DataSketches HLL,
  * Spark 4's `hll_sketch_agg`/`hll_union_agg`): per-source
  * distinct-token profiles whose SKETCHES — not just their numbers —
  * are the aggregation state, so profiles computed over disjoint slices
  * (per day, per shard, per source) merge into exact-union rollups
  * WITHOUT rescanning the data. This is the profiling discipline a
  * 100 TB pipeline needs: the corpus is scanned once per slice, the
  * kilobyte-sized sketches persist beside the data (q76's manifest
  * pattern), and every later rollup — global, per-language, per-month —
  * is a union over sketches. q11's `approx_count_distinct` gives one
  * non-reusable number; this gives mergeable state.
  *
  * Scale shape: one explode pass, sketch aggregation combines map-side
  * (each task folds its partition into a local sketch; the exchange
  * carries one ~2^lgK-byte sketch per source per partition, never
  * tokens). The union rollup aggregates 20 sketches.
  *
  * Sketch estimates are deterministic (hash-based, seed-free) but not
  * SQL-replayable, so q90_hll_profile is registered without an oracle —
  * its driver-checkable twin q90_distinct_exact computes the same
  * profile exactly (the q29_lsh/q29_lsh_cands split), and SketchSpec
  * bounds the sketch error against it and proves slice-merge equality.
  */
object Sketches {

  private val LgK = 12

  /** PUBLIC API — per-source distinct-token HLL estimates plus the
    * merged-global rollup row (source = `__ALL__`), computed by UNIONING
    * the per-source sketches, not rescanning. */
  def hllProfile(docs: DataFrame, lgK: Int = LgK): DataFrame = {
    val sketches = docs
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("source"))
      .agg(hll_sketch_agg(col("tok"), lgK).as("sk"))
    val per = sketches.select(col("source"),
      hll_sketch_estimate(col("sk")).as("est_distinct"))
    val global = sketches
      .agg(hll_union_agg(col("sk")).as("u"))
      .select(lit("__ALL__").as("source"),
        hll_sketch_estimate(col("u")).as("est_distinct"))
    per.unionByName(global).orderBy(col("source").asc_nulls_last)
  }

  /** PUBLIC API — the exact twin: per-source exact distinct-token counts
    * plus the global rollup (which SQL must recompute from the tokens —
    * exact distinct does not merge, which is the sketch's point). */
  def distinctExact(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
    val per = tok.groupBy(col("source"))
      .agg(countDistinct(col("tok")).as("n_distinct"))
    val global = tok.agg(countDistinct(col("tok")).as("n_distinct"))
      .select(lit("__ALL__").as("source"), col("n_distinct"))
    per.unionByName(global).orderBy(col("source").asc_nulls_last)
  }

  private val TopK = 10
  private val CmsEps = 0.001
  private val CmsConf = 0.99
  private val CmsSeed = 42

  /** The (source, tok) rows of `docs`' space-split texts and the
    * corpus's global top-`k` tokens by count (ties to the lower token):
    * the token set both heavy-hitter twins probe. */
  private def tokensAndTop(docs: DataFrame, k: Int): (DataFrame, DataFrame) = {
    val tok = docs
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
    (tok, tok.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc_nulls_last, col("tok").asc_nulls_last)
      .limit(k).select(col("tok")))
  }

  /** PUBLIC API — per-source heavy-hitter estimates: a Count-Min sketch
    * per source (Spark's built-in `count_min_sketch` aggregate — fixed
    * seed, mergeInPlace-combined map-side, so the result is independent
    * of partitioning), probed for the corpus's exact global top-`k`
    * tokens with the native [[graft.plans.CmsEstimate]] expression.
    * The CMS answer is one-sided: est ≥ true, est ≤ true + eps·N_source
    * (bounded in SketchSpec against the exact twin). Like the HLL
    * profile, the SKETCH is the state: per-slice sketches persist and
    * merge without rescanning, and memory is O(1/eps · ln 1/δ) per
    * source no matter how skewed the token distribution. */
  def heavyHitters(s: SparkSession, docs: DataFrame, k: Int = TopK,
      eps: Double = CmsEps, confidence: Double = CmsConf,
      seed: Int = CmsSeed): DataFrame = {
    graft.Graft.register(s)
    val (tok, top) = tokensAndTop(docs, k)
    val cms = tok.groupBy(col("source"))
      .agg(count_min_sketch(col("tok"), lit(eps), lit(confidence),
        lit(seed)).as("sk"))
    cms.join(broadcast(top), lit(true))
      .select(col("source"), col("tok"),
        expr("cms_estimate(sk, tok)").as("est_count"))
      .orderBy(col("source").asc_nulls_last, col("tok").asc_nulls_last)
  }

  /** PUBLIC API — the exact twin: true per-source counts of the global
    * top-`k` tokens. */
  def heavyHittersExact(docs: DataFrame, k: Int = TopK): DataFrame = {
    val (tok, top) = tokensAndTop(docs, k)
    tok.join(broadcast(top), Seq("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("source").asc_nulls_last, col("tok").asc_nulls_last)
  }

  private def q92cms(s: SparkSession, dir: String): DataFrame =
    heavyHitters(s, Tables.t(s, dir, "documents"))

  private def q92exact(s: SparkSession, dir: String): DataFrame =
    heavyHittersExact(Tables.t(s, dir, "documents"))

  private val q92exactSql =
    s"""WITH tok AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
       |top AS (
       |  SELECT tok FROM (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok)
       |  ORDER BY c DESC NULLS LAST, tok ASC NULLS LAST LIMIT $TopK)
       |SELECT source, tok, COUNT(*) AS n
       |FROM tok JOIN top USING (tok)
       |GROUP BY source, tok
       |ORDER BY source ASC NULLS LAST, tok ASC NULLS LAST""".stripMargin

  private def q90sketch(s: SparkSession, dir: String): DataFrame =
    hllProfile(Tables.t(s, dir, "documents"))

  private def q90exact(s: SparkSession, dir: String): DataFrame =
    distinctExact(Tables.t(s, dir, "documents"))

  private val q90exactSql =
    """WITH tok AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
      |per AS (
      |  SELECT source, COUNT(DISTINCT tok) AS n_distinct FROM tok GROUP BY source),
      |tot AS (
      |  SELECT '__ALL__' AS source, COUNT(DISTINCT tok) AS n_distinct FROM tok)
      |SELECT * FROM per UNION ALL SELECT * FROM tot
      |ORDER BY source ASC NULLS LAST""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q90_hll_profile", q90sketch, None),
    QueryDef("q90_distinct_exact", q90exact, Some(q90exactSql)),
    QueryDef("q92_heavy_hitters", q92cms, None),
    QueryDef("q92_hitters_exact", q92exact, Some(q92exactSql)))
}
