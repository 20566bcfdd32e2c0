package graft.operators

import graft.{QueryDef, Tables, TempDirs}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental near-duplicate detection against a persisted MinHash
  * index — the production shape of corpus dedup at 100 TB. A pipeline
  * ingesting daily deltas cannot re-run corpus-wide pair detection per
  * batch (q27 re-shingles and re-joins EVERYTHING); instead the base
  * corpus's banded MinHash index is built ONCE and persisted as two
  * columnar tables — `bands` (doc_id, band, band_key: the LSH posting
  * keys) and `sets` (doc_id, shingle-hash set: what exact verification
  * needs without refetching base text) — and each delta batch probes it:
  *
  *   delta bands ⋈ index bands (band, band_key)  → candidate id pairs
  *   candidates ⋈ index sets / delta sets        → exact Jaccard ≥ t
  *
  * Work per batch is O(|delta| + matched postings): the base corpus is
  * never re-shingled, never re-shuffled; the candidate pair set is
  * near-dup-sized, so AQE broadcasts it into the `sets` scans and the
  * base side is filtered map-side. The banding parameters and the
  * no-miss argument (planted near-dups at j≈0.99 vs 6×2 banding) are
  * q27's; the oracle verifies against exhaustive cross-partition exact
  * Jaccard, so a banding miss WOULD surface as a driver mismatch.
  *
  * Reference anchor: the base/delta split here is the engine-side twin
  * of the reference's commit-then-serve index discipline
  * (celeborn: client/.../commit/ReducePartitionCommitHandler.scala:54 —
  * committed files serve later reads without rewrite).
  */
object IncrementalDedup {

  private val Threshold = 0.8
  private val NHashes = 12
  private val NBands = 6

  /** MinHash signatures + shingle-hash sets per doc (q27's aggregation,
    * shared here so index build and delta probe are the same code). */
  private def signatures(docs: DataFrame): DataFrame = {
    val sh = Dedup.shingledHashed(docs)
    val mins: Seq[Column] = (0 until NHashes).map(k =>
      min(xxhash64(lit(k), col("sh"))).as(s"m$k"))
    sh.groupBy(col("doc_id"))
      .agg(mins.head, (mins.tail :+ collect_set(col("sh")).as("shs")): _*)
  }

  /** Banded LSH keys from a signature frame: one row per (doc, band). */
  private def bandKeys(sig: DataFrame): DataFrame = {
    val rowsPerBand = NHashes / NBands
    val bandStructs = array((0 until NBands).map(b =>
      struct(lit(b).as("band"),
        xxhash64((0 until rowsPerBand).map(r =>
          col(s"m${rowsPerBand * b + r}")): _*).as("bk"))): _*)
    sig.select(col("doc_id"), explode(bandStructs).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bk").as("bk"))
  }

  /** PUBLIC API — build (or rebuild) the persisted MinHash index of a
    * base corpus: writes `bands` and `sets` parquet tables under
    * `indexDir`. Run once per corpus version; deltas probe it. */
  def buildIndex(base: DataFrame, indexDir: String): Unit = {
    val sig = signatures(base)
    bandKeys(sig).write.mode("overwrite").parquet(s"$indexDir/bands")
    sig.select(col("doc_id"), col("shs"))
      .write.mode("overwrite").parquet(s"$indexDir/sets")
  }

  /** PUBLIC API — probe a persisted index with a delta batch: near-dup
    * (delta_id, base_id, jac) pairs with jac ≥ `threshold`. Only the
    * delta is shingled; the base corpus is touched only through the
    * index tables. */
  def probeIndex(spark: SparkSession, delta: DataFrame, indexDir: String,
      threshold: Double = Threshold): DataFrame = {
    val idxBands = spark.read.parquet(s"$indexDir/bands")
    val idxSets = spark.read.parquet(s"$indexDir/sets")
    val sig = signatures(delta)
    val cands = bandKeys(sig).as("d")
      .join(idxBands.as("b"),
        col("d.band") === col("b.band") && col("d.bk") === col("b.bk"))
      .select(col("d.doc_id").as("delta_id"), col("b.doc_id").as("base_id"))
      .distinct()
    cands
      .join(sig.select(col("doc_id").as("delta_id"), col("shs").as("sh1")),
        "delta_id")
      .join(idxSets.select(col("doc_id").as("base_id"), col("shs").as("sh2")),
        "base_id")
      .select(col("delta_id"), col("base_id"),
        (size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2")))).as("jac"))
      .where(col("jac") >= threshold)
      .orderBy(col("delta_id").asc_nulls_last, col("base_id").asc_nulls_last,
        col("jac").asc_nulls_last)
  }

  // ---- registry entry: 80/20 md5 split of `documents`, q82's split law --

  private def splitTrain(idCol: String): String =
    s"cast(conv(substring(md5(cast($idCol as string)), 1, 8), 16, 10) " +
      s"as bigint) % 10 < 8"

  /** PUBLIC API — the registry's reproducible 80/20 md5 (base, delta)
    * split of a corpus (q82's split law). Shared with Bench, which
    * times buildIndex and probeIndex SEPARATELY: the registry entry
    * below rebuilds the index every run so the oracle can replay it,
    * but production pays the build once per corpus version — the
    * per-batch cost is the probe alone. */
  def baseDeltaSplit(docs: DataFrame): (DataFrame, DataFrame) =
    (docs.where(expr(splitTrain("doc_id"))),
      docs.where(!expr(splitTrain("doc_id"))))

  private def q95(s: SparkSession, dir: String): DataFrame = {
    val (base, delta) = baseDeltaSplit(Tables.t(s, dir, "documents"))
    val idx = TempDirs.createTempDirectory("graft_incdedup")
    buildIndex(base, idx)
    probeIndex(s, delta, idx)
  }

  /** Oracle: exhaustive exact cross-partition Jaccard (delta × base via
    * an inverted shingle index — independent of MinHash/banding). */
  private val q95Sql = {
    val duckTrain =
      s"('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10 < 8"
    s"""WITH ${Dedup.trigramCteSql("d")},
       |sz AS (SELECT doc_id, COUNT(*) AS sz FROM d GROUP BY doc_id),
       |lbl AS (SELECT doc_id, $duckTrain AS is_base FROM documents),
       |i AS (
       |  SELECT a.doc_id AS delta_id, b.doc_id AS base_id, COUNT(*) AS inter
       |  FROM d a JOIN lbl la ON a.doc_id = la.doc_id AND NOT la.is_base
       |    JOIN d b ON a.sh = b.sh
       |    JOIN lbl lb ON b.doc_id = lb.doc_id AND lb.is_base
       |  GROUP BY 1, 2)
       |SELECT delta_id, base_id, jac FROM (
       |  SELECT delta_id, base_id,
       |    inter::DOUBLE / (s1.sz + s2.sz - inter) AS jac
       |  FROM i JOIN sz s1 ON i.delta_id = s1.doc_id
       |    JOIN sz s2 ON i.base_id = s2.doc_id) p
       |WHERE jac >= $Threshold
       |ORDER BY delta_id ASC NULLS LAST, base_id ASC NULLS LAST,
       |  jac ASC NULLS LAST""".stripMargin
  }

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q95_incremental_dedup", q95, Some(q95Sql)))
}
