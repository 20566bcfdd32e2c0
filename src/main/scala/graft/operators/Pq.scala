package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) for vector search (Jégou, Douze, Schmid,
  * TPAMI 2011): split each 64-d embedding into 8 contiguous 8-d
  * subvectors, k-means each subspace to 64 codewords, and store each
  * vector as 8 small codes — 6 bits/sub, a ~40× compression of the
  * float32 corpus (256 B → 6 B + one shared 512-row codebook; 16
  * codewords/4 bits is the same code path, traded here for recall on
  * the near-orthogonal fixture). Queries rank by asymmetric distance
  * (ADC): the query stays exact, the corpus is scored through its
  * reconstruction from the codebook.
  *
  * Spark-first shape: subspace training is ONE Lloyd loop keyed by
  * (sub, c_id) — the 8 independent k-means problems share every scan,
  * join, and exchange instead of running 8 driver-side loops; encode is
  * one broadcast-codebook join + per-(vec, sub) argmin aggregation;
  * recon is one broadcast join + collect/flatten keyed by vec_id. At
  * 100 TB: training reads a bounded md5-deterministic sample
  * (corpus-size-independent, the q29 IVF discipline), encode/probe are
  * single passes with only the 128-row codebook broadcast, and the ADC
  * scan composes with the IVF coarse quantizer (probe lists from
  * `Similarity.probeIvfIndex`, then PQ-score within lists) for
  * sub-linear search over compressed postings.
  *
  * Determinism/oracle: seeds, Lloyd means (DECIMAL-exact sums, one
  * double division — the bit-parity argument of
  * `Similarity.trainIvfCentroids`), L2 argmin (left-to-right double
  * folds, ties to the smaller code), reconstruction, and the ADC
  * cosine ranking are ALL SQL-replayable: both q98 entries are
  * driver-checked bit-exactly (no "trust me" sketch here; the
  * approximation is in WHAT is computed, not in whether it is
  * reproducible). Recall vs exact brute force is asserted in PqSpec.
  */
object Pq {

  private[graft] val NSub = 8 // subspaces
  private[graft] val SubDim = 8 // dims per subspace
  private[graft] val NCode = 64 // codewords per subspace
  private val Iters = 2
  private val SampleN = 20 * NCode
  private val K = 5 // top-k of the ADC ranking

  /** Squared L2 over two float arrays: the native codegen'd `l2_sq`
    * expression (graft.plans.L2Squared) — bit-identical to the
    * sequential higher-order fold
    * `aggregate(zip_with(a, b, (x,y) -> (x-y)²), 0.0, +)` but evaluated
    * inside whole-stage codegen (the HOF form runs interpreted per
    * element and dominated the encode cost: corpus × NCode folds per
    * subspace). Same parity discipline as VectorOps.cosineFast. */
  private def l2Fast(a: String, b: String): org.apache.spark.sql.Column = {
    graft.Graft.register(org.apache.spark.sql.SparkSession.active)
    expr(s"l2_sq($a, $b)")
  }

  /** (vec_id, sub, svec): the 8-d subvector rows of a corpus frame. */
  private def subVecs(e: DataFrame): DataFrame =
    e.select(col("vec_id"), explode(array((0 until NSub).map(sIdx =>
        struct(lit(sIdx).as("sub"),
          slice(col("embedding"), sIdx * SubDim + 1, SubDim).as("svec"))): _*)).as("e"))
      .select(col("vec_id"), col("e.sub").as("sub"), col("e.svec").as("svec"))

  /** Nearest codeword per (vec, sub): broadcast-codebook join + argmin
    * aggregation (combines map-side; ties to the smaller c_id; the
    * trailing svec field is never compared because c_id is unique). */
  private def assign(svecs: DataFrame, cb: DataFrame): DataFrame =
    svecs.join(broadcast(cb), Seq("sub"))
      .select(col("vec_id"), col("sub"), col("svec"), col("c_id"),
        l2Fast("svec", "c_emb").as("d2"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(struct(col("d2"), col("c_id"), col("svec"))).as("best"))
      .select(col("vec_id"), col("sub"), col("best.c_id").as("code"),
        col("best.svec").as("svec"))

  /** PUBLIC API — train the PQ codebook on (vec_id, embedding) rows:
    * (sub, c_id, c_emb) with NCode codewords per subspace. Pass a
    * bounded sample for `corpus` at scale; the registry path trains on
    * the md5-smallest SampleN rows. */
  def trainCodebook(s: SparkSession, sample: DataFrame,
      iters: Int = Iters): DataFrame = {
    val samp = sample.select(col("vec_id"), col("embedding")).localCheckpoint()
    val wSeed = Window.orderBy(col("r").asc_nulls_last, col("vec_id").asc_nulls_last)
    val seeds = samp
      .withColumn("r", md5(col("vec_id").cast("string")))
      .orderBy(col("r").asc_nulls_last, col("vec_id").asc_nulls_last)
      .limit(NCode)
      .withColumn("c_id", row_number().over(wSeed).cast("int"))
      .select(col("c_id"), col("vec_id"))
    val sampSubs = subVecs(samp).localCheckpoint()
    // (r16 note: removing the per-round checkpoints was TRIED and
    // reverted — the un-cut doubled lineage made AQE materialize MORE
    // stage-jobs than the checkpoints cost: q98 prejobs 15→18 in the
    // contract regen. The per-round cut is the cheaper shape.)
    var cb = sampSubs.join(seeds, "vec_id")
      .select(col("sub"), col("c_id"), col("svec").as("c_emb"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      // DECIMAL-exact per-dimension mean (the trainIvfCentroids parity
      // bound: ≤ SampleN rows per (sub, c_id) group keeps every sum's
      // unscaled value far below 2^52)
      val means = assign(sampSubs, cb)
        .select(col("sub"), col("code").as("c_id"),
          posexplode(col("svec")).as(Seq("pos", "v")))
        .groupBy(col("sub"), col("c_id"), col("pos"))
        .agg((sum(col("v").cast("decimal(28,12)")).cast("double")
          / count(lit(1))).as("m"))
        .groupBy(col("sub"), col("c_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("sub"), col("c_id"),
          expr("transform(pm, x -> cast(x.m as float))").as("new_emb"))
      cb = cb.join(means, Seq("sub", "c_id"), "left")
        .select(col("sub"), col("c_id"),
          coalesce(col("new_emb"), col("c_emb")).as("c_emb"))
        .localCheckpoint()
    }
    cb
  }

  /** PUBLIC API — encode a corpus against a codebook: (vec_id, sub,
    * code), NSub rows per vector. */
  def encode(corpus: DataFrame, cb: DataFrame): DataFrame =
    assign(subVecs(corpus.select(col("vec_id"), col("embedding"))), cb)
      .select(col("vec_id"), col("sub"), col("code"))

  /** PUBLIC API — reconstruct (vec_id, embedding≈) from codes +
    * codebook: the decoded corpus ADC scores against. */
  def reconstruct(codes: DataFrame, cb: DataFrame): DataFrame =
    codes.join(broadcast(cb),
        codes("sub") === cb("sub") && codes("code") === cb("c_id"))
      .select(col("vec_id"), codes("sub").as("sub"), col("c_emb"))
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("sub"), col("c_emb")))).as("sc"))
      .select(col("vec_id"),
        flatten(expr("transform(sc, x -> x.c_emb)")).as("embedding"))

  private def trainedOn(s: SparkSession, e: DataFrame): (DataFrame, DataFrame) = {
    val samp = e
      .orderBy(md5(col("vec_id").cast("string")).asc_nulls_last,
        col("vec_id").asc_nulls_last)
      .limit(SampleN)
    (e, trainCodebook(s, samp))
  }

  private def trained(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    trainedOn(s,
      Tables.t(s, dir, "embeddings").select(col("vec_id"), col("embedding")))

  /** q98_pq_codes: the encoded corpus aggregated per (sub, code) — the
    * driver-checkable digest of the whole train+encode pipeline (the
    * q29_ivf_cands discipline): any drift in seeds, Lloyd rounds,
    * argmin ties, or subvector slicing moves some vector's code and
    * breaks the hash. */
  private def q98codes(s: SparkSession, dir: String): DataFrame = {
    val (e, cb) = trained(s, dir)
    encode(e, cb)
      .groupBy(col("sub"), col("code"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("vec_id")).as("sum_vec"))
      .orderBy(col("sub").asc_nulls_last, col("code").asc_nulls_last)
  }

  /** q98_ann_pq: ADC top-5 — queries (exact) ranked against the
    * RECONSTRUCTED corpus by cosine; reuses the brute-force ranking
    * kernel, so the only difference from q29_ann_brute is the
    * compressed corpus representation. */
  private def q98ann(s: SparkSession, dir: String): DataFrame = {
    val (e, cb) = trained(s, dir)
    val recon = reconstruct(encode(e, cb), cb)
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    Similarity.annBruteTopK(s, recon, q, K)
  }

  /** PUBLIC API — IVF+PQ composition (the production ANN layout at
    * 100 TB): the q29 coarse quantizer restricts each query to its
    * `nProbe` posting lists, and WITHIN those lists candidates rank by
    * ADC against the PQ reconstruction. Postings store 6-byte codes
    * instead of 256-byte vectors and only nProbe/nCentroids of them are
    * touched per query — compressed AND sub-linear, where q98_ann_pq
    * alone scans everything and q29_ann_ivf alone stores raw vectors.
    * Both halves are independently driver-verified (the candidate sets
    * ARE q29_ivf_cands's — PQ changes only the ranking inside them, and
    * the ADC arithmetic is q98_ann_pq's); PqSpec proves this composition
    * equals its recomposition from those halves, plus a recall floor. */
  def annIvfPqTopK(s: SparkSession, corpus: DataFrame, queryPred:
      org.apache.spark.sql.Column, k: Int = K, nCentroids: Int = 16,
      nProbe: Int = 10): DataFrame = {
    val e = corpus.select(col("vec_id"), col("embedding"))
    val cent = Similarity.trainIvfCentroids(s,
      Similarity.trainSample(e, nCentroids), nCentroids)
    val assigned = Similarity.assignToCentroids(s, e, cent)
      .select(col("vec_id"), col("c_id"))
    val (_, cb) = trainedOn(s, e)
    val recon = reconstruct(encode(e, cb), cb)
    val probes = Similarity.probeLists(s, cent, e.where(queryPred), nProbe)
    Similarity.topKByCos(Similarity.cosScored(s, assigned.join(recon, "vec_id")
      .join(broadcast(probes), Seq("c_id"))
      .where(col("vec_id") =!= col("q_id"))), k)
  }

  // q102's IVF half: annIvfPqTopK's defaults — MUST match both the Spark
  // call below and Similarity's Centroids/NProbe/TrainIters so the
  // composed oracle replays the same quantizer as q29_ivf_cands.
  private val IvfCentroids = 16
  private val IvfProbe = 10
  private val IvfIters = 2

  /** q102: the composed index over the fixture queries. Round-9: FULLY
    * SQL-replayable — the oracle chains [[Similarity.kmeansChainSql]]
    * (coarse quantizer + corpus assignment, the bit-exact chain behind
    * q29_ivf_cands) with the `pq`-prefixed [[pqChainSql]] (codebooks +
    * codes, the chain behind q98_pq_codes), reconstructs, probes, and
    * ranks by the same left-to-right double cosine as q98_ann_pq. Every
    * link was already individually driver-green bit-exact; the
    * composition adds no new arithmetic, only an equi-join restriction
    * of the candidate set, so the hash compare holds end-to-end. */
  private def q102(s: SparkSession, dir: String): DataFrame =
    annIvfPqTopK(s, Tables.t(s, dir, "embeddings"), col("vec_id") < 10,
      k = K, nCentroids = IvfCentroids, nProbe = IvfProbe)

  private def q102Sql: String =
    s"""WITH ${Similarity.kmeansChainSql(IvfCentroids, IvfIters)},
       |${pqChainSql("pq")},
       |recon AS (
       |  SELECT pqcodes.vec_id, flatten(list(c.c_emb ORDER BY pqcodes.sub ASC)) AS embedding
       |  FROM pqcodes JOIN pqcent$Iters c ON pqcodes.sub = c.sub AND pqcodes.code = c.c_id
       |  GROUP BY pqcodes.vec_id),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM emb WHERE vec_id < 10),
       |probes AS (
       |  SELECT q_id, q_emb, c_id FROM (
       |    SELECT q.q_id, q.q_emb, c.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.q_id
       |        ORDER BY ${VectorSql.cosine("c.c_emb", "q.q_emb")} DESC NULLS LAST,
       |                 c.c_id ASC NULLS LAST) AS qrank
       |    FROM q CROSS JOIN cent$IvfIters c) WHERE qrank <= $IvfProbe),
       |scored AS (
       |  SELECT p.q_id, a.vec_id, ${VectorSql.cosine("p.q_emb", "r.embedding")} AS cos
       |  FROM afull a
       |    JOIN probes p ON a.c_id = p.c_id AND a.vec_id <> p.q_id
       |    JOIN recon r ON a.vec_id = r.vec_id),
       |${Similarity.topKByCosSql(K)}""".stripMargin

  // ---- chained-CTE SQL replay (the kmeansChainSql discipline, keyed
  // ---- by subspace so 8 codebooks train in the same CTE rounds) ------

  private def l2Duck(a: String, b: String): String =
    s"(SELECT SUM((CAST($a[i.i] AS DOUBLE) - CAST($b[i.i] AS DOUBLE)) * " +
      s"(CAST($a[i.i] AS DOUBLE) - CAST($b[i.i] AS DOUBLE))) " +
      s"FROM range(1, ${SubDim + 1}) i(i))"

  /** The WITH-body of the full PQ build (sample → seeds → Lloyd rounds
    * per subspace → full-corpus encode). `p` prefixes every CTE name so
    * the chain can coexist with [[Similarity.kmeansChainSql]]'s CTEs in
    * one statement (q102's composed oracle); defines `${p}emb`,
    * `${p}codes` and `${p}cent$Iters`. */
  private def pqChainSql(p: String = ""): String = {
    val seedOrder = "md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC"
    def subCte(src: String, out: String) =
      s"""$out AS (
         |  SELECT vec_id, CAST(s.s AS INT) AS sub,
         |    list_transform(range(1, ${SubDim + 1}), i -> embedding[s.s * $SubDim + i]) AS svec
         |  FROM $src CROSS JOIN range(0, $NSub) s(s))""".stripMargin
    def assignCte(src: String, cent: String, out: String) =
      s"""${out}_s AS (
         |  SELECT t.vec_id, t.sub, t.svec, c.c_id, ${l2Duck("t.svec", "c.c_emb")} AS d2
         |  FROM $src t JOIN $cent c ON t.sub = c.sub),
         |$out AS (
         |  SELECT vec_id, sub, svec, c_id FROM (
         |    SELECT vec_id, sub, svec, c_id, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
         |      ORDER BY d2 ASC NULLS LAST, c_id ASC NULLS LAST) AS rn
         |    FROM ${out}_s) WHERE rn = 1)""".stripMargin
    def meanCte(asg: String, prev: String, out: String) =
      s"""${out}_m AS (
         |  SELECT sub, c_id, i.i AS pos,
         |    CAST(CAST(SUM(CAST(CAST(svec[i.i] AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
         |         / COUNT(*) AS FLOAT) AS m
         |  FROM $asg CROSS JOIN range(1, ${SubDim + 1}) i(i)
         |  GROUP BY sub, c_id, i.i),
         |${out}_l AS (
         |  SELECT sub, c_id, list(m ORDER BY pos ASC) AS new_emb FROM ${out}_m GROUP BY sub, c_id),
         |$out AS (
         |  SELECT p.sub, p.c_id, COALESCE(l.new_emb, p.c_emb) AS c_emb
         |  FROM $prev p LEFT JOIN ${out}_l l ON p.sub = l.sub AND p.c_id = l.c_id)""".stripMargin
    val rounds = (0 until Iters).map { r =>
      assignCte(s"${p}ssub", s"${p}cent$r", s"${p}a$r") + ",\n" +
        meanCte(s"${p}a$r", s"${p}cent$r", s"${p}cent${r + 1}")
    }.mkString(",\n")
    s"""${p}emb AS (SELECT vec_id, embedding FROM embeddings),
       |${p}samp AS (SELECT vec_id, embedding FROM ${p}emb ORDER BY $seedOrder LIMIT $SampleN),
       |${subCte(s"${p}emb", s"${p}sub")},
       |${subCte(s"${p}samp", s"${p}ssub")},
       |${p}seed AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY $seedOrder) AS INT) AS c_id, vec_id
       |  FROM (SELECT vec_id FROM ${p}samp ORDER BY $seedOrder LIMIT $NCode)),
       |${p}cent0 AS (
       |  SELECT ss.sub, sd.c_id, ss.svec AS c_emb
       |  FROM ${p}ssub ss JOIN ${p}seed sd ON ss.vec_id = sd.vec_id),
       |$rounds,
       |${assignCte(s"${p}sub", s"${p}cent$Iters", s"${p}enc")},
       |${p}codes AS (SELECT vec_id, sub, c_id AS code FROM ${p}enc)""".stripMargin
  }

  private def q98codesSql: String =
    s"""WITH ${pqChainSql()}
       |SELECT sub, code, COUNT(*) AS n_vecs, CAST(SUM(vec_id) AS BIGINT) AS sum_vec
       |FROM codes GROUP BY sub, code
       |ORDER BY sub ASC NULLS LAST, code ASC NULLS LAST""".stripMargin

  private def q98annSql: String =
    s"""WITH ${pqChainSql()},
       |recon AS (
       |  SELECT codes.vec_id, flatten(list(c.c_emb ORDER BY codes.sub ASC)) AS embedding
       |  FROM codes JOIN cent$Iters c ON codes.sub = c.sub AND codes.code = c.c_id
       |  GROUP BY codes.vec_id),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM emb WHERE vec_id < 10),
       |scored AS (
       |  SELECT q.q_id, e.vec_id, ${VectorSql.cosine("q.q_emb", "e.embedding")} AS cos
       |  FROM recon e JOIN q ON e.vec_id <> q.q_id),
       |${Similarity.topKByCosSql(K)}""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q98_pq_codes", q98codes, Some(q98codesSql)),
    QueryDef("q98_ann_pq", q98ann, Some(q98annSql)),
    QueryDef("q102_ann_ivfpq", q102, Some(q102Sql)))
}
