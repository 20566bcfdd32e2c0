package graft.operators

import graft.{QueryDef, Tables, TempDirs}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spectral embedding analysis: the top principal component of the
  * corpus embedding distribution by exact covariance + power iteration
  * — the statistic behind embedding whitening / "all-but-the-top"
  * post-processing (Mu & Viswanath, ICLR 2018: removing the dominant
  * direction de-biases similarity scores) and OPQ-style rotation
  * checks. A training-data pipeline runs this to detect a degenerate
  * embedding batch (one direction swallowing the variance) before
  * ANN/dedup passes that assume isotropy.
  *
  * Scale shape: the covariance is estimated on a bounded
  * md5-deterministic sample (corpus-size-independent — the q29/q98
  * training-sample discipline; 1 000 rows bounds every DECIMAL(28,12)
  * sum's unscaled value under 2^52, the exact-double-conversion
  * condition), so the heavy corpus never feeds the d² pair stream; the
  * per-iteration matvec is a 64²-row frame. Applying the component
  * (projection scores per vector) is one broadcast join + the native
  * `dot_product` expression over the corpus — map-only.
  *
  * Determinism/oracle (the q74 PageRank discipline): every sum
  * accumulates in DECIMAL(28,12) (order-independent), every scalar op
  * (subtract, multiply, divide, sqrt) is a single IEEE-exact double op,
  * and each iteration's vector is rounded to 12 dp before the next —
  * both engines carry bit-identical doubles through mean, covariance,
  * three power iterations, and the Rayleigh-style eigenvalue estimate,
  * so the whole pipeline is DuckDB-replayed as chained CTEs.
  */
object Spectral {

  private val Dim = VectorSql.Dim // 64
  private val SampleN = 1000 // decimal-parity bound: terms in [-4,4] → ≤4e15 < 2^52
  private val Iters = 3

  /** PUBLIC API — (pos, loading, eig): unit-norm top principal
    * component of the sample's covariance plus the eigenvalue estimate
    * ‖Cv‖ from the final iteration (repeated per row for a single
    * hashable frame). Pass a bounded sample; the registry path uses the
    * md5-smallest SampleN rows. */
  def topComponent(s: SparkSession, sample: DataFrame,
      iters: Int = Iters): DataFrame = {
    require(iters >= 1, "power iteration needs at least one round")
    // lazy localCheckpoint: the count() right below materializes it —
    // one job where eager-checkpoint-then-count paid two (r16)
    val samp = sample.select(col("vec_id"), col("embedding"))
      .localCheckpoint(false)
    val n = samp.count() // driver scalar, like pageRank's node count
    // repartition by vec_id BEFORE the checkpoint (r16): the sample
    // arrives as a single partition (orderBy+limit collapses to one),
    // so the d² covariance self-join below — 4.1M pair rows at
    // SampleN=1000 — otherwise runs as ONE task. vec_id partitioning is
    // exactly the join key, so the join itself needs no exchange; sums
    // are DECIMAL (order-independent), bit-identical either way.
    val elems = samp
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("pos"), col("x").cast("double").as("x"))
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .localCheckpoint()
    val mu = elems.groupBy(col("pos"))
      .agg((sum(col("x").cast("decimal(28,12)")).cast("double") / n).as("mu"))
    val cent = elems.join(broadcast(mu), "pos")
      .select(col("vec_id"), col("pos"), (col("x") - col("mu")).as("d"))
    val cov = cent.as("a").join(cent.as("b"), col("a.vec_id") === col("b.vec_id"))
      .select(col("a.pos").as("i"), col("b.pos").as("j"),
        (col("a.d") * col("b.d")).cast("decimal(28,12)").as("t"))
      .groupBy(col("i"), col("j"))
      .agg((sum(col("t")).cast("double") / (n - 1)).as("c"))
      .localCheckpoint()
    // r16 job-count fix: the loop used to localCheckpoint v AND collect
    // nrm.head() EVERY iteration (2 driver actions × iters) although
    // only the FINAL norm is reported — with cov checkpointed the whole
    // power chain is a small lazy plan (64-row frames, linear lineage),
    // so the fit now runs as ONE job instead of 2·iters+1. Arithmetic
    // is unchanged expression-for-expression (same rounds, same
    // rounding points); the eigenvalue rides as a crossJoined column of
    // the final frame instead of a driver scalar.
    var v = s.range(Dim).select(col("id").cast("int").as("pos"),
      lit(1.0 / 8).as("loading")) // 1/8 = exact binary, |v|=1 at dim 64
    var nrm = v.limit(0).select(lit(0.0).as("nrm")) // replaced each round
    for (k <- 1 to iters) {
      val w = cov.join(v.withColumnRenamed("pos", "j"), Seq("j"))
        .select(col("i"), (col("c") * col("loading")).cast("decimal(28,12)").as("t"))
        .groupBy(col("i"))
        .agg(round(sum(col("t")).cast("double"), 12).as("w"))
      nrm = w.select(
        sqrt(sum((col("w") * col("w")).cast("decimal(28,12)")).cast("double"))
          .as("nrm"))
      v = w.join(broadcast(nrm), lit(true))
        .select(col("i").as("pos"), round(col("w") / col("nrm"), 12).as("loading"))
      // plan-growth guard (ADVICE r16): each round references w twice
      // (directly and via the nrm broadcast), so the lazy plan doubles
      // per round — invisible at the default Iters=3, exponential
      // analysis cost for a caller passing large `iters` through this
      // public API. Re-anchor the 64-row vector every 4th round; the
      // loadings are already rounded to 12 dp, so the checkpoint is
      // arithmetic-neutral. Never fires at the default depth.
      if (k % 4 == 0 && k < iters) v = v.localCheckpoint()
    }
    v.join(broadcast(nrm.select(round(col("nrm"), 9).as("eig"))), lit(true))
      .select(col("pos"), col("loading"), col("eig"))
      .orderBy(col("pos").asc_nulls_last)
  }

  // ---- fit-once / project-many split (the q95 build/probe discipline) --

  /** PUBLIC API — fit the top component on a bounded sample and persist
    * it under `modelDir` as a 64-row parquet (pos, loading, eig): the
    * build half. Run once per corpus version; projections read it. */
  def fitComponent(s: SparkSession, sample: DataFrame,
      modelDir: String): Unit =
    topComponent(s, sample).write.mode("overwrite").parquet(modelDir)

  /** PUBLIC API — read back a persisted component model. */
  def loadComponent(s: SparkSession, modelDir: String): DataFrame =
    s.read.parquet(modelDir)

  /** PUBLIC API — project every embedding onto a persisted component
    * and aggregate per label: the map-only probe half (one broadcast
    * row + codegen `dot_product` + a map-combined label aggregate). */
  def projectComponent(s: SparkSession, e: DataFrame,
      modelDir: String): DataFrame = {
    graft.Graft.register(s)
    val comp = loadComponent(s, modelDir)
      .groupBy()
      .agg(array_sort(collect_list(struct(col("pos"), col("loading")))).as("pl"))
      .select(expr("transform(pl, x -> cast(x.loading as float))").as("v"))
    e.join(broadcast(comp), lit(true))
      .select(col("label"),
        expr("dot_product(embedding, v)").cast("decimal(28,12)").as("p"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("p")).cast("double") / count(lit(1)), 9).as("mean_proj"))
      .orderBy(col("label").asc_nulls_last)
  }

  private def sampleOf(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("embedding"))
      .orderBy(md5(col("vec_id").cast("string")).asc_nulls_last,
        col("vec_id").asc_nulls_last)
      .limit(SampleN)

  /** The model dir of corpus `dir`, fitted on first use per JVM: the
    * project half reuses the power half's fit instead of re-deriving
    * the sample covariance + power iterations (r12 VERDICT #2). Keyed
    * by dir so distinct fixtures never share a model; fixtures are
    * immutable within a session, so per-JVM reuse cannot go stale. */
  private def modelFor(s: SparkSession, dir: String): String =
    TempDirs.layout(dir, "graft_pca") { d =>
      fitComponent(s, sampleOf(Tables.t(s, dir, "embeddings")), d)
    }

  /** q101_pca_power: the FIT half. Always refits (this entry is the
    * fit benchmark), into the model dir q101_pca_project reads. */
  private def q101(s: SparkSession, dir: String): DataFrame = {
    val d = TempDirs.layout(dir, "graft_pca")(_ => ())
    fitComponent(s, sampleOf(Tables.t(s, dir, "embeddings")), d)
    loadComponent(s, d).orderBy(col("pos").asc_nulls_last)
  }

  private val q101Sql = {
    def matvec(prev: String, out: String): String =
      s"""${out}_w AS (
         |  SELECT c.i, round(CAST(SUM(CAST(c.c * v.loading AS DECIMAL(28,12))) AS DOUBLE), 12) AS w
         |  FROM cov c JOIN $prev v ON c.j = v.pos GROUP BY c.i),
         |${out}_n AS (
         |  SELECT sqrt(CAST(SUM(CAST(w * w AS DECIMAL(28,12))) AS DOUBLE)) AS nrm
         |  FROM ${out}_w),
         |$out AS (
         |  SELECT w.i AS pos, round(w.w / n.nrm, 12) AS loading
         |  FROM ${out}_w w CROSS JOIN ${out}_n n)""".stripMargin
    val rounds = (1 to Iters).map(k => matvec(s"v${k - 1}", s"v$k"))
      .mkString(",\n")
    s"""WITH samp AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT $SampleN),
       |nn AS (SELECT COUNT(*) AS n FROM samp),
       |elems AS (
       |  SELECT vec_id, CAST(i.i - 1 AS INT) AS pos,
       |    CAST(embedding[i.i] AS DOUBLE) AS x
       |  FROM samp CROSS JOIN range(1, ${Dim + 1}) i(i)),
       |mu AS (
       |  SELECT pos, CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / nn.n AS mu
       |  FROM elems CROSS JOIN nn GROUP BY pos, nn.n),
       |cent AS (
       |  SELECT e.vec_id, e.pos, e.x - m.mu AS d
       |  FROM elems e JOIN mu m ON e.pos = m.pos),
       |cov AS (
       |  SELECT a.pos AS i, b.pos AS j,
       |    CAST(SUM(CAST(a.d * b.d AS DECIMAL(28,12))) AS DOUBLE) / (nn.n - 1) AS c
       |  FROM cent a JOIN cent b ON a.vec_id = b.vec_id CROSS JOIN nn
       |  GROUP BY a.pos, b.pos, nn.n),
       |v0 AS (
       |  SELECT CAST(i.i AS INT) AS pos, CAST(0.125 AS DOUBLE) AS loading
       |  FROM range(0, $Dim) i(i)),
       |$rounds
       |SELECT v.pos, v.loading, round(n.nrm, 9) AS eig
       |FROM v$Iters v CROSS JOIN v${Iters}_n n
       |ORDER BY v.pos ASC NULLS LAST""".stripMargin
  }

  /** q101_pca_project: the corpus-wide APPLICATION of the component —
    * every embedding's projection onto the top direction, aggregated per
    * label (n + 9-dp mean). This is the map-only half: the 64-float
    * component is one broadcast row, the projection is the native
    * `dot_product` expression inside codegen, and only the label-keyed
    * aggregate exchanges (map-side combined). The "all-but-the-top"
    * de-biasing pass subtracts `p·v` from each embedding in exactly this
    * shape. Projections truncate to DECIMAL(28,12) before the
    * order-independent per-label sum.
    *
    * Fit-once: the component comes from the PERSISTED model (fitted by
    * q101_pca_power or on first use), not a fresh fit — production
    * pays the covariance + power iterations once per corpus version
    * and the map-only projection per batch. The oracle replays fit +
    * projection fused; same data, same sample, same model. */
  private def q101project(s: SparkSession, dir: String): DataFrame =
    projectComponent(s, Tables.t(s, dir, "embeddings"), modelFor(s, dir))

  private val q101projectSql = {
    val inner = q101Sql.stripPrefix("WITH ").stripSuffix(
      s"""SELECT v.pos, v.loading, round(n.nrm, 9) AS eig
         |FROM v$Iters v CROSS JOIN v${Iters}_n n
         |ORDER BY v.pos ASC NULLS LAST""".stripMargin)
    s"""WITH ${inner.trim.stripSuffix(",")},
       |comp AS (
       |  SELECT list(CAST(loading AS FLOAT) ORDER BY pos ASC) AS v FROM v$Iters),
       |proj AS (
       |  SELECT e.label,
       |    CAST(${VectorSql.dot("e.embedding", "c.v")} AS DECIMAL(28,12)) AS p
       |  FROM embeddings e CROSS JOIN comp c)
       |SELECT label, COUNT(*) AS n_vecs,
       |  round(CAST(SUM(p) AS DOUBLE) / COUNT(*), 9) AS mean_proj
       |FROM proj GROUP BY label ORDER BY label ASC NULLS LAST""".stripMargin
  }

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q101_pca_power", q101, Some(q101Sql)),
    QueryDef("q101_pca_project", q101project, Some(q101projectSql)))
}
