package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.VectorOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SemDeDup — semantic deduplication by embedding clustering (Abbas et
  * al. 2023, "SemDeDup: Data-efficient learning at web-scale through
  * semantic deduplication", arXiv:2303.09540): k-means-cluster the
  * corpus embeddings, compare pairs ONLY within a cluster, and among
  * each semantic-duplicate pair (cosine > threshold) keep the vector
  * FARTHER from its centroid — the paper's low-centroid-similarity keep
  * rule, which preserves the diverse examples and drops the prototypical
  * repeats. This is the third near-dup family next to the LSH-bucketed
  * q28_dedup_embed (random hyperplanes) and the MinHash/SimHash text
  * paths: clustering gives each vector exactly ONE blocking key, so the
  * pair candidates are disjoint by construction and the dedup sweep is
  * one self-join instead of a multi-table OR.
  *
  * Scale shape (100 TB): pairwise work is quadratic only WITHIN a
  * cluster, so `nClusters` scales with the corpus (the paper runs
  * k = 50 000 on LAION) and per-cluster population stays bounded — the
  * same bounded-bucket argument as q28_dedup_embed's LSH tables with the
  * cluster id playing the bucket role. The k-means build trains on a
  * bounded deterministic sample ([[Similarity.trainIvfCentroids]] — at
  * most `MaxTrainRows`, corpus-size-independent), assignment is one
  * broadcast-join pass over the corpus, and the pair sweep shuffles the
  * corpus once, keyed by `c_id`. Nothing collects to the driver.
  *
  * Determinism: the whole chain — md5-seeded training sample, Lloyd
  * rounds with DECIMAL-exact-sum / double-division means, argmax
  * assignment, the cosine comparisons and the keep rule — is
  * deterministic and SQL-replayable; the oracle reuses the exact
  * chained-CTE k-means replay proven bit-identical for q29_ivf_cands
  * ([[Similarity.kmeansChainSql]]).
  *
  * Reference scope note: the reference engine (celeborn) has no ANN or
  * dedup surface — this operator is part of the training-data-pipeline
  * extension mandated by the build brief.
  */
object SemDedup {

  /** Fixture-scaled duplicate threshold — the synthetic embeddings'
    * planted near-dup pairs sit at cosine ≈ 0.45–0.6 (same corpus
    * calibration as q28_dedup_embed's 0.45); a real text/image corpus
    * would run 0.95+. */
  private val Threshold = 0.45
  private val Clusters = 16

  /** PUBLIC API — per-vector SemDeDup verdicts over (vec_id, embedding):
    * (vec_id, c_id, cent_sim, kept). A vector is dropped iff some other
    * vector in its k-means cluster has cosine > `threshold` with it and
    * ranks lower by (centroid similarity, vec_id) — i.e. of every
    * duplicate pair the member closer to the centroid is dropped,
    * deterministic under ties by smallest vec_id. */
  def semDedup(s: SparkSession, corpus: DataFrame, nClusters: Int = Clusters,
      threshold: Double = Threshold, trainIters: Int = 2): DataFrame = {
    val e = corpus.select(col("vec_id"), col("embedding"))
    val cent = Similarity.trainIvfCentroids(
      s, Similarity.trainSample(e, nClusters), nClusters, trainIters)
    val a = Similarity.assignWithSim(s, e, cent)
    sweepAndSelect(s, a, threshold)
  }

  /** Within-cluster duplicate sweep over assigned (vec_id, embedding,
    * c_id, c_sim) rows: one exchange keyed by c_id. The keep rule is a
    * pure pairwise predicate (no transitive closure — a chain a~b~c
    * keeps exactly its per-pair survivors), so dropped = one
    * semi-join-shaped aggregation, not a fixpoint. */
  private def sweepAndSelect(s: SparkSession, a: DataFrame,
      threshold: Double): DataFrame = {
    val dropped = a.as("x").join(a.as("y"),
        col("x.c_id") === col("y.c_id") && col("x.vec_id") =!= col("y.vec_id"))
      .where(VectorOps.cosineFast(s, "x.embedding", "y.embedding") > threshold)
      .where(col("y.c_sim") < col("x.c_sim") ||
        (col("y.c_sim") === col("x.c_sim") && col("y.vec_id") < col("x.vec_id")))
      .groupBy(col("x.vec_id").as("vec_id")).agg(count(lit(1)).as("nd"))
    a.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("c_id"),
        round(col("c_sim"), 9).as("cent_sim"),
        col("nd").isNull.as("kept"))
      .orderBy(col("vec_id").asc_nulls_last)
  }

  private def q86(s: SparkSession, dir: String): DataFrame =
    semDedup(s, Tables.t(s, dir, "embeddings"))

  /** PAPER-REGIME cluster count: k ∝ n so per-cluster population (and
    * hence the within-cluster quadratic sweep) stays bounded at
    * ~[[TargetClusterPop]] as the corpus grows — SemDeDup runs
    * k = 50 000 on LAION for exactly this reason. Floor 16 keeps every
    * fixture/test scale (≤ 2048 vectors) on the pinned-k layout, so the
    * scaled variant is bit-equal to q86_semdedup there (asserted in
    * SelectionSpec). None past the flat trainer's cap
    * k ≤ [[Similarity.MaxTrainRows]]/4 (the bounded training sample
    * must still average ≥ 4 points per centroid): there the caller runs
    * [[semDedupRecursive]] instead of a capped k whose per-cluster
    * population grows again. */
  private val TargetClusterPop = 128
  def electClusters(n: Long): Option[Int] = {
    val k = math.max(Clusters.toLong, n / TargetClusterPop)
    if (k <= Similarity.MaxTrainRows / 4) Some(k.toInt) else None
  }

  /** One level of the recursive split ([[semDedupRecursive]]):
    * partition every group of `ga` ((vec_id, embedding, g) rows) into
    * ≤ `branch` children by one grouped Lloyd loop — the
    * [[Pq.trainCodebook]] subspace-keyed discipline with the parent
    * group as the key: per group an md5-ordered sample of ≤ 20·branch
    * rows seeded by its `branch` md5-smallest rows (groups smaller than
    * `branch` get fewer children), `trainIters` rounds of per-(g, f_id,
    * pos) DECIMAL-exact means (each group's sample is ≤ 20·branch ≤
    * MaxTrainRows rows, preserving the 2^52 bit-parity bound — the same
    * require as trainIvfCentroids), then one assignment of all rows
    * among their OWN group's children. Returns (vec_id, embedding, g,
    * f_id ∈ 1..branch, c_sim). */
  private def groupedSplit(s: SparkSession, ga: DataFrame, branch: Int,
      trainIters: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(20L * branch <= Similarity.MaxTrainRows,
      s"branch=$branch breaks the grouped-sample bit-parity bound")
    val wg = Window.partitionBy(col("g"))
      .orderBy(col("r").asc_nulls_last, col("vec_id").asc_nulls_last)
    val sample = ga
      .withColumn("r", md5(col("vec_id").cast("string")))
      .withColumn("rn", row_number().over(wg))
      .where(col("rn") <= 20 * branch)
      .select(col("g"), col("vec_id"), col("embedding"), col("rn"))
      .localCheckpoint()
    var cent = sample.where(col("rn") <= branch)
      .select(col("g"), col("rn").cast("int").as("f_id"),
        col("embedding").as("c_emb"))
      .localCheckpoint()
    // the centroid table is keyed by g, so this is an EQUI-join: the
    // broadcast hint is right while the per-level child table is small
    // (≤ n/targetPop rows total); past ~10⁸ vectors drop the hint and
    // let it shuffle on g (documented, not needed at any measured scale)
    def assign(rows: DataFrame, c: DataFrame): DataFrame =
      rows.join(broadcast(c), Seq("g"))
        .select(col("vec_id"), col("g"), col("embedding"), col("f_id"),
          VectorOps.cosineFast(s, "c_emb", "embedding").as("c_sim"))
        .groupBy(col("vec_id"))
        .agg(max(struct(col("c_sim"), (-col("f_id")).as("nf"), col("f_id"),
          col("g"), col("embedding"))).as("best"))
        .select(col("vec_id"), col("best.embedding").as("embedding"),
          col("best.g").as("g"), col("best.f_id").as("f_id"),
          col("best.c_sim").as("c_sim"))
    for (_ <- 1 to trainIters) {
      val means = assign(sample, cent)
        .select(col("g"), col("f_id"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("g"), col("f_id"), col("pos"))
        .agg((sum(col("v").cast("decimal(28,12)")).cast("double")
          / count(lit(1))).as("m"))
        .groupBy(col("g"), col("f_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("g"), col("f_id"),
          expr("transform(pm, x -> cast(x.m as float))").as("new_emb"))
      cent = cent.join(means, Seq("g", "f_id"), "left")
        .select(col("g"), col("f_id"),
          coalesce(col("new_emb"), col("c_emb")).as("c_emb"))
        .localCheckpoint()
    }
    assign(ga, cent)
  }

  /** LOG-DEPTH recursive k-means SemDeDup — the k ∝ n regime past the
    * flat trainer's cap. The r14 sf100 study measured the capped flat
    * path saturating as predicted: with k stuck at MaxTrainRows/4 =
    * 1024, per-cluster population grows again past ~10⁵ vectors
    * (2M/1024 ≈ 1953 ⇒ a ~8·10⁹-pair sweep, DNF at the 20-minute
    * budget). A two-level split (k = k1·k2: coarse centroids, then k2
    * fine ones per coarse group) pays n·(k1+k2) = n·2√k per corpus pass
    * instead of n·k — 62x less at sf100 (2M vectors, k = 15 625) — but
    * that is Θ(n^1.5) under k ∝ n, super-linear again past ~10⁷
    * vectors. Here the grouped Lloyd split ([[groupedSplit]]) RECURSES:
    * every group whose population exceeds `targetPop` is split into
    * ≤ `branch` children, level by level, until all leaves are bounded
    * (or `maxDepth`, the int-range guard on path-encoded ids, is
    * reached). Depth is log_branch(n/targetPop), so total assignment
    * cost is n·branch·depth = n·O(log n) — at 10⁸ vectors (branch 32,
    * pop 128): n·32·5 vs the two-level's n·1768, 11x less, and the gap
    * widens a further ~3x per decade.
    *
    * Mechanics: leaf ids are path-encoded in base (branch+1) with
    * nonzero digits (child f of group g = g·(branch+1)+f), so a leaf
    * finished at level L can never collide with a deeper leaf. A
    * group's population only changes while it is being split, so
    * "pop ≤ targetPop" is a stable done-state — each level touches ONLY
    * rows of still-oversized groups (one per-level size histogram, a
    * broadcast semi-join to route rows, then one grouped split). Every
    * row's final c_sim is its similarity to its LEAF centroid — exactly
    * the keep rule's ranking key. Same determinism discipline as the
    * flat path: md5-ordered samples, decimal-exact means, argmax
    * assignment, no RNG.
    *
    * Skew guard: a degenerate group that refuses to shrink (all members
    * at one child) stops at `maxDepth` and sweeps quadratically within
    * its residual population — the same residual any k-means blocking
    * has; maxDepth 6 at branch 32 covers 128·32⁶ ≈ 10¹¹ vectors. */
  def semDedupRecursive(s: SparkSession, corpus: DataFrame,
      branch: Int = 32, targetPop: Long = TargetClusterPop,
      threshold: Double = Threshold, trainIters: Int = 2,
      maxDepth: Int = 6): DataFrame = {
    require(branch >= 2 && targetPop >= 1,
      s"recursive semdedup needs branch >= 2 and targetPop >= 1, " +
        s"got branch = $branch, targetPop = $targetPop")
    require(math.pow(branch + 1.0, maxDepth) <= Int.MaxValue,
      s"path-encoded leaf ids must fit c_id's int range: " +
        s"($branch+1)^$maxDepth overflows")
    val e = corpus.select(col("vec_id"), col("embedding"))
    var cur = e.select(col("vec_id"), col("embedding"),
      lit(0L).as("g"), lit(0.0).as("c_sim"))
    var level = 0
    var anyOversized = true
    while (anyOversized && level < maxDepth) {
      val sizes = cur.groupBy(col("g")).agg(count(lit(1)).as("pop"))
        .localCheckpoint() // ≤ one row per current leaf
      val over = sizes.where(col("pop") > targetPop).select(col("g"))
      anyOversized = over.limit(1).count() > 0
      if (anyOversized) {
        level += 1
        val splitRows = cur.join(broadcast(over), Seq("g"))
        val doneRows = cur.join(broadcast(over), Seq("g"), "left_anti")
        val split = groupedSplit(s,
            splitRows.select(col("vec_id"), col("embedding"), col("g")),
            branch, trainIters)
          .select(col("vec_id"), col("embedding"),
            (col("g") * (branch + 1) + col("f_id")).as("g"), col("c_sim"))
        cur = split.unionByName(
          doneRows.select(col("vec_id"), col("embedding"),
            col("g"), col("c_sim")))
          .localCheckpoint()
      }
    }
    val a = cur.select(col("vec_id"), col("embedding"),
      col("g").cast("int").as("c_id"), col("c_sim"))
    sweepAndSelect(s, a, threshold)
  }

  /** The scaled-k board variant (VERDICT r13 item 7): q86's 14.4x
    * decade slope was adjudicated as the PINNED-k fixture contract, not
    * the operator — this entry runs the paper's k ∝ n regime so the
    * decade study can measure the operator's own ~linear slope next to
    * the pinned oracle entry. No SQL oracle: the k-means chain replay
    * needs k as a literal, and the elected k varies with sf — the
    * driver records the rows-only check; bit-equality to the oracle-
    * green pinned entry at fixture scale is the correctness anchor. */
  private def q86scaled(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "embeddings")
    electClusters(e.count()) match {
      case Some(k) => semDedup(s, e, nClusters = k)
      case None => semDedupRecursive(s, e)
    }
  }

  /** Oracle: the shared k-means chain (bit-identical replay, see
    * q29_ivf_cands) + the pair sweep and keep rule in plain SQL. */
  private def q86Sql: String = {
    val iters = 2
    s"""WITH ${Similarity.kmeansChainSql(Clusters, iters)},
       |dropped AS (
       |  SELECT x.vec_id FROM afull x JOIN afull y
       |    ON x.c_id = y.c_id AND x.vec_id <> y.vec_id
       |  WHERE ${VectorSql.cosine("x.embedding", "y.embedding")} > $Threshold
       |    AND (y.c_sim < x.c_sim OR (y.c_sim = x.c_sim AND y.vec_id < x.vec_id))
       |  GROUP BY x.vec_id)
       |SELECT a.vec_id, a.c_id, ROUND(a.c_sim, 9) AS cent_sim,
       |  (d.vec_id IS NULL) AS kept
       |FROM afull a LEFT JOIN dropped d ON a.vec_id = d.vec_id
       |ORDER BY a.vec_id ASC NULLS LAST""".stripMargin
  }

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q86_semdedup", q86, Some(q86Sql)),
    QueryDef("q86_semdedup_scaled", q86scaled, None))
}
