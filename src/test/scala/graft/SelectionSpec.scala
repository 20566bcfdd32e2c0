package graft

import graft.operators.{Dsir, NgramLm, SemDedup}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics of the round-8 data-selection operators beyond the DuckDB
  * oracle: the SemDeDup keep-rule invariant against a brute-force
  * recompute, the bigram LM against a hand-computed fixture, and the
  * DSIR weight direction on a vocabulary-separated fixture. */
class SelectionSpec extends AnyFunSuite {
  import SparkTestSession._

  // ---- SemDeDup (q86) ----

  test("semdedup: no within-cluster near-dup pair survives with both members kept") {
    val out = SparkEntry.queries("q86_semdedup")(spark, sf)
      .select("vec_id", "c_id", "kept").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getBoolean(2)))).toMap
    // brute-force within-cluster cosine check against the raw embeddings
    val emb = Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val byCluster = out.groupBy(_._2._1)
    for ((_, members) <- byCluster; Seq((x, _), (y, _)) <- members.toSeq.combinations(2)) {
      if (cos(emb(x), emb(y)) > 0.45)
        assert(!(out(x)._2 && out(y)._2),
          s"near-dup pair ($x, $y) both kept")
    }
    assert(out.values.exists(!_._2), "fixture should contain semantic dups to drop")
    assert(out.values.count(_._2) > out.size / 2, "most of the corpus must survive")
  }

  test("semdedup is deterministic across invocations") {
    val a = SparkEntry.queries("q86_semdedup")(spark, sf).collect().toSeq
    val b = SparkEntry.queries("q86_semdedup")(spark, sf).collect().toSeq
    assert(a == b)
  }

  test("scaled-k semdedup equals the pinned-k entry at fixture scale and " +
      "elects the paper regime past it") {
    // fixture corpora (≤ 2048 vectors) elect the floor k = 16, so the
    // scaled board variant must be BIT-EQUAL to the oracle-green pinned
    // entry here — its correctness anchor, since the elected k varies
    // with sf and the k-means SQL replay needs k as a literal
    val a = SparkEntry.queries("q86_semdedup")(spark, sf).collect().toSeq
    val b = SparkEntry.queries("q86_semdedup_scaled")(spark, sf).collect().toSeq
    assert(a == b, "scaled variant diverged from pinned entry at floor k")
    // election law: k ∝ n between floor and the train-sample cap; past
    // the cap no flat k is elected and the registry runs the recursion
    assert(SemDedup.electClusters(500) == Some(16))
    assert(SemDedup.electClusters(20000) == Some(156))
    assert(SemDedup.electClusters(200000) == None)
    assert(SemDedup.electClusters(100000000) == None, "cap must hold")
  }

  test("recursive semdedup: keep rule, coverage, leaf bound, and " +
      "determinism at a forced multi-level election") {
    // the >10⁷-vector path (log-depth recursion, VERDICT r14 item 3)
    // forced multi-level at fixture scale: branch 4, targetPop 16 over
    // 2048 vectors needs ~4 levels, so the path-encoded ids, the
    // per-level routing, and the leaf-centroid c_sim are all exercised
    val emb = Tables.t(spark, sf, "embeddings")
    val out = SemDedup.semDedupRecursive(spark, emb, branch = 4,
        targetPop = 16, maxDepth = 8)
      .collect().map(r =>
        r.getLong(0) -> ((r.getInt(1), r.getBoolean(3)))).toMap
    val n = emb.count()
    assert(out.size.toLong == n, "every vector must get exactly one verdict")
    val pops = out.values.groupBy(_._1).map(_._2.size)
    assert(pops.max <= 16,
      s"leaf population bound violated: max=${pops.max}")
    assert(out.values.map(_._1).toSet.size > 4,
      "multi-level recursion did not happen — only one split level")
    val raw = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    for ((_, members) <- out.groupBy(_._2._1);
         Seq((x, _), (y, _)) <- members.toSeq.combinations(2)) {
      if (cos(raw(x), raw(y)) > 0.45)
        assert(!(out(x)._2 && out(y)._2),
          s"near-dup pair ($x, $y) both kept in recursive sweep")
    }
    assert(out.values.exists(!_._2), "recursive sweep found no dups — vacuous")
    val again = SemDedup.semDedupRecursive(spark, emb, branch = 4,
        targetPop = 16, maxDepth = 8)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getBoolean(3)))).toMap
    assert(out == again, "recursive semdedup must be deterministic")
    val err = intercept[IllegalArgumentException](
      SemDedup.semDedupRecursive(spark, emb, branch = 1))
    assert(err.getMessage.contains(
      "recursive semdedup needs branch >= 2 and targetPop >= 1, " +
        "got branch = 1, targetPop = 128"), err.getMessage)
  }

  // ---- Bigram LM (q87) ----

  test("bigram NLL matches the hand formula on a tiny fixture") {
    import spark.implicits._
    // corpus: "a b" x2, "a c" x1 → unigrams: a=3, b=2... wait: tokens
    // a,b,a,b,a,c → c(a)=3 c(b)=2 c(c)=1, N=6; prefixes: c(a·)=3;
    // bigrams: c(a,b)=2, c(a,c)=1.
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c")).toDF("doc_id", "text")
    val got = NgramLm.bigramNll(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def nllDoc(pairP: Double, firstP: Double): Double = {
      def t(p: Double) = BigDecimal(-math.log(p))
        .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
      BigDecimal((t(pairP) + t(firstP)) / 2)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val pAB = 0.5 * (2.0 / 3.0) + 0.5 * (2.0 / 6.0)
    val pAC = 0.5 * (1.0 / 3.0) + 0.5 * (1.0 / 6.0)
    val pA = 3.0 / 6.0
    assert(got(1L)._1 == 2L && got(2L) == got(1L))
    assert(math.abs(got(1L)._2 - nllDoc(pAB, pA)) < 2e-6, s"${got(1L)}")
    assert(math.abs(got(3L)._2 - nllDoc(pAC, pA)) < 2e-6, s"${got(3L)}")
    // the repeated bigram is more predictable than the rare one
    assert(got(1L)._2 < got(3L)._2)
  }

  test("bigram NLL scores fluent (high-frequency) docs below rare-token docs at sf") {
    val out = SparkEntry.queries("q87_bigram_lm")(spark, sf)
    assert(out.where(col("avg_nll").isNull).count() == 0)
    val range = out.agg(min("avg_nll"), max("avg_nll")).head()
    assert(range.getDouble(0) > 0 && range.getDouble(1) > range.getDouble(0))
  }

  // ---- DSIR (q88) ----

  test("dsir: target-vocabulary docs outweigh off-target docs on a separated fixture") {
    import spark.implicits._
    val docs = (
      (1L to 20L).map(i => (i, "wiki facts science " + ("article " * 5).trim, "en")) ++
        (21L to 40L).map(i => (i, "spam casino click " + ("buy " * 5).trim, "zz"))
      ).toDF("doc_id", "text", "lang")
    val w = Dsir.dsirWeights(docs, col("lang") === "en")
      .select("doc_id", "weight").collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val tAvg = (1L to 20L).map(w).sum / 20
    val rAvg = (21L to 40L).map(w).sum / 20
    assert(tAvg > rAvg, s"target=$tAvg raw=$rAvg")
    assert(tAvg > 0 && rAvg < 0, s"separated vocabularies must split around 0: $tAvg / $rAvg")
  }

  test("dsir weights at sf favor the English slice on average") {
    val out = SparkEntry.queries("q88_dsir")(spark, sf)
      .groupBy("is_target").agg(avg("weight").as("w"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(out(true) > out(false), s"$out")
  }
}
