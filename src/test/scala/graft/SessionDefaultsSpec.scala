package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** The session profile is library surface: pin the per-tier values, the
  * tier-independent base, the corpus probe, the test session's use of
  * the profile, and the fail-fast numeric config parse. */
class SessionDefaultsSpec extends AnyFunSuite {
  import SessionDefaults._

  test("fixture tier keeps Spark defaults (pinned plan contracts depend on it)") {
    val t = tierFor(17L << 20) // sf0.1 lineitem ≈ 11 MB
    assert(t.bcastStatic == "10m")
    assert(t.bcastAdaptive == "10m")
    assert(t.fileCompressionFactor == "1.0")
  }

  test("sf10 tier: 64m thresholds, no estimate correction") {
    val t = tierFor(1L << 30)
    assert(t.bcastStatic == "64m" && t.bcastAdaptive == "64m")
    assert(t.fileCompressionFactor == "1.0")
  }

  test("sf100 tier: static 384m / adaptive 128m / compression factor 6") {
    val t = tierFor(12L << 30)
    assert(t.bcastStatic == "384m")
    assert(t.bcastAdaptive == "128m") // compressed post-shuffle bound
    assert(t.fileCompressionFactor == "6.0")
  }

  test("tier floors are exclusive (a corpus AT the floor stays below)") {
    assert(tierFor(Sf10FloorBytes).bcastStatic == "10m")
    assert(tierFor(Sf100FloorBytes).bcastStatic == "64m")
  }

  test("confs carry every scale-survival key and maxResultSize") {
    val keys = tierFor(0L).confs.map(_._1).toSet
    assert(keys == Set(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.sources.fileCompressionFactor",
      "spark.driver.maxResultSize",
      "spark.sql.codegen.cache.maxEntries"))
  }

  test("corpus probe reads the fixture's lineitem footprint") {
    val b = lineitemBytes("/root/testdata/sf0.01")
    assert(b > 0, "fixture lineitem must be found")
    assert(tierFor(b).bcastStatic == "10m", "fixtures are fixture-tier")
    assert(lineitemBytes("/nonexistent") == 0L)
  }

  test("a corpus dir without lineitem.parquet fails fast, naming the dir") {
    val e = intercept[IllegalArgumentException](forDir("/nonexistent/sf0.01"))
    assert(e.getMessage.contains("'/nonexistent/sf0.01'"), e.getMessage)
    assert(e.getMessage.contains("lineitem.parquet"), e.getMessage)
    assert(forDir(SparkTestSession.sf).bcastStatic == "10m")
  }

  test("profile: the four tier keys plus zstd, UTC, nanos and UI off") {
    val p = profile(tierFor(0L), 7).toMap
    assert(p.size == profile(tierFor(0L), 7).size, "no key set twice")
    assert(tierFor(0L).confs.forall { case (k, v) => p(k) == v })
    assert(p("spark.io.compression.codec") == "zstd")
    assert(p("spark.sql.session.timeZone") == "UTC")
    assert(p(Tables.NanosConf) == "true")
    assert(p("spark.ui.enabled") == "false")
    assert(p("spark.sql.shuffle.partitions") == "7")
    // the sf100 tier swaps the tier values and keeps the base
    val big = profile(tierFor(12L << 30), 320).toMap
    assert(big("spark.sql.autoBroadcastJoinThreshold") == "384m")
    assert(big("spark.io.compression.codec") == "zstd")
  }

  test("the test session carries the profile under the retry master") {
    val spark = SparkTestSession.spark
    assert(spark.sparkContext.master == "local[4,2]")
    // context-level conf: fixed at construction, so the shared session's
    // per-test SQL conf overrides cannot mask it
    val conf = spark.sparkContext.getConf
    profile(forDir(SparkTestSession.sf), 4).foreach { case (k, v) =>
      assert(conf.get(k) == v, s"$k")
    }
  }

  test("a second consecutive TPC-H pass compiles no generated class") {
    // the gated benchmark's TPC-H queries compile more distinct classes
    // than Spark's default codegen cache holds (at 100 entries the second
    // pass recompiles 130 at this scale); the profile's cache size keeps
    // a repeated pass, and a repeated q07_tpch_q1, compile-free
    val spark = SparkTestSession.spark
    val pass = Seq("q07_tpch_q1", "q42_tpch_q3", "q43_tpch_q5", "q104_tpch_q6",
      "q106_tpch_q9", "q108_tpch_q11", "q110_tpch_q13", "q94_tpch_q21")
    def compiles(names: Seq[String]): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      names.foreach(n => SparkEntry.queries(n)(spark, SparkTestSession.sf).collect())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    compiles(pass) // warm-up: whatever an earlier suite left uncached
    assert(compiles(pass) == 0, "a repeated pass recompiled generated classes")
    assert(compiles(pass.take(1)) == 0, "a repeated q07_tpch_q1 recompiled")
  }

  test("positiveInt parses positive values and names the key otherwise") {
    assert(positiveInt("SPARK_GRAFT_CPUS", "8") == 8)
    assert(positiveInt("SPARK_GRAFT_CPUS", " 32 ") == 32)
    for (bad <- Seq("abc", "0", "-3")) {
      val e = intercept[IllegalArgumentException](
        positiveInt("SPARK_GRAFT_BENCH_RUNS", bad))
      assert(e.getMessage.contains("SPARK_GRAFT_BENCH_RUNS"), e.getMessage)
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
