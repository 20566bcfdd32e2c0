package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The read-only ops surface (graft.ops.OpsServer): endpoint routing,
  * registry exposure, artifact serving, and the no-mutation guarantee.
  * No Spark session — the server is a pure artifact reader. */
class OpsServerSpec extends AnyFunSuite {

  private def withServer(test: (Int, HttpClient) => Unit): Unit = {
    // a temp dir with one plan artifact + a board file exercises the
    // file-backed endpoints hermetically
    val dir = Files.createTempDirectory("graft_ops_spec")
    Files.writeString(dir.resolve("q07_tpch_q1.plan.txt"), "== Physical Plan ==\nstub")
    val board = dir.resolve("board.json")
    Files.writeString(board, """{"metric":"total","value":1.0}""")
    val metrics = dir.resolve("metrics.jsonl")
    Files.writeString(metrics, """{"query":"q07_tpch_q1","durationMs":42}""" + "\n")
    // two correctness rounds: /correctness must pick r10 numerically
    // (r10 > r9 by round number, not lexicographically)
    Files.writeString(dir.resolve("CORRECTNESS_r9.json"), """{"round":9}""")
    Files.writeString(dir.resolve("CORRECTNESS_r10.json"), """{"round":10}""")
    val running = ops.OpsServer.start(0,
      benchPaths = Seq(board.toString),
      metricsPaths = Seq(metrics.toString),
      plansDir = dir.toString,
      correctnessDir = dir.toString)
    try test(running.port, HttpClient.newHttpClient())
    finally running.stop()
  }

  private def get(c: HttpClient, port: Int, path: String): HttpResponse[String] =
    c.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  test("health reports the full registry size") {
    withServer { (port, c) =>
      val r = get(c, port, "/api/v1/health")
      assert(r.statusCode() == 200)
      assert(r.body().contains("\"status\":\"ok\""))
      val n = "\"queries\":(\\d+)".r.findFirstMatchIn(r.body()).get.group(1).toInt
      assert(n == SparkEntry.queries.size, s"registry size drift: $n")
    }
  }

  test("queries lists every registry id with its oracle flag") {
    withServer { (port, c) =>
      val body = get(c, port, "/api/v1/queries").body()
      assert(body.contains("\"id\":\"q07_tpch_q1\""))
      assert(body.contains("\"id\":\"q11_approx_distinct\",\"has_oracle\":false"))
      assert(body.contains("\"id\":\"q11_distinct_exact\",\"has_oracle\":true"))
    }
  }

  test("oracle sql round-trips verbatim; missing oracle is a 404") {
    withServer { (port, c) =>
      val sql = get(c, port, "/api/v1/queries/q07_tpch_q1/sql")
      assert(sql.statusCode() == 200)
      assert(sql.body() == SparkEntry.oracleSql("q07_tpch_q1"))
      assert(get(c, port, "/api/v1/queries/q11_approx_distinct/sql").statusCode() == 404)
      assert(get(c, port, "/api/v1/queries/nope/sql").statusCode() == 404)
    }
  }

  test("bench, metrics, and plan artifacts are served read-only") {
    withServer { (port, c) =>
      assert(get(c, port, "/api/v1/bench").body().contains("\"metric\":\"total\""))
      assert(get(c, port, "/api/v1/metrics").body().contains("\"durationMs\":42"))
      assert(get(c, port, "/api/v1/plans").body() == """{"plans":["q07_tpch_q1"]}""")
      assert(get(c, port, "/api/v1/plans/q07_tpch_q1").body().contains("Physical Plan"))
      assert(get(c, port, "/api/v1/plans/other").statusCode() == 404)
      // path traversal must not escape the plans dir
      assert(get(c, port, "/api/v1/plans/..%2Fboard").statusCode() == 404)
    }
  }

  test("correctness serves the latest round with provenance headers") {
    withServer { (port, c) =>
      val r = get(c, port, "/api/v1/correctness")
      assert(r.statusCode() == 200)
      assert(r.body() == """{"round":10}""", "must pick r10 over r9 numerically")
      val src = r.headers().firstValue("X-Graft-Source-Path")
      assert(src.isPresent && src.get.endsWith("CORRECTNESS_r10.json"))
      assert(r.headers().firstValue("X-Graft-Source-Mtime").isPresent)
    }
  }

  test("baseline joins ledger baselines with the board as worst-first ratios") {
    val dir = Files.createTempDirectory("graft_ops_baseline")
    val ledger = dir.resolve("baseline.json")
    Files.writeString(ledger,
      """{"queries":{"q_fast":1.0,"q_slow":0.5,"q_unrun":2.0}}""")
    val board = dir.resolve("board.json")
    // q_slow at 3x its baseline; q_extra has no ledger row; the
    // streaming object and adjudication array must NOT parse as times
    Files.writeString(board,
      """{"metric":"total","value":4.3,"queries":{"q_fast":0.8,"q_slow":1.5,"q_extra":2.0},""" +
        """"streaming":{"q_fast":{"triggers":3,"batch_median_sec":0.1}},""" +
        """"adjudicated":{"q_slow":[1.5,0.6]}}""")
    val running = ops.OpsServer.start(0,
      benchPaths = Seq(board.toString), baselinePath = ledger.toString)
    try {
      val r = get(HttpClient.newHttpClient(), running.port, "/api/v1/baseline")
      assert(r.statusCode() == 200)
      val body = r.body()
      assert(body.contains(""""over_2x":1"""), body)
      assert(body.contains(
        """{"id":"q_slow","baseline":0.500,"board":1.500,"ratio":3.000}"""), body)
      assert(body.contains(
        """{"id":"q_fast","baseline":1.000,"board":0.800,"ratio":0.800}"""), body)
      assert(body.contains(
        """{"id":"q_unrun","baseline":2.000,"board":null,"ratio":null}"""), body)
      assert(body.contains(
        """{"id":"q_extra","baseline":null,"board":2.000,"ratio":null}"""), body)
      // worst ratio leads
      assert(body.indexOf("q_slow") < body.indexOf("q_fast"), body)
      assert(r.headers().firstValue("X-Graft-Board-Mtime").isPresent)
    } finally running.stop()
  }

  test("baseline takes board seconds from queries, not the anchors ratios") {
    // the window stamp keys its anchor ratios by query name too; a board
    // time read from `anchors` would report a ratio as seconds
    val dir = Files.createTempDirectory("graft_ops_anchors")
    val ledger = dir.resolve("baseline.json")
    Files.writeString(ledger, """{"queries":{"q104_tpch_q6":0.2}}""")
    val board = dir.resolve("board.json")
    Files.writeString(board,
      """{"metric":"total","value":0.204,"queries":{"q104_tpch_q6":0.204},""" +
        """"anchors":{"q104_tpch_q6":1.215},"window":"noisy",""" +
        """"counts":{"q104_tpch_q6":{"query":"q104_tpch_q6","jobs":4,"stages":4,"tasks":4,"taskMs":90}}}""")
    val running = ops.OpsServer.start(0,
      benchPaths = Seq(board.toString), baselinePath = ledger.toString)
    try {
      val body = get(HttpClient.newHttpClient(), running.port, "/api/v1/baseline").body()
      assert(body.contains(
        """{"id":"q104_tpch_q6","baseline":0.200,"board":0.204,"ratio":1.020}"""), body)
      assert(body.contains(""""n_board":1"""), body)
    } finally running.stop()
  }

  test("baseline endpoint reads the REAL ledger against the tracked board") {
    // non-hermetic on purpose: the repo's own BENCH_BASELINE.json +
    // BENCH_BOARD must join (the exact curl an operator runs from the root)
    val running = ops.OpsServer.start(0)
    try {
      val body = get(HttpClient.newHttpClient(), running.port, "/api/v1/baseline").body()
      val n = "\"n_baselines\":(\\d+)".r.findFirstMatchIn(body).get.group(1).toInt
      assert(n >= SparkEntry.queries.size,
        s"ledger parse found only $n baselines for ${SparkEntry.queries.size} queries")
      assert(body.contains("\"id\":\"q07_tpch_q1\""))
    } finally running.stop()
  }

  test("baseline joins the canonical board, not a newer subset board") {
    // a SPARK_GRAFT_BENCH_ONLY run refreshes only the second path; the
    // join must keep reading the tracked canonical board listed first
    val dir = Files.createTempDirectory("graft_ops_subset")
    val ledger = dir.resolve("baseline.json")
    Files.writeString(ledger, """{"queries":{"q_a":1.0,"q_b":1.0,"q_c":1.0}}""")
    val tracked = dir.resolve("tracked.json")
    val subset = dir.resolve("subset.json")
    Files.writeString(tracked, """{"queries":{"q_a":1.1,"q_b":0.9,"q_c":1.0}}""")
    Files.writeString(subset, """{"queries":{"q_a":5.0}}""")
    Files.setLastModifiedTime(tracked,
      java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(subset).toMillis - 60000))
    val running = ops.OpsServer.start(0,
      benchPaths = Seq(tracked.toString, subset.toString), baselinePath = ledger.toString)
    try {
      val r = get(HttpClient.newHttpClient(), running.port, "/api/v1/baseline")
      assert(r.body().contains(""""n_board":3"""), r.body())
      assert(r.body().contains(""""over_2x":0"""), r.body())
      assert(r.headers().firstValue("X-Graft-Board-Path").get == tracked.toString)
    } finally running.stop()
  }

  test("bench prefers the NEWEST candidate board by mtime") {
    val dir = Files.createTempDirectory("graft_ops_bench")
    val stale = dir.resolve("tracked.json")
    val fresh = dir.resolve("dev.json")
    Files.writeString(stale, """{"which":"stale"}""")
    Files.writeString(fresh, """{"which":"fresh"}""")
    Files.setLastModifiedTime(stale,
      java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(fresh).toMillis - 60000))
    // stale listed FIRST — the old first-existing rule would serve it
    val running = ops.OpsServer.start(0,
      benchPaths = Seq(stale.toString, fresh.toString))
    try {
      val r = get(HttpClient.newHttpClient(), running.port, "/api/v1/bench")
      assert(r.body() == """{"which":"fresh"}""")
    } finally running.stop()
  }
}
