package graft.ops

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.json4s.JString
import org.json4s.jackson.JsonMethods.compact

/** Minimal READ-ONLY operations surface (round-10, VERDICT r9 "What's
  * missing" item 1): the reference ships a generated REST API plus a
  * CLI against it (celeborn: openapi/openapi-client/, cli/src/main/
  * scala/org/apache/celeborn/cli/CelebornCli.scala, worker/master
  * `.../http/api/v1/...Resource.scala`); this engine's artifacts are
  * files (metrics.jsonl, plan dumps, the bench board), so its
  * operations plane is a tiny JDK-built-in HTTP server that serves
  * those artifacts and the query registry over `/api/v1/...` — the
  * surface an operator curls, zero new dependencies, zero mutation
  * endpoints.
  *
  * Endpoints:
  *   GET /api/v1/health               liveness + registry size
  *   GET /api/v1/queries              registered query ids (+ oracle flag)
  *   GET /api/v1/queries/{id}/sql     the registered DuckDB oracle SQL
  *   GET /api/v1/bench                the bench board JSON (newest copy)
  *   GET /api/v1/baseline             recorded baselines ⋈ canonical board, as ratios
  *   GET /api/v1/correctness          latest driver CORRECTNESS_r*.json
  *   GET /api/v1/metrics              metrics.jsonl from the last Verify
  *   GET /api/v1/plans                available executed-plan artifacts
  *   GET /api/v1/plans/{id}           one executed-plan dump
  *
  * Standalone: `sbt "runMain graft.ops.OpsServer 8642"` from the repo
  * root (artifact paths are relative to the working directory).
  * Embedded (tests, Runner): [[OpsServer.start]] with port 0 binds an
  * ephemeral port. The server is a fixed-size artifact reader — no
  * Spark session, no query execution, nothing writable.
  */
object OpsServer {

  final case class Running(server: HttpServer) {
    def port: Int = server.getAddress.getPort
    def stop(): Unit = server.stop(0)
  }

  private def jsonStr(s: String): String = compact(JString(s))

  private def reply(ex: HttpExchange, code: Int, body: String,
      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def notFound(ex: HttpExchange, what: String): Unit =
    reply(ex, 404, s"""{"error":"not found","what":${jsonStr(what)}}""")

  /** Served artifacts carry provenance headers (X-Graft-Source-Path /
    * -Mtime) so an operator can always tell WHICH copy they got and how
    * fresh it is (ADVICE r10: a stale tracked board served silently). */
  private def serveFile(ex: HttpExchange, p: Path, contentType: String): Unit =
    if (Files.isRegularFile(p)) {
      ex.getResponseHeaders.set("X-Graft-Source-Path", p.toString)
      ex.getResponseHeaders.set("X-Graft-Source-Mtime",
        Files.getLastModifiedTime(p).toInstant.toString)
      reply(ex, 200, Files.readString(p, UTF_8), contentType)
    } else notFound(ex, p.toString)

  /** First existing candidate wins — lets the tracked board and the
    * target/ working copy both satisfy /metrics, and gives /baseline the
    * tracked canonical board, which a dev subset run never writes. */
  private def firstOf(paths: Seq[String]): Option[Path] =
    paths.map(Paths.get(_)).find(Files.isRegularFile(_))

  /** NEWEST existing candidate by mtime — /bench must not serve the
    * stale committed board after a SPARK_GRAFT_BENCH_ONLY dev run that
    * only refreshed target/bench_board.json (ADVICE r10). */
  private def newestOf(paths: Seq[String]): Option[Path] = {
    val existing = paths.map(Paths.get(_)).filter(Files.isRegularFile(_))
    if (existing.isEmpty) None
    else Some(existing.maxBy(Files.getLastModifiedTime(_).toMillis))
  }

  /** Latest driver correctness artifact in `dir`: CORRECTNESS_r{N}.json
    * with the highest round number (numeric, not lexicographic — r10
    * must beat r9). */
  private[ops] def latestCorrectness(dir: Path): Option[Path] = {
    val Pat = raw"CORRECTNESS_r(\d+)\.json".r
    if (!Files.isDirectory(dir)) None
    else {
      val s = Files.list(dir)
      try {
        scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala
          .flatMap(p => p.getFileName.toString match {
            case Pat(n) => Some((n.toInt, p))
            case _ => None
          })
          .toSeq.sortBy(-_._1).headOption.map(_._2)
      } finally s.close()
    }
  }

  /** Query ids resolve lazily so a bare artifact server (no Spark jars
    * exercised until the registry is first touched) starts instantly. */
  private lazy val registry: Map[String, Option[String]] = {
    val oracles = graft.SparkEntry.oracleSql
    graft.SparkEntry.queries.keys.map(k => k -> oracles.get(k)).toMap
  }

  def start(port: Int,
      benchPaths: Seq[String] = Seq("BENCH_BOARD.json", "target/bench_board.json"),
      metricsPaths: Seq[String] = Seq("target/verify_plans/metrics.jsonl"),
      plansDir: String = "target/verify_plans",
      correctnessDir: String = ".",
      baselinePath: String = graft.Bench.BaselineFile): Running = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

    server.createContext("/api/v1/health", (ex: HttpExchange) =>
      reply(ex, 200,
        s"""{"status":"ok","queries":${registry.size}}"""))

    server.createContext("/api/v1/queries", (ex: HttpExchange) => {
      val path = ex.getRequestURI.getPath.stripPrefix("/api/v1/queries")
      path.split("/").filter(_.nonEmpty) match {
        case Array() =>
          val items = registry.toSeq.sortBy(_._1).map { case (k, o) =>
            s"""{"id":${jsonStr(k)},"has_oracle":${o.isDefined}}"""
          }.mkString("[", ",", "]")
          reply(ex, 200, s"""{"queries":$items}""")
        case Array(id, "sql") =>
          registry.get(id) match {
            case Some(Some(sql)) => reply(ex, 200, sql, "text/plain; charset=utf-8")
            case Some(None) => notFound(ex, s"$id has no registered oracle")
            case None => notFound(ex, id)
          }
        case _ => notFound(ex, path)
      }
    })

    server.createContext("/api/v1/bench", (ex: HttpExchange) =>
      newestOf(benchPaths) match {
        case Some(p) => serveFile(ex, p, "application/json")
        case None => notFound(ex, benchPaths.mkString(" | "))
      })

    // the operator question "am I regressed?" previously required
    // cross-reading 1,700 lines of ledger markdown against the board
    // JSON (VERDICT r11 #6); here it is one curl: every query's recorded
    // sf0.1 baseline joined with the first existing board of
    // `benchPaths` (the tracked canonical board, not a newer dev subset),
    // as a computed ratio, worst first. Both sides are boards, read by
    // Bench.boardQueries.
    server.createContext("/api/v1/baseline", (ex: HttpExchange) => {
      val baselines = graft.Bench.boardQueries(Paths.get(baselinePath))
      if (baselines.isEmpty) notFound(ex, s"$baselinePath (no parsable baselines)")
      else {
        val boardPath = firstOf(benchPaths)
        val board = boardPath.map(graft.Bench.boardQueries).getOrElse(Map.empty)
        def r3(v: Double): String =
          String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
        val rows = (baselines.keySet ++ board.keySet).toSeq
          .map { id =>
            val b = baselines.get(id)
            val t = board.get(id).filter(_ >= 0)
            val ratio = for (bv <- b; tv <- t) yield tv / bv
            (id, b, t, ratio)
          }
          .sortBy { case (id, _, _, ratio) => (-ratio.getOrElse(-1.0), id) }
          .map { case (id, b, t, ratio) =>
            s"""{"id":${jsonStr(id)},"baseline":${b.map(r3).getOrElse("null")},""" +
              s""""board":${t.map(r3).getOrElse("null")},""" +
              s""""ratio":${ratio.map(r3).getOrElse("null")}}"""
          }.mkString("[", ",", "]")
        val over = (baselines.keySet ++ board.keySet).count { id =>
          (for (bv <- baselines.get(id); tv <- board.get(id).filter(_ >= 0))
            yield tv > 2 * bv).getOrElse(false)
        }
        boardPath.foreach { p =>
          ex.getResponseHeaders.set("X-Graft-Board-Path", p.toString)
          ex.getResponseHeaders.set("X-Graft-Board-Mtime",
            Files.getLastModifiedTime(p).toInstant.toString)
        }
        reply(ex, 200,
          s"""{"baseline_source":${jsonStr(baselinePath)},""" +
            s""""n_baselines":${baselines.size},"n_board":${board.size},""" +
            s""""over_2x":$over,"rows":$rows}""")
      }
    })

    server.createContext("/api/v1/correctness", (ex: HttpExchange) =>
      latestCorrectness(Paths.get(correctnessDir)) match {
        case Some(p) => serveFile(ex, p, "application/json")
        case None => notFound(ex, s"$correctnessDir/CORRECTNESS_r*.json")
      })

    server.createContext("/api/v1/metrics", (ex: HttpExchange) =>
      firstOf(metricsPaths) match {
        case Some(p) => serveFile(ex, p, "application/x-ndjson")
        case None => notFound(ex, metricsPaths.mkString(" | "))
      })

    server.createContext("/api/v1/plans", (ex: HttpExchange) => {
      val path = ex.getRequestURI.getPath.stripPrefix("/api/v1/plans")
      val dir = Paths.get(plansDir)
      path.split("/").filter(_.nonEmpty) match {
        case Array() =>
          // stream closed after materializing — Files.list leaks one fd
          // per listing request otherwise (ADVICE r10)
          val names =
            if (Files.isDirectory(dir)) {
              val s = Files.list(dir)
              try scala.jdk.CollectionConverters.IteratorHasAsScala(
                s.iterator()).asScala
                .map(_.getFileName.toString)
                .filter(_.endsWith(".plan.txt"))
                .map(_.stripSuffix(".plan.txt")).toSeq.sorted
              finally s.close()
            } else Seq.empty
          reply(ex, 200,
            names.map(jsonStr).mkString("""{"plans":[""", ",", "]}"))
        case Array(id) if id.matches("[A-Za-z0-9_]+") =>
          serveFile(ex, dir.resolve(s"$id.plan.txt"), "text/plain; charset=utf-8")
        case _ => notFound(ex, path)
      }
    })

    server.setExecutor(null) // default single-thread executor: read-only, tiny payloads
    server.start()
    Running(server)
  }

  def main(args: Array[String]): Unit = {
    val port = if (args.nonEmpty) args(0).toInt else 8642
    val running = start(port)
    println(s"graft ops server listening on http://127.0.0.1:${running.port}/api/v1/health")
    Thread.currentThread().join()
  }
}
