package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps the single-profile design from drifting back: only
  * SessionDefaults builds a SparkSession, operator and streaming paths
  * read no environment, fixture tables open through Tables without an inference
  * job, only the canonical board may overwrite the tracked
  * BENCH_BOARD.json or meet the baselines, only Metrics (and the three
  * specs that check what it cannot see) listens to the scheduler, no
  * code reads the BASELINE.md prose ledger, the dedup oracles'
  * word-trigram shingle CTE has one writer, and no code window of
  * src/main is written twice. */
class EntryPointSpec extends AnyFunSuite {
  private val main = Paths.get("src/main/scala/graft")

  private def scalaFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  /** Code lines of a file: comment and scaladoc lines dropped. */
  private def code(p: Path): Seq[String] =
    Files.readAllLines(p).asScala.toSeq.map(_.trim)
      .filterNot(l => l.startsWith("//") || l.startsWith("*") || l.startsWith("/*"))

  private def offenders(files: Seq[Path], pattern: String): Seq[String] = {
    val re = pattern.r
    for {
      f <- files
      l <- code(f) if re.findFirstIn(l).nonEmpty
    } yield s"$f: $l"
  }

  test("no SparkSession.builder in src/main outside SessionDefaults") {
    val files = scalaFiles(main).filterNot(_.getFileName.toString == "SessionDefaults.scala")
    assert(files.size > 50, "source tree not found")
    val hits = offenders(files, """SparkSession\s*\.\s*builder""")
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no environment reads under operators/, plans/ or in Tables") {
    val files = scalaFiles(main.resolve("operators")) ++
      scalaFiles(main.resolve("plans")) ++ scalaFiles(main.resolve("streaming")) :+
      main.resolve("Tables.scala")
    val hits = offenders(files, """sys\.env|System\.getenv""")
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("fixture tables open through Tables, never a bare read.parquet") {
    // `spark.read.parquet(s"$dir/$name.parquet")` runs a schema-inference
    // job per call; Tables.parquet reads the footer on the driver instead
    val files = scalaFiles(main).filterNot(_.getFileName.toString == "Tables.scala")
    val hits = offenders(files,
      """read\s*(\.\s*\w+\([^)]*\)\s*)*\.\s*parquet\(\s*s"\$\{?(dir|srcDir)\b[^"]*\.parquet"""")
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("every entry point builds its session through SessionDefaults.session") {
    for (n <- Seq("Bench", "Verify", "Runner", "PlanDump", "GenScale")) {
      val src = code(main.resolve(s"$n.scala")).mkString("\n")
      assert(src.contains("SessionDefaults.session("), n)
    }
  }

  test("only the canonical board overwrites BENCH_BOARD.json") {
    // the last path written is also the compact line's `full_board`
    // pointer, so a run that skips the tracked board points at its own
    def lastBoard(fullRegistry: Boolean, sfDir: String, cpus: Int, partitions: Int) = {
      val paths = Bench.boardPaths(fullRegistry, sfDir, cpus, partitions)
      assert(paths.head == "target/bench_board.json", paths)
      paths.last
    }
    val (tracked, own) = ("BENCH_BOARD.json", "target/bench_board.json")
    val sf01 = "/root/testdata/sf0.1"
    assert(lastBoard(fullRegistry = true, sf01, 32, 32) == tracked)
    assert(lastBoard(fullRegistry = true, sf01 + "/", 32, 32) == tracked)
    assert(lastBoard(fullRegistry = true, sf01, 8, 8) == own, "8-core run")
    assert(lastBoard(fullRegistry = true, sf01, 32, 320) == own, "partitions != cores")
    assert(lastBoard(fullRegistry = false, sf01, 32, 32) == own, "dev subset")
    assert(lastBoard(fullRegistry = true, "/root/testdata/sf0.01", 32, 32) == own)
    assert(lastBoard(fullRegistry = true, "target/sf100", 32, 32) == own)
    // the same protocol gates the baseline comparisons: a run on other
    // cores or partitions is neither adjudicated nor window-stamped
    assert(Bench.baselinesFor(sf01, 4, 4).isEmpty, "4-core run")
    assert(Bench.baselinesFor(sf01, 32, 320).isEmpty, "partitions != cores")
    assert(Bench.baselinesFor(sf01, 32, 32).nonEmpty, "canonical run")
    val dir = Files.createTempDirectory("graft_boards")
    val (a, b) = (dir.resolve("a.json").toString, dir.resolve("b/board.json").toString)
    assert(Bench.writeBoard("{}", Seq(a, b)) == Some(b))
    // a path under a regular file cannot be written: the pointer stays on a
    assert(Bench.writeBoard("{}", Seq(a, s"$a/board.json")) == Some(a))
  }

  test("only Metrics registers a listener, and no code sets a job group") {
    // one listener attributes work to queries by job tag windows,
    // streams' micro-batch progress included; a second listener (a
    // streaming one too) or a job group is a second attribution path.
    // Tests read their numbers through a Metrics window as well; the
    // specs allowed here still need their own: MetricsSpec checks the
    // window against a global listener, and ZOrderSpec (scan records)
    // and ScaleSpec (per-stage task times) read what no record holds
    val mainFiles = scalaFiles(Paths.get("src/main"))
    val files = mainFiles ++ scalaFiles(Paths.get("src/test"))
    assert(mainFiles.size > 50 && files.size > 100, "source tree not found")
    val allowed = Set("Metrics.scala", "MetricsSpec.scala", "ZOrderSpec.scala",
      "ScaleSpec.scala",
      "EntryPointSpec.scala") // the patterns below, not a listener
    val listeners = offenders(files.filterNot(f => allowed(f.getFileName.toString)),
      """addSparkListener|listenerManager\s*\.\s*register|QueryExecutionListener|""" +
        """streams\s*\.\s*addListener|StreamingQueryListener""")
    assert(listeners.isEmpty, listeners.mkString("\n"))
    val groups = offenders(mainFiles, """setJobGroup""")
    assert(groups.isEmpty, groups.mkString("\n"))
  }

  test("the word-trigram oracle shingle CTE is written once in src/main") {
    // every dedup oracle starts from the same DuckDB shingle set; it is
    // generated by Dedup.trigramCteSql, and a pasted copy drifts
    val files = scalaFiles(Paths.get("src/main"))
    assert(files.size > 50, "source tree not found")
    val hits = offenders(files, """list_distinct\(\[s\[i\] \|\| ' ' \|\| s\[i\+1\]""")
    assert(hits.size == 1,
      hits.mkString(s"expected 1 shingle CTE literal, found ${hits.size}:\n", "\n", ""))
  }

  test("no 5-line code window is written twice in src/main") {
    // a window is 5 consecutive lines, blank, comment and import lines
    // skipped, of at least 120 characters joined; one whose text occurs
    // twice is a building block with two implementations that can drift
    // apart, so shared code (oracle SQL generators included) has one
    val files = scalaFiles(Paths.get("src/main"))
    assert(files.size > 50, "source tree not found")
    val windows = for {
      f <- files
      lines = Files.readAllLines(f).asScala.toSeq.map(_.trim).zipWithIndex
        .filterNot { case (l, _) =>
          l.isEmpty || l.startsWith("//") || l.startsWith("*") ||
            l.startsWith("/*") || l.startsWith("import ")
        }
      w <- lines.sliding(5) if w.size == 5
      text = w.map(_._1).mkString("\n") if text.length >= 120
    } yield (text, s"$f:${w.head._2 + 1}")
    val dups = windows.groupBy(_._1).values.filter(_.size > 1)
      .map(_.map(_._2).mkString(" = ")).toSeq.sorted
    assert(dups.isEmpty, dups.mkString("duplicated windows (file:first line):\n", "\n", ""))
  }

  test("no code in src/main reads the BASELINE.md ledger") {
    // baselines are the board-shaped BENCH_BASELINE.json; the prose
    // ledger is for people, and a path literal naming it is a reader
    val files = scalaFiles(Paths.get("src/main"))
    assert(files.size > 50, "source tree not found")
    val hits = offenders(files, """"[^"]*BASELINE\.md""")
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
