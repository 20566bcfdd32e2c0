package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Oracle-text regression gate: the SHA-256 of every
  * `SparkEntry.oracleSql` text, diffed against the checked-in
  * `src/test/resources/oracle-sql.tsv` (`name<TAB>sha256`, sorted by
  * name). A refactor of the code that writes the oracles (shared CTE
  * generators) must leave every text byte-identical; any changed byte
  * fails here and names the query. No SparkSession is needed.
  *
  * After an INTENTIONAL oracle change, regenerate with the plan
  * contracts' flag:
  *   GRAFT_WRITE_PLAN_CONTRACTS=1 sbt "testOnly graft.OracleSqlSpec"
  * and review the .tsv diff like any other code change. */
class OracleSqlSpec extends AnyFunSuite {
  private val HashPath = Paths.get("src/test/resources/oracle-sql.tsv")

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString

  test("every oracle SQL text matches its checked-in hash") {
    val got = SparkEntry.oracleSql.map { case (n, sql) => n -> sha256(sql) }
    if (sys.env.contains("GRAFT_WRITE_PLAN_CONTRACTS")) {
      Files.createDirectories(HashPath.getParent)
      Files.writeString(HashPath, got.toSeq.sorted
        .map { case (n, h) => s"$n\t$h" }.mkString("", "\n", "\n"))
      info(s"wrote ${got.size} oracle hashes to $HashPath")
    } else {
      assert(Files.exists(HashPath),
        s"missing $HashPath — run with GRAFT_WRITE_PLAN_CONTRACTS=1 once")
      val want = Files.readAllLines(HashPath).asScala.filter(_.nonEmpty)
        .map { l => val Array(n, h) = l.split("\t", 2); n -> h }.toMap
      val changed = (got.keySet ++ want.keySet).toSeq.sorted
        .filter(n => got.get(n) != want.get(n))
        .map(n => s"$n: contract ${want.getOrElse(n, "<none>")}, " +
          s"observed ${got.getOrElse(n, "<none>")}")
      assert(changed.isEmpty, changed.mkString(
        "\noracle SQL text changed for:\n  ", "\n  ",
        "\nIf intentional, regenerate with GRAFT_WRITE_PLAN_CONTRACTS=1 " +
          "sbt 'testOnly graft.OracleSqlSpec'"))
      info(s"asserting ${want.size} oracle SQL hashes")
    }
  }
}
