package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.parquet` opens a table from one footer read on the driver:
  * the schema Spark's inference would give, no Spark job, no stale
  * schema after a rewrite, and a clear error for a path with no data. */
class TablesSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Jobs started while `open` runs, counted in a unique metrics window. */
  private def jobsStartedBy(open: => Any): Long = {
    val window = s"tables-open-${System.nanoTime()}"
    Metrics.measured(spark, window)(open)
    Metrics.take(spark, Seq(window))(window).jobs
  }

  test("footer schema equals Spark's inferred schema for every fixture table") {
    for (n <- Tables.names) {
      val p = s"$sf/$n.parquet"
      assert(Tables.parquet(spark, p).schema == spark.read.parquet(p).schema, n)
    }
  }

  test("footer schema equals inference on a Spark-written part-file directory") {
    val d = TempDirs.createTempDirectory("graft_tables_spec_parts")
    Tables.t(spark, sf, "orders").repartition(3).write.mode("overwrite").parquet(d)
    val names = new java.io.File(d).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    assert(Tables.parquet(spark, d).schema == spark.read.parquet(d).schema)
    assert(Tables.parquet(spark, d).count() == Tables.t(spark, sf, "orders").count())
  }

  test("Tables.t starts no Spark job; a bare read.parquet does") {
    assert(jobsStartedBy(Tables.names.foreach(n => Tables.t(spark, sf, n))) == 0)
    // the control: the counter sees the inference job the helper avoids
    assert(jobsStartedBy(spark.read.parquet(s"$sf/nation.parquet")) >= 1)
  }

  test("a file rewritten mid-session is opened with its new schema") {
    def onePartFile(df: DataFrame): java.nio.file.Path = {
      val d = TempDirs.createTempDirectory("graft_tables_spec_src")
      df.coalesce(1).write.mode("overwrite").parquet(d)
      Files.list(Paths.get(d)).filter(_.getFileName.toString.startsWith("part-"))
        .findFirst().get()
    }
    val target = Paths.get(TempDirs.createTempDirectory("graft_tables_spec_rw"), "t.parquet")
    Files.copy(onePartFile(spark.range(3).toDF("a")), target)
    val before = Tables.parquet(spark, target.toString)
    assert(before.schema.fieldNames.toSeq == Seq("a"))
    assert(before.count() == 3)
    Files.copy(onePartFile(spark.range(5).selectExpr("cast(id as string) as b",
      "cast(id as int) as c")), target, StandardCopyOption.REPLACE_EXISTING)
    val after = Tables.parquet(spark, target.toString)
    assert(after.schema.fieldNames.toSeq == Seq("b", "c"))
    assert(after.collect().map(_.getString(0)).sorted.toSeq == (0 until 5).map(_.toString))
  }

  test("a missing path or a directory without data files names the path") {
    val missing = s"$sf/no_such_table.parquet"
    val e1 = intercept[java.io.FileNotFoundException](Tables.parquet(spark, missing))
    assert(e1.getMessage.contains(missing))
    val empty = TempDirs.createTempDirectory("graft_tables_spec_empty")
    Files.createFile(Paths.get(empty, "_SUCCESS"))
    Files.createFile(Paths.get(empty, "._SUCCESS.crc"))
    val e2 = intercept[java.io.FileNotFoundException](Tables.parquet(spark, empty))
    assert(e2.getMessage.contains(empty))
  }
}
