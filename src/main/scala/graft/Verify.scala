package graft
import java.nio.file.{Files, Paths, StandardOpenOption}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare. Each query runs
  * in its own [[Metrics.measured]] window; `<outDir>_plans` gets one
  * [[Metrics.QueryRecord]] line per query in `metrics.jsonl` and one
  * executed plan per query. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional trailing args: restrict the dump to the named queries
    // (dev iteration with tools/check.py; the driver passes exactly two)
    val Array(sfDir, outDir) = args.take(2)
    val only: Set[String] = args.drop(2).toSet
    val cpus = SessionDefaults.envInt("SPARK_GRAFT_CPUS", 4)
    // the profile Bench times with, so the checked answer is the timed one
    val spark = SessionDefaults.session(sfDir, s"local[$cpus]", cpus)
    new java.io.File(outDir).mkdirs()
    // one metrics record and one EXECUTED-plan artifact per query,
    // written to a SIBLING directory (`<outDir>_plans`), never inside
    // outDir: the oracle check reads outDir as one parquet dir per
    // query, and anything else there is a spurious error row in
    // CORRECTNESS_r*.json.
    Metrics.install(spark, plansDir = Some(s"${outDir}_plans"))
    val metricsPath = Paths.get(s"${outDir}_plans/metrics.jsonl")
    Files.deleteIfExists(metricsPath)
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      try Metrics.measured(spark, name) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      val line = Metrics.take(spark, Seq(name))(name).toJson + "\n"
      Files.writeString(metricsPath, line, StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }
    val json = Serialization.write(SparkEntry.oracleSql)(DefaultFormats)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
