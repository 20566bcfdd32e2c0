package graft

/** Dev tool: write `.explain("formatted")` for the named registry
  * queries to files (`runMain graft.PlanDump outDir suffix q1,q2,...`
  * or `all`) — the r16 optimization round's evidence artifacts
  * (`plans/r16/<query>_before.txt` / `_after.txt`). Uses Bench's
  * session profile, scale-tier confs included (the tier-aware
  * broadcast thresholds and fileCompressionFactor change broadcast
  * choices, so plans dumped at the sf100 tier match what Bench runs),
  * pre-execution (`Runner --explain` prints the AQE final plan).
  * SPARK_GRAFT_SF_DIR picks the corpus (default sf0.1, the bench SF).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = SessionDefaults.envInt("SPARK_GRAFT_CPUS", 32)
    val spark = SessionDefaults.session(sfDir, s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (args(2) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(",").map(_.trim).toSeq
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"), txt)
        System.err.println(s"[plandump] wrote $n")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $n failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
