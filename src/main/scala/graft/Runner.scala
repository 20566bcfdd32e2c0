package graft

import org.apache.spark.sql.SparkSession

/** Single-query CLI (SURVEY §7's ops-runner analogue of the reference's
  * CLI, cli/src/main/scala/org/apache/celeborn/cli/CelebornCli.scala):
  * run ONE registered query by ID against a data dir and print its
  * canonical rows plus a SHA-256 over them — a one-command repro for
  * any CORRECTNESS row without a full Verify sweep.
  *
  *   sbt "runMain graft.Runner q62_fuzzy_join /root/testdata/sf0.01"
  *
  * Flags: `--rows=N` caps printed rows (default 20; hash always covers
  * all rows), `--plan` additionally prints the formatted physical plan
  * BEFORE execution (the static guess), `--explain` prints the EXECUTED
  * adaptive plan after the run (`isFinalPlan=true`, materialized
  * stages — what AQE actually did), `--sql` prints the registered
  * DuckDB oracle SQL if one exists, `--metrics` prints the query's one
  * [[Metrics.QueryRecord]] line (jobs, stages, tasks, observed metric
  * points, shuffle bytes/records, spill), counted over everything from
  * construction to the printed rows.
  */
object Runner {
  def main(args: Array[String]): Unit = {
    val (flags, pos) = args.partition(_.startsWith("--"))
    if (pos.isEmpty) {
      System.err.println(
        "usage: Runner <query_id> [sfDir] [--rows=N] [--plan] [--explain] [--sql] [--metrics]")
      System.err.println("queries: " + SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
      sys.exit(2)
    }
    val name = pos(0)
    val sfDir = if (pos.length > 1) pos(1) else "/root/testdata/sf0.01"
    val maxRows = flags.collectFirst {
      case f if f.startsWith("--rows=") => SessionDefaults.positiveInt("--rows", f.drop(7))
    }.getOrElse(20)
    require(SparkEntry.queries.contains(name),
      s"unknown query '$name'; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")

    val cpus = SessionDefaults.envInt("SPARK_GRAFT_CPUS", 4)
    val spark = SessionDefaults.session(sfDir, s"local[$cpus]", cpus)

    Metrics.measured(spark, name)(run(spark, name, sfDir, flags, maxRows))
    if (flags.contains("--metrics"))
      println("metrics: " + Metrics.take(spark, Seq(name))(name).toJson)
    spark.stop()
  }

  private def run(spark: SparkSession, name: String, sfDir: String,
      flags: Array[String], maxRows: Int): Unit = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    if (flags.contains("--plan")) df.explain("formatted")
    if (flags.contains("--sql"))
      println(SparkEntry.oracleSql.get(name).fold("-- no oracle registered")(identity))

    // canonical form: columns sorted by name (the driver's convention),
    // rows in the query's own ORDER BY, values rendered with explicit
    // null marker so reorderings and null/empty confusions shift the hash
    val cols = df.columns.sorted
    val canon = df.select(cols.map(org.apache.spark.sql.functions.col): _*)
    val rows = canon.collect()
    val digest = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      val line = (0 until r.length)
        .map(i => if (r.isNullAt(i)) "\u0000NULL" else r.get(i).toString)
        .mkString("\u0001")
      digest.update(line.getBytes("UTF-8"))
      digest.update('\n'.toByte)
    }
    println(s"query: $name  dir: $sfDir")
    println(s"schema: ${canon.schema.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", ")}")
    println(s"rows: ${rows.length}")
    println("sha256: " + digest.digest().map("%02x".format(_)).mkString)
    canon.show(maxRows, truncate = false)
    if (flags.contains("--explain")) {
      // the rows were just collected, so AQE has finalized this plan
      println("-- executed plan (adaptive, final) --")
      println(Metrics.executedPlanString(canon.queryExecution))
    }
  }
}
