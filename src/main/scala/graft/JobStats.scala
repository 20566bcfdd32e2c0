package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Dev tool (r16 optimization round): noise-robust cost profile of
  * registry queries. Wall-clock on this container swings 2-4x between
  * windows (ledger, r14-r16), so per-query A/Bs on wall alone are
  * unreadable; job/stage/task COUNTS and summed task runtime are
  * deterministic for a fixed plan and measure exactly the fixed
  * overheads (actions, stages, task launches) the fixture board is
  * dominated by. `runMain graft.JobStats q1,q2,...` — one warm-up, one
  * counted run per query, Bench's session profile.
  */
object JobStats {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = SessionDefaults.envInt("SPARK_GRAFT_CPUS", 32)
    val spark = SessionDefaults.session(sfDir, s"local[$cpus]",
      SessionDefaults.envInt("SPARK_GRAFT_BENCH_PARTITIONS", cpus))
    spark.sparkContext.setLogLevel("ERROR")

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0L
    @volatile var taskMs = 0L
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        tasks += s.stageInfo.numTasks
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskInfo != null) taskMs += t.taskInfo.duration
    }
    spark.sparkContext.addSparkListener(listener)

    // stable-polling quiescence (ADVICE r16): a fixed sleep lets
    // straggler warm-up events delivered after the reset pollute the
    // counted run on a slow listener bus — wait until the counter
    // tuple is stable across two 50 ms polls (or 5 s) instead.
    def quiesce(): Unit = {
      val deadline = System.currentTimeMillis() + 5000
      var last = (-1, -1, -1L, -1L)
      var stable = 0
      while (System.currentTimeMillis() < deadline && stable < 2) {
        val cur = (jobs, stages, tasks, taskMs)
        if (cur == last) stable += 1 else { stable = 0; last = cur }
        Thread.sleep(50)
      }
    }

    val names = args(0).split(",").map(_.trim).toSeq
    names.foreach { n =>
      def run(): Double = {
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      run() // warm-up
      quiesce()
      jobs = 0; stages = 0; tasks = 0L; taskMs = 0L
      val wall = run()
      quiesce()
      println(f"JOBSTATS $n jobs=$jobs stages=$stages tasks=$tasks " +
        f"task_ms=$taskMs wall=$wall%.3f")
    }
    spark.stop()
  }
}
