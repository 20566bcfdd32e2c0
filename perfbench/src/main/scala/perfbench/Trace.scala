package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-stage task totals, summed from task-end events. */
final class StageTotals {
  var tasks = 0L
  var taskMs = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var scanBytes = 0L
  var scanRecords = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleWriteNs = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var sinkBytes = 0L
  var sinkMs = 0L

  def add(o: StageTotals): Unit = {
    tasks += o.tasks; taskMs += o.taskMs; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; scanBytes += o.scanBytes; scanRecords += o.scanRecords
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleWriteRecords += o.shuffleWriteRecords
    shuffleWriteNs += o.shuffleWriteNs; shuffleReadBytes += o.shuffleReadBytes
    fetchWaitMs += o.fetchWaitMs; spillBytes += o.spillBytes
    sinkBytes += o.sinkBytes; sinkMs += o.sinkMs
  }

  def toMap: Map[String, Any] = Map(
    "exec.tasks" -> tasks, "exec.task_ms" -> taskMs, "exec.run_ms" -> runMs,
    "exec.cpu_ms" -> cpuNs / 1e6, "exec.gc_ms" -> gcMs,
    "scan.bytes_read" -> scanBytes, "scan.records_read" -> scanRecords,
    "exchange.write_bytes" -> shuffleWriteBytes,
    "exchange.write_records" -> shuffleWriteRecords,
    "exchange.write_ms" -> shuffleWriteNs / 1e6,
    "exchange.read_bytes" -> shuffleReadBytes,
    "exchange.fetch_wait_ms" -> fetchWaitMs,
    "exchange.spill_bytes" -> spillBytes,
    "sink.bytes_written" -> sinkBytes, "sink.write_ms" -> sinkMs)
}

final case class JobRec(id: Int, group: String, batch: String, start: Long,
    var end: Long)
final case class StageRec(id: Int, var submitted: Long, var completed: Long)
final case class ExecRec(phases: Map[String, (Long, Long)])

/** The traced run's recorder. It listens through Spark's public
  * SparkListener and QueryExecutionListener only; nothing in the engine
  * is instrumented. Jobs are attributed to a query run through the job
  * group the harness sets around the run's constructor and action, and
  * to a micro-batch through the streaming batch-id job property. */
final class Trace(spark: SparkSession) {
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stages = mutable.HashMap[Int, StageRec]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val totals = mutable.HashMap[Int, StageTotals]()
  private val execs = mutable.ArrayBuffer[ExecRec]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      jobs(e.jobId) = JobRec(e.jobId, prop("spark.jobGroup.id"),
        prop("streaming.sql.batchId"), e.time, -1L)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      stages(i.stageId) = StageRec(i.stageId, i.submissionTime.getOrElse(-1L),
        i.completionTime.getOrElse(-1L))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val t = totals.getOrElseUpdate(e.stageId, new StageTotals)
      t.tasks += 1
      t.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.scanBytes += m.inputMetrics.bytesRead
        t.scanRecords += m.inputMetrics.recordsRead
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        t.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
        t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        t.spillBytes += m.diskBytesSpilled
        val out = m.outputMetrics.bytesWritten
        if (out > 0) { t.sinkBytes += out; t.sinkMs += m.executorRunTime }
      }
    }
  }

  private val execListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = synchronized {
      execs += ExecRec(qe.tracker.phases.map { case (k, s) =>
        k -> (s.startTimeMs, s.endTimeMs) })
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(execListener)
  }

  def flush(): Unit = PerfbenchBus.flush(spark.sparkContext)

  /** Jobs whose group is one of `groups`, in start order. */
  def jobsIn(groups: Set[String]): Seq[JobRec] = synchronized {
    jobs.values.filter(j => groups.contains(j.group)).toSeq
  }

  def jobsOfBatch(batch: Long): Seq[JobRec] = synchronized {
    jobs.values.filter(_.batch == batch.toString).toSeq
  }

  /** Stages that ran (were submitted) for `js`, each counted once. */
  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = synchronized {
    val ids = js.map(_.id).toSet
    stages.values.filter(s => stageJob.get(s.id).exists(ids.contains) && s.submitted >= 0)
      .toSeq.sortBy(_.id)
  }

  def totalsOf(ss: Seq[StageRec]): StageTotals = synchronized {
    val t = new StageTotals
    ss.foreach(s => totals.get(s.id).foreach(t.add))
    t
  }

  def jobOfStage(stage: Int): Option[Int] = synchronized(stageJob.get(stage))

  /** Time `Tables.t` directly, three calls per table the workload reads,
    * counting the Spark jobs each call starts. */
  def probeTables(dir: String, tables: Seq[String]): Seq[Map[String, Any]] = {
    val sc = spark.sparkContext
    for (t <- tables; i <- 0 until 3) yield {
      val g = s"pb-probe-$t-$i"
      sc.setJobGroup(g, t, interruptOnCancel = false)
      val t0 = System.nanoTime()
      graft.Tables.t(spark, dir, t)
      val ms = (System.nanoTime() - t0) / 1e6
      sc.clearJobGroup()
      flush()
      Map("table" -> t, "ms" -> ms, "jobs" -> jobsIn(Set(g)).size)
    }
  }

  /** Catalyst phases of every execution that started inside [from, to]. */
  def execsIn(from: Long, to: Long): Seq[ExecRec] = synchronized {
    execs.filter { e =>
      e.phases.values.map(_._1).minOption.exists(s => s >= from && s <= to)
    }.toSeq
  }
}
