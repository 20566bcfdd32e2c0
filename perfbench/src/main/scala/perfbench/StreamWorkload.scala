package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{Canon, Tables}
import graft.streaming.{StreamDedup, StreamStaticJoin}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

/** One long-lived streaming query fed by an open-loop generator.
  *
  * The query is `StreamDedup.dedup` -> `StreamStaticJoin.enrich` (events
  * x customer segment) -> a watermarked one-minute tumbling count/sum,
  * under a processing-time trigger, into a complete-mode memory table.
  *
  * Phases: set-up (checkpoint init and the first batch, over event file
  * 0); an untimed warm-up of `stream-warmup-files` files in two batches;
  * an open loop in which one generator thread publishes one staged file
  * every `stream-period-ms` on a fixed schedule aligned to the trigger
  * grid, for `seconds`; a catch-up wait; then `stream-drains` drains,
  * each of which publishes one pre-generated backlog at once and times
  * it from the start of the first micro-batch that reads it to the end
  * of the one that reads its last file. Publishing a file is a copy to
  * a hidden name and an atomic rename, so the file source never sees a
  * partial file. In a traced run the SparkListener is added halfway
  * through the open loop, so the run holds untraced and traced batches.
  */
final class StreamWorkload(spark: SparkSession, args: Map[String, String],
    trace: Option[Trace]) {

  private val dataDir = args("data")
  private val staged = Paths.get(args("stream-dir"))
  private val periodMs = args("stream-period-ms").toLong
  private val triggerMs = args("stream-trigger-ms").toLong
  private val seconds = args("seconds").toDouble
  private val src = Paths.get(args("work"), "stream-src")
  private val ckpt = Paths.get(args("work"), "stream-ckpt")
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private def stagedFiles(prefix: String): Seq[Path] =
    Files.list(staged).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith(prefix + "-")).toSeq.sortBy(_.toString)

  /** Copy to a hidden name in the source directory (ignored by the file
    * source); `publish` then renames it into view. */
  private def stage(p: Path): Path = {
    val tmp = src.resolve("." + p.getFileName.toString)
    Files.copy(p, tmp, StandardCopyOption.REPLACE_EXISTING)
    tmp
  }

  private def publish(tmp: Path): Long = {
    Files.move(tmp, src.resolve(tmp.getFileName.toString.stripPrefix(".")),
      StandardCopyOption.ATOMIC_MOVE)
    System.currentTimeMillis()
  }

  private def rowsSeen: Long = progress.asScala.map(_.numInputRows).sum

  private def awaitRows(n: Long, timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (rowsSeen < n && System.currentTimeMillis() < deadline) Thread.sleep(5)
    rowsSeen >= n
  }

  def run(): Map[String, Any] = {
    Files.createDirectories(src)
    val open = stagedFiles("ev")
    val drains = args("stream-drains").toInt
    val rowsPerFile = args("stream-rows-per-file").toLong
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    val files = mutable.ArrayBuffer[Map[String, Any]]()
    val t0 = System.nanoTime()
    val dim = Tables.t(spark, dataDir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    val events = spark.readStream.schema(schema).parquet(src.toString)
    val windows = StreamStaticJoin.enrich(StreamDedup.dedup(events), dim, "user_id")
      .groupBy(window(col("ts"), "1 minute").as("w"), col("segment"))
      .agg(count(lit(1)).as("n"), Canon.dsum(col("value"), 6).as("sum_value"))
      .select(col("w.start").as("window_start"), col("segment"), col("n"), col("sum_value"))
    val constructMs = (System.nanoTime() - t0) / 1e6

    // set-up: checkpoint init and the first batch, over file 0
    val first = System.currentTimeMillis()
    files += Map("file" -> open.head.getFileName.toString, "kind" -> "setup",
      "due" -> first, "released" -> publish(stage(open.head)), "rows" -> rowsPerFile)
    val s0 = System.nanoTime()
    val setupCpu0 = Main.appCpuMs()
    val query = windows.writeStream.format("memory").queryName("pb_windows")
      .outputMode("complete")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .start()
    if (!awaitRows(rowsPerFile, 120000)) sys.error("first micro-batch did not finish")
    val setupMs = (System.nanoTime() - s0) / 1e6
    val setupCpuMs = Main.appCpuMs() - setupCpu0

    // untimed warm-up: a few more batches, so the open loop does not
    // start on a cold JIT
    val warmup = args("stream-warmup-files").toInt
    (1 to warmup).grouped(math.max(1, warmup / 2)).foreach { group =>
      group.foreach { k =>
        val f = open(k)
        files += Map("file" -> f.getFileName.toString, "kind" -> "warmup",
          "due" -> System.currentTimeMillis(), "released" -> publish(stage(f)),
          "rows" -> rowsPerFile)
      }
      if (!awaitRows(files.size * rowsPerFile, 120000)) sys.error("warm-up was not consumed")
    }

    // open loop: the schedule starts half a period past a trigger tick
    val grid = System.currentTimeMillis() / triggerMs * triggerMs
    val startAt = grid + triggerMs + periodMs / 2
    val endAt = startAt + (seconds * 1000).toLong
    val traceAt = startAt + (endAt - startAt) / 2
    var traceInstalledAt = -1L
    val generator = new Thread(() => {
      var k = warmup + 1
      while (k < open.size && startAt + (k - warmup - 1) * periodMs < endAt) {
        val due = startAt + (k - warmup - 1) * periodMs
        val tmp = stage(open(k))
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val released = publish(tmp)
        files.synchronized {
          files += Map("file" -> open(k).getFileName.toString, "kind" -> "open",
            "due" -> due, "released" -> released, "rows" -> rowsPerFile)
        }
        k += 1
      }
    }, "perfbench-generator")
    generator.start()
    trace.foreach { tr =>
      Thread.sleep(math.max(0L, traceAt - System.currentTimeMillis()))
      tr.install()
      traceInstalledAt = System.currentTimeMillis()
    }
    generator.join()
    val published = files.synchronized(files.size)
    val openRows = published.toLong * rowsPerFile
    if (!awaitRows(openRows, 120000)) sys.error("open-loop files were not consumed")
    if (published < 3) sys.error("open loop published too few files")

    // drains: each backlog appears at once; a drain is timed from the
    // start of the first micro-batch that reads it (pb/metrics.py)
    var consumed = openRows
    val drainCpuMs = mutable.ArrayBuffer[Double]()
    val drainStarts = (0 until drains).map { r =>
      val backlog = stagedFiles(s"b$r")
      if (backlog.isEmpty) sys.error(s"no staged backlog files for drain $r")
      val tmps = backlog.map(stage)
      // publish clear of a trigger tick, so one listing sees the whole
      // backlog rather than part of it
      val phase = System.currentTimeMillis() % triggerMs
      val clear = triggerMs / 8
      if (phase < clear) Thread.sleep(clear - phase)
      else if (phase > triggerMs - clear) Thread.sleep(triggerMs - phase + clear)
      val cpu0 = Main.appCpuMs()
      val drainStart = System.currentTimeMillis()
      tmps.zip(backlog).foreach { case (tmp, p) =>
        files += Map("file" -> p.getFileName.toString, "kind" -> "backlog", "drain" -> r,
          "due" -> drainStart, "released" -> publish(tmp), "rows" -> rowsPerFile)
      }
      consumed += backlog.size * rowsPerFile
      if (!awaitRows(consumed, 120000)) sys.error("backlog was not consumed")
      drainCpuMs += Main.appCpuMs() - cpu0
      drainStart
    }
    query.stop()
    val probe = trace.map(_.probeTables(dataDir, Seq("customer"))).getOrElse(Nil)

    val result = spark.sql("SELECT * FROM pb_windows ORDER BY window_start, segment")
    val rows = result.collect()
    val (hash, n) = Canonical.hash(result.schema, rows)
    val batches = progress.asScala.toSeq.sortBy(_.batchId).map(p => batchRecord(p))
    val out = mutable.LinkedHashMap[String, Any](
      "workload_kind" -> "stream",
      "construct_ms" -> constructMs,
      "setup_ms" -> setupMs,
      "setup_cpu_ms" -> setupCpuMs,
      "drain_starts" -> drainStarts,
      "drain_cpu_ms" -> drainCpuMs.toSeq,
      "trigger_ms" -> triggerMs,
      "period_ms" -> periodMs,
      "trace_installed_at" -> traceInstalledAt,
      "files" -> files.toSeq,
      "file_offsets" -> fileOffsets(),
      "batches" -> batches,
      "final_hash" -> hash,
      "final_rows" -> n,
      "final_table" -> rows.toSeq.map(r => Seq(
        Canonical.render(TimestampType, r.get(0)), r.getString(1), r.getLong(2),
        r.getDouble(3))))
    trace.foreach { tr =>
      out("tables_probe") = probe
      out("spans") = batchSpans(tr, batches)
      out("batch_counters") = batches.flatMap { b =>
        val id = b("batch").asInstanceOf[Long]
        val js = tr.jobsOfBatch(id)
        if (js.isEmpty) None
        else {
          val ss = tr.stagesOf(js)
          Some(Map("batch" -> id, "exec.jobs" -> js.size, "exec.stages" -> ss.size) ++
            tr.totalsOf(ss).toMap)
        }
      }
    }
    out.toMap
  }

  private def batchRecord(p: StreamingQueryProgress): Map[String, Any] = {
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val ops = p.stateOperators.toSeq
    val offset = """"logOffset"\s*:\s*(\d+)""".r
    val end = p.sources.headOption.flatMap(s => Option(s.endOffset))
      .flatMap(o => offset.findFirstMatchIn(o)).map(_.group(1).toLong).getOrElse(-1L)
    Map("batch" -> p.batchId, "start" -> start, "end_offset" -> end,
      "end" -> (start + d.getOrElse("triggerExecution", 0L)),
      "rows" -> p.numInputRows, "duration_ms" -> d,
      "state_rows" -> ops.map(_.numRowsTotal).sum,
      "state_mem_bytes" -> ops.map(_.memoryUsedBytes).sum,
      "late_rows_dropped" -> ops.map(_.numRowsDroppedByWatermark).sum)
  }

  /** file name -> the file source's log offset that admitted it, from the
    * source's metadata log in the checkpoint (plain and compacted log
    * files alike). A micro-batch's progress names the offset it read up
    * to, which maps each file to the batch that consumed it. */
  private def fileOffsets(): Map[String, Long] = {
    val dir = ckpt.resolve("sources").resolve("0")
    val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r
    Files.list(dir).iterator().asScala.filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(f => Files.readAllLines(f).asScala)
      .flatMap(l => entry.findFirstMatchIn(l))
      .map(m => m.group(1).split('/').last -> m.group(2).toLong).toMap
  }

  /** Spans of the traced batches: batch -> progress phases, laid out in
    * the order the micro-batch runs them, -> jobs -> stages. */
  private def batchSpans(tr: Trace, batches: Seq[Map[String, Any]]): Seq[Map[String, Any]] = {
    val spans = new Spans
    val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
      "addBatch", "commitOffsets")
    batches.foreach { b =>
      val id = b("batch").asInstanceOf[Long]
      val js = tr.jobsOfBatch(id)
      if (js.nonEmpty) {
        val (start, end) = (b("start").asInstanceOf[Long], b("end").asInstanceOf[Long])
        val d = b("duration_ms").asInstanceOf[Map[String, Long]]
        val bs = spans.put(spans.reserve(), -1, "batch", "streaming", id.toInt, start, end)
        var at = start
        var addBatch = bs
        phases.foreach { ph =>
          d.get(ph).foreach { ms =>
            val s = spans.put(spans.reserve(), bs, ph, "streaming", id.toInt, at, at + ms)
            if (ph == "addBatch") addBatch = s
            at += ms
          }
        }
        js.foreach { j =>
          val jsid = spans.put(spans.reserve(), addBatch, "job", "job", id.toInt, j.start,
            if (j.end >= 0) j.end else end)
          tr.stagesOf(Seq(j)).foreach { s =>
            spans.put(spans.reserve(), jsid, "stage", "stage", id.toInt, s.submitted,
              if (s.completed >= 0) s.completed else end)
          }
        }
      }
    }
    spans.all
  }
}
