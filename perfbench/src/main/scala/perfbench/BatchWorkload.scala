package perfbench

import scala.collection.mutable

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** A closed loop with one client over a list of registry queries. Each
  * pass runs every query once, in an order shuffled by the seed and the
  * pass number. One untimed warm-up pass comes first; timed passes then
  * run until `seconds` have elapsed (at least one pass).
  *
  * A query run is the constructor (`QueryDef.run` through
  * `SparkEntry.queries`) plus one action, `collect()`, whose rows are
  * hashed after the clock stops.
  *
  * A traced run adds, after the warm-up pass: one untraced pass (the
  * base for the tracing overhead), the listeners, a `Tables.t` probe,
  * and at least two traced passes, so every counter is read twice.
  */
final class BatchWorkload(spark: SparkSession, dir: String, names: Seq[String],
    tables: Seq[String], seed: Long, seconds: Double, trace: Option[Trace]) {

  private val sc = spark.sparkContext
  private val queries = SparkEntry.queries
  private val runs = mutable.ArrayBuffer[Map[String, Any]]()
  private val passes = mutable.ArrayBuffer[Map[String, Any]]()
  private val spans = new Spans
  private var nextRun = 0

  def order(pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names)

  def run(): Map[String, Any] = {
    val warmMs = runPass(0, "warmup", traced = false)
    trace match {
      case None =>
        val t0 = System.nanoTime()
        var p = 1
        while (p == 1 || (System.nanoTime() - t0) / 1e9 < seconds) {
          runPass(p, "timed", traced = false); p += 1
        }
      case Some(tr) =>
        runPass(1, "untraced", traced = false)
        tr.install()
        val probe = tr.probeTables(dir, tables)
        val t0 = System.nanoTime()
        var p = 2
        while (p < 4 || (System.nanoTime() - t0) / 1e9 < seconds) {
          runPass(p, "traced", traced = true); p += 1
        }
        return common(warmMs) ++ Map("tables_probe" -> probe, "spans" -> spans.all)
    }
    common(warmMs)
  }

  private def common(warmMs: Double): Map[String, Any] = Map(
    "workload_kind" -> "batch",
    "warmup_ms" -> warmMs,
    "passes" -> passes.toSeq,
    "runs" -> runs.toSeq,
    "oracle_sql" -> names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)

  private def runPass(pass: Int, phase: String, traced: Boolean): Double = {
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val cpu0 = Main.appCpuMs()
    val passSpan = spans.reserve()
    order(pass).foreach(n => runQuery(n, pass, phase, traced, passSpan))
    val ms = (System.nanoTime() - t0) / 1e6
    if (traced) spans.put(passSpan, -1, "pass", "pass", -1, start, System.currentTimeMillis())
    passes += Map("pass" -> pass, "phase" -> phase, "ms" -> ms,
      "cpu_ms" -> (Main.appCpuMs() - cpu0))
    ms
  }

  private def runQuery(name: String, pass: Int, phase: String, traced: Boolean,
      passSpan: Int): Unit = {
    val id = nextRun
    nextRun += 1
    val (gc, ga) = (s"pb-$id-construct", s"pb-$id-action")
    var df: DataFrame = null
    var rows: Array[Row] = null
    var error: String = null
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    sc.setJobGroup(gc, name, interruptOnCancel = false)
    try df = queries(name)(spark, dir)
    catch { case e: Throwable => error = s"construct: $e" }
    val t1 = System.nanoTime()
    val w1 = System.currentTimeMillis()
    if (df != null) {
      sc.setJobGroup(ga, name, interruptOnCancel = false)
      try rows = df.collect()
      catch { case e: Throwable => error = s"action: $e" }
    }
    val t2 = System.nanoTime()
    val w2 = System.currentTimeMillis()
    sc.clearJobGroup()

    val rec = mutable.LinkedHashMap[String, Any](
      "run" -> id, "query" -> name, "pass" -> pass, "phase" -> phase,
      "construct_ms" -> (t1 - t0) / 1e6, "action_ms" -> (t2 - t1) / 1e6,
      "total_ms" -> (t2 - t0) / 1e6)
    if (rows != null) {
      val (h, n) = Canonical.hash(df.schema, rows)
      rec("hash") = h
      rec("rows") = n
    }
    if (error != null) {
      rec("error") = error.take(500)
      System.err.println(s"[perfbench] $name failed: ${error.take(300)}")
    }
    if (traced) trace.foreach { tr =>
      tr.flush()
      rec ++= layerCounters(tr, id, gc, ga, passSpan, w0, w1, w2)
    }
    runs += rec.toMap
  }

  /** Layer counters of one traced query run, and its spans: query ->
    * {construct, action -> execution} -> job -> stage, plus the Catalyst
    * phases of every execution the run started, placed under whichever
    * of construct or action they fall in. */
  private def layerCounters(tr: Trace, id: Int, gc: String, ga: String,
      passSpan: Int, w0: Long, w1: Long, w2: Long): Map[String, Any] = {
    val pre = tr.jobsIn(Set(gc))
    val act = tr.jobsIn(Set(ga))
    val all = pre ++ act
    val stages = tr.stagesOf(all)
    val execs = tr.execsIn(w0, w2)
    def phaseMs(k: String) = execs.flatMap(_.phases.get(k)).map(p => p._2 - p._1).sum
    // the action's execution starts when its own planning ends
    val planEnd = execs.flatMap(_.phases.get("planning")).map(_._2)
      .filter(_ >= w1).maxOption.getOrElse(w1)

    val q = spans.put(spans.reserve(), passSpan, "query", "query", id, w0, w2)
    val c = spans.put(spans.reserve(), q, "construct", "operators", id, w0, w1)
    val a = spans.put(spans.reserve(), q, "action", "action", id, w1, w2)
    val x = spans.put(spans.reserve(), a, "execution", "exec", id, math.min(planEnd, w2), w2)
    for (e <- execs; (k, (s, t)) <- e.phases if k != "parsing") {
      spans.put(spans.reserve(), if (s < w1) c else a, k, "catalyst", id, s, t)
    }
    val jobSpan = all.map { j =>
      j.id -> spans.put(spans.reserve(), if (j.group == gc) c else x, "job", "job", id,
        j.start, if (j.end >= 0) j.end else w2)
    }.toMap
    stages.foreach { s =>
      tr.jobOfStage(s.id).flatMap(jobSpan.get).foreach { parent =>
        spans.put(spans.reserve(), parent, "stage", "stage", id, s.submitted,
          if (s.completed >= 0) s.completed else w2)
      }
    }
    Map(
      "operators.prejobs" -> pre.size,
      "exec.jobs" -> all.size,
      "exec.stages" -> stages.size,
      "exec.ms" -> (w2 - math.min(planEnd, w2)),
      "catalyst.analysis_ms" -> phaseMs("analysis"),
      "catalyst.optimization_ms" -> phaseMs("optimization"),
      "catalyst.planning_ms" -> phaseMs("planning")) ++ tr.totalsOf(stages).toMap
  }

}

/** In-memory span store; spans are written out with the record when the
  * run ends. A span is (id, parent, name, layer, run, start ms, end ms). */
final class Spans {
  private val buf = mutable.ArrayBuffer[Map[String, Any]]()
  private var next = 0

  def reserve(): Int = { next += 1; next }

  def put(id: Int, parent: Int, name: String, layer: String, run: Int,
      start: Long, end: Long): Int = {
    buf += Map("id" -> id, "parent" -> parent, "name" -> name, "layer" -> layer,
      "run" -> run, "start" -> start, "end" -> end)
    id
  }

  def all: Seq[Map[String, Any]] = buf.toSeq
}
