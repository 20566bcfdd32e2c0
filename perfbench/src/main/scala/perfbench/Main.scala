package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import graft.{SessionDefaults, Tables}
import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** The benchmark's JVM side: runs one workload against the engine and
  * writes a raw record (timings, result hashes, and in a traced run the
  * listener counters and spans) as JSON. `pb/run.py` launches it, turns
  * the record into metrics and checks the hashes against the oracle.
  *
  * Arguments are `--key value` pairs: workload, data, seed, seconds,
  * trace (0|1), slots, queries and tables (comma lists, batch workloads), work
  * (scratch directory), out (record path), stream-* (stream workload).
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val record = mutable.LinkedHashMap[String, Any]()
    val workload = args("workload")
    val dataDir = args("data")
    val slots = args("slots").toInt
    val traced = args("trace") == "1"
    val work = args("work")

    HeapAfterGc.install()
    // the session is built once, cold, as a user's first session is
    val cpu0 = appCpuMs()
    val t0 = System.nanoTime()
    val spark = buildSession(dataDir, slots, work)
    record("session_build_ms") = (System.nanoTime() - t0) / 1e6
    record("session_build_cpu_ms") = appCpuMs() - cpu0
    spark.sparkContext.setLogLevel("ERROR")
    record("provenance") = provenance(spark, dataDir, slots)

    val trace = if (traced) Some(new Trace(spark)) else None
    val body = workload match {
      case "stream" => new StreamWorkload(spark, args, trace).run()
      case _ =>
        new BatchWorkload(spark, dataDir, args("queries").split(",").toSeq,
          args("tables").split(",").toSeq, args("seed").toLong, args("seconds").toDouble, trace).run()
    }
    body.foreach { case (k, v) => record(k) = v }
    record("vm_hwm_kb") = vmHwmKb()
    record("heap_committed_kb") = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1024
    record("heap_after_gc_kb") = HeapAfterGc.samples
    spark.stop()
    Files.write(Paths.get(args("out")),
      Serialization.write(record.toMap)(DefaultFormats).getBytes(StandardCharsets.UTF_8))
  }

  /** A session sized to the task slots the benchmark grants. The shuffle
    * partition count equals the slots unless the engine's own session
    * defaults set it (they are applied last and win). */
  def buildSession(dataDir: String, slots: Int, work: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.NanosConf, "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    SessionDefaults.configure(b, SessionDefaults.forDir(dataDir)).getOrCreate()
  }

  private def provenance(spark: SparkSession, dataDir: String, slots: Int): Map[String, Any] = {
    val conf = spark.conf
    Map(
      "spark_version" -> spark.version,
      "master" -> spark.sparkContext.master,
      "task_slots" -> slots,
      "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "broadcast_threshold" -> conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "java_version" -> System.getProperty("java.version"),
      "data_dir" -> dataDir)
  }

  /** CPU time of this process's Java threads (the JIT compiler and GC
    * threads are not Java threads and are left out). Threads that ended
    * take their time with them; Spark's task and driver threads live for
    * the session. */
  def appCpuMs(): Double = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    mx.getAllThreadIds.map(mx.getThreadCpuTime).filter(_ > 0).sum / 1e6
  }

  /** Peak resident set of this process, from /proc (0 where absent). */
  def vmHwmKb(): Long = {
    val p = Paths.get("/proc/self/status")
    if (!Files.exists(p)) 0L
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(p).asScala.find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    }
  }
}

/** Heap occupancy right after each garbage collection, in KiB, from the
  * JVM's GC notifications: the heap the engine's live data needs, which
  * unlike the resident set does not depend on how far the heap was
  * grown or touched. */
object HeapAfterGc {
  private val kb = new java.util.concurrent.ConcurrentLinkedQueue[Long]()

  def install(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val listener: NotificationListener = (n, _) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        kb.add(info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum / 1024)
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  def samples: Seq[Long] = kb.asScala.toSeq
}
