package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ZOrder

/** Z-order layout (q79): Morton math hand-checked, and the IO claim
  * MEASURED — a two-column box predicate must materialize far fewer
  * parquet records from the z-ordered layout than from a layout
  * clustered on an unrelated column, because tight per-file min/max
  * boxes let the pushed filters skip whole row groups. */
class ZOrderSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("morton16 interleaves bits (hand-checked values)") {
    val got = Seq((3L, 5L), (0L, 0L), (0xFFFFL, 0L), (1L, 1L))
      .toDF("a", "b")
      .select(ZOrder.morton16(col("a"), col("b")).as("z"))
      .as[Long].collect()
    // spread(3)=0b0101=5; spread(5)=0b010001=17, <<1 = 34; 5|34 = 39
    assert(got(0) === 39L)
    assert(got(1) === 0L)
    assert(got(2) === 0x55555555L) // all even bits
    assert(got(3) === 3L)          // bit0 of each, adjacent
  }

  private def recordsRead(action: => Unit): Long = {
    val n = new java.util.concurrent.atomic.AtomicLong()
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          n.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      action
      org.apache.spark.sql.graftsync.ListenerSync.waitUntilEmpty(spark.sparkContext, 30000)
    } finally spark.sparkContext.removeSparkListener(l)
    n.get()
  }

  test("two-column box query skips row groups on the z-ordered layout") {
    val li = Tables.t(spark, sf, "lineitem")
    val total = li.count()
    val zDir = java.nio.file.Files.createTempDirectory("graft_z").toString
    ZOrder.zorderWrite(li, zDir, "l_partkey", "l_suppkey", nFiles = 16)
    // control: same file count, clustered on an UNRELATED column — every
    // file's (partkey, suppkey) stats span the full range
    val linDir = java.nio.file.Files.createTempDirectory("graft_lin").toString
    li.repartitionByRange(16, col("l_orderkey"))
      .sortWithinPartitions(col("l_orderkey"))
      .write.mode("overwrite").parquet(linDir)

    def box(d: String): DataFrame = spark.read.parquet(d)
      .where(col("l_partkey") < 20 && col("l_suppkey") < 3)
    val zRows = box(zDir).collect().map(_.getAs[Long]("l_orderkey")).sorted
    val linRows = box(linDir).collect().map(_.getAs[Long]("l_orderkey")).sorted
    assert(zRows.sameElements(linRows), "layouts must agree on content")

    val zRead = recordsRead { box(zDir).count() }
    val linRead = recordsRead { box(linDir).count() }
    assert(linRead >= total,
      s"control layout should materialize ~all $total rows, read $linRead")
    assert(zRead * 2 < linRead,
      s"z-order read $zRead records vs control $linRead — no skipping happened")
  }
}
