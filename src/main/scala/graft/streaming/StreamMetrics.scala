package graft.streaming

import org.apache.spark.sql.streaming.StreamingQuery

/** Steady-state timing for streaming queries (bench de-noising).
  *
  * End-to-end wall clock of a throttled AvailableNow stream is dominated
  * by trigger scheduling and watermark pacing, not compute — the r4
  * driver run showed q51 swinging 3.8→9.3 s with zero plan change. The
  * honest bench metric is the sum of per-micro-batch `triggerExecution`
  * durations from `StreamingQueryProgress` (the reference benches its
  * shuffle A/B runs the same way — measured stage time, not submit-to-
  * finish wall: tests/spark-it/.../SparkTestBase.scala:95-150).
  *
  * Every stream-running helper calls `record` after `awaitTermination`;
  * `Bench` drains the accumulator per query and reports the processing
  * time when one was recorded. Thread-confined by design (Bench runs
  * queries sequentially on one thread).
  */
object StreamMetrics {
  private val acc = new ThreadLocal[Option[Double]] {
    override def initialValue(): Option[Double] = None
  }
  // (trigger count, median per-batch seconds) alongside the headline sum
  // so Bench can report "N triggers × M s/batch" — a throttled-trigger
  // wall clock must not read as engine cost (BASELINE.md, r9)
  private val detail = new ThreadLocal[Option[(Int, Double)]] {
    override def initialValue(): Option[(Int, Double)] = None
  }

  /** Add `q`'s steady-state processing seconds to the accumulator:
    * median micro-batch `triggerExecution` × batch count. The median
    * (not the sum) discounts the first batch's one-time costs (state
    * store init, streaming-plan codegen) and stray GC spikes, which a
    * 3-4-batch AvailableNow run cannot amortize the way a long-lived
    * stream does. (The stream's micro-batch jobs need no call: they
    * inherit the starting thread's job tags, so a `Metrics.measured`
    * window around the start counts them.) */
  private[streaming] def record(q: StreamingQuery): Unit = {
    val batches = q.recentProgress.iterator.map { p =>
      Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    }.toSeq.sorted
    if (batches.nonEmpty) {
      val median = batches(batches.size / 2)
      val steady = median * batches.size
      acc.set(Some(acc.get.getOrElse(0.0) + steady / 1e3))
      val (n0, m0) = detail.get.getOrElse((0, 0.0))
      // multi-stream queries (e.g. join of two file streams): triggers
      // add; the reported median is the max stream's (the pacing one)
      detail.set(Some((n0 + batches.size, math.max(m0, median / 1e3))))
    }
  }

  /** Processing seconds accumulated since the last drain; None if no
    * stream ran (the caller should fall back to wall clock). */
  def drain(): Option[Double] = {
    val v = acc.get
    acc.set(None)
    detail.set(None)
    v
  }

  /** (trigger count, median per-batch seconds) since the last drain —
    * read BEFORE drain(); None for batch-only queries. */
  def peekDetail(): Option[(Int, Double)] = detail.get
}
