package org.apache.spark.graftsync

import java.util.concurrent.TimeoutException

import org.apache.spark.SparkContext

/** A barrier on the listener bus, which is private[spark]: events are
  * posted by the time an action returns but delivered asynchronously, so
  * a reader of listener-fed numbers waits here first. */
object ListenerSync {

  /** Wait until every event posted to `sc`'s listener bus has been
    * delivered, or `timeoutMs` passes. A timeout logs one stderr line and
    * returns false: the caller reads what has arrived. */
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: TimeoutException =>
      System.err.println(s"[metrics] listener bus not drained after $timeoutMs ms; " +
        "reading the events delivered so far")
      false
    }
}
