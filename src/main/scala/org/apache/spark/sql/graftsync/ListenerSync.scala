package org.apache.spark.sql.graftsync

import java.util.concurrent.TimeoutException

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark-private reads `graft.Metrics` needs: the listener bus
  * (private[spark]) and a SQL execution end event's QueryExecution
  * (private[sql]). */
object ListenerSync {

  /** Wait until every event posted to `sc`'s listener bus has been
    * delivered, or `timeoutMs` passes. Events are posted by the time an
    * action returns but delivered asynchronously, so a reader of
    * listener-fed numbers waits here first. A timeout logs one stderr
    * line and returns false: the caller reads what has arrived. */
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: TimeoutException =>
      System.err.println(s"[metrics] listener bus not drained after $timeoutMs ms; " +
        "reading the events delivered so far")
      false
    }

  /** The QueryExecution of a named execution (an action or a write
    * command) that succeeded: the executions a QueryExecutionListener's
    * `onSuccess` is called for. */
  def succeeded(end: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    if (end.executionName.isDefined && end.qe != null && end.executionFailure.isEmpty)
      Some(end.qe)
    else None
}
