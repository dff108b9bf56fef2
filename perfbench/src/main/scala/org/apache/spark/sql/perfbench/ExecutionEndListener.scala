package org.apache.spark.sql.perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Hands every finished SQL execution's id and executed plan to `f`.
  * The id is the one Spark stamps on the execution's jobs
  * (`spark.sql.execution.id`), which is what ties a plan's scan and
  * write figures to the span that ran it. Lives in Spark's package
  * because the event's plan handle is `private[sql]`.
  */
class ExecutionEndListener(f: (Long, QueryExecution) => Unit) extends SparkListener {
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd if end.qe != null => f(end.executionId, end.qe)
    case _ => ()
  }
}
