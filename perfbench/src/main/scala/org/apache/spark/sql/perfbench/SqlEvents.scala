package org.apache.spark.sql.perfbench

import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The end-of-execution event carries the executed `QueryExecution` in a
  * field private to Spark SQL; this reads it for the benchmark listener. */
object SqlEvents {
  def finished(e: SparkListenerEvent): Option[(Long, QueryExecution)] = e match {
    case x: SparkListenerSQLExecutionEnd if x.qe != null => Some(x.executionId -> x.qe)
    case _ => None
  }
}
