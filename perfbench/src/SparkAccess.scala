package org.apache.spark {
  /** Waits until the listener bus has delivered every queued event, so a
    * traced pass's last job and task events are counted before the spans
    * are read.
    */
  object PerfbenchAccess {
    def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package org.apache.spark.sql {
  import org.apache.spark.sql.execution.QueryExecution
  import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

  /** The finished execution behind an execution-end event. A
    * QueryExecutionListener sees the same object but not the execution id
    * that ties it to the jobs, and so to a span.
    */
  object PerfbenchSqlAccess {
    def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
  }
}
