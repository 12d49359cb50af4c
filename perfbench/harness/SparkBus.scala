package org.apache.spark {
  /** The listener bus is private to Spark; the traced run must wait for it
    * to deliver every queued event before it reads its listeners, or the
    * last calls' jobs and tasks would be missing from the spans.
    */
  object PerfbenchBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package org.apache.spark.sql {
  import org.apache.spark.sql.execution.QueryExecution
  import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

  /** The end-of-execution event carries its `QueryExecution` (the one
    * `QueryExecutionListener`s are called with) in a field private to
    * Spark SQL; through it a listener reads the Catalyst phase times of
    * exactly the execution whose id the event names.
    */
  object PerfbenchSql {
    def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
  }
}
