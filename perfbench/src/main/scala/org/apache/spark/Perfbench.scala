// Two Spark-private hooks the benchmark's tracing needs, hence these
// packages.

package org.apache.spark {

  object PerfbenchBus {
    /** Waits until every listener event posted so far has been
      * delivered, so the benchmark reads complete counters. */
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
  }
}

package org.apache.spark.sql {

  object PerfbenchSql {
    /** The query execution an execution-end event belongs to: it ties the
      * QueryExecutionListener's callback to the execution id that Spark
      * puts on the execution's jobs. */
    def queryExecution(e: execution.ui.SparkListenerSQLExecutionEnd)
        : execution.QueryExecution = e.qe
  }
}
