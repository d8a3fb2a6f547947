// Two package-private Spark members the traced run needs, reached from
// inside Spark's packages.
package org.apache.spark {

  /** The listener bus delivers events asynchronously; the traced run waits
    * for it to go empty at each pass boundary so every event of a pass is
    * counted in that pass.
    */
  object ListenerBusDrain {
    def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }

  package sql {

    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

    /** The query execution an SQL execution ran, which links the
      * `QueryExecution` a `QueryExecutionListener` sees to the execution id
      * the scheduler's events carry.
      */
    object ExecutionEndQuery {
      def id(e: SparkListenerSQLExecutionEnd): Option[Long] = Option(e.qe).map(_.id)
    }
  }
}
