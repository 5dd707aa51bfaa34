package org.apache.spark

/** The one Spark-internal hook the benchmark needs: block until every
  * posted listener event (jobs, tasks, SQL executions, query-execution
  * callbacks) has been delivered, so a trace is complete before it is
  * read. `listenerBus` is `private[spark]`, hence this package. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
