package org.apache.spark

/** The one package-private Spark call the benchmark needs: wait until every
  * listener has seen the events posted so far, so per-job metrics are read
  * after the job's task-end and SQL-execution events were delivered. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
