package org.apache.spark

/** The one Spark-internal call the tracer needs: block until the listener
  * bus has delivered every event posted so far, so that each traced call's
  * jobs, stages, tasks and query executions are attributed before the next
  * call starts. */
object PerfbenchShims {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
