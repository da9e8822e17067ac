package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The one Spark-internal access the benchmark needs: waiting until the
  * listener bus has delivered every queued event, so the counts a span
  * reads include all the jobs, tasks and query executions it caused. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
