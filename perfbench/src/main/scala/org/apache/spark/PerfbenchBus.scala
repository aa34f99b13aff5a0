package org.apache.spark

/** The one Spark-private call the benchmark needs: wait until the
  * listener bus has delivered every event posted so far, so a span's
  * closing counter snapshot includes the task-end events of the jobs
  * that ran inside it. Only the traced mode calls this. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
