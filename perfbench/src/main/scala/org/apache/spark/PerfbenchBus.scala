package org.apache.spark

/** The one package-private hook the benchmark needs: wait until the
  * listener bus has delivered every posted event, so counters read
  * after a call include all of that call's jobs and tasks. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
