package org.apache.spark

/** The one package-private call the benchmark needs: wait until the
  * listener bus has delivered every event posted so far, so the
  * per-layer task counters are complete before they are read. */
object GraftBenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
