package org.apache.spark

/** Reaches the one scheduler internal the benchmark needs: draining the
  * listener bus, so every event of a pass has been delivered before the
  * pass is accounted and the next one starts.
  */
object BenchShim {
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
