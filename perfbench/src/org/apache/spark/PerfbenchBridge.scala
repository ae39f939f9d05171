package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark reads
  * its listener's totals only after every event posted so far has been
  * handled. `listenerBus` is package-private, hence this file's package.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
