package org.apache.spark

/** The listener bus is asynchronous: a traced op waits for it to drain
  * before it reads the op's listener totals. `waitUntilEmpty` is
  * package-private, hence this bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
