package org.apache.spark

/** Waits until every event posted so far has reached every listener
  * (`LiveListenerBus.waitUntilEmpty` is `private[spark]`), so a traced
  * pass reads complete task metrics and stream progress. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
