package org.apache.spark

/** Waits until Spark's listener bus has delivered every event posted so
  * far. The bus is asynchronous, so a span that reads listener counters
  * right after an action returns could miss that action's last job and
  * task events. `listenerBus` is package-private to Spark, hence the
  * package of this file. Only the traced run calls it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
