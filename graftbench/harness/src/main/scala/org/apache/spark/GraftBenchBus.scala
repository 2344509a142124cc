package org.apache.spark

/** The listener bus's drain is package-private to Spark; the traced run
  * needs it to close each op's event stream before the next op starts. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
