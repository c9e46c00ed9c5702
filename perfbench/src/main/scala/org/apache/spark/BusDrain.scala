package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * benchmark's listeners hold complete counts before they are written out.
  * `listenerBus` is package-private to Spark, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
