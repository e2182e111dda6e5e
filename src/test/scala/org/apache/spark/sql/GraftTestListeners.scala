package org.apache.spark.sql

import org.apache.spark.SparkContext

/** Test access to Spark's listener bus, which is package-private. */
object GraftTestListeners {
  /** Waits until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
