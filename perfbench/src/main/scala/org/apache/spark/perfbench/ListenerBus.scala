package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the Spark listener bus, which Spark keeps package-private. */
object ListenerBus {
  /** Block until every event posted so far has reached every listener. */
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
