package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The SparkContext's listener bus, which Spark keeps package-private. */
object ListenerBus {
  /** Block until every event posted so far has reached every listener:
    * task ends, and streaming progress, which travels on the same bus. */
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
