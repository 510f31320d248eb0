package org.apache.spark.streambench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached the listeners. The
  * bus is private to Spark, so this helper lives in Spark's package; the
  * traced run calls it before reading its SparkListener's counts. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
