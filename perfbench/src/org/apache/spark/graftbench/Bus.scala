package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to Spark's listener bus drain, which is package-private: the
  * traced run waits until every event of an operation has reached the
  * benchmark's listener before reading its counters. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
