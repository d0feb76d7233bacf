package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Block until every event posted so far has reached the listeners — a
  * job counter then reads an exact count instead of sleeping. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
