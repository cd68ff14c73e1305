package org.apache.spark.linkbench

import org.apache.spark.SparkContext

/** Lives under `org.apache.spark` only to reach the context's listener
 * bus, so the tracer can read its counters after every event it needs
 * has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
