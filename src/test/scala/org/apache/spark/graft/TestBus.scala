package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Lives under `org.apache.spark` only to reach the context's listener
 * bus: a spec that counts events must wait until every event of the
 * work it measured has been delivered. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
