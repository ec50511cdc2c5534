package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener-bus access for the benchmark harness; the bus is
  * `private[spark]`, so this helper lives under org.apache.spark. */
object Bus {
  /** Wait until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
