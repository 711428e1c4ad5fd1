package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Same-package seam to the listener bus: the tracer must see every event of
  * a span before it reads the span's counters. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
