package org.apache.spark.snapbench
// In an org.apache.spark subpackage because the listener bus is
// private[spark]; per-call counter deltas need it drained first.

import org.apache.spark.SparkContext

object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
