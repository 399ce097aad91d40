package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`: this accessor lets the trace wait
  * until every scheduler event of a finished op has been delivered before
  * it reads the op's counters. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
