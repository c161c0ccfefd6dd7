package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The benchmark reads Spark's listener events after each measured span.
  * Events are delivered asynchronously, so a span's counters are only
  * complete once the bus has drained; `waitUntilEmpty` is `private[spark]`,
  * hence this one-line bridge in a Spark package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
