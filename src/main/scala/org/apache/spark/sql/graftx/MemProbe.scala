package org.apache.spark.sql.graftx

import org.apache.spark.SparkEnv

/** Bench-side watermark accessor for the unified memory manager's
  * private[spark] counters (this package is under org.apache.spark, so
  * the access is legal). Storage residue AFTER a query's clearCache+GC
  * is the attribution signal the r10 verdict asked for: if a later
  * query runs slow while this number is high, the inflation is
  * cross-query cache pressure, not a plan regression. */
object MemProbe {
  def storageUsed: Long =
    Option(SparkEnv.get).map(_.memoryManager.storageMemoryUsed)
      .getOrElse(-1L)
  def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }
  def heapUsed: Long = {
    val rt = Runtime.getRuntime
    rt.totalMemory - rt.freeMemory
  }
}
