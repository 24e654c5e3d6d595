package org.apache.spark.sql

import org.apache.spark.{SparkContext, SparkEnv}

/** Lives in Spark's SQL package only to reach three private members: the
  * listener bus (events arrive asynchronously, so a traced unit waits for
  * the bus to drain before it reads what the listener saw), the memory
  * manager (the peak memory metric samples it) and the cache manager's
  * entry count (the pinned-relations count). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Execution plus storage memory Spark's memory manager holds now. */
  def managedBytes(): Long = {
    val mm = SparkEnv.get.memoryManager
    mm.executionMemoryUsed + mm.storageMemoryUsed
  }

  /** Relations cached in the session right now. */
  def cachedRelations(s: SparkSession): Int =
    s.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
