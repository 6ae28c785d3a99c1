package org.apache.spark.perfbenchhook

import org.apache.spark.{SparkContext, SparkEnv}

/** Access to Spark internals that Spark keeps package-private. */
object Bus {
  /** Wait until every queued listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Bytes held by the block manager's memory store (cached blocks and
    * broadcast pieces). */
  def storageMemoryUsed(): Long =
    Option(SparkEnv.get).map(_.memoryManager.storageMemoryUsed).getOrElse(0L)
}
