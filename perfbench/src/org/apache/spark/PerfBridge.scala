package org.apache.spark

/** Reads two `private[spark]` values the benchmark needs from outside the
  * program: the block-storage memory in use (cached and checkpointed
  * blocks plus broadcasts) and a drain of the listener bus, so per-op
  * listener totals are complete before they are read. */
object PerfBridge {
  def storageMemoryUsed: Long = SparkEnv.get.memoryManager.storageMemoryUsed

  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
