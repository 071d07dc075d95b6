package org.apache.spark

/** `SparkContext.listenerBus` and the block manager are `private[spark]`;
  * the job-wave specs drain the bus before reading their event counters,
  * and the pin specs list live broadcasts, so these one-liners live in the
  * spark package (test tree only).
  */
object TestListenerShim {
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Ids of the broadcasts whose blocks the block managers still hold. */
  def liveBroadcasts(sc: SparkContext): Set[Long] =
    sc.env.blockManager.master.getMatchingBlockIds(_.isBroadcast, askStorageEndpoints = true)
      .collect { case b: org.apache.spark.storage.BroadcastBlockId => b.broadcastId }.toSet
}
