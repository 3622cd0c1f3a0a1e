package org.apache.spark

import org.apache.spark.storage.{BlockId, BroadcastBlockId}

/** Spec access to the driver's block store and listener bus, which
  * Spark keeps package-private. */
object GraftBlocks {
  /** Waits until every posted listener event has been delivered, so the
    * status store behind `getRDDStorageInfo` shows the blocks as they
    * are: a blocking unpersist reaches it only through the bus. */
  def settle(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The blocks the driver's block manager holds for broadcast `id`:
    * its value and its serialized pieces. */
  def broadcastBlocks(id: Long): Seq[BlockId] =
    SparkEnv.get.blockManager.getMatchingBlockIds {
      case BroadcastBlockId(b, _) => b == id
      case _ => false
    }

  /** The ids of every broadcast the driver's block manager holds a
    * block of. */
  def broadcastIds(): Set[Long] =
    SparkEnv.get.blockManager.getMatchingBlockIds(_.isBroadcast)
      .collect { case BroadcastBlockId(b, _) => b }.toSet

  /** The value broadcast `id` holds in the driver's block manager, if
    * its value block is there. Reading the block to its end releases
    * the read lock `getLocalValues` takes. */
  def broadcastValue(id: Long): Option[Any] =
    SparkEnv.get.blockManager.getLocalValues(BroadcastBlockId(id)).flatMap(_.data.toList.headOption)
}
