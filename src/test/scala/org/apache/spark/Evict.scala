package org.apache.spark

import org.apache.spark.storage.{BlockId, RDDBlockId}

/** Test access to the block manager of a local session: drop every cached
  * block of an RDD and report each drop to the master, as the memory
  * store's LRU eviction does. The RDD keeps its storage level, so the next
  * job that computes a partition caches it again.
  */
object Evict {
  def apply(sc: SparkContext, rddId: Int): Unit = {
    val bm = sc.env.blockManager
    bm.getMatchingBlockIds {
      case RDDBlockId(id, _) => id == rddId
      case _: BlockId => false
    }.foreach(bm.removeBlock(_, tellMaster = true))
  }
}
