package org.apache.spark.sql.graft

import org.apache.spark.{SparkContext, SparkEnv}
import org.apache.spark.storage.BroadcastBlockId

/** The driver's broadcast blocks that hold a narrow regime's arrays. */
object BroadcastBlocks {
  /** Ids of the broadcasts whose value the driver's block manager holds
    * as NarrowVectors, NarrowGraph, DupComponents or ContainmentCorpus.
    * Narrow releases a broadcast at the first job end after its
    * checkpoint is cut, and Spark cuts a lazy checkpoint only after the
    * job that stores it ends; so one more job runs, and the listener bus
    * drains, before the blocks are read.
    */
  def narrow(sc: SparkContext): Set[Long] = {
    sc.parallelize(Seq(0), 1).count()
    sc.listenerBus.waitUntilEmpty()
    val bm = SparkEnv.get.blockManager
    def isNarrow(v: Any) = v match {
      case _: NarrowVectors | _: NarrowGraph | _: DupComponents | _: ContainmentCorpus => true
      case _ => false
    }
    bm.getMatchingBlockIds {
      case BroadcastBlockId(_, "") => true
      case _ => false
    }.collect {
      case b @ BroadcastBlockId(id, _) if bm.memoryStore.getValues(b).exists(_.exists(isNarrow)) => id
    }.toSet
  }
}
