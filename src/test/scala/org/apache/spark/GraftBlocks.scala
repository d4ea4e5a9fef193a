package org.apache.spark

import org.apache.spark.storage.RDDBlockId

/** Test access to the block manager master, which is `private[spark]`. */
object GraftBlocks {

  /** the blocks that any block manager still holds for RDD `rddId` */
  def of(rddId: Int): Seq[String] =
    SparkEnv.get.blockManager.master.getMatchingBlockIds({
      case RDDBlockId(id, _) => id == rddId
      case _ => false
    }, askStorageEndpoints = true).map(_.name).toSeq
}
