package org.apache.spark

import org.apache.spark.storage.RDDBlockId

/** Test access to the BlockManagerMaster's record of an RDD's blocks,
  * which is complete as soon as the job that stored them returns.
  */
object BlockManagerAccess {
  /** Block bytes (memory + disk) of `rddId` per partition index. */
  def rddBlockBytes(rddId: Int): Map[Int, Long] =
    SparkEnv.get.blockManager.master.getStorageStatus.toSeq
      .flatMap(_.rddBlocks.toSeq)
      .collect { case (RDDBlockId(`rddId`, p), b) => p -> (b.memSize + b.diskSize) }
      .toMap
}
