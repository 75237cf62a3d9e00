package org.apache.spark

/** Bytes (memory + disk) that the block managers of `sc` hold per RDD id:
  * every RDD with at least one cached or checkpointed block. The block
  * manager master is `private[spark]`, hence this package. */
object RddBlocks {
  def apply(sc: SparkContext): Map[Int, Long] =
    sc.env.blockManager.master.getStorageStatus.toSeq
      .flatMap(_.rddBlocks.toSeq)
      .groupMapReduce(_._1.asRDDId.get.rddId)(b => b._2.memSize + b._2.diskSize)(_ + _)
}
