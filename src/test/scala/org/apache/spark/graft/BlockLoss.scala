package org.apache.spark.graft

import org.apache.spark.{SparkContext, SparkEnv}

/** Simulates losing the executors that stored the cached blocks. In
  * `org.apache.spark` for the block manager master, which `removeRdd`
  * goes through. */
object BlockLoss {

  /** Drops every stored block of every persisted RDD, leaving each RDD
    * persisted, so the next read has to recompute (or fail). Returns
    * the ids of the RDDs that had stored blocks. */
  def dropStoredRdds(sc: SparkContext): Seq[Int] = {
    val stored = sc.getRDDStorageInfo.filter(_.isCached).map(_.id).toSeq
    stored.foreach(SparkEnv.get.blockManager.master.removeRdd(_, blocking = true))
    stored
  }
}
