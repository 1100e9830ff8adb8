package org.apache.spark.sql.graft

import org.apache.spark.SparkEnv
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.RDDBlockId

/** Bridge that gives a local checkpoint the size it stored. An eager
  * `localCheckpoint()` plans its rows as a [[LogicalRDD]] that keeps the
  * optimizer's size estimate of the plan it cut, and the estimate of a
  * join is the product of its sides, so a few hundred checkpointed ids
  * can look larger than the broadcast threshold. The checkpoint's blocks
  * are in the block manager once its job has run; their recorded bytes
  * become the relation's `sizeInBytes`, read from the block manager
  * master in the calling thread (no Spark job). The plan, partitioning
  * and constraints are otherwise unchanged; Spark internals are reached
  * from this bridge package as in [[FooterSchema]]. */
object SizedCheckpoint {

  /** `checkpointed`, the result of an eager local checkpoint, with the
    * bytes its blocks hold (memory plus disk) as its size; unchanged when
    * its plan is not a checkpoint or some partition has no block. */
  def of(checkpointed: DataFrame): DataFrame = checkpointed.queryExecution.logical match {
    case rel: LogicalRDD =>
      val rddId = rel.rdd.id
      val blocks = SparkEnv.get.blockManager.master.getStorageStatus.iterator
        .flatMap(_.rddBlocks.iterator)
        .collect { case (RDDBlockId(`rddId`, p), st) => p -> (st.memSize + st.diskSize) }
        .toMap
      if (blocks.size != rel.rdd.partitions.length) checkpointed
      else {
        val session = checkpointed.sparkSession.asInstanceOf[classic.SparkSession]
        classic.Dataset.ofRows(session, rel.copy()(session,
          // at least 1 byte: a join estimate is the product of its sides
          Some(Statistics(sizeInBytes = BigInt(blocks.values.sum.max(1L)))),
          Some(rel.constraints)))
      }
    case _ => checkpointed
  }
}
