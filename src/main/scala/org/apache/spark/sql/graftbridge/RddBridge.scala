package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge into `private[sql]` plan internals: the RDD ids a checkpointed
  * DataFrame is backed by, so storage-scoping code (graft.core.Scope)
  * can release everything EXCEPT the frame it returns without guessing
  * from registration order, and tell local checkpoints from other
  * persisted RDDs. */
object RddBridge {
  def logicalRddIds(df: DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }

  /** Whether `rdd` was marked by `localCheckpoint()` — set before its
    * materializing job runs, so it also holds when that job failed. */
  def isLocalCheckpoint(rdd: RDD[_]): Boolean =
    rdd.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]])
}
