package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}

/** Bridge into `private[spark]` RDD internals, so storage-scoping code
  * (graft.core.Scope) can tell local checkpoints from other persisted
  * RDDs. */
object RddBridge {
  /** Whether `rdd` was marked by `localCheckpoint()` — set before its
    * materializing job runs, so it also holds when that job failed. */
  def isLocalCheckpoint(rdd: RDD[_]): Boolean =
    rdd.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]])
}
