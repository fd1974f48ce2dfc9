package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.RddBridge

/** Storage-block scoping for multi-stage pipelines (guide §5: unpersist
  * when done). A stage that local-checkpoints an intermediate hands back
  * a frame whose plan still references those blocks, so nothing
  * downstream can ever release them; in a long-lived session repeated
  * calls accumulate MEMORY_AND_DISK blocks until ContextCleaner happens
  * to notice (VERDICT r17 #3). */
object Scope {

  /** Run `body`, then — in `finally`, whether it returns or throws —
    * unpersist every local checkpoint first registered while it ran,
    * including a checkpoint whose job failed half-way. A frame the
    * caller cached, or an RDD an ML fit on another thread persisted, is
    * not a local checkpoint and is left alone; a local checkpoint
    * another thread registers during the call is released too. `body`
    * must not return a frame backed by its own checkpoints: collect or
    * write first. */
  def released[A](spark: SparkSession)(body: => A): A = {
    val sc = spark.sparkContext
    val pre = sc.getPersistentRDDs.keySet.toSet
    try body
    finally sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!pre(id) && RddBridge.isLocalCheckpoint(rdd))
        rdd.unpersist(blocking = false)
    }
  }

  /** Run `body` with a `keep` that caches a frame for it, then — in
    * `finally`, whether `body` returns or throws — unpersist every
    * frame it kept: the cached plan and, once a job filled it, its
    * blocks. Newest first, so no kept frame outlives one it reads
    * (uncaching a frame re-plans the unfilled caches built on it).
    * `body` must not return a frame that reads the kept ones: collect
    * first. */
  def cached[A](body: (DataFrame => DataFrame) => A): A = {
    val kept = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try body { df => kept += df; df.cache() }
    finally kept.reverseIterator.foreach(_.unpersist())
  }
}
