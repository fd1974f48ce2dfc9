package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.RddBridge

/** Storage-block scoping for multi-leg evaluators (guide §5: unpersist
  * when done). A grouped metric record is built from shared
  * checkpointed/persisted intermediates (the labeled returns frame, the
  * bounded histogram aggregates); returning it LAZY means nothing can
  * ever release those blocks — consumers hold a plan that still
  * references them, so in a long-lived session repeated evaluator calls
  * accumulate MEMORY_AND_DISK blocks until ContextCleaner happens to
  * notice (VERDICT r17 #3). */
object Scope {

  /** Run `build`, eagerly materialize its (output-sized) result via
    * localCheckpoint, then release as [[released]] does. The caller
    * receives a frame backed by its own checkpoint blocks ONLY (excluded
    * by id); data-sized intermediates are released the moment this
    * returns, and the result itself is one unpersist away (the bench's
    * per-query hygiene already clears it). The result is fully
    * materialized BEFORE anything is released. */
  def materialized(spark: SparkSession)(build: => DataFrame): DataFrame =
    releasing(spark)(build.localCheckpoint())(RddBridge.logicalRddIds(_).toSet)

  /** Run `body`, then — in `finally`, whether it returns or throws —
    * unpersist every local checkpoint first registered while it ran.
    * That is all the storage the evaluators create (their returns and
    * histogram checkpoints), including a checkpoint whose job failed
    * half-way. A frame the caller cached, or an RDD an ML fit on another
    * thread persisted, is not a local checkpoint and is left alone.
    * `body` must not return a frame backed by its own checkpoints:
    * collect first. */
  def released[A](spark: SparkSession)(body: => A): A =
    releasing(spark)(body)(_ => Set.empty)

  private def releasing[A](spark: SparkSession)(body: => A)(
      keep: A => Set[Int]): A = {
    val sc = spark.sparkContext
    val pre = sc.getPersistentRDDs.keySet.toSet
    var kept = Set.empty[Int]
    try { val r = body; kept = keep(r); r }
    finally sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!pre(id) && !kept(id) && RddBridge.isLocalCheckpoint(rdd))
        rdd.unpersist(blocking = false)
    }
  }
}
