package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Sort}
import org.apache.spark.sql.classic

/** Bridge into `private[sql]` plan construction and the
  * `private[spark]` listener bus. */
object PlanBridge {

  /** Block until every queued listener event (job ends, query
    * executions) has been delivered. */
  def awaitListeners(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** `df` without the global sorts at the top of its plan (under
    * deterministic projections and filters only), for a consumer that
    * re-clusters and re-sorts its input anyway: each such sort costs a
    * range-sampling job and an exchange that change nothing downstream. */
  def withoutTopSorts(df: DataFrame): DataFrame = {
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case s: Sort if s.global => strip(s.child)
      case q: Project if q.projectList.forall(_.deterministic) =>
        q.copy(child = strip(q.child))
      case f: Filter if f.condition.deterministic => f.copy(child = strip(f.child))
      case other => other
    }
    val plan = df.queryExecution.analyzed
    val stripped = strip(plan)
    if (stripped eq plan) df
    else classic.Dataset.ofRows(
      df.sparkSession.asInstanceOf[classic.SparkSession], stripped)
  }
}
