package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Sort}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.util.HadoopFSUtils

/** Bridge into `private[sql]` plan construction, Spark's file-split
  * rule and the `private[spark]` listener bus. */
object PlanBridge {

  /** Whether one file scan over every data file under `paths` would read
    * them as ONE split by Spark's own rule: the split size of
    * [[FilePartition.maxSplitBytes]] (`spark.sql.files.maxPartitionBytes`,
    * `spark.sql.files.openCostInBytes`, `spark.sql.files.minPartitionNum`)
    * and the packing of `FilePartition.getFilePartitions`, where each
    * file after the first also costs `openCostInBytes`. Sizes come from
    * the Hadoop `FileSystem` listing (globs expanded, directories walked,
    * hidden and `_`-prefixed names skipped as Spark's file index skips
    * them); nothing is planned or read. */
  def readsAsOneSplit(spark: org.apache.spark.sql.SparkSession, paths: Seq[String]): Boolean = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val hadoopConf = session.sessionState.newHadoopConf()
    def leafLengths(fs: FileSystem, st: FileStatus): Seq[Long] =
      if (!st.isDirectory) Seq(st.getLen)
      else fs.listStatus(st.getPath).toSeq
        .filterNot(c => HadoopFSUtils.shouldFilterOutPathName(c.getPath.getName))
        .flatMap(leafLengths(fs, _))
    val lengths = paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(hadoopConf)
      Option(fs.globStatus(path)).toSeq.flatten.flatMap(leafLengths(fs, _))
    }
    val openCost = session.sessionState.conf.filesOpenCostInBytes
    val total = lengths.map(_ + openCost).sum
    lengths.nonEmpty &&
      total - openCost <= FilePartition.maxSplitBytes(session, total)
  }

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
