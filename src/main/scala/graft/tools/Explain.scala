package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev harness: dump the plan of every SQL execution a SparkEntry query
  * runs. Usage: runMain graft.tools.Explain <sfDir> <outDir> <suffix> <query...>
  * Writes <outDir>/<query>_<suffix>.txt per query: one formatted
  * (final, adaptive) physical plan per execution, in completion order —
  * the eager driver-side actions a query's builder runs (the q30/q31
  * evaluator records) as well as the collect of the frame it returns.
  * The header also counts every job the query ran, RDD jobs (such as
  * the sweeps' fitness fan-out) included, and the generated classes it
  * compiled: the JVM's codegen cache is shared by the whole session,
  * so a query named twice runs twice, and its second dump
  * (<query>_<suffix>_run2.txt) shows what the first run left cached.
  * The session is the CLI's (`Tables.localSession`, SPARK_GRAFT_CPUS
  * threads, default 4). Paths are written relative to the data
  * directory's parent, so dumps from different checkouts compare. */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: Explain <sfDir> <outDir> <suffix> <query...>")
    val Array(sfDir, outDir, suffix) = args.take(3)
    val spark = graft.core.Tables.localSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, "graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    val executions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executions.add(s"$funcName (${durationNs / 1000000} ms)\n" +
          qe.explainString(FormattedMode))
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        executions.add(s"$funcName FAILED: $e\n" + qe.explainString(FormattedMode))
    })
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val dataParent = java.nio.file.Paths.get(sfDir).toAbsolutePath.normalize
      .getParent.toString + "/"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val runs = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    for (name <- args.drop(3)) {
      runs(name) += 1
      PlanBridge.awaitListeners(spark)
      executions.clear(); jobs.set(0)
      val compiledBefore = compiled
      graft.SparkEntry.queries(name)(spark, sfDir).collect()
      PlanBridge.awaitListeners(spark)
      val classes = compiled - compiledBefore
      val plans = executions.toArray(Array.empty[String])
      val text = (s"# $name on $sfDir: ${plans.length} SQL executions, " +
        s"${jobs.get} jobs, $classes generated classes compiled\n\n" +
        plans.zipWithIndex.map { case (p, i) => s"## execution $i: $p" }
          .mkString("\n")).replace(dataParent, "")
      val file = s"${name}_$suffix" +
        (if (runs(name) > 1) s"_run${runs(name)}" else "") + ".txt"
      java.nio.file.Files.write(java.nio.file.Paths.get(outDir, file),
        text.getBytes("UTF-8"))
      System.err.println(s"[explain] wrote $outDir/$file (${plans.length} " +
        s"executions, ${jobs.get} jobs, $classes classes compiled)")
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    spark.stop()
  }
}
