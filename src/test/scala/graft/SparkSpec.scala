package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session + fixtures for all suites (one JVM, one session). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = graft.core.Tables.localSession(4, "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val sfDir = "/root/testdata/sf0.001"

  /** Run `body` with SQL confs temporarily set, restoring (or unsetting)
    * each key afterwards — the shared-session equivalent of
    * SQLHelper.withSQLConf. */
  def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val prev = pairs.map { case (k, _) =>
      // an optional conf without a value reads as null
      k -> (try Option(spark.conf.get(k)) catch { case _: Exception => None })
    }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** What [[traced]] saw while its body ran. */
  final case class Trace[T](value: T, jobs: Int, tasks: Int, plans: Seq[String])

  /** Jobs (and their tasks) submitted by `body`'s thread, and the
    * executed plans of the SQL executions that ran while it did. */
  def traced[T](body: => T): Trace[T] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.graftbridge.PlanBridge
    import org.apache.spark.sql.util.QueryExecutionListener
    val sc = spark.sparkContext
    val group = s"traced-${System.nanoTime}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val jl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet()
          tasks.addAndGet(e.stageInfos.map(_.numTasks).sum)
        }
    }
    val ql = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    PlanBridge.awaitListeners(spark)
    sc.addSparkListener(jl); spark.listenerManager.register(ql)
    sc.setJobGroup(group, group)
    try {
      val r = body
      PlanBridge.awaitListeners(spark)
      Trace(r, jobs.get, tasks.get, plans.toArray(Array.empty[String]).toSeq)
    } finally {
      sc.clearJobGroup(); sc.removeSparkListener(jl); spark.listenerManager.unregister(ql)
    }
  }

  /** Seeded random-walk price fixture mirroring the reference's test
    * fixture (tests/test_plugins.py:11-21): 1.3 + cumsum(N(0,1)*5e-4),
    * 4-hour timestamps from 2020-01-01. */
  def randomWalk(n: Int, seed: Long = 7L, base: Double = 1.3,
                 vol: Double = 5e-4): DataFrame = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(seed)
    var acc = base
    val t0 = java.time.Instant.parse("2020-01-01T00:00:00Z")
    (0 until n).map { i =>
      acc += rnd.nextGaussian() * vol
      (java.sql.Timestamp.from(t0.plusSeconds(i * 4L * 3600L)), acc, i)
    }.toDF("DATE_TIME", "typical_price", "rn")
  }
}

class SmokeSpec extends AnyFunSuite {
  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(SparkSpec.spark).count() > 0)
  }
  test("every query has a result and every oracle key exists in queries") {
    SparkEntry.oracleSql.keys.foreach { k =>
      assert(SparkEntry.queries.contains(k), s"oracle for unknown query $k")
    }
  }
}
