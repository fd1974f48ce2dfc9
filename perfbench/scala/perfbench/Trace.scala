package perfbench

import java.io.{OutputStream, PrintStream}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as the scheduler's job timestamps (System.currentTimeMillis). */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Spans recorded by the benchmark around its calls into graft. The
  * benchmark has one client thread, so one stack gives each span its
  * parent. Disabled spans cost one branch. */
final class Spans {
  final case class Span(id: Int, parent: Int, name: String, start: Double, var end: Double)
  val recorded = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  @volatile var enabled = false

  def apply[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = Span(recorded.size, stack.headOption.getOrElse(-1), name, Clock.now(), Double.NaN)
      recorded += s
      stack = s.id :: stack
      try f
      finally { s.end = Clock.now(); stack = stack.tail }
    }

  /** A span whose interval was measured elsewhere (the CLI's stage lines). */
  def add(name: String, start: Double, end: Double): Unit =
    if (enabled) recorded += Span(recorded.size, stack.headOption.getOrElse(-1), name, start, end)

  def rows: Seq[Map[String, Any]] = recorded.toSeq.map(s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "start" -> s.start, "end" -> s.end))
}

/** Job, task and query counters from Spark's own listeners. Each job keeps
  * its submission and end time so the analysis can attribute it to the span
  * that was open when it was submitted; Par submits from pool threads, so
  * job-group properties cannot be used for that. */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  final class Job(val id: Int, val submit: Long) {
    var end: Long = -1L
    var tasks = 0L; var cpuNs = 0L; var shuffleWrite = 0L; var spill = 0L
  }
  @volatile var enabled = false
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val queries = mutable.ArrayBuffer[(Double, Double)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    jobs.put(e.jobId, new Job(e.jobId, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
    val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
    val m = e.taskMetrics
    if (j.isDefined && m != null) j.get.synchronized {
      val job = j.get
      job.tasks += 1
      job.cpuNs += m.executorCpuTime
      job.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      job.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  private def planned(qe: QueryExecution): Unit = if (enabled) {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) {
      val ms = phases.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
      // the planning phase runs when the action runs; analysis may have
      // run earlier, when the Dataset was built
      val at = phases.map(_.startTimeMs).max.toDouble
      queries.synchronized(queries += ((at, ms)))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planned(qe)

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def jobRows: Seq[Map[String, Any]] = jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
    Map("id" -> j.id, "submit" -> j.submit, "end" -> j.end, "tasks" -> j.tasks,
      "cpu_ms" -> j.cpuNs / 1e6, "shuffle_write" -> j.shuffleWrite, "spill" -> j.spill))

  def queryRows: Seq[Map[String, Any]] = queries.synchronized(queries.toSeq).map {
    case (at, ms) => Map("at" -> at, "plan_ms" -> ms)
  }
}

/** Forwards stderr and keeps the CLI's `[graft-stage] <name> <seconds> s`
  * lines with the time each was printed; a stage line is printed when the
  * stage's barrier completes, so its interval is [printed - seconds, printed]. */
final class StageTap(under: PrintStream, onStage: (String, Double, Double) => Unit)
    extends OutputStream {
  private val buf = new java.io.ByteArrayOutputStream()
  private val Line = """\[graft-stage\]\s+(\S+)\s+([0-9.]+)\s+s""".r.unanchored

  override def write(b: Int): Unit = synchronized {
    under.write(b)
    if (b == '\n') {
      val line = new String(buf.toByteArray, StandardCharsets.UTF_8)
      buf.reset()
      line match {
        case Line(name, secs) =>
          val end = Clock.now()
          onStage(name, end - secs.toDouble * 1000.0, end)
        case _ =>
      }
    } else buf.write(b)
  }
  override def flush(): Unit = under.flush()
}
