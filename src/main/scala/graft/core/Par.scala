package graft.core

import java.util.concurrent.Executors

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, ExecutionContextExecutorService, Future}
import scala.util.Try

/** Overlap INDEPENDENT Spark actions from driver threads (optimization
  * guide §2.6 "Overlap independent jobs"): Spark's scheduler runs
  * several jobs at once inside one application — actions are only
  * sequential because driver code calls them sequentially. The
  * multi-action metric evaluators (composite score, distribution
  * record, predictive train+eval) each run 4–8 independent jobs whose
  * tails would otherwise leave the executors idle; submitting them
  * concurrently back-fills the idle capacity and cuts the operator's
  * wall clock without changing any job's computation (each leg is the
  * byte-identical plan it was when sequential — FIFO scheduling only
  * interleaves them).
  *
  * The pool is a CACHED daemon pool, not a fixed one: evaluators nest
  * (q32's predictive legs each run a distribution evaluator), and a
  * fixed pool whose slots are all blocked parents would deadlock the
  * children. Cached threads grow with the nesting depth actually used
  * (bounded by the operator call tree, single digits) and die after
  * 60 s idle. */
object Par {

  private lazy val pool: ExecutionContextExecutorService =
    ExecutionContext.fromExecutorService(
      Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "graft-par")
        t.setDaemon(true)
        t
      }))

  /** Run every thunk concurrently, return results in order. The LAST
    * thunk runs on the calling thread (no pool slot is held by a
    * blocked parent while its own legs run). Every leg settles before
    * anything is returned or thrown, so a caller's `finally` never runs
    * while a sibling leg is still using its storage; the first failure
    * in leg order is then rethrown. */
  def seq[A](thunks: Seq[() => A]): Seq[A] = {
    if (thunks.isEmpty) return Nil
    val fs = thunks.init.map(t => Future(t())(pool))
    val last = Try(thunks.last())
    (fs.map(settle) :+ last).map(_.get)
  }

  /** Typed two- to four-leg forms of [[seq]]: the same legs, threads and
    * settle rule. */
  def par2[A, B](a: => A, b: => B): (A, B) = {
    val Seq(ra, rb) = seq(Seq(() => a, () => b))
    (ra.asInstanceOf[A], rb.asInstanceOf[B])
  }

  def par3[A, B, C](a: => A, b: => B, c: => C): (A, B, C) = {
    val Seq(ra, rb, rc) = seq(Seq(() => a, () => b, () => c))
    (ra.asInstanceOf[A], rb.asInstanceOf[B], rc.asInstanceOf[C])
  }

  def par4[A, B, C, D](a: => A, b: => B, c: => C, d: => D): (A, B, C, D) = {
    val Seq(ra, rb, rc, rd) = seq(Seq(() => a, () => b, () => c, () => d))
    (ra.asInstanceOf[A], rb.asInstanceOf[B], rc.asInstanceOf[C], rd.asInstanceOf[D])
  }

  private def settle[A](f: Future[A]): Try[A] = {
    Await.ready(f, Duration.Inf)
    f.value.get
  }
}
