package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Par

/** [[Par]]'s settle rule: the last leg runs on the calling thread, every
  * leg settles before the call returns or throws, and the first failure
  * in leg order is the one rethrown. */
class ParSpec extends AnyFunSuite {

  private def slow[A](done: AtomicBoolean, v: A): A = {
    Thread.sleep(300); done.set(true); v
  }

  test("a fast failing first leg waits for a slow second leg, then rethrows its own error") {
    val cases = Seq[(String, AtomicBoolean => Any)](
      "par2" -> (d => Par.par2(throw new IllegalStateException("first"), slow(d, 2))),
      "par3" -> (d => Par.par3(throw new IllegalStateException("first"), slow(d, 2), 3)),
      "par4" -> (d => Par.par4(throw new IllegalStateException("first"), slow(d, 2), 3, 4)),
      "seq" -> (d => Par.seq(Seq(() => throw new IllegalStateException("first"),
        () => slow(d, 2), () => 3))))
    for ((name, call) <- cases) {
      val done = new AtomicBoolean(false)
      val e = intercept[IllegalStateException](call(done))
      assert(e.getMessage === "first", name)
      assert(done.get, s"$name returned before its slow leg finished")
    }
  }

  test("the first failure in leg order wins, not the first in time") {
    val e = intercept[IllegalStateException](Par.par3(
      { Thread.sleep(200); throw new IllegalStateException("a") },
      throw new IllegalStateException("b"),
      1))
    assert(e.getMessage === "a")
  }

  test("results come back in leg order; the last leg runs on the calling thread") {
    val caller = Thread.currentThread
    val (a, b, c, d) = Par.par4(1, "two", 3.0, Thread.currentThread eq caller)
    assert((a, b, c) === ((1, "two", 3.0)))
    assert(d, "the last leg must run on the calling thread")
    assert(Par.par2(Thread.currentThread eq caller, Thread.currentThread eq caller) ===
      ((false, true)))
    assert(Par.seq(Seq(() => 1, () => 2, () => 3)) === Seq(1, 2, 3))
  }
}
