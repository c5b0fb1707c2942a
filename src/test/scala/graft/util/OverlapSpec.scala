package graft.util

import org.scalatest.funsuite.AnyFunSuite

/** [[Overlap.inParallel]] is the engine's only shared-thread machinery
  * (the MV refresh wave runs on it): pin the contract callers rely on —
  * input-order results, bounded in-flight, the LOWEST-index failure
  * rethrown unwrapped (matching what a sequential loop would raise
  * first) with sibling failures suppressed onto it, fatal errors never
  * caught, and inline execution below two thunks. */
class OverlapSpec extends AnyFunSuite {

  test("results preserve input order under concurrency") {
    val out = Overlap.inParallel((0 until 32).map(i => () => {
      if (i % 3 == 0) Thread.sleep(5)
      i * 2
    }))
    assert(out === (0 until 32).map(_ * 2))
  }

  test("the lowest-index failure is rethrown unwrapped, even when a " +
    "later thunk fails first in time") {
    val e = intercept[IllegalStateException] {
      Overlap.inParallel(Seq[() => Int](
        () => { Thread.sleep(30); throw new IllegalStateException("lo") },
        () => throw new IllegalArgumentException("hi-fails-first"),
        () => 3))
    }
    assert(e.getMessage === "lo")
  }

  test("sibling failures ride on the rethrown error as suppressed") {
    val e = intercept[IllegalStateException] {
      Overlap.inParallel(Seq[() => Int](
        () => 1,
        () => { Thread.sleep(30); throw new IllegalStateException("lo") },
        () => throw new IllegalArgumentException("hi")))
    }
    assert(e.getMessage === "lo")
    assert(e.getSuppressed.map(_.getMessage).toSeq === Seq("hi"))
  }

  test("a fatal error propagates ahead of ordinary failures") {
    val e = intercept[LinkageError] {
      Overlap.inParallel(Seq[() => Int](
        () => { Thread.sleep(30); throw new IllegalStateException("lo") },
        () => throw new LinkageError("fatal")))
    }
    assert(e.getMessage === "fatal")
  }

  test("in-flight concurrency is bounded by maxInFlight") {
    val active = new java.util.concurrent.atomic.AtomicInteger(0)
    val peak = new java.util.concurrent.atomic.AtomicInteger(0)
    Overlap.inParallel((0 until 24).map(_ => () => {
      val a = active.incrementAndGet()
      peak.getAndUpdate(p => math.max(p, a))
      Thread.sleep(3)
      active.decrementAndGet()
    }), maxInFlight = 3)
    assert(peak.get() <= 3, s"peak in-flight ${peak.get()} > 3")
  }

  test("a single thunk runs inline on the calling thread") {
    val caller = Thread.currentThread().getName
    val ran = Overlap.inParallel(Seq(
      () => Thread.currentThread().getName))
    assert(ran === Seq(caller))
  }
}
