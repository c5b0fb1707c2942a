package graft.util

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[Overlap]] is the engine's only shared-thread machinery (the MV
  * refresh wave and the nightly ETL's step DAG run on it): pin the
  * contract callers rely on — input-order results, bounded in-flight, the
  * LOWEST-index failure rethrown unwrapped (matching what a sequential
  * loop would raise first) with sibling failures suppressed onto it,
  * fatal errors never caught, inline execution below two thunks, and for
  * [[Overlap.inDag]] the dependency order. */
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

  // ---- inDag --------------------------------------------------------

  private def recorder() =
    new java.util.concurrent.ConcurrentLinkedQueue[Int]()

  test("dependents never start after a failed predecessor; unrelated " +
    "thunks still run") {
    val started = recorder()
    def step(i: Int, fail: Boolean = false): () => Int = () => {
      started.add(i)
      if (fail) throw new IllegalStateException(s"step $i")
      i
    }
    // 1 fails; 2 waits on 1, 3 on 2 (transitive); 0 and 4 are unrelated
    val e = intercept[IllegalStateException] {
      Overlap.inDag(Seq(step(0), step(1, fail = true), step(2), step(3),
        step(4)), Seq(Nil, Nil, Seq(1), Seq(2), Seq(0)), maxInFlight = 3)
    }
    assert(e.getMessage === "step 1")
    assert(e.getSuppressed.isEmpty)
    assert(started.asScala.toSet === Set(0, 1, 4))
  }

  test("ready thunks start in input order: each starts at most " +
    "maxInFlight - 1 places from its index") {
    (1 to 5).foreach { _ =>
      val started = recorder()
      Overlap.inDag((0 until 12).map(i => () => {
        started.add(i); Thread.sleep(2)
      }), Seq.fill(12)(Nil), maxInFlight = 3)
      val order = started.asScala.toSeq
      assert(order.sorted === (0 until 12))
      assert(order.zipWithIndex.forall { case (i, at) =>
        math.abs(i - at) <= 2 }, s"start order $order")
    }
  }

  test("a thunk waiting on a slow predecessor does not hold back later " +
    "ready thunks") {
    val started = recorder()
    Overlap.inDag(Seq(
      () => { Thread.sleep(200); started.add(0) },
      () => started.add(1),
      () => started.add(2)), Seq(Nil, Seq(0), Nil), maxInFlight = 2)
    assert(started.asScala.toSeq === Seq(2, 0, 1))
  }

  test("maxInFlight = 1 is the sequential loop in input order") {
    val started = recorder()
    val caller = Thread.currentThread()
    val threads = recorder()
    val out = Overlap.inDag((0 until 8).map(i => () => {
      started.add(i)
      if (Thread.currentThread() ne caller) threads.add(i)
      i * 10
    }), Seq(Nil, Nil, Seq(0), Seq(1), Nil, Seq(2, 4), Nil, Seq(6)),
      maxInFlight = 1)
    assert(out === (0 until 8).map(_ * 10))
    assert(started.asScala.toSeq === (0 until 8))
    assert(threads.isEmpty)
  }

  test("a waiting thunk holds no worker slot: no deadlock when the bound " +
    "is below the ready set") {
    // 0 finishes only after 2 ran; 1 waits on 0. A worker parked on 1
    // would leave no slot for 2 at bound 2 and 0 would time out.
    val ran2 = new java.util.concurrent.CountDownLatch(1)
    val out = Overlap.inDag(Seq[() => Boolean](
      () => ran2.await(10, java.util.concurrent.TimeUnit.SECONDS),
      () => true,
      () => { ran2.countDown(); true }), Seq(Nil, Seq(0), Nil),
      maxInFlight = 2)
    assert(out === Seq(true, true, true))
  }

  test("a fatal error stops new starts") {
    val started = recorder()
    val e = intercept[LinkageError] {
      Overlap.inDag((0 until 8).map(i => () => {
        started.add(i)
        if (i == 0) throw new LinkageError("fatal")
        Thread.sleep(100)
      }), Seq.fill(8)(Nil), maxInFlight = 2)
    }
    assert(e.getMessage === "fatal")
    Thread.sleep(300) // a helper finishing its thunk starts no other
    assert(started.asScala.toSet.subsetOf(Set(0, 1)),
      s"started after the fatal error: ${started.asScala.toSeq}")
  }

  test("helper threads are daemons, so none outlives a run") {
    val caller = Thread.currentThread()
    val helpers = new java.util.concurrent.ConcurrentLinkedQueue[Thread]()
    Overlap.inDag((0 until 6).map(_ => () => {
      if (Thread.currentThread() ne caller)
        helpers.add(Thread.currentThread())
      Thread.sleep(20)
    }), Seq(Nil, Nil, Nil, Seq(0), Seq(1), Seq(2)), maxInFlight = 3)
    assert(!helpers.isEmpty)
    assert(helpers.asScala.forall(_.isDaemon))
  }

  test("a dependency on a later thunk is refused") {
    intercept[IllegalArgumentException] {
      Overlap.inDag(Seq(() => 0, () => 1), Seq(Seq(1), Nil))
    }
  }
}
