package graft.util

/** Overlap INDEPENDENT Spark actions from driver code (optimization
  * guide §2.6: "actions are only sequential because your driver code
  * calls them sequentially"). The engine's multi-action paths — an MV
  * refresh materializing per-step delta frames, a recall matrix
  * evaluating independent search arms, the nightly ETL's table syncs —
  * each run several sub-second jobs (plus their AQE stage trains) that
  * share no data; overlapping a few of them lets the scheduler back-fill
  * the tail of one job with the next one's tasks instead of paying every
  * per-action fixed cost serially.
  *
  * One scheduler serves both entries: [[inParallel]] (independent
  * thunks) and [[inDag]] (thunks that wait on earlier ones).
  * Concurrency is bounded PER CALL (default 3 — the guide's "2-3 jobs
  * in flight is plenty": enough to fill the tail, not so many that
  * they fight for cores; an unbounded first cut measured a 6× wall
  * REGRESSION on an 11-arm compute-heavy fan-out from exactly that
  * fight). The bound is a set of workers the CALLER participates in —
  * no shared permit pool, so a nested call can never deadlock; helper
  * threads come from a cached daemon pool (60 s idle reap). A worker
  * only ever takes a thunk that may start now, so a thunk waiting on a
  * predecessor holds no slot. Results preserve input order, ready thunks
  * START in input order, and the LOWEST-INDEX failure is rethrown
  * unwrapped, so callers observe the same error the sequential loop
  * would have raised first; the other thunks' failures ride along as
  * suppressed exceptions. A fatal JVM error is never treated as a thunk
  * failure: no further thunk starts, and it is rethrown ahead of any
  * ordinary failure.
  */
object Overlap {

  private lazy val pool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newCachedThreadPool(
      (r: Runnable) => {
        val t = new Thread(r, "graft-overlap")
        t.setDaemon(true)
        t
      })

  /** Run `thunks` with at most `maxInFlight` concurrently, returning
    * results in input order; fewer than two thunks run inline (no pool
    * hop). */
  def inParallel[A](thunks: Seq[() => A], maxInFlight: Int = 3): Seq[A] =
    inDag(thunks, thunks.map(_ => Nil), maxInFlight)

  /** Run `thunks` with at most `maxInFlight` concurrently, thunk `i`
    * starting only once every thunk in `after(i)` — all EARLIER indices —
    * has finished; returns results in input order. Among the thunks that
    * may start, the lowest index starts first, so `maxInFlight = 1` is
    * the plain sequential loop. A thunk whose predecessor failed (or was
    * itself skipped) never starts; the others still run, and the
    * lowest-index failure is rethrown once all have settled.
    *
    * Each helper binds the caller's active SparkSession so plan building
    * and actions on pool threads resolve against the same session, and
    * unbinds it when done so a pooled thread never pins a stopped
    * session. */
  def inDag[A](thunks: Seq[() => A], after: Seq[Seq[Int]],
               maxInFlight: Int = 3): Seq[A] = {
    val n = thunks.size
    require(after.size == n, s"${after.size} dependency lists for $n thunks")
    after.zipWithIndex.foreach { case (ds, i) =>
      require(ds.forall(d => d >= 0 && d < i),
        s"thunk $i may only wait on earlier thunks, not ${ds.mkString(",")}")
    }
    // per-thunk state, guarded by `lock`
    val Pending = 0; val Running = 1; val Done = 2; val Failed = 3
    val state = Array.fill(n)(Pending)
    val out = new Array[Either[Throwable, A]](n)
    var fatal = false
    val lock = new Object

    // under `lock`: mark the lowest-index thunk that may start now as
    // running and return it, skipping (as failed) every thunk with a
    // failed predecessor; None when this worker has nothing left to start
    def claim(): Option[Int] = {
      while (!fatal) {
        var waiting = false
        var i = 0
        while (i < n) {
          if (state(i) == Pending) {
            if (after(i).exists(state(_) == Failed)) state(i) = Failed
            else if (after(i).forall(state(_) == Done)) {
              state(i) = Running
              return Some(i)
            }
            else waiting = true
          }
          i += 1
        }
        // a waiting thunk's predecessors are running: one settling wakes us
        if (!waiting) return None
        lock.wait()
      }
      None
    }

    def work(): Unit = {
      var next = lock.synchronized(claim())
      while (next.isDefined) {
        val i = next.get
        val r =
          try Right(thunks(i)())
          catch {
            case scala.util.control.NonFatal(e) => Left(e)
            case f: Throwable =>
              lock.synchronized { fatal = true; lock.notifyAll() }
              throw f
          }
        next = lock.synchronized {
          out(i) = r
          state(i) = if (r.isRight) Done else Failed
          lock.notifyAll()
          claim()
        }
      }
    }

    val sess = org.apache.spark.sql.SparkSession.getActiveSession
    val helpers = (1 until math.min(math.max(maxInFlight, 1), n)).map { _ =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          sess.foreach(org.apache.spark.sql.SparkSession.setActiveSession)
          try work()
          finally org.apache.spark.sql.SparkSession.clearActiveSession()
        }
      })
    }
    work() // the caller is a worker too
    // only a fatal error escapes a helper's work loop: rethrow it bare
    helpers.foreach { h =>
      try h.get()
      catch {
        case e: java.util.concurrent.ExecutionException => throw e.getCause
      }
    }
    val failures = out.toSeq.collect { case Left(e) => e }
    failures.headOption.foreach { first =>
      failures.tail.filterNot(_ eq first).foreach(first.addSuppressed)
      throw first
    }
    out.toSeq.map(_.toOption.get)
  }
}
