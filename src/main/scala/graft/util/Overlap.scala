package graft.util

/** Overlap INDEPENDENT Spark actions from driver code (optimization
  * guide §2.6: "actions are only sequential because your driver code
  * calls them sequentially"). The engine's multi-action paths — an MV
  * refresh materializing per-step delta frames, a recall matrix
  * evaluating independent search arms — each run several sub-second
  * jobs (plus their AQE stage trains) that share no data; overlapping
  * a few of them lets the scheduler back-fill the tail of one job with
  * the next one's tasks instead of paying every per-action fixed cost
  * serially.
  *
  * Concurrency is bounded PER CALL (default 3 — the guide's "2-3 jobs
  * in flight is plenty": enough to fill the tail, not so many that
  * they fight for cores; an unbounded first cut measured a 6× wall
  * REGRESSION on an 11-arm compute-heavy fan-out from exactly that
  * fight). The bound is a work-queue the CALLER participates in — no
  * shared permit pool, so a nested call can never deadlock; helper
  * threads come from a cached daemon pool (60 s idle reap). Results
  * preserve input order, thunks START in input order, and the
  * LOWEST-INDEX failure is rethrown unwrapped, so callers observe the
  * same error the sequential loop would have raised first; the other
  * thunks' failures ride along as suppressed exceptions. A fatal JVM
  * error is never treated as a thunk failure: no further thunk starts,
  * and it is rethrown ahead of any ordinary failure.
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
    * hop). Each helper binds the caller's active SparkSession so plan
    * building and actions on pool threads resolve against the same
    * session, and unbinds it when done so a pooled thread never pins a
    * stopped session. */
  def inParallel[A](thunks: Seq[() => A], maxInFlight: Int = 3): Seq[A] =
    if (thunks.lengthCompare(2) < 0) thunks.map(_())
    else {
      val n = thunks.size
      val results = new java.util.concurrent.atomic
        .AtomicReferenceArray[Either[Throwable, A]](n)
      val next = new java.util.concurrent.atomic.AtomicInteger(0)
      val sess = org.apache.spark.sql.SparkSession.getActiveSession
      def work(): Unit = {
        var i = next.getAndIncrement()
        while (i < n) {
          results.set(i,
            try Right(thunks(i)())
            catch {
              case scala.util.control.NonFatal(e) => Left(e)
              case fatal: Throwable =>
                next.set(n) // no worker starts another thunk
                throw fatal
            })
          i = next.getAndIncrement()
        }
      }
      val helpers = (1 until math.min(math.max(maxInFlight, 1), n))
        .map { _ =>
          pool.submit(new Runnable {
            override def run(): Unit = {
              sess.foreach(
                org.apache.spark.sql.SparkSession.setActiveSession)
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
      val out = (0 until n).map(results.get)
      val failures = out.collect { case Left(e) => e }
      failures.headOption.foreach { first =>
        failures.tail.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      }
      out.map(_.toOption.get)
    }
}
