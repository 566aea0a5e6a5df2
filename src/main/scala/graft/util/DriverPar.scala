package graft.util

/** Concurrent execution of INDEPENDENT blocking Spark driver actions
  * (collects, localCheckpoints, eager plane builds) so their jobs overlap
  * in the scheduler instead of queueing behind one another. Job submission
  * is thread-safe in Spark; what needs discipline is the driver side:
  *
  *  - DEDICATED threads, never `ExecutionContext.Implicits.global`: the
  *    shared fork-join pool is sized for CPU-bound work, and parking
  *    blocking Spark actions there can starve every other caller of the
  *    global pool (and deadlock a small one) — the r17 advice finding on
  *    the dataset-card plane build. One plain thread per thunk is the
  *    right tool: the fan-out is always bounded (2–4 driver actions), so
  *    pool reuse buys nothing.
  *  - Settle ALL thunks before surfacing any failure: rethrowing on the
  *    first failure while siblings run would leave their jobs detached —
  *    consuming the cluster with nothing awaiting them (the r17 review
  *    find on the card futures, kept as the shared rule here).
  *  - On the first failure, CANCEL the siblings' Spark jobs rather
  *    than letting them burn to completion (the other half of the r17
  *    advice): a Spark job can't be killed through a Thread handle, but
  *    `addJobTag` is thread-local and `cancelJobsWithTag` reclaims the
  *    cluster mid-stage — on a 1000-executor deployment a failed plane
  *    must not keep its siblings computing results nobody will read. The
  *    rethrown error is the TEMPORALLY first failure, not the lowest
  *    index: after a cancellation, sibling threads die with
  *    SparkException cancellation artifacts, and surfacing one of those
  *    instead of the root cause would misdirect the caller. Cancellation
  *    is best-effort reclamation of IN-FLIGHT work: `cancelJobsWithTag`
  *    kills running jobs, so a sibling still planning/compiling its first
  *    job (or one that submits another afterwards) runs that job to
  *    completion — the settle-all join below bounds the damage either
  *    way, and correctness never depends on the cancel landing.
  *  - Keep the CALLER's job group: each thread inherits the caller's
  *    Spark local properties (job group, description, tags), so its jobs
  *    stay in the caller's group — a caller's `cancelJobGroup` reaches
  *    them and per-group accounting counts them. The per-call tag is
  *    ADDED beside the inherited ones; a job group would replace the
  *    caller's.
  */
object DriverPar {

  /** Run every thunk on its own daemon thread (each with its own Spark
    * job tag, inside the caller's job group, when a SparkContext is live),
    * join them all, and return results in input order. On failure: cancel
    * every sibling's tagged jobs, still join everything, then rethrow the
    * temporally-first failure. */
  def settleAll[A](thunks: Seq[() => A]): Seq[A] = {
    val results = new Array[scala.util.Try[A]](thunks.size)
    // a live context is the normal case; tests without one still work.
    // Resolved on the CALLING thread (getActiveSession is thread-local —
    // the spawned threads would not see it)
    val sc = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val tag = s"graft-driver-par-${java.util.UUID.randomUUID()}"
    val firstFailure =
      new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    val threads = thunks.zipWithIndex.map { case (t, i) =>
      val th = new Thread(() => {
        sc.foreach { c =>
          c.addJobTag(s"$tag-$i")
          c.setInterruptOnCancel(true)
        }
        // catch Throwable, not Try's NonFatal: a fatal error (OOM,
        // LinkageError) must still record, cancel siblings, and surface
        // as ITSELF — a null results slot would NPE in the final map and
        // mask the root cause (r18 review find)
        val r = try scala.util.Success(t()) catch {
          case e: Throwable => scala.util.Failure(e)
        }
        r.failed.foreach { e =>
          // only the FIRST failure cancels and is rethrown — later ones
          // are usually its cancellation artifacts
          if (firstFailure.compareAndSet(null, e))
            sc.foreach { c =>
              thunks.indices.filter(_ != i)
                .foreach(j => c.cancelJobsWithTag(s"$tag-$j"))
            }
        }
        results(i) = r
      }, s"graft-driver-par-$i")
      th.setDaemon(true)
      th.start()
      th
    }
    threads.foreach(_.join())
    Option(firstFailure.get()).foreach(throw _)
    results.toIndexedSeq.map(_.get)
  }
}
