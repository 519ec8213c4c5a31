package graft.core

import java.util.concurrent.atomic.AtomicInteger

/** Runs independent driver-side Spark actions concurrently. Actions are
  * only sequential because callers invoke them one after another, and
  * overlapping them lets one job's tasks backfill the other's straggler
  * tail. Only for work with no data dependency and disjoint write
  * targets.
  *
  * Pass thunks, not frames: a source whose construction itself runs
  * jobs (d24's connected-component fixpoint, a branch chain's stats
  * collects) must build inside the thunk, so that its sibling overlaps
  * the build and not just the final action.
  *
  * Threads are started fresh per call rather than taken from a shared
  * pool, because a new thread inherits its creator's SparkContext local
  * properties (job group, scheduler pool, tracing span keys) and its
  * active session; a pooled thread would carry whatever its first
  * submitter had set.
  */
object Overlap {

  /** Most thunks running at once, the caller included. */
  val MaxInFlight = 4

  /** Runs every thunk, at most [[MaxInFlight]] at a time with the caller
    * taking a share inline, and returns their results in thunk order.
    * Returns or throws only once every thunk has finished. If any
    * failed, rethrows the first failure in thunk order as it was
    * thrown, with the others attached as suppressed. */
  def all[A](thunks: Seq[() => A]): Seq[A] = {
    val n = thunks.length
    val results = new Array[Any](n)
    val failures = new Array[Throwable](n)
    val next = new AtomicInteger(0)
    val drain: Runnable = () => {
      var i = next.getAndIncrement()
      while (i < n) {
        try results(i) = thunks(i)()
        catch { case t: Throwable => failures(i) = t }
        i = next.getAndIncrement()
      }
    }
    val helpers = Seq.tabulate(math.min(n, MaxInFlight) - 1) { w =>
      val t = new Thread(drain, s"graft-overlap-$w")
      t.setDaemon(true)
      t.start()
      t
    }
    drain.run()
    helpers.foreach(_.join())
    failures.filter(_ != null) match {
      case Array() => results.toSeq.asInstanceOf[Seq[A]]
      case Array(first, rest @ _*) =>
        rest.filter(_ ne first).foreach(first.addSuppressed)
        throw first
    }
  }
}
