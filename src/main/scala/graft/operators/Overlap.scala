package graft.operators

import java.util.concurrent.{ExecutionException, ExecutorService, Executors,
  TimeUnit}

import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** Concurrent-action helper for composed pipelines — the "overlap
  * independent jobs" move: Spark's scheduler happily runs several jobs
  * at once inside one application; actions are only sequential because
  * driver code calls them sequentially. When a pipeline materializes two
  * INDEPENDENT chains (two lineage cuts over the same checkpointed
  * input; a shard write beside a report rollup on a shared pinned base),
  * submitting them from two threads lets the second job's tasks
  * back-fill executor slots freed by the first job's straggler tail —
  * at 100 TB that tail is the dominant idle-capacity loss, and locally
  * it removes one full serialized job wall from the pipeline.
  *
  * Safety: both legs only READ shared inputs (checkpointed RDDs /
  * [[graft.Pinned]] caches — per-partition block locks make concurrent
  * cache materialization race-free), and default FIFO scheduling keeps
  * the first-submitted job ahead, the exact back-fill behaviour wanted.
  */
object Overlap {

  private lazy val pool: ExecutorService =
    Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-overlap")
      t.setDaemon(true)
      t
    })

  /** How long a failed foreground leg waits for the background leg. */
  private val DrainBound = 5.minutes

  /** Evaluate `a` and `b` concurrently (`a` on a pool thread, `b` on the
    * calling thread) and return both — blocks until BOTH complete, so
    * pins/checkpoints referenced by either leg stay live throughout.
    * `spark.graft.overlap=false` degrades to sequential evaluation
    * (a then b) for A/B measurement and contention triage. If `b` fails,
    * its exception is rethrown once `a` has finished, or after
    * `drainBound` if `a` has not; if only `a` fails, its exception is
    * rethrown once `b` has finished.
    *
    * `a` runs with the caller's Spark thread-locals as they are at the
    * call: its local properties (job group, job description, the
    * streaming batch id, scheduler pool) and its active session. A
    * pooled thread otherwise keeps whatever it inherited when it was
    * created, so a stopped streaming query's job-group cancel would miss
    * the background leg and its jobs would carry a stale description. */
  def both[A, B](s: SparkSession, a: => A, b: => B,
      drainBound: Duration = DrainBound): (A, B) = {
    if (graft.Conf.flag(s, "spark.graft.overlap", true)) {
      val caller = SparkSession.getActiveSession.getOrElse(s)
      val fa = SQLExecution.withThreadLocalCaptured(
        caller.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
        pool)(a)
      def await(bound: Duration): A =
        try
          if (bound.isFinite) fa.get(bound.toNanos, TimeUnit.NANOSECONDS)
          else fa.get()
        catch { case e: ExecutionException if e.getCause != null =>
          throw e.getCause }
      val rb =
        try b
        catch {
          case t: Throwable =>
            // drain the background leg before rethrowing: the caller's
            // finally/releaseAll would otherwise unpin caches the pool
            // thread is still reading (recomputation + confusing
            // concurrent failures); its own failure is secondary here.
            // The wait is bounded: a background leg that hangs (say, on
            // something the failed leg was to produce) must not turn the
            // failure into a deadlock, so after `drainBound` the original
            // exception is rethrown anyway
            try await(drainBound)
            catch { case _: Throwable => () }
            throw t
        }
      (await(Duration.Inf), rb)
    } else (a, b)
  }
}
