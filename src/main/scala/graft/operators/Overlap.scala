package graft.operators

import java.util.concurrent.Executors

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

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

  private lazy val pool: ExecutionContext =
    ExecutionContext.fromExecutor(Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-overlap")
      t.setDaemon(true)
      t
    }))

  /** How long a failed foreground leg waits for the background leg. */
  private val DrainBound = 5.minutes

  /** Evaluate `a` and `b` concurrently (`a` on a pool thread, `b` on the
    * calling thread) and return both — blocks until BOTH complete, so
    * pins/checkpoints referenced by either leg stay live throughout.
    * `spark.graft.overlap=false` degrades to sequential evaluation
    * (a then b) for A/B measurement and contention triage. If `b` fails,
    * its exception is rethrown once `a` has finished, or after
    * `drainBound` if `a` has not. */
  def both[A, B](s: org.apache.spark.sql.SparkSession, a: => A, b: => B,
      drainBound: Duration = DrainBound): (A, B) = {
    if (graft.Conf.flag(s, "spark.graft.overlap", true)) {
      val fa = Future(a)(pool)
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
            try Await.result(fa, drainBound)
            catch { case _: Throwable => () }
            throw t
        }
      (Await.result(fa, Duration.Inf), rb)
    } else (a, b)
  }
}
