package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped registry for query-internal persists — the library's
  * answer to the "who unpersists?" problem.
  *
  * Many queries persist a narrow intermediate because two branches scan
  * it (threshold agg + probe side, signature table + band join, …). The
  * query returns a LAZY frame, so the query function itself has no
  * after-the-action point at which to release, and `clearCache()` is
  * not a library move: it nukes the CALLER's caches along with ours.
  *
  * `pin` persists and records the frame against its session; the caller
  * (Verify/Bench here; any application embedding the library) calls
  * [[releaseAll]] once it has consumed a query's result, releasing
  * exactly what graft pinned and nothing else. Queries that contain
  * their own consuming action (p01's shard write) release eagerly via
  * their loan handle instead — a second release here is a no-op.
  *
  * CacheLeakSpec enforces the discipline both ways: every query leaves
  * zero non-checkpoint persistent RDDs behind after `releaseAll`, and a
  * source scan pins every raw `.persist()` in the query modules to this
  * registry (lifecycle-managed sites with their own try/finally release
  * are allowlisted). */
object Pinned {

  private val reg =
    new ConcurrentHashMap[SparkSession,
      java.util.Queue[DataFrame]]()

  /** Persist `df` (default storage level) and register it for
    * [[releaseAll]]. Returns `df` for call-site chaining.
    * `spark.graft.pin=false` turns every pin into a pass-through — the
    * A/B knob that measures whether a materialization actually beats
    * recomputation on a given meter (the r16 s-family audit found most
    * 2–3-reference pins lose at test scale). */
  def pin(df: DataFrame): DataFrame = {
    if (!Conf.flag(df.sparkSession, "spark.graft.pin", true)) return df
    df.persist()
    reg.computeIfAbsent(df.sparkSession,
      _ => new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]())
      .add(df)
    df
  }

  /** Unpersist every frame pinned against `s` since the last release.
    * Blocking=false: eviction proceeds asynchronously, same as
    * `clearCache()`. Frames already unpersisted (a query's own loan
    * release) are a no-op. */
  def releaseAll(s: SparkSession): Unit = {
    val q = reg.remove(s)
    if (q != null) {
      var df = q.poll()
      while (df != null) {
        df.unpersist()
        df = q.poll()
      }
    }
  }

  /** Number of frames currently pinned against `s` (spec hook). */
  def outstanding(s: SparkSession): Int = {
    val q = reg.get(s)
    if (q == null) 0 else q.size()
  }
}
