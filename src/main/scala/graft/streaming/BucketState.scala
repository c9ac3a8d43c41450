package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, KeyValueGroupedDataset}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The one stateful loop behind every detector in this package — the
  * only `flatMapGroupsWithState` in the engine. A detector supplies its
  * per-axis decision body (`step`: one micro-batch of a key's rows
  * against the key's state → new state + verdicts); the kernel owns the
  * state lifetime, so every axis gets the same TTL contract:
  *
  *  - `ttlMs = None` keeps state forever (`NoTimeout`) — exact within
  *    the stream's lifetime;
  *  - `ttlMs = Some(t)` bounds memory with an event-time TTL
  *    (`EventTimeTimeout`): each batch re-arms the key's timeout to
  *    `max(maxTs + t, watermark + 1)` (strictly past the watermark or
  *    Spark throws), and once the watermark passes it the key's state
  *    is dropped — the `dropDuplicatesWithinWatermark` contract.
  *    Re-arrivals after the horizon are judged against empty state, the
  *    deliberate trade that keeps state finite on an unbounded stream.
  *
  * `initial` seeds state on a fresh checkpoint (the store bridges'
  * bootstrap); Spark then visits every initial-state key in the first
  * batch, rows or not. Such a rows-free visit judges nothing — it only
  * arms the TTL at `watermark + t + 1`, so an idle bootstrap-only key
  * evicts like any other. Without `initial` the kernel passes an empty
  * initial state, which Spark applies to the first batch only.
  *
  * Rows fed to a TTL'd kernel must carry their event time (`ts`) under
  * a watermark — the `*Timed` banding faces; the untimed faces fill
  * `ts` with null ([[noTs]]). */
private[streaming] object BucketState {

  def run[K: Encoder, R, S: Encoder, O: Encoder](rows: Dataset[R])(
      key: R => K, ttlMs: Option[Long] = None,
      ts: R => java.sql.Timestamp = (_: Any) => null,
      initial: Option[KeyValueGroupedDataset[K, S]] = None)(
      step: (K, Seq[R], Option[S]) => (S, Seq[O])): Dataset[O] = {
    val timeout = if (ttlMs.isEmpty) GroupStateTimeout.NoTimeout()
      else GroupStateTimeout.EventTimeTimeout()
    val init = initial.getOrElse(rows.sparkSession
      .createDataset(Seq.empty[(K, S)])(
        Encoders.tuple(implicitly[Encoder[K]], implicitly[Encoder[S]]))
      .groupByKey(_._1).mapValues(_._2))
    rows.groupByKey(key)
      .flatMapGroupsWithState[S, O](OutputMode.Append(), timeout, init) {
        (k: K, it: Iterator[R], state: GroupState[S]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else if (!it.hasNext) {
            ttlMs.foreach(t =>
              state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + t + 1))
            Iterator.empty
          } else {
            val rs = it.toSeq
            val (next, out) = step(k, rs, state.getOption)
            state.update(next)
            ttlMs.foreach { t =>
              val maxTs = rs.iterator.map { r =>
                val at = ts(r)
                require(at != null,
                  "a TTL'd detector needs event-time rows (the *Timed faces)")
                at.getTime
              }.max
              state.setTimeoutTimestamp(
                math.max(maxTs + t, state.getCurrentWatermarkMs() + 1))
            }
            out.iterator
          }
      }
  }

  /** An untimed frame in the timed row shape: `ts` is null. */
  def noTs(df: DataFrame): DataFrame =
    df.withColumn("ts", lit(null).cast("timestamp"))
}
