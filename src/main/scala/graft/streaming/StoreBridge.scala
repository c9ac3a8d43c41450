package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.operators.IndexGenerations

/** A banded store-ingest row: the bucket it lands in and its event time
  * (null on an untimed stream). */
trait StoreRow {
  def bucket: String
  def ts: java.sql.Timestamp
}

/** The junction between an always-on ingest stream ([[IncrementalDedup]])
  * and a nightly batch loop over an [[graft.operators.IndexGenerations]]
  * generation store — written once, for every axis: text
  * ([[StoreDedup]]), media ([[StoreMediaDedup]]) and vectors
  * ([[StoreVecDedup]]), each the stream face of one
  * [[graft.queries.DeltaAxis]] whose nightly [[graft.queries.DeltaAxis.advance]]
  * folds the same store. Without
  * it the two worlds contradict each other's admission decisions: the
  * stream admits against TTL-bounded in-memory state, the nightly delta
  * admits against the index, and neither sees the other's uniques. Here
  * the store is the shared ledger:
  *
  *  1. BOOTSTRAP — a newly-deployed stream (fresh checkpoint) seeds its
  *     bucket state from the banded live index ([[initialStateFrom]]),
  *     so a copy of anything the nightly loop ever indexed is flagged
  *     from the first micro-batch. (A RESTART with an existing
  *     checkpoint keeps its checkpointed state — Spark applies the
  *     initial state only on first start — which is exactly right: the
  *     checkpoint is newer than the bootstrap.)
  *  2. FOLD — each micro-batch's admitted uniques advance the store
  *     inside the same `foreachBatch` unit ([[foldBatch]]), under the
  *     ExactlyOnceSink discipline, so the next nightly advance judges a
  *     copy of any stream-admitted row `exact`/`near`.
  *
  * An axis object supplies only what differs: its row/state/admission
  * types, its banding ([[bandDf]]), its per-bucket decision body
  * ([[step]]), the columns a fold writes, the `indexCheck` anti-join
  * keys and its [[graft.queries.DeltaAxis]] ([[axis]]) — which gives
  * the id column, the bootstrap-free verdict core and the
  * intra-batch-unique rule the nightly lifecycle uses too.
  *
  * TTL: [[ingestBanded]] takes `ttlMs` — [[BucketState.run]]'s bounded
  * state contract, including bootstrap-only buckets that never see
  * stream data. The store is what makes the TTL trade safe here:
  * eviction forgets IN-STREAM state only — a restart re-bootstraps from
  * the index, which never forgets a folded unique. A TTL-evicted row
  * re-arriving is re-admitted by the STATE and re-folds as a duplicate
  * index row — verdict-idempotent (the nightly min-id winner ignores
  * the extra row); `spark.graft.stream.indexCheck=true` spends one index
  * anti-join per batch suppressing even those rows.
  *
  * Scale: state per bucket is the admitted entries (~40–50 B per row,
  * never payloads or text). The per-batch fold writes |batch uniques|
  * rows (LSM delta mode) or |index| (rewrite mode — prefer
  * `spark.graft.index.advanceMode=delta` with a `maxDeltaChain` for
  * stream cadence, and let the nightly compact fold the chain).
  *
  * Single-writer contract: the store admits ONE writer at a time
  * ([[graft.operators.IndexGenerations]]), and a folding stream IS a
  * writer. A deployment running this ingest does not also run the
  * nightly advance against the same root concurrently — either the
  * stream owns the root (the nightly loop reads it, e.g. p04 in
  * `buildIndex=false` serve mode against `readCurrent`, advancing a
  * DIFFERENT root or none), or the stream is paused for the nightly
  * window (stop → nightly advance/compact/prune → restart; the restart
  * keeps its checkpoint state, which is newer than the bootstrap, and
  * the nightly's uniques are caught by the next micro-batches only
  * after a fresh-checkpoint redeploy or via `indexCheck`). */
trait StoreBridge extends Serializable {
  type Banded <: Product with StoreRow
  type State <: Product
  type Out <: Product
  protected def bandedTag: TypeTag[Banded]
  protected def stateTag: TypeTag[State]
  protected def outTag: TypeTag[Out]
  // implicit only in here: an axis object materializes its tags itself
  private implicit def bandedTagged: TypeTag[Banded] = bandedTag
  private implicit def stateTagged: TypeTag[State] = stateTag
  private implicit def outTagged: TypeTag[Out] = outTag

  /** The batch lifecycle axis this stream folds into: its id column
    * (the unit of uniqueness a fold judges), verdict core and
    * intra-batch dedup. */
  protected def axis: graft.queries.DeltaAxis
  /** The columns of an admitted row the store keeps. */
  protected def foldCols: Seq[String]
  /** Bucket rows over a frame carrying [[foldCols]] (the live index or an
    * ingest batch), `extra` columns carried through. */
  protected def bandDf(df: DataFrame, extra: Seq[String] = Seq.empty): DataFrame
  /** One micro-batch of a bucket's rows against its admitted entries. */
  protected def step(rows: Seq[Banded], admitted: List[State])
      : (List[State], Seq[Out])
  /** Index columns whose equality marks a re-fold (`indexCheck`). */
  protected def indexKeys: Seq[String]

  /** Band the LIVE index into the initial state a first-start stream
    * bootstraps from — one entry list per bucket, the same shape the
    * detector maintains. */
  def initialStateFrom(spark: SparkSession, indexDir: String)
      : KeyValueGroupedDataset[String, List[State]] = {
    import spark.implicits._
    val entry = Encoders.product[State].schema.fieldNames.map(col)
    bandDf(IndexGenerations.readCurrent(spark, indexDir))
      .groupBy(col("bucket"))
      .agg(collect_list(struct(entry: _*)).as("entries"))
      .select(col("bucket").as("_1"), col("entries").as("_2"))
      .as[(String, List[State])]
      .groupByKey(_._1)
      .mapValues(_._2)
  }

  /** The store-bootstrapped detector: every row emits its per-bucket
    * admissions (uniques too — [[foldBatch]] needs them), against state
    * seeded from `initial` on first start; `ttlMs` bounds it. */
  def admitAll(banded: Dataset[Banded],
      initial: Option[KeyValueGroupedDataset[String, List[State]]],
      ttlMs: Option[Long] = None): Dataset[Out] = {
    import banded.sparkSession.implicits._
    BucketState.run(banded)(_.bucket, ttlMs, _.ts, initial)(
      (_, rows, state) => step(rows, state.getOrElse(Nil)))
  }

  /** Fold one micro-batch's row-level uniques (no non-`unique` verdict
    * in any bucket) into the store — the `foreachBatch` body.
    * Exactly-once: the batch's `(streamId, batchId)` record commits
    * atomically with the generation (inside the gen dir, before the
    * marker — [[graft.operators.IndexGenerations.advanceByConfRecorded]])
    * and a replayed batch whose record is already committed is skipped,
    * so a crash anywhere leaves either no trace (replay refolds cleanly)
    * or a committed record (replay SKIPS). Returns true iff this call
    * advanced the store.
    *
    * `streamId` scopes the records: a fresh deployment (new checkpoint
    * → new streamId) must not be fooled by another stream's batch
    * numbers. [[ingestBanded]] derives it from the checkpoint dir — the
    * id that is stable exactly as long as the batch numbering is.
    *
    * The fold is intra-batch-deduped (the axis's
    * [[graft.queries.DeltaAxis.intraUnique]] — the rule the
    * nightly advance applies), and with
    * `spark.graft.stream.indexCheck=true` also anti-joined against the
    * live index on [[indexKeys]], suppressing the re-fold of a
    * TTL-evicted re-arrival at the cost of an index scan per batch. In
    * bootstrap-free mode ([[StoreBridge.bootstrapEnabled]] false) the
    * check is the axis's FULL verdict core instead — because empty
    * initial state means index dups arrive here marked `unique`, and a
    * key-equality check would let a near-dup-of-index fold.
    *
    * The fold releases its session's [[graft.Pinned]] scope on exit:
    * the verdict/intra-dedup internals pin narrow frames the advance
    * write fully consumes, and an always-on stream has no later
    * "caller releases" point — without this every micro-batch leaks
    * one pinned frame into the storage-memory LRU. (The stream's
    * session is the fold's pin scope; a session concurrently running
    * pinned BATCH queries mid-consumption would lose those caches —
    * correctness-safe, Spark recomputes — so give an embedded ingest
    * its own session if that matters.) */
  def foldBatch(s: SparkSession, indexDir: String, admissions: DataFrame,
      streamId: String, batchId: Long): Boolean =
    if (StoreBridge.replayed(StoreBridge.foldRecords(s, indexDir),
        streamId, batchId)) false
    else try {
      val idCol = axis.idCol
      val cols = foldCols.map(col)
      val dupIds = admissions.filter(col("verdict") =!= "unique")
        .select(idCol).distinct()
      val uniques0 = admissions
        .dropDuplicates(idCol)
        .join(dupIds, Seq(idCol), "left_anti")
        .select(cols: _*)
      val uniques =
        if (!StoreBridge.bootstrapEnabled(s)) {
          val delta = graft.Pinned.pin(uniques0)
          val keep = axis.verdicts(IndexGenerations.readCurrent(s, indexDir),
            delta)
            .filter(col("verdict") === "unique").select(idCol)
          delta.join(keep, Seq(idCol)).select(cols: _*)
        } else if (graft.Conf.flag(s, "spark.graft.stream.indexCheck", false))
          uniques0.join(IndexGenerations.readCurrent(s, indexDir)
            .select(indexKeys.map(col): _*), indexKeys, "left_anti")
            .select(cols: _*)
        else uniques0
      IndexGenerations.advanceByConfRecorded(s, indexDir,
        axis.intraUnique(uniques),
        Some(StoreBridge.RecordName -> s"$streamId:$batchId"))
      true
    } finally graft.Pinned.releaseAll(s)

  /** Assemble and start the store-backed ingest over banded rows:
    * bootstrap state from the index (per [[StoreBridge.bootstrapEnabled]])
    * → admit → fold each batch's uniques back. `ttlMs = None` keeps
    * state forever; `Some` arms the event-time TTL (the rows must come
    * from the axis's timed banding face). The index must have a
    * committed base generation (built by the axis's nightly build) — an
    * advance on a virgin store throws by design. */
  def ingestBanded(banded: Dataset[Banded], indexDir: String,
      checkpointDir: String, ttlMs: Option[Long]): StreamingQuery = {
    val spark = banded.sparkSession
    val initial =
      if (StoreBridge.bootstrapEnabled(spark))
        Some(initialStateFrom(spark, indexDir))
      else None
    StoreBridge.eachBatch(admitAll(banded, initial, ttlMs).toDF(),
      checkpointDir) { (batch, batchId) =>
      foldBatch(batch.sparkSession, indexDir, batch, checkpointDir, batchId)
    }
  }

  /** One micro-batch as a FULL production night — the corpus-writing
    * face of the always-on ingest, shared by the text and media axes.
    * [[StoreBridge.foldBatch]] maintains the index alone; a deployment
    * whose stream IS the corpus source also needs each batch's admitted
    * rows written as training shards, and that is exactly the axis's
    * recorded night ([[graft.queries.DeltaAxis.nightRecorded]]): verdicts
    * vs the live index, intra-batch dedup, the shard write under a
    * `night=<streamId>.<batchId>` partition, and the index fold — one
    * delta scan, exactly-once per batch. The ledger is `_hwm`-compacted
    * ([[StoreBridge.NightRecordName]], `streamId:batchId`, monotonic-skip), so it
    * stays O(#streams) lines over the stream's life; the skip of a
    * replayed batch repairs a missing night marker exactly like a
    * rerun night. Consumers read the accumulating corpus with
    * [[graft.operators.Corpus.readCommitted]] and bound the file count
    * with its `compactNights`.
    *
    * The trade vs [[StoreBridge.foldBatch]]: no in-stream state — every
    * batch pays the full verdict core against the live index (|delta| +
    * |index|, the bootstrap-free posture), plus the shard write. Right
    * for a corpus ingest on a long trigger interval; wrong for a
    * high-frequency admission filter (use the axis's `ingest` there).
    * Empty batches are skipped unrecorded — the hwm of a later batch
    * covers them, and an unrecorded empty replay just re-skips. */
  protected def nightBatchOf(s: SparkSession, indexDir: String,
      corpusRoot: String, batch: DataFrame, streamId: String,
      batchId: Long): Boolean = {
    require(streamId.matches("[A-Za-z0-9._-]+"),
      s"streamId '$streamId' must be directory-safe ([A-Za-z0-9._-]+) " +
        "— it prefixes the night partitions this stream writes")
    val replay = StoreBridge.replayed(IndexGenerations.records(s, indexDir,
      StoreBridge.NightRecordName), streamId, batchId)
    if (!replay && batch.isEmpty) false
    else try axis.nightRecorded(s, indexDir, batch, s"$streamId.$batchId",
      Some(corpusRoot), StoreBridge.NightRecordName, s"$streamId:$batchId",
      alreadyDone = replay).isDefined
    finally graft.Pinned.releaseAll(s)
  }
}

object StoreBridge {

  /** The fold ledger — `_hwm`-suffixed, so the generation store carries
    * only the max batch id per stream across compact/rewrite (the skip
    * is monotonic: `done.max >= batchId`); the ledger stays O(#streams)
    * lines over an always-on stream's life instead of one line per
    * micro-batch forever
    * ([[graft.operators.IndexGenerations.HwmSuffix]]). */
  private[streaming] val RecordName = "stream_batch_hwm"

  /** The micro-night ledger ([[StoreBridge.nightBatchOf]]) — `_hwm`-suffixed like
    * [[RecordName]] and for the same reason: an always-on corpus-
    * writing ingest commits one night per micro-batch forever, and a
    * membership ledger would grow a line per batch. */
  private[streaming] val NightRecordName = "stream_night_hwm"

  /** The fold ledger's pre-hwm name: stores built before the rename
    * carry their replay evidence under this. Writes use [[RecordName]];
    * READS must union both or an upgraded store's checkpoint replay
    * finds no record and re-folds its last batch. The generation
    * store's compact/rewrite carry record files generically, so legacy
    * lines survive the lifecycle until their store is rebuilt. */
  private[streaming] val LegacyRecordName = "stream_batch"

  /** All fold-ledger lines for `indexDir`, current + legacy name. */
  private def foldRecords(s: SparkSession, indexDir: String): Seq[String] =
    IndexGenerations.records(s, indexDir, RecordName) ++
      IndexGenerations.records(s, indexDir, LegacyRecordName)

  /** Whether `streamId`'s ledger lines already cover `batchId`. */
  private def replayed(records: Seq[String], streamId: String,
      batchId: Long): Boolean = {
    val prefix = streamId + ":"
    val done = records.collect { case r if r.startsWith(prefix) =>
      r.stripPrefix(prefix).toLong }
    done.nonEmpty && done.max >= batchId
  }

  /** `spark.graft.stream.bootstrap` (default true) picks the first-
    * start posture, one conf for every axis. TRUE: hydrate streaming
    * state from the banded live index ([[StoreBridge.initialStateFrom]])
    * — every indexed row is flagged from the first micro-batch, but
    * first start pays O(|banded index|) state hydration (~(bands+1)·
    * |index| rows held by the state store). FALSE: start with empty
    * state — O(1) first start at any index size — and
    * [[StoreBridge.foldBatch]] compensates by judging each batch's
    * would-be uniques against the live index with the axis's FULL
    * nightly verdict core before folding, so the two modes admit the
    * same store content (StoreDedupSpec pins the equivalence). The
    * trade: bootstrap-free catches index dups at fold time, not
    * admission time — per-bucket admission verdicts name in-stream
    * winners only, and each batch pays one banded index join instead
    * of the one-time hydration.
    *
    * Hydrated at 10⁹-row index scale, prefer Spark's RocksDB state
    * store (`spark.sql.streaming.stateStore.providerClass` →
    * `...state.RocksDBStateStoreProvider`): the default HDFS-backed
    * provider holds every partition's state map ON-HEAP, so
    * (bands+1)·|index| entries eventually outgrow executor heaps,
    * while RocksDB keeps them off-heap/on-disk with the same
    * semantics (the bridge is provider-agnostic — spec-pinned). */
  private[streaming] def bootstrapEnabled(s: SparkSession): Boolean =
    graft.Conf.flag(s, "spark.graft.stream.bootstrap", true)

  /** Start `ds` as a checkpointed append stream running `f` on every
    * micro-batch. */
  private[streaming] def eachBatch[T](ds: Dataset[T], checkpointDir: String)(
      f: (Dataset[T], Long) => Unit): StreamingQuery =
    ds.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(f)
      .start()
}
