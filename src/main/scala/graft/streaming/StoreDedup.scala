package graft.streaming

import scala.reflect.runtime.universe.{TypeTag, typeTag}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.{MinHashAgg, TextFns}
import graft.queries.{DeltaAxis, TextDedupOps}

/** The text axis of the [[StoreBridge]] — the junction between the
  * always-on document ingest ([[IncrementalDedup]]'s world) and the
  * nightly d24 loop ([[graft.queries.DeltaAxis.Text]]'s advance over
  * the [[graft.operators.IndexGenerations]] generation store): a fresh
  * deployment bootstraps its band-bucket state from the d24 index, and
  * each micro-batch's doc-level admitted uniques fold back under the
  * recorded exactly-once discipline, so the next nightly advance
  * judges a copy of any stream-admitted doc `exact` — the contract
  * StoreDedupSpec pins.
  *
  * Signature math, banding parameters, and the exact/near thresholds
  * are `TextDedupOps.d24Sig` / d24's band constants — one definition,
  * so stream state buckets and the nightly band joins agree by
  * construction. State per bucket is the admitted (id, hash, signature)
  * entries — ~40 B/doc like the index itself, never text. The id
  * column, bootstrap-free verdict core (exact + near band join) and
  * intra-batch rule are [[graft.queries.DeltaAxis.Text]]'s; `indexCheck`
  * anti-joins on the content hash. */
object StoreDedup extends StoreBridge {

  case class IngestDoc(doc_id: Long, source: String, text: String)
  case class TimedIngestDoc(doc_id: Long, source: String, text: String,
      ts: java.sql.Timestamp)
  case class Entry(doc_id: Long, content_hash: String, sig: Seq[Long])
  case class BandedDoc(bucket: String, doc_id: Long, source: String,
      content_hash: String, sig: Seq[Long], ts: java.sql.Timestamp)
      extends StoreRow

  /** Per-bucket admission outcome; a doc emits one row per bucket it
    * lands in ([[IncrementalDedup]]'s per-bucket Verdict contract).
    * Doc-level uniqueness = no non-`unique` row for the doc_id — the
    * rule [[StoreBridge.foldBatch]] applies. */
  case class Admission(doc_id: Long, source: String, content_hash: String,
      sig: Seq[Long], bucket: String, verdict: String, winner: Long)

  type Banded = BandedDoc
  type State = Entry
  type Out = Admission
  protected val bandedTag: TypeTag[BandedDoc] = typeTag[BandedDoc]
  protected val stateTag: TypeTag[Entry] = typeTag[Entry]
  protected val outTag: TypeTag[Admission] = typeTag[Admission]
  protected def axis = DeltaAxis.Text
  protected val foldCols = Seq("doc_id", "source", "content_hash", "sig")
  protected val indexKeys = Seq("content_hash")

  /** d24's signature + banding over an ingest frame: one row per (LSH
    * band, doc) for signature-bearing docs, plus one EXACT-arm row per
    * doc bucketed on the content hash itself (prefix `h:` — disjoint
    * from band keys), so byte-identical docs collide even when too
    * short to shingle (d24's exact arm needs no signature). */
  def bandDocs(docs: Dataset[IngestDoc]): Dataset[BandedDoc] =
    bandIngest(BucketState.noTs(docs.toDF()))

  /** [[bandDocs]] with the event timestamp carried through and a
    * watermark armed, feeding [[ingestTimed]]. */
  def bandDocsTimed(docs: Dataset[TimedIngestDoc],
      watermarkDelay: String = "0 seconds"): Dataset[BandedDoc] =
    bandIngest(docs.toDF().withWatermark("ts", watermarkDelay))

  private def bandIngest(docs: DataFrame): Dataset[BandedDoc] = {
    import docs.sparkSession.implicits._
    graft.functions.HashSketch.register(docs.sparkSession)
    bandDf(TextDedupOps.d24SigCols(docs)
        .select("doc_id", "source", "content_hash", "sig", "ts"), Seq("ts"))
      .as[BandedDoc]
  }

  protected def bandDf(sigs: DataFrame, extra: Seq[String]): DataFrame = {
    val cols = foldCols ++ extra
    val lsh = sigs.filter(col("sig").isNotNull)
      .select(explode(array((0 until TextDedupOps.BANDS).map(b =>
        TextFns.bandKey(col("sig"), b, TextDedupOps.ROWS)): _*)).as("bucket")
        +: cols.map(col): _*)
    val hashArm = sigs
      .select(concat(lit("h:"), col("content_hash")).as("bucket")
        +: cols.map(col): _*)
    lsh.unionByName(hashArm)
  }

  /** One micro-batch of admissions against a bucket's entries. Exact
    * first (content hash), then near (signature agreement ≥ 500‰, d24's
    * threshold); winners are the min-id match, d24's discipline. */
  protected def step(rows: Seq[BandedDoc], admitted0: List[Entry])
      : (List[Entry], Seq[Admission]) = {
    var admitted = admitted0
    val out = scala.collection.mutable.ListBuffer.empty[Admission]
    rows.sortBy(_.doc_id).foreach { r =>
      def emit(verdict: String, winner: Long): Unit =
        out += Admission(r.doc_id, r.source, r.content_hash, r.sig,
          r.bucket, verdict, winner)
      val exact = admitted.iterator
        .filter(_.content_hash == r.content_hash).map(_.doc_id)
        .minOption
      lazy val near = admitted.iterator
        .filter(e => r.sig != null && e.sig != null && e.sig.nonEmpty &&
          MinHashAgg.estimateJaccardPm(e.sig, r.sig) >= 500)
        .map(_.doc_id).minOption
      exact match {
        case Some(w) => emit("exact", w)
        case None => near match {
          case Some(w) => emit("near", w)
          case None =>
            admitted = Entry(r.doc_id, r.content_hash, r.sig) :: admitted
            emit("unique", -1L)
        }
      }
    }
    (admitted, out.toList)
  }

  /** Assemble and start the store-backed document ingest: band →
    * bootstrap state from the d24 index → admit → fold each batch's
    * uniques back ([[StoreBridge.ingestBanded]]). State lives forever.
    * The index must have a committed base generation (build it with
    * [[graft.queries.DeltaAxis.build]] on the text axis first). */
  def ingest(docs: Dataset[IngestDoc], indexDir: String,
      checkpointDir: String): StreamingQuery =
    ingestBanded(bandDocs(docs), indexDir, checkpointDir, None)

  /** [[ingest]] with the event-time TTL state bound. */
  def ingestTimed(docs: Dataset[TimedIngestDoc], indexDir: String,
      checkpointDir: String, ttlMs: Long,
      watermarkDelay: String = "0 seconds"): StreamingQuery =
    ingestBanded(bandDocsTimed(docs, watermarkDelay), indexDir,
      checkpointDir, Some(ttlMs))

  /** One micro-batch as a full production night
    * ([[StoreBridge.nightBatchOf]]) whose night is the text axis's:
    * verdicts vs the live index, intra-batch dedup, quality gate,
    * packing, a `night=<streamId>.<batchId>` shard partition under
    * `corpusRoot`, and the index fold. */
  def nightBatch(s: SparkSession, indexDir: String,
      corpusRoot: String, docs: DataFrame, streamId: String,
      batchId: Long): Boolean =
    nightBatchOf(s, indexDir, corpusRoot, docs, streamId, batchId)

  /** Assemble and start the corpus-writing ingest: each micro-batch
    * runs as one [[nightBatch]] production night against `indexDir`,
    * its admitted docs landing under `corpusRoot/night=<streamId>.<n>`.
    * The index must have a committed base generation
    * ([[graft.queries.DeltaAxis.build]]). */
  def ingestNights(docs: Dataset[IngestDoc], indexDir: String,
      corpusRoot: String, checkpointDir: String, streamId: String)
      : StreamingQuery =
    StoreBridge.eachBatch(docs, checkpointDir) { (batch, batchId) =>
      nightBatch(batch.sparkSession, indexDir, corpusRoot, batch.toDF(),
        streamId, batchId)
    }
}
