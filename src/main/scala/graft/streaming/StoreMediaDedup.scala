package graft.streaming

import scala.reflect.runtime.universe.{TypeTag, typeTag}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.multimodal.Media
import graft.queries.DeltaAxis
import IncrementalDedup.TimedMediaRecord

/** The media axis of the [[StoreBridge]] — the junction between the
  * media ingest stream ([[IncrementalDedup.detectFpDups]]' world) and
  * the nightly m12 loop ([[graft.queries.DeltaAxis.Media]]'s advance
  * over the generation store). Same architecture as [[StoreDedup]], media fingerprints
  * instead of signatures:
  *
  *  1. BOOTSTRAP — a fresh deployment seeds bucket state from the m12
  *     index's live generation (kind + byte checksum + perceptual
  *     aHash60, ~50 B/asset — payloads never enter state);
  *  2. FOLD — each micro-batch's asset-level admitted uniques advance
  *     the store under the same recorded exactly-once discipline, so
  *     tonight's advance judges a re-upload of any
  *     stream-admitted asset `exact`.
  *
  * Fingerprint math is batch m12's own: [[Media.checksumOf]] (the m06
  * byte-checksum formula) and [[Media.imagePHashOf]] (the m07 decode +
  * aHash60), computed in one `mapPartitions` decode — payloads never
  * shuffle. Banding: m07's 5×12 pigeonhole buckets over the phash
  * (exact for hamming ≤ 4) plus an exact-arm bucket on
  * `(kind, checksum)`, mirroring [[StoreDedup]]'s `h:` arm. The id
  * column, bootstrap-free verdict core (exact + perceptual) and
  * intra-batch rule are [[graft.queries.DeltaAxis.Media]]'s;
  * `indexCheck` anti-joins on kind + checksum. */
object StoreMediaDedup extends StoreBridge {

  case class Fp(media_id: Long, kind: String, checksum: String, phash: Long)
  case class BandedFp(bucket: String, media_id: Long, kind: String,
      checksum: String, phash: Long, ts: java.sql.Timestamp) extends StoreRow
  case class Entry(media_id: Long, kind: String, checksum: String,
      phash: Long)

  /** Per-bucket admission outcome ([[StoreDedup.Admission]]'s shape);
    * asset-level uniqueness = no non-`unique` row for the media_id. */
  case class FpAdmission(media_id: Long, kind: String, checksum: String,
      phash: Long, bucket: String, verdict: String, winner: Long)

  type Banded = BandedFp
  type State = Entry
  type Out = FpAdmission
  protected val bandedTag: TypeTag[BandedFp] = typeTag[BandedFp]
  protected val stateTag: TypeTag[Entry] = typeTag[Entry]
  protected val outTag: TypeTag[FpAdmission] = typeTag[FpAdmission]
  protected def axis = DeltaAxis.Media
  protected val foldCols = Seq("media_id", "kind", "checksum", "phash")
  protected val indexKeys = Seq("kind", "checksum")

  private val MaxHamming = 4L

  /** The one decode pass: checksum + perceptual hash per crawled
    * payload, batch m12's formulas verbatim — the checksum is of the
    * 64-byte RESIZE (what m12Fingerprints stores), the phash of the
    * raw payload (what perceptualHashes hashes). */
  def fingerprints(media: Dataset[Media.MediaRecord]): Dataset[Fp] = {
    import media.sparkSession.implicits._
    media.mapPartitions(it => it.map(r => fpOf(r.media_id, r.kind, r.payload)))
  }

  private def fpOf(mediaId: Long, kind: String, payload: Array[Byte]): Fp =
    Fp(mediaId, kind, Media.checksumOf(Media.resizePayload(payload, 64)),
      Media.imagePHashOf(payload))

  /** m07's 5×12 pigeonhole banding (`p:<band·4096+nib>`) plus the
    * exact-arm bucket (`x:<kind>:<checksum>`) — disjoint prefixes, so
    * a byte-identical re-upload collides even when its perceptual
    * banding would not need to. */
  def bandFps(fps: Dataset[Fp]): Dataset[BandedFp] = {
    import fps.sparkSession.implicits._
    bandDf(BucketState.noTs(fps.toDF()), Seq("ts")).as[BandedFp]
  }

  /** [[fingerprints]] + [[bandFps]] for a timed crawl: the event
    * timestamp carried through the decode pass and a watermark armed,
    * feeding [[ingestTimed]]. */
  def bandFpsTimed(media: Dataset[TimedMediaRecord],
      watermarkDelay: String = "0 seconds"): Dataset[BandedFp] = {
    import media.sparkSession.implicits._
    val fps = media.mapPartitions(it => it.map(r =>
        (fpOf(r.media_id, r.kind, r.payload), r.ts)))
      .toDF("fp", "ts").select("fp.*", "ts")
    bandDf(fps.withWatermark("ts", watermarkDelay), Seq("ts"))
      .as[BandedFp]
  }

  protected def bandDf(fps: DataFrame, extra: Seq[String]): DataFrame = {
    val cols = (foldCols ++ extra).map(col)
    val pigeon = fps.select(
      explode(array((0 until 5).map(b =>
        concat(lit("p:"), (lit(b.toLong * 4096L) +
          shiftright(col("phash"), b * 12).bitwiseAND(lit(0xFFFL)))
          .cast("string"))): _*)).as("bucket") +: cols: _*)
    val exact = fps.select(
      concat(lit("x:"), col("kind"), lit(":"), col("checksum"))
        .as("bucket") +: cols: _*)
    pigeon.unionByName(exact)
  }

  /** Exact first (kind + checksum), then perceptual (hamming ≤ 4);
    * min-id winners — m12's verdict discipline at ingest cadence. */
  protected def step(rows: Seq[BandedFp], admitted0: List[Entry])
      : (List[Entry], Seq[FpAdmission]) = {
    var admitted = admitted0
    val out = scala.collection.mutable.ListBuffer.empty[FpAdmission]
    rows.sortBy(_.media_id).foreach { r =>
      def emit(verdict: String, winner: Long): Unit =
        out += FpAdmission(r.media_id, r.kind, r.checksum, r.phash,
          r.bucket, verdict, winner)
      val exact = admitted.iterator
        .filter(e => e.kind == r.kind && e.checksum == r.checksum)
        .map(_.media_id).minOption
      lazy val near = admitted.iterator
        .filter(e =>
          java.lang.Long.bitCount(e.phash ^ r.phash) <= MaxHamming)
        .map(_.media_id).minOption
      exact match {
        case Some(w) => emit("exact", w)
        case None => near match {
          case Some(w) => emit("near", w)
          case None =>
            admitted = Entry(r.media_id, r.kind, r.checksum, r.phash) ::
              admitted
            emit("unique", -1L)
        }
      }
    }
    (admitted, out.toList)
  }

  /** Assemble and start the store-backed media ingest: decode → band →
    * bootstrap from the m12 index → admit → fold each batch's uniques
    * back. The index must have a committed base generation
    * ([[graft.queries.DeltaAxis.build]] on the media axis). */
  def ingest(media: Dataset[Media.MediaRecord], indexDir: String,
      checkpointDir: String): StreamingQuery =
    ingestBanded(bandFps(fingerprints(media)), indexDir, checkpointDir, None)

  /** [[ingest]] with the event-time TTL state bound — the unbounded-
    * crawl posture: state holds one event-time horizon, the index
    * holds forever. */
  def ingestTimed(media: Dataset[TimedMediaRecord], indexDir: String,
      checkpointDir: String, ttlMs: Long,
      watermarkDelay: String = "0 seconds"): StreamingQuery =
    ingestBanded(bandFpsTimed(media, watermarkDelay), indexDir,
      checkpointDir, Some(ttlMs))

  /** One micro-batch as a FULL media production night
    * ([[StoreBridge.nightBatchOf]]) whose night is the media axis's:
    * verdicts vs the live m12 index, intra-batch dedup, a
    * `night=<streamId>.<batchId>` PAYLOAD partition under `corpusRoot`
    * (media_id-sharded), and the fingerprint fold — one decode pass.
    * A replayed batch skips byte-frozen and repairs a missing marker
    * for a dir that exists. */
  def nightBatch(s: SparkSession, indexDir: String, corpusRoot: String,
      media: Dataset[Media.MediaRecord], streamId: String,
      batchId: Long): Boolean =
    nightBatchOf(s, indexDir, corpusRoot, media.toDF(), streamId, batchId)

  /** Assemble and start the corpus-writing media ingest: each
    * micro-batch runs as one [[nightBatch]] production night, its
    * admitted payloads landing under `corpusRoot/night=<streamId>.<n>`.
    * The index must have a committed base generation. */
  def ingestNights(media: Dataset[Media.MediaRecord], indexDir: String,
      corpusRoot: String, checkpointDir: String, streamId: String)
      : StreamingQuery =
    StoreBridge.eachBatch(media, checkpointDir) { (batch, batchId) =>
      nightBatch(batch.sparkSession, indexDir, corpusRoot, batch,
        streamId, batchId)
    }
}
