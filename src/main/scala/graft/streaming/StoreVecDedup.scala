package graft.streaming

import scala.reflect.runtime.universe.{TypeTag, typeTag}

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.queries.{DeltaAxis, SimilarityOps}

/** The embedding axis of the [[StoreBridge]] — the junction between a
  * vector ingest stream ([[IncrementalDedup.detectVecDups]]' world) and
  * the nightly s24 loop ([[graft.queries.DeltaAxis.Vec]]'s advance over
  * the generation store). Completes the store-bridge triad (text /
  * media / vector):
  *
  *  1. BOOTSTRAP — a fresh deployment seeds bucket state from the s24
  *     index's live generation (vec_id + quantized vector + norm,
  *     never raw floats);
  *  2. FOLD — each micro-batch's vec-level admitted uniques advance
  *     the store under the recorded exactly-once discipline, so
  *     tonight's advance judges a re-embedding of any
  *     stream-admitted vector `near`.
  *
  * Banding and the verify are batch s24's own: one bucket per
  * (LSH table, 4-bit hyperplane signature) — `SimilarityOps.s24Bands`,
  * the s11 tables — and admission is the exact quantized-grid cosine
  * ≥ `SimilarityOps.VecDupCos` against the bucket's admitted entries,
  * min-id winner. No exact arm: a byte-identical embedding has cosine
  * 1.0 and collides in every table. The id column, bootstrap-free
  * verdict core and intra-batch rule are
  * [[graft.queries.DeltaAxis.Vec]]'s; `indexCheck` anti-joins on
  * quantized-vector equality. */
object StoreVecDedup extends StoreBridge {

  case class VecRecord(vec_id: Long, embedding: Seq[Float])
  case class TimedVecRecord(vec_id: Long, embedding: Seq[Float],
      ts: java.sql.Timestamp)
  case class BandedVec(bucket: String, vec_id: Long, qv: Seq[Long], n2: Long,
      ts: java.sql.Timestamp) extends StoreRow
  case class Entry(vec_id: Long, qv: Seq[Long], n2: Long)

  /** Per-bucket admission outcome ([[StoreDedup.Admission]]'s shape);
    * vec-level uniqueness = no non-`unique` row for the vec_id. */
  case class VecAdmission(vec_id: Long, qv: Seq[Long], n2: Long,
      bucket: String, verdict: String, winner: Long)

  type Banded = BandedVec
  type State = Entry
  type Out = VecAdmission
  protected val bandedTag: TypeTag[BandedVec] = typeTag[BandedVec]
  protected val stateTag: TypeTag[Entry] = typeTag[Entry]
  protected val outTag: TypeTag[VecAdmission] = typeTag[VecAdmission]
  protected def axis = DeltaAxis.Vec
  protected val foldCols = Seq("vec_id", "qv", "n2")
  protected val indexKeys = Seq("qv")

  /** One row per (LSH table, vec) with qv/n2 carried through — the
    * per-row explode a streaming plan needs (the batch verdicts use
    * the id-only band join instead; carrying the vector here is fine
    * because stream batches are small and nothing rejoins). */
  protected def bandDf(sigs: DataFrame, extra: Seq[String]): DataFrame = {
    graft.functions.HashSketch.register(sigs.sparkSession)
    sigs.select(
      explode(array(SimilarityOps.s24BucketCols: _*)).as("bucket")
        +: (foldCols ++ extra).map(col): _*)
  }

  /** s24's quantization + banding over an ingest frame: one row per
    * (LSH table, vec). */
  def bandVecs(vecs: Dataset[VecRecord]): Dataset[BandedVec] =
    bandIngest(BucketState.noTs(vecs.toDF()))

  /** [[bandVecs]] with the event timestamp carried through and a
    * watermark armed, feeding [[ingestTimed]]. */
  def bandVecsTimed(vecs: Dataset[TimedVecRecord],
      watermarkDelay: String = "0 seconds"): Dataset[BandedVec] =
    bandIngest(vecs.toDF().withWatermark("ts", watermarkDelay))

  private def bandIngest(vecs: DataFrame): Dataset[BandedVec] = {
    import vecs.sparkSession.implicits._
    graft.functions.DotQ.register(vecs.sparkSession)
    val sigs = vecs
      .withColumn("qv", graft.functions.VectorFns.qvec(col("embedding")))
      .withColumn("n2", graft.functions.VectorFns.norm2q(col("qv")))
    bandDf(sigs, Seq("ts")).as[BandedVec]
  }

  /** Exact cosine on the quantized grid — the scalar twin of batch
    * s24's `cosineQ(dotq(...))` verify. */
  private def cosOf(a: Seq[Long], na: Long, b: Seq[Long], nb: Long)
      : Double = {
    if (na == 0L || nb == 0L) return 0.0
    var dot = 0L
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { dot += a(i) * b(i); i += 1 }
    dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
  }

  /** One micro-batch of admissions against a bucket's entries — the
    * min-id cosine admission. */
  protected def step(rows: Seq[BandedVec], admitted0: List[Entry])
      : (List[Entry], Seq[VecAdmission]) = {
    var admitted = admitted0
    val out = scala.collection.mutable.ListBuffer.empty[VecAdmission]
    rows.sortBy(_.vec_id).foreach { r =>
      admitted.iterator
        .filter(e => cosOf(e.qv, e.n2, r.qv, r.n2) >=
          SimilarityOps.VecDupCos)
        .map(_.vec_id).minOption match {
        case Some(w) =>
          out += VecAdmission(r.vec_id, r.qv, r.n2, r.bucket, "near", w)
        case None =>
          admitted = Entry(r.vec_id, r.qv, r.n2) :: admitted
          out += VecAdmission(r.vec_id, r.qv, r.n2, r.bucket, "unique", -1L)
      }
    }
    (admitted, out.toList)
  }

  /** Assemble and start the store-backed vector ingest. The index must
    * have a committed base generation ([[graft.queries.DeltaAxis.build]]
    * on the vec axis). */
  def ingest(vecs: Dataset[VecRecord], indexDir: String,
      checkpointDir: String): StreamingQuery =
    ingestBanded(bandVecs(vecs), indexDir, checkpointDir, None)

  /** [[ingest]] with the event-time TTL state bound. */
  def ingestTimed(vecs: Dataset[TimedVecRecord], indexDir: String,
      checkpointDir: String, ttlMs: Long,
      watermarkDelay: String = "0 seconds"): StreamingQuery =
    ingestBanded(bandVecsTimed(vecs, watermarkDelay), indexDir,
      checkpointDir, Some(ttlMs))
}
