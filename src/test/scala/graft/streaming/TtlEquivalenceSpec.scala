package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.helium.SparkSuite
import graft.multimodal.Media.MediaRecord
import graft.operators.IndexGenerations
import graft.queries.DeltaAxis
import IncrementalDedup._

/** TTL is a parameter of one state kernel, not a second detector: on an
  * in-order stream whose whole span fits inside the horizon, every
  * detector's TTL face must give exactly the verdicts of its untimed
  * face — same rows, same multiplicity. Covers text, vec, fp, frame and
  * span detectors and the vector store axis through `ingest`. */
class TtlEquivalenceSpec extends SparkSuite {
  import spark.implicits._

  /** One day: far longer than any fixture stream below. */
  private val Horizon = Some(24L * 3600 * 1000)

  /** Event time of the `n`-th row: strictly increasing, well above the
    * initial watermark. */
  private def at(n: Long) =
    new java.sql.Timestamp(1704067200000L + n * 60000L)

  /** Drain `batches` through `plan` into a memory sink; the sorted rows. */
  private def drain[T: Encoder](name: String, batches: Seq[Seq[T]])(
      plan: Dataset[T] => Dataset[_]): Seq[String] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[T]
    val q = plan(input.toDS()).writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(name).start()
    try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    spark.table(name).collect().map(_.toString).sorted.toSeq
  }

  private def timedDocs(batches: Seq[Seq[Doc]]) =
    batches.map(_.map(d => TimedDoc(d.doc_id, d.text, at(d.doc_id))))

  private val base = "the quick brown fox jumps over the lazy dog and then " +
    "runs far away into the deep dark forest tonight"
  private val unrelated = "completely different words about spark query " +
    "engines processing massive distributed datasets with shuffles"

  test("text: detect with a long TTL equals detect without one") {
    val batches = Seq(Seq(Doc(1, base), Doc(2, unrelated)),
      Seq(Doc(3, base.replace("tonight", "today"))), Seq(Doc(4, base)))
    val plain = drain("eq_text", batches)(ds => detect(band(ds)))
    val ttl = drain("eq_text_ttl", timedDocs(batches))(ds =>
      detect(bandTimed(ds), ttlMs = Horizon))
    assert(plain.nonEmpty && plain == ttl, s"$plain vs $ttl")
  }

  test("span: detectSpanDups with a long TTL equals the untimed registry") {
    val c = (n: Int) => (0 until 8).map(i => s"e${n}_$i").mkString(" ")
    val batches = Seq(Seq(Doc(0, c(0) + " " + c(1)), Doc(1, c(2))),
      Seq(Doc(2, c(0) + " " + c(3)), Doc(3, c(4) + " " + c(4))),
      Seq(Doc(4, c(2) + " " + c(1))))
    val plain = drain("eq_span", batches)(ds => detectSpanDups(chunkSpans(ds)))
    val ttl = drain("eq_span_ttl", timedDocs(batches))(ds =>
      detectSpanDups(chunkSpansTimed(ds), ttlMs = Horizon))
    assert(plain.exists(_.contains("false")) && plain == ttl,
      s"$plain vs $ttl")
  }

  test("vec: detectVecDups with a long TTL equals the untimed detector") {
    val v = Seq.tabulate(64)(i => (math.sin(i + 1) * 0.5).toFloat)
    val other = Seq.tabulate(64)(i =>
      (math.cos(3 * i + 2) * (if (i % 2 == 0) 0.7 else -0.6)).toFloat)
    val batches = Seq(Seq(VecDoc(1, v), VecDoc(2, other)),
      Seq(VecDoc(3, v.map(_ * 1.01f))), Seq(VecDoc(4, other.map(-_))))
    val plain = drain("eq_vec", batches)(ds => detectVecDups(bandVectors(ds)))
    val ttl = drain("eq_vec_ttl",
      batches.map(_.map(d => TimedVecDoc(d.vec_id, d.embedding, at(d.vec_id)))))(
      ds => detectVecDups(bandVectorsTimed(ds), ttlMs = Horizon))
    assert(plain.nonEmpty && plain == ttl, s"$plain vs $ttl")
  }

  test("fp: detectFpDups with a long TTL equals the untimed detector " +
    "through the real image decode") {
    def png(f: (Int, Int) => Int, fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 8) {
        val g = f(x, y) & 0xFF
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, out)
      out.toByteArray
    }
    val a = (_: Int, y: Int) => if (y < 4) 40 else 210
    val b = (x: Int, _: Int) => if (x % 2 == 0) 30 else 220
    val batches = Seq(
      Seq(MediaRecord(1, "image", png(a, "png"), "crawl"),
        MediaRecord(2, "image", png(b, "png"), "crawl")),
      Seq(MediaRecord(3, "image", png(a, "bmp"), "crawl")),
      Seq(MediaRecord(4, "image", png(b, "bmp"), "crawl")))
    val plain = drain("eq_fp", batches)(ds => detectFpDups(bandFingerprints(ds)))
    val ttl = drain("eq_fp_ttl", batches.map(_.map(r =>
        TimedMediaRecord(r.media_id, r.kind, r.payload, r.source,
          at(r.media_id)))))(
      ds => detectFpDups(bandFingerprintsTimed(ds), ttlMs = Horizon))
    assert(plain.nonEmpty && plain == ttl, s"$plain vs $ttl")
  }

  test("frame: detectFrameDupCandidates with a long TTL equals the " +
    "untimed detector on the same banded rows") {
    val hA = 0x0123456789ABCL
    val hB = 0xFEDCBA9876543L
    def rows(id: Long, ph: Long, ts: java.sql.Timestamp) =
      (0 until 5).map(band => FpBanded(
        band * 4096L + ((ph >>> (band * 12)) & 0xFFFL), id, ph, ts))
    val ids = Seq(Seq(1L -> hA, 2L -> hB), Seq(3L -> hA), Seq(4L -> (hB ^ 1L)))
    val plain = drain("eq_frame",
      ids.map(_.flatMap { case (id, ph) => rows(id, ph, null) }))(
      ds => detectFrameDupCandidates(ds))
    val ttl = drain("eq_frame_ttl",
      ids.map(_.flatMap { case (id, ph) => rows(id, ph, at(id)) }))(
      ds => detectFrameDupCandidates(
        ds.withWatermark("ts", "0 seconds").as[FpBanded], ttlMs = Horizon))
    assert(plain.nonEmpty && plain == ttl, s"$plain vs $ttl")
  }

  test("store: StoreVecDedup.ingestTimed with a long TTL folds exactly " +
    "what ingest folds") {
    def oneHot(hot: Int, scale: Float = 1f): Seq[Float] =
      (0 until 64).map(i => if (i == hot) scale else 0f)
    def nearOf(hot: Int, noiseAt: Int): Seq[Float] =
      (0 until 64).map(i =>
        if (i == hot) 1f else if (i == noiseAt) 0.05f else 0f)
    // batch 3 leaves vec 11's buckets dataless (where an eviction would
    // fire); batch 4 re-sends a near copy of vec 11
    val batches = Seq(
      Seq(StoreVecDedup.VecRecord(10L, oneHot(1, scale = 2f)),
        StoreVecDedup.VecRecord(11L, oneHot(30))),
      Seq(StoreVecDedup.VecRecord(20L, nearOf(30, 45)),
        StoreVecDedup.VecRecord(21L, oneHot(40))),
      Seq(StoreVecDedup.VecRecord(22L, oneHot(50))),
      Seq(StoreVecDedup.VecRecord(23L, nearOf(30, 46))))
    def folded(timed: Boolean): Set[Long] = {
      implicit val sqlCtx = spark.sqlContext
      val idx = Files.createTempDirectory("eq_store_idx").toString
      DeltaAxis.Vec.build(spark, idx, (0L to 3L)
        .map(i => (i, oneHot(i.toInt), i % 7)).toDF("vec_id", "embedding", "label"))
      val ckpt = Files.createTempDirectory("eq_store_c").toString
      def run[T](in: MemoryStream[T], q: org.apache.spark.sql.streaming.StreamingQuery,
          bs: Seq[Seq[T]]): Unit =
        try bs.foreach { b => in.addData(b: _*); q.processAllAvailable() }
        finally q.stop()
      if (timed) {
        val in = MemoryStream[StoreVecDedup.TimedVecRecord]
        run(in, StoreVecDedup.ingestTimed(in.toDS(), idx, ckpt,
          ttlMs = Horizon.get), batches.map(_.map(r =>
          StoreVecDedup.TimedVecRecord(r.vec_id, r.embedding, at(r.vec_id)))))
      } else {
        val in = MemoryStream[StoreVecDedup.VecRecord]
        run(in, StoreVecDedup.ingest(in.toDS(), idx, ckpt), batches)
      }
      IndexGenerations.readCurrent(spark, idx)
        .select("vec_id").as[Long].collect().toSet
    }
    val plain = folded(timed = false)
    assert(plain == Set(0L, 1L, 2L, 3L, 11L, 21L, 22L), s"got $plain")
    assert(folded(timed = true) == plain)
  }
}
