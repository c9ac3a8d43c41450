package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.functions.MinHashAgg
import graft.helium.SparkSuite
import IncrementalDedup._

class IncrementalDedupSpec extends SparkSuite {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and then " +
    "runs far away into the deep dark forest tonight"
  private val nearDup = base.replace("tonight", "today")
  private val unrelated = "completely different words about spark query " +
    "engines processing massive distributed datasets with shuffles"

  test("MinHashAgg merge equals signature of unioned sets; estimator sane") {
    val agg = new MinHashAgg(4)
    val s1 = Seq(5L, 9L, 2L, 7L)
    val s2 = Seq(3L, 11L, 4L, 1L)
    val merged = agg.finish(agg.merge(agg.reduce(agg.zero, s1), agg.zero.clone()
      match { case z => agg.reduce(z, s2) }))
    assert(merged == Seq(3L, 9L, 2L, 1L))
    assert(MinHashAgg.estimateJaccardPm(s1, s1) == 1000)
    assert(MinHashAgg.estimateJaccardPm(s1, s2) == 0)
  }

  test("streaming near-dup detection: dup flagged across micro-batches, " +
    "state persists, unrelated docs admitted") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    val verdicts = detect(band(input.toDS()))
    val q = verdicts.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("dedup_out").start()
    try {
      input.addData(Doc(1, base), Doc(2, unrelated))
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() == 0) // both admitted

      input.addData(Doc(3, nearDup)) // later batch: near-dup of doc 1
      q.processAllAvailable()
      val flagged = spark.table("dedup_out")
        .select("doc_id", "duplicateOf").distinct()
        .as[(Long, Long)].collect().toSet
      assert(flagged == Set((3L, 1L)))

      input.addData(Doc(4, base)) // exact dup, later still
      q.processAllAvailable()
      val flagged2 = spark.table("dedup_out")
        .select("doc_id", "duplicateOf").distinct()
        .as[(Long, Long)].collect().toSet
      assert(flagged2 == Set((3L, 1L), (4L, 1L)))
    } finally q.stop()
  }

  test("streaming span dedup: re-used spans cut across micro-batches and " +
    "stream verdicts equal batch d21's accounting on an in-order stream") {
    implicit val sqlCtx = spark.sqlContext
    // 6 docs, 16 tokens each (two 8-token chunks); doc 3 re-uses doc 0's
    // first chunk at an aligned position, doc 4 repeats its OWN chunk,
    // doc 5 is doc 1 verbatim — the d21 fixture shapes
    val c = (n: Int) => (0 until 8).map(i => s"v${n}_$i").mkString(" ")
    val texts = Seq(
      c(0) + " " + c(1), c(2) + " " + c(3), c(4) + " " + c(5),
      c(0) + " " + c(6), c(7) + " " + c(7), c(2) + " " + c(3))
    val input = MemoryStream[Doc]
    val q = detectSpanDups(chunkSpans(input.toDS()))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("span_out").start()
    try {
      // in doc_id order, split across three micro-batches
      input.addData(Doc(0, texts(0)), Doc(1, texts(1)))
      q.processAllAvailable()
      input.addData(Doc(2, texts(2)), Doc(3, texts(3)))
      q.processAllAvailable()
      input.addData(Doc(4, texts(4)), Doc(5, texts(5)))
      q.processAllAvailable()
      val verdicts = spark.table("span_out")
        .select("doc_id", "idx", "keep", "firstDoc")
        .as[(Long, Int, Boolean, Long)].collect()
      // a later-batch re-encounter is cut and names the original owner
      assert(verdicts.filter(v => v._1 == 3L).sortBy(_._2).toSeq ==
        Seq((3L, 0, false, 0L), (3L, 1, true, 3L)))
      // within-doc repeat: first position kept, second cut
      assert(verdicts.filter(v => v._1 == 4L).sortBy(_._2).toSeq ==
        Seq((4L, 0, true, 4L), (4L, 1, false, 4L)))
      // verbatim copy loses everything
      assert(verdicts.filter(v => v._1 == 5L).forall(!_._3))
      // batch/stream agreement: per-doc kept counts equal batch d21 on
      // the SAME corpus written as a documents table
      val dir = java.nio.file.Files.createTempDirectory("spancorp").toString
      texts.zipWithIndex
        .map { case (t, i) =>
          (i.toLong, t, "en", s"src${i % 2}", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      val batch = graft.SparkEntry.queries("d21_span_dedup")(spark, dir)
        .select("doc_id", "n_chunks", "n_kept")
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val streamed = verdicts.groupBy(_._1).map { case (id, vs) =>
        id -> ((vs.length.toLong, vs.count(_._3).toLong))
      }
      assert(streamed == batch,
        s"stream accounting $streamed != batch d21 $batch")
    } finally q.stop()
  }

  test("streaming substring dedup: gram anchors cut at unaligned offsets " +
    "across micro-batches, agreeing with batch d23's anchor counts") {
    implicit val sqlCtx = spark.sqlContext
    // the d23 fixture shapes: doc 1 copies doc 0's first 10 tokens
    // (anchors 0,1,2), doc 2 embeds 8 of them at unaligned offset 10
    // (anchor 10), doc 3 self-repeats (anchor 8)
    val a = (0 until 20).map(i => s"g$i")
    val texts = Seq(
      a.mkString(" "),
      (a.take(10) ++ (0 until 10).map(i => s"u$i")).mkString(" "),
      ((0 until 10).map(i => s"p$i") ++ a.take(8)).mkString(" "),
      ((0 until 8).map(i => s"b$i") ++ (0 until 8).map(i => s"b$i"))
        .mkString(" "))
    val input = MemoryStream[Doc]
    val q = detectSpanDups(gramSpans(input.toDS()))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("gram_out").start()
    try {
      input.addData(Doc(0, texts(0)), Doc(1, texts(1)))
      q.processAllAvailable()
      input.addData(Doc(2, texts(2)), Doc(3, texts(3)))
      q.processAllAvailable()
      val verdicts = spark.table("gram_out")
        .select("doc_id", "idx", "keep", "firstDoc")
        .as[(Long, Int, Boolean, Long)].collect()
      // doc 1: the 10-token head copy anchors at offsets 0..2, owner doc 0
      assert(verdicts.filter(v => v._1 == 1L && !v._3).sortBy(_._2).toSeq ==
        Seq((1L, 0, false, 0L), (1L, 1, false, 0L), (1L, 2, false, 0L)))
      // doc 2: ONE unaligned anchor at offset 10 (a later micro-batch)
      assert(verdicts.filter(v => v._1 == 2L && !v._3).toSeq ==
        Seq((2L, 10, false, 0L)))
      // doc 3: within-doc repeat anchors at offset 8, owned by itself
      assert(verdicts.filter(v => v._1 == 3L && !v._3).toSeq ==
        Seq((3L, 8, false, 3L)))
      // batch/stream agreement: cut counts per doc == batch d23 anchors
      val dir = java.nio.file.Files.createTempDirectory("gramcorp").toString
      texts.zipWithIndex
        .map { case (t, i) =>
          (i.toLong, t, "en", s"src${i % 2}", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      val batch = graft.SparkEntry.queries("d23_substring_dedup")(spark, dir)
        .select("doc_id", "n_anchors")
        .as[(Long, Long)].collect().toMap
      val streamed = verdicts.groupBy(_._1)
        .map { case (id, vs) => id -> vs.count(!_._3).toLong }
      assert(streamed == batch,
        s"stream anchors $streamed != batch d23 $batch")
    } finally q.stop()
  }

  test("streaming embedding dedup: near-identical vector flagged across batches") {
    implicit val sqlCtx = spark.sqlContext
    val dims = 64
    val v = Seq.tabulate(dims)(i => (math.sin(i + 1) * 0.5).toFloat)
    // tiny uniform scale: cosine with v is ~1.0 (scale-invariant)
    val vDup = v.map(x => x * 1.01f)
    val unrelated = Seq.tabulate(dims)(i =>
      (math.cos(3 * i + 2) * (if (i % 2 == 0) 0.7 else -0.6)).toFloat)
    val input = MemoryStream[VecDoc]
    val verdicts = detectVecDups(bandVectors(input.toDS()))
    val q = verdicts.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("vec_out").start()
    try {
      input.addData(VecDoc(1, v), VecDoc(2, unrelated))
      q.processAllAvailable()
      assert(spark.table("vec_out").count() == 0) // both admitted
      input.addData(VecDoc(3, vDup)) // next batch: near-dup of vec 1
      q.processAllAvailable()
      val flagged = spark.table("vec_out")
        .select("vec_id", "duplicateOf").distinct()
        .as[(Long, Long)].collect().toSet
      assert(flagged == Set((3L, 1L)), s"got $flagged")
    } finally q.stop()
  }

  test("TTL variant expires idle bucket state once the watermark passes the horizon") {
    implicit val sqlCtx = spark.sqlContext
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val input = MemoryStream[TimedDoc]
    // ttl = 10 minutes of event time, zero watermark delay
    val verdicts = detect(bandTimed(input.toDS()), ttlMs = Some(10L * 60 * 1000))
    val q = verdicts.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ttl_out").start()
    try {
      input.addData(TimedDoc(1, base, t(0)))
      q.processAllAvailable()
      input.addData(TimedDoc(2, nearDup, t(5))) // inside horizon: flagged
      q.processAllAvailable()
      input.addData(TimedDoc(3, unrelated, t(30))) // advances the watermark
      q.processAllAvailable()
      input.addData(TimedDoc(4, "totally fresh content mentioning llamas " +
        "and weather balloons drifting over quiet mountain villages", t(31))) // timeout fires this batch
      q.processAllAvailable()
      input.addData(TimedDoc(5, base, t(32))) // bucket expired: admitted fresh
      q.processAllAvailable()
      val flagged = spark.table("ttl_out")
        .select("doc_id", "duplicateOf").distinct()
        .as[(Long, Long)].collect().toSet
      assert(flagged == Set((2L, 1L)), s"got $flagged")
    } finally q.stop()
  }

  private def t(min: Int) =
    java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")

  test("span TTL: an expired span re-admits as a fresh first owner") {
    implicit val sqlCtx = spark.sqlContext
    val c = (n: Int) => (0 until 8).map(i => s"w${n}_$i").mkString(" ")
    val input = MemoryStream[TimedDoc]
    val q = detectSpanDups(chunkSpansTimed(input.toDS()),
        ttlMs = Some(10L * 60 * 1000))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("span_ttl_out").start()
    try {
      input.addData(TimedDoc(1, c(0), t(0)))
      q.processAllAvailable()
      input.addData(TimedDoc(2, c(0), t(5))) // inside horizon: cut
      q.processAllAvailable()
      input.addData(TimedDoc(3, c(1), t(30))) // advances the watermark
      q.processAllAvailable()
      input.addData(TimedDoc(4, c(2), t(31))) // timeout fires this batch
      q.processAllAvailable()
      input.addData(TimedDoc(5, c(0), t(32))) // registry expired: fresh
      q.processAllAvailable()
      val v = spark.table("span_ttl_out")
        .select("doc_id", "keep", "firstDoc")
        .as[(Long, Boolean, Long)].collect().toSet
      assert(v == Set((1L, true, 1L), (2L, false, 1L), (3L, true, 3L),
        (4L, true, 4L), (5L, true, 5L)), s"got $v")
    } finally q.stop()
  }

  test("vec TTL: an expired bucket re-admits a near-dup vector fresh") {
    implicit val sqlCtx = spark.sqlContext
    val dims = 64
    val v = Seq.tabulate(dims)(i => (math.sin(i + 1) * 0.5).toFloat)
    val vDup = v.map(x => x * 1.01f)
    val other = Seq.tabulate(dims)(i =>
      (math.cos(3 * i + 2) * (if (i % 2 == 0) 0.7 else -0.6)).toFloat)
    val input = MemoryStream[TimedVecDoc]
    val q = detectVecDups(bandVectorsTimed(input.toDS()),
        ttlMs = Some(10L * 60 * 1000))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("vec_ttl_out").start()
    try {
      input.addData(TimedVecDoc(1, v, t(0)))
      q.processAllAvailable()
      input.addData(TimedVecDoc(2, vDup, t(5))) // inside horizon: flagged
      q.processAllAvailable()
      input.addData(TimedVecDoc(3, other, t(30))) // advances the watermark
      q.processAllAvailable()
      input.addData(TimedVecDoc(4, other.map(-_), t(31))) // timeout fires
      q.processAllAvailable()
      input.addData(TimedVecDoc(5, vDup, t(32))) // expired: admitted fresh
      q.processAllAvailable()
      val flagged = spark.table("vec_ttl_out")
        .select("vec_id", "duplicateOf").distinct()
        .as[(Long, Long)].collect().toSet
      assert(flagged == Set((2L, 1L)), s"got $flagged")
    } finally q.stop()
  }

  test("fingerprint TTL: an expired fingerprint bucket re-admits a " +
    "re-encode fresh") {
    implicit val sqlCtx = spark.sqlContext
    val hA = 0x0123456789ABCL
    val hB = 0xFEDCBA9876543L // far from hA in hamming
    val hC = 0x0F0F0F0F0F0F0L
    val input = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val timed = bandHashes60Timed(
      input.toDF().toDF("media_id", "phash", "ts"))
    val q = detectFpDups(timed, ttlMs = Some(10L * 60 * 1000))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("fp_ttl_out").start()
    try {
      input.addData((1L, hA, t(0)))
      q.processAllAvailable()
      input.addData((2L, hA, t(5))) // hamming 0 inside horizon: flagged
      q.processAllAvailable()
      input.addData((3L, hB, t(30))) // advances the watermark
      q.processAllAvailable()
      input.addData((4L, hC, t(31))) // timeout fires this batch
      q.processAllAvailable()
      input.addData((5L, hA, t(32))) // expired: admitted fresh
      q.processAllAvailable()
      val flagged = spark.table("fp_ttl_out")
        .select("media_id", "duplicateOf").distinct()
        .as[(Long, Long)].collect().toSet
      assert(flagged == Set((2L, 1L)), s"got $flagged")
    } finally q.stop()
  }

  test("frame-candidate TTL: a transcode of a clip older than the " +
    "horizon is no longer flagged") {
    implicit val sqlCtx = spark.sqlContext
    val hA = 0x0123456789ABCL
    val hB = 0xFEDCBA9876543L
    val hC = 0x0F0F0F0F0F0F0L
    val input = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val timed = bandHashes60Timed(
      input.toDF().toDF("media_id", "phash", "ts"))
    val q = detectFrameDupCandidates(timed, ttlMs = Some(10L * 60 * 1000))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("frame_ttl_out").start()
    try {
      input.addData((1L, hA, t(0)))
      q.processAllAvailable()
      input.addData((2L, hA, t(5))) // inside horizon: flagged against 1
      q.processAllAvailable()
      input.addData((3L, hB, t(30))) // advances the watermark
      q.processAllAvailable()
      input.addData((4L, hC, t(31))) // timeout fires this batch
      q.processAllAvailable()
      input.addData((5L, hA, t(32))) // 1 and 2 aged out: not flagged
      q.processAllAvailable()
      val flagged = spark.table("frame_ttl_out")
        .select("media_id", "duplicateOf").distinct()
        .as[(Long, Long)].collect().toSet
      assert(flagged == Set((2L, 1L)), s"got $flagged")
    } finally q.stop()
  }

  private def img8(f: (Int, Int) => Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8) {
      val v = f(x, y) & 0xFF
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    img
  }
  private def encode(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, out)
    out.toByteArray
  }

  test("streaming perceptual dedup: a RE-ENCODED image arriving in a later " +
    "micro-batch is flagged (byte checksums never see it)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.multimodal.Media.MediaRecord
    // two genuinely different patterns (half-rows vs odd-columns: far in
    // hamming), each encoded as a real image container
    val a = img8((_, y) => if (y < 4) 40 else 210)
    val b = img8((x, _) => if (x % 2 == 0) 30 else 220)
    val input = MemoryStream[MediaRecord]
    val verdicts = detectFpDups(bandFingerprints(input.toDS()))
    val q = verdicts.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("fp_out").start()
    try {
      input.addData(MediaRecord(1, "image", encode(a, "png"), "crawl"),
        MediaRecord(2, "image", encode(b, "png"), "crawl"))
      q.processAllAvailable()
      assert(spark.table("fp_out").count() == 0) // both admitted

      // later micro-batch: the SAME pixels in a different container —
      // different bytes (m06's checksum can't pair them), same decoded
      // fingerprint
      input.addData(MediaRecord(3, "image", encode(a, "bmp"), "crawl"))
      q.processAllAvailable()
      val flagged = spark.table("fp_out")
        .select("media_id", "duplicateOf", "hamming").distinct()
        .as[(Long, Long, Long)].collect().toSet
      assert(flagged == Set((3L, 1L, 0L)), s"got $flagged")
    } finally q.stop()
  }

  test("timed perceptual ingest: a re-encode inside the horizon is " +
    "flagged through the REAL decode; after expiry it re-admits") {
    implicit val sqlCtx = spark.sqlContext
    val a = img8((_, y) => if (y < 4) 40 else 210)
    val b = img8((x, _) => if (x % 2 == 0) 30 else 220)
    val input = MemoryStream[TimedMediaRecord]
    val q = detectFpDups(bandFingerprintsTimed(input.toDS()),
        ttlMs = Some(10L * 60 * 1000))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("fp_timed_out").start()
    try {
      input.addData(TimedMediaRecord(1, "image", encode(a, "png"), "crawl", t(0)))
      q.processAllAvailable()
      // same pixels, different container, inside the horizon: flagged
      input.addData(TimedMediaRecord(2, "image", encode(a, "bmp"), "crawl", t(5)))
      q.processAllAvailable()
      input.addData(TimedMediaRecord(3, "image", encode(b, "png"), "crawl", t(30)))
      q.processAllAvailable()
      input.addData(TimedMediaRecord(4, "image", encode(b, "bmp"), "crawl", t(31)))
      q.processAllAvailable() // timeout fires for clip 1's buckets
      // the same re-encode again — original aged out: admitted fresh
      input.addData(TimedMediaRecord(5, "image", encode(a, "bmp"), "crawl", t(32)))
      q.processAllAvailable()
      val flagged = spark.table("fp_timed_out")
        .select("media_id", "duplicateOf").distinct()
        .as[(Long, Long)].collect().toSet
      assert(flagged == Set((2L, 1L), (4L, 3L)), s"got $flagged")
    } finally q.stop()
  }

  test("streaming acoustic dedup: a bit-depth RE-ENCODE arriving in a " +
    "later micro-batch is flagged; an unrelated envelope is admitted") {
    implicit val sqlCtx = spark.sqlContext
    import graft.multimodal.Media
    def wav16(s: Array[Int]): Array[Byte] = {
      import javax.sound.sampled._
      val fmt = new AudioFormat(8000f, 16, 1, true, false)
      val pcm = new Array[Byte](s.length * 2)
      for (i <- s.indices) {
        val v = (s(i) - 128) << 8
        pcm(2 * i) = (v & 0xFF).toByte
        pcm(2 * i + 1) = ((v >> 8) & 0xFF).toByte
      }
      val stream = new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, s.length.toLong)
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(stream, AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    val s16 = Array.tabulate(1280)(i =>
      128 + (if ((i / 20) % 2 == 0) 90 else -90))
    val input = MemoryStream[Media.MediaRecord]
    val q = detectFpDups(bandAudioFingerprints(input.toDS()))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("audio_out").start()
    try {
      // first batch: the original 16-bit clip + an inverted envelope
      input.addData(
        Media.MediaRecord(1L, "audio", wav16(s16), "mic"),
        Media.MediaRecord(2L, "audio", wav16(s16.map(v => 256 - v)), "mic"))
      q.processAllAvailable()
      assert(spark.table("audio_out").count() == 0) // both admitted
      // later batch: the SAME waveform re-encoded at 8-bit — different
      // bytes, same real-decoded envelope
      input.addData(Media.MediaRecord(3L, "audio",
        Media.wavFromBytes(s16.map(_.toByte)), "mic"))
      q.processAllAvailable()
      val flagged = spark.table("audio_out")
        .select("media_id", "duplicateOf", "hamming").distinct()
        .as[(Long, Long, Long)].collect().toSet
      assert(flagged == Set((3L, 1L, 0L)), s"got $flagged")
    } finally q.stop()
  }

  test("streaming MJPEG copy-candidates: a second-generation re-encode " +
    "arriving later is flagged through the AVI demux arm; unrelated " +
    "content is not") {
    implicit val sqlCtx = spark.sqlContext
    import graft.multimodal.Media
    def jpegFrame(phase: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        16, 12, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until 12; x <- 0 until 16)
        img.getRaster.setSample(x, y, 0, ((x * 16 + y * 3 + phase) % 256))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpeg", out)
      out.toByteArray
    }
    val aFrames = (0 until 8).map(jpegFrame(_))
    val bFrames = aFrames.map { f => // second-generation re-encode
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(f))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpeg", out)
      out.toByteArray
    }
    val cFrames = (0 until 8).map(i => jpegFrame(128 + 7 * i))
    val input = MemoryStream[Media.MediaRecord]
    val q = detectFrameDupCandidates(
      bandFrameFingerprintsMjpeg(input.toDS(), stride = 1))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("mjpeg_out").start()
    try {
      input.addData(Media.MediaRecord(1L, "video",
        Media.aviFromJpegFrames(aFrames, 16, 12), "crawl"))
      q.processAllAvailable()
      assert(spark.table("mjpeg_out").count() == 0) // original admitted
      input.addData(
        Media.MediaRecord(2L, "video",
          Media.aviFromJpegFrames(bFrames, 16, 12), "crawl"),
        Media.MediaRecord(3L, "video",
          Media.aviFromJpegFrames(cFrames, 16, 12), "crawl"))
      q.processAllAvailable()
      val flagged = spark.table("mjpeg_out")
        .select("media_id").distinct().as[Long].collect().toSet
      assert(flagged == Set(2L), s"got $flagged")
    } finally q.stop()
  }

  test("streaming video copy-candidates: a transcode arriving later is " +
    "flagged, and the candidate set covers every batch m09 pair") {
    implicit val sqlCtx = spark.sqlContext
    import graft.multimodal.Media
    val base = (0 until 576).map(i => ((i * 31 + 17) % 256).toByte).toArray
    def corrupt(frames: Seq[Int]): Array[Byte] = {
      val arr = base.clone()
      frames.foreach(f => (0 until 64).foreach(p =>
        arr(f * 64 + p) = (~arr(f * 64 + p)).toByte))
      arr
    }
    def invertedGif(nFrames: Int): Array[Byte] = {
      val grays = Array.tabulate(256)(j => (255 - j).toByte)
      val cm = new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
      val out = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(out)
      val w = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      try {
        w.setOutput(ios)
        w.prepareWriteSequence(null)
        def b(i: Int): Int = base(i % base.length) & 0xFF
        (0 until nFrames).foreach { f =>
          val img = new java.awt.image.BufferedImage(
            8, 8, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
          (0 until 64).foreach(p =>
            img.getRaster.setSample(p % 8, p / 8, 0, 255 - b(f * 64 + p)))
          w.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        }
        w.endWriteSequence()
      } finally { w.dispose(); ios.close() }
      out.toByteArray
    }
    // same shapes as the m09 MediaSpec fixture: 9 frames, sampled 0/4/8
    val recs = Seq(
      Media.MediaRecord(1L, "video", Media.gifFromBytes(base, 9), "crawl"),
      Media.MediaRecord(2L, "video", invertedGif(9), "crawl"),
      Media.MediaRecord(3L, "video",
        Media.gifFromBytes(corrupt(Seq(8)), 9), "crawl"),
      Media.MediaRecord(4L, "video",
        Media.gifFromBytes(corrupt(Seq(4, 8)), 9), "crawl"))
    val input = MemoryStream[Media.MediaRecord]
    val q = detectFrameDupCandidates(bandFrameFingerprints(input.toDS()))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("vidcand_out").start()
    try {
      input.addData(recs(0))
      q.processAllAvailable()
      assert(spark.table("vidcand_out").count() == 0) // first clip admitted
      input.addData(recs(1), recs(2)) // transcode + 1-frame corruption
      q.processAllAvailable()
      input.addData(recs(3)) // 2-frame corruption: still matches at pos 0
      q.processAllAvailable()
      val flagged = spark.table("vidcand_out")
        .select("media_id").distinct().as[Long].collect().toSet
      // the candidate set must cover every later clip of a batch m09 pair
      val m09Later = graft.queries.MultimodalOps.frameNearDupPairs(
        Media.frameHashes(recs.toDS(), stride = 4).toDF())
        .select("b_id").as[Long].collect().toSet
      assert(m09Later.subsetOf(flagged),
        s"prefilter missed m09 pairs: ${m09Later -- flagged}")
      assert(flagged == Set(2L, 3L, 4L), s"got $flagged")
    } finally q.stop()
  }

  test("perceptual batch/stream agreement on the documents fixture: " +
    "stream verdicts are exactly m07 pairs, and every dup of an " +
    "unflagged cluster head is caught") {
    implicit val sqlCtx = spark.sqlContext
    import graft.multimodal.Media
    val sf = "/root/testdata/sf0.001"
    val recs = Media.mediaFromDocuments(
      spark.read.parquet(s"$sf/documents.parquet")).collect().toSeq
    val batchPairs = graft.SparkEntry
      .queries("m07_perceptual_neardup")(spark, sf)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val input = MemoryStream[Media.MediaRecord]
    val verdicts = detectFpDups(bandFingerprints(input.toDS()))
    val q = verdicts.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("fp_agree_out").start()
    try {
      input.addData(recs: _*)
      q.processAllAvailable()
      val streamed = spark.table("fp_agree_out")
        .select("media_id", "duplicateOf")
        .as[(Long, Long)].collect().toSet
      // precision: every stream verdict is a batch pair (unordered)
      streamed.foreach { case (d, of) =>
        assert(batchPairs((math.min(d, of), math.max(d, of))),
          s"stream flagged ($d, $of) — not an m07 pair")
      }
      // recall against cluster heads: a doc with no smaller partner is
      // never flagged, so it stays admitted in ALL its buckets; every
      // larger doc m07 pairs with such a head MUST be flagged (banding
      // is exact at hamming <= 4, so the head is visible to it)
      val hasSmaller = batchPairs.map(_._2)
      val heads = batchPairs.map(_._1) -- hasSmaller
      val mustFlag = batchPairs.collect { case (a, b) if heads(a) => b }
      val flaggedIds = streamed.map(_._1)
      mustFlag.foreach(d => assert(flaggedIds(d),
        s"doc $d pairs with an admitted cluster head but was not flagged"))
      assert(batchPairs.nonEmpty && mustFlag.nonEmpty,
        "agreement vacuous: fixture produced no perceptual pairs")
    } finally q.stop()
  }
}
