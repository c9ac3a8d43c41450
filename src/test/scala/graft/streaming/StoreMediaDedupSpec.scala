package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.Pinned
import graft.helium.SparkSuite
import graft.multimodal.Media
import graft.operators.IndexGenerations
import graft.queries.DeltaAxis

/** The media stream↔store junction ([[StoreMediaDedup]]): ingest-time
  * admissions against the m12 fingerprint index, stream uniques folded
  * so the nightly media advance catches their re-uploads. Fixtures follow
  * the m12 perceptual-distinctness discipline: visually distinct
  * payload families (different letters, lengths, shapes), because
  * same-shape token families render within the phash near threshold. */
class StoreMediaDedupSpec extends SparkSuite {
  import spark.implicits._

  private def freshText(p: String): String =
    (0 until 40).map(i => s"$p$i").mkString(" ")

  private def docsDf(rows: (Long, String)*) =
    rows.map { case (id, t) => (id, t, "en", s"src${id % 2}", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  private def mediaOf(rows: (Long, String)*) =
    Media.mediaFromDocuments(docsDf(rows: _*))

  private def indexIds(idx: String): Set[Long] =
    IndexGenerations.readCurrent(spark, idx)
      .select("media_id").as[Long].collect().toSet

  test("stream-admitted media uniques reach the m12 index; the next " +
    "nightly advance judges a re-upload exact; index dups fold nothing") {
    implicit val sqlCtx = spark.sqlContext
    val idx = Files.createTempDirectory("smd_idx").toString
    DeltaAxis.Media.build(spark, idx,
      mediaOf((0L to 5L).map(i => i -> freshText(s"smb${i}w")): _*))

    val uniquePayload = (0 until 9).map(i => s"QQQQQQQ$i RR").mkString(" | ")
    val in = MemoryStream[Media.MediaRecord]
    val q = StoreMediaDedup.ingest(in.toDS(), idx,
      Files.createTempDirectory("smd_c").toString)
    try {
      // batch 1: a byte-identical re-upload of indexed asset 2 (id 200
      // shares its kind — ids congruent mod 3) + one genuinely new
      // asset; only the new one folds
      val copyOfBase = mediaOf(200L -> freshText("smb2w")).collect().head
      val fresh = mediaOf(100L -> uniquePayload).collect().head
      in.addData(copyOfBase, fresh)
      q.processAllAvailable()
      assert(indexIds(idx) == Set(0L, 1L, 2L, 3L, 4L, 5L, 100L),
        "batch-1 fold should admit exactly the new asset")

      // batch 2: a re-upload of the batch-1 STREAM unique — state
      // catches it, nothing new folds
      in.addData(mediaOf(103L -> uniquePayload).collect().head)
      q.processAllAvailable()
      assert(indexIds(idx) == Set(0L, 1L, 2L, 3L, 4L, 5L, 100L),
        "a within-stream media dup must not fold")
    } finally q.stop()

    // tonight's batch loop: a re-upload of the stream-admitted asset is
    // exact against the advanced store
    val v = DeltaAxis.Media.advance(spark, idx,
        mediaOf(106L -> uniquePayload))
      .select("media_id", "verdict", "winner")
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    Pinned.releaseAll(spark)
    assert(v(106L) == (("exact", 100L)),
      s"nightly m12 advance missed the stream-admitted asset: ${v(106L)}")
  }

  test("a media micro-batch with an internal payload copy folds one " +
    "fingerprint; replayed batches are skipped") {
    implicit val sqlCtx = spark.sqlContext
    val idx = Files.createTempDirectory("smd2_idx").toString
    DeltaAxis.Media.build(spark, idx,
      mediaOf(0L -> freshText("smc0k")))
    val t = (0 until 11).map(i => s"TTTTTTT$i SS").mkString(" | ")
    val in = MemoryStream[Media.MediaRecord]
    val q = StoreMediaDedup.ingest(in.toDS(), idx,
      Files.createTempDirectory("smd2_c").toString)
    try {
      // 310 and 313 share kind (mod 3) and payload — intra-batch pair
      in.addData(mediaOf(310L -> t, 313L -> t).collect(): _*)
      q.processAllAvailable()
      assert(indexIds(idx) == Set(0L, 310L),
        "intra-batch media copies leaked into the index")
    } finally q.stop()
    // replay protection at the foldBatch level
    val gens = IndexGenerations.committed(spark, idx)
    val admissions = StoreMediaDedup.bandFps(StoreMediaDedup.fingerprints(
        mediaOf(400L -> (0 until 8).map(i => s"VVVVVVV$i ZZ")
          .mkString(" | ")))).toDF()
      .withColumn("verdict", org.apache.spark.sql.functions.lit("unique"))
      .withColumn("winner", org.apache.spark.sql.functions.lit(-1L))
    assert(StoreMediaDedup.foldBatch(spark, idx, admissions, "mck", 4L))
    assert(!StoreMediaDedup.foldBatch(spark, idx, admissions, "mck", 4L))
    assert(IndexGenerations.committed(spark, idx).size == gens.size + 1)
  }

  test("media TTL eviction forgets in-stream state only: with " +
    "indexCheck on, a post-horizon re-upload folds no duplicate " +
    "fingerprint row") {
    implicit val sqlCtx = spark.sqlContext
    val idx = Files.createTempDirectory("smd3_idx").toString
    DeltaAxis.Media.build(spark, idx, mediaOf(0L -> freshText("smt0j")))
    spark.conf.set("spark.graft.stream.indexCheck", "true")
    // keep event times well above epoch 0: the initial watermark IS 0,
    // and a first-batch row at exactly the watermark is dropped late
    def ts(sec: Long) = new java.sql.Timestamp((100000L + sec) * 1000L)
    def timed(sec: Long, rows: (Long, String)*) =
      mediaOf(rows: _*).collect().map(r =>
        IncrementalDedup.TimedMediaRecord(r.media_id, r.kind, r.payload,
          r.source, ts(sec)))
    val in = MemoryStream[IncrementalDedup.TimedMediaRecord]
    val q = StoreMediaDedup.ingestTimed(in.toDS(), idx,
      Files.createTempDirectory("smd3_c").toString, ttlMs = 1000L)
    try {
      // distinct payload families so the only matches are planted ones
      val uY = (0 until 9).map(i => s"GGGGGGG$i HY").mkString(" | ")
      in.addData(timed(0, 10L -> uY): _*)
      q.processAllAvailable()
      assert(indexIds(idx) == Set(0L, 10L))
      // push the watermark far past the TTL… (families measured
      // pairwise-distinct: hamming ≥ 26, 0 shared pigeonhole bands —
      // same-SHAPE "X×7 i YZ" families land within the near threshold
      // across kinds and would both misjudge and keep refreshing uY's
      // buckets)
      in.addData(timed(600,
        11L -> (0 until 25).map(i => s"m$i xylophone$i").mkString(" ")): _*)
      q.processAllAvailable()
      // …and let a dataless trigger fire the timeout for uY's buckets
      in.addData(timed(601,
        12L -> (0 until 60).map(i => s"wqz${i}abcdefgh").mkString(",")): _*)
      q.processAllAvailable()
      // the re-upload (13 ≡ 10 mod 3 shares the kind): state has
      // forgotten it, so it is re-admitted (the TTL trade) — but the
      // index check suppresses the duplicate fold
      in.addData(timed(602, 13L -> uY): _*)
      q.processAllAvailable()
      assert(indexIds(idx) == Set(0L, 10L, 11L, 12L),
        "TTL re-upload re-folded an already-indexed asset")
    } finally {
      q.stop()
      spark.conf.unset("spark.graft.stream.indexCheck")
    }
  }

  test("ingestNights: each media micro-batch lands its admitted " +
    "payloads as a committed corpus night AND folds the index; " +
    "replays and empty batches leave nothing") {
    implicit val sqlCtx = spark.sqlContext
    val idx = Files.createTempDirectory("smn_idx").toString
    val corpus = Files.createTempDirectory("smn_corpus").toString
    DeltaAxis.Media.build(spark, idx,
      mediaOf((0L to 5L).map(i => i -> freshText(s"snb${i}w")): _*))

    // distinct SHAPES, not just distinct letters — same-shape families
    // render within the phash near threshold (the fixture discipline)
    val p1 = (0 until 9).map(i => s"QQQQQQQ$i SA").mkString(" | ")
    val p2 = (0 until 25).map(i => s"n$i marimba$i").mkString(" ")
    val in = MemoryStream[Media.MediaRecord]
    val q = StoreMediaDedup.ingestNights(in.toDS(), idx, corpus,
      Files.createTempDirectory("smn_c").toString, "mcrawl")
    try {
      // batch 0: a re-upload of indexed asset 2 (same kind, ids
      // congruent mod 3) + one fresh payload
      in.addData(mediaOf(200L -> freshText("snb2w")).collect().head,
        mediaOf(100L -> p1).collect().head)
      q.processAllAvailable()
      // batch 1: a re-upload of batch 0's admitted asset + one fresh
      in.addData(mediaOf(103L -> p1).collect().head,
        mediaOf(202L -> p2).collect().head)
      q.processAllAvailable()
    } finally q.stop()

    assert(indexIds(idx) == Set(0L, 1L, 2L, 3L, 4L, 5L, 100L, 202L),
      "the media micro-nights folded the wrong admitted set")
    assert(graft.operators.Corpus.liveNights(spark, corpus) ==
      Seq("mcrawl.0", "mcrawl.1"))
    val served = graft.operators.Corpus.readCommitted(spark, corpus)
    assert(served.select("media_id").as[Long].collect().toSet ==
      Set(100L, 202L),
      "the payload increments disagree with the index folds")

    // replay of batch 1: hwm-covered, root byte-frozen; empty batch 2:
    // skipped unrecorded
    import scala.jdk.CollectionConverters._
    def files() = java.nio.file.Files
      .walk(java.nio.file.Paths.get(corpus)).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(p => p.toString -> java.nio.file.Files.size(p))
      .toSeq.sortBy(_._1)
    val frozen = files()
    assert(!StoreMediaDedup.nightBatch(spark, idx, corpus,
      mediaOf(202L -> p2), "mcrawl", 1L))
    assert(!StoreMediaDedup.nightBatch(spark, idx, corpus,
      mediaOf(), "mcrawl", 2L))
    assert(files() == frozen, "a replayed/empty media night wrote")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$corpus/night=mcrawl.2")))
    assert(Pinned.outstanding(spark) == 0,
      "the media micro-night fold leaked pinned frames")
  }
}
