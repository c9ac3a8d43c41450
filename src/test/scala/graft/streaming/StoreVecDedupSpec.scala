package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.Pinned
import graft.helium.SparkSuite
import graft.operators.IndexGenerations
import graft.queries.DeltaAxis
import StoreVecDedup._

/** The vector stream↔store junction ([[StoreVecDedup]]) — the third
  * axis of the bridge triad: ingest-time semantic dedup against the s24
  * index, stream uniques folded so the nightly vec advance catches their
  * re-embeddings. Fixtures: 64-dim one-hots (pairwise cosine 0), dups
  * as copies/perturbations (cosine ≈ 1). */
class StoreVecDedupSpec extends SparkSuite {
  import spark.implicits._

  private val Dims = 64

  private def oneHot(hot: Int, scale: Float = 1f): Seq[Float] =
    (0 until Dims).map(i => if (i == hot) scale else 0f)

  private def nearOf(hot: Int, noiseAt: Int): Seq[Float] =
    (0 until Dims).map(i =>
      if (i == hot) 1f else if (i == noiseAt) 0.05f else 0f)

  private def emb(rows: (Long, Seq[Float])*) =
    rows.map { case (id, v) => (id, v, id % 7) }
      .toDF("vec_id", "embedding", "label")

  private def indexIds(idx: String): Set[Long] =
    IndexGenerations.readCurrent(spark, idx)
      .select("vec_id").as[Long].collect().toSet

  test("stream-admitted vector uniques reach the s24 index; copies of " +
    "indexed and in-stream vectors fold nothing; the next nightly " +
    "advance judges a re-embedding near") {
    implicit val sqlCtx = spark.sqlContext
    val idx = Files.createTempDirectory("svd_idx").toString
    DeltaAxis.Vec.build(spark, idx,
      emb((0L to 3L).map(i => i -> oneHot(i.toInt)): _*))
    val in = MemoryStream[VecRecord]
    val q = ingest(in.toDS(), idx,
      Files.createTempDirectory("svd_c").toString)
    try {
      // batch 1: a scaled copy of indexed vec 1 (bootstrap catch) +
      // one new direction
      in.addData(VecRecord(10L, oneHot(1, scale = 2f)),
        VecRecord(11L, oneHot(30)))
      q.processAllAvailable()
      assert(indexIds(idx) == Set(0L, 1L, 2L, 3L, 11L),
        "batch-1 fold should admit exactly the new direction")
      // batch 2: a perturbation of the batch-1 STREAM unique — caught
      // by state, nothing folds
      in.addData(VecRecord(20L, nearOf(30, noiseAt = 45)))
      q.processAllAvailable()
      assert(indexIds(idx) == Set(0L, 1L, 2L, 3L, 11L),
        "a within-stream vector dup must not fold")
    } finally q.stop()
    // the junction contract on this axis
    val v = DeltaAxis.Vec.advance(spark, idx,
        emb(100L -> oneHot(30), 101L -> oneHot(40)))
      .select("vec_id", "verdict", "winner")
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    Pinned.releaseAll(spark)
    assert(v(100L) == (("near", 11L)),
      s"nightly s24 advance missed the stream-admitted vector: ${v(100L)}")
    assert(v(101L) == (("unique", -1L)))
  }

  test("a micro-batch with internal vector copies folds the min-id " +
    "survivor only; replayed (streamId, batchId) folds are skipped") {
    implicit val sqlCtx = spark.sqlContext
    val idx = Files.createTempDirectory("svd2_idx").toString
    DeltaAxis.Vec.build(spark, idx, emb(0L -> oneHot(0)))
    val in = MemoryStream[VecRecord]
    val q = ingest(in.toDS(), idx,
      Files.createTempDirectory("svd2_c").toString)
    try {
      in.addData(VecRecord(30L, oneHot(25)),
        VecRecord(31L, oneHot(25, scale = 2f)),
        VecRecord(32L, nearOf(25, noiseAt = 50)))
      q.processAllAvailable()
      assert(indexIds(idx) == Set(0L, 30L),
        "intra-batch vector copies leaked into the index")
    } finally q.stop()
    // replay protection at the foldBatch level
    val gens = IndexGenerations.committed(spark, idx)
    val admissions = bandVecs(Seq(VecRecord(40L, oneHot(33))).toDS()).toDF()
      .withColumn("verdict", org.apache.spark.sql.functions.lit("unique"))
      .withColumn("winner", org.apache.spark.sql.functions.lit(-1L))
    assert(foldBatch(spark, idx, admissions, "vck", 2L))
    assert(!foldBatch(spark, idx, admissions, "vck", 2L))
    assert(IndexGenerations.committed(spark, idx).size == gens.size + 1)
  }

  test("bootstrap-free mode on the vector axis: an index dup arrives " +
    "marked unique and the fold's full verdict join drops it; fresh " +
    "directions still fold") {
    implicit val sqlCtx = spark.sqlContext
    val idx = Files.createTempDirectory("svd3_idx").toString
    DeltaAxis.Vec.build(spark, idx,
      emb((0L to 2L).map(i => i -> oneHot(i.toInt)): _*))
    spark.conf.set("spark.graft.stream.bootstrap", "false")
    try {
      val in = MemoryStream[VecRecord]
      val q = ingest(in.toDS(), idx,
        Files.createTempDirectory("svd3_c").toString)
      try {
        // a perturbation of indexed vec 2 (NEAR-of-index — the case a
        // hash/equality check could never catch) + one new direction
        in.addData(VecRecord(50L, nearOf(2, noiseAt = 60)),
          VecRecord(51L, oneHot(35)))
        q.processAllAvailable()
        assert(indexIds(idx) == Set(0L, 1L, 2L, 51L),
          "bootstrap-free vec fold let a near-of-index through")
      } finally q.stop()
      assert(Pinned.outstanding(spark) == 0,
        "the vec stream fold leaked pinned frames")
    } finally spark.conf.unset("spark.graft.stream.bootstrap")
  }

  test("vector TTL eviction forgets in-stream state only; the " +
    "bootstrap re-catch survives a redeploy") {
    implicit val sqlCtx = spark.sqlContext
    val idx = Files.createTempDirectory("svd4_idx").toString
    DeltaAxis.Vec.build(spark, idx, emb(0L -> oneHot(0)))
    def ts(sec: Long) = new java.sql.Timestamp((100000L + sec) * 1000L)
    val in = MemoryStream[TimedVecRecord]
    val q = ingestTimed(in.toDS(), idx,
      Files.createTempDirectory("svd4_c").toString, ttlMs = 1000L)
    try {
      in.addData(TimedVecRecord(10L, oneHot(22), ts(0)))
      q.processAllAvailable()
      assert(indexIds(idx) == Set(0L, 10L))
      // push the watermark past the TTL, then a dataless visit fires
      // the eviction for vec 10's buckets
      in.addData(TimedVecRecord(11L, oneHot(23), ts(600)))
      q.processAllAvailable()
      in.addData(TimedVecRecord(12L, oneHot(24), ts(601)))
      q.processAllAvailable()
      // the re-arrival: state forgot it (TTL trade) — it re-admits in
      // stream, and the fold writes a duplicate row UNLESS the store
      // check is armed; here we assert the documented default: the
      // min-id verdict discipline keeps the duplicate row harmless
      in.addData(TimedVecRecord(13L, oneHot(22), ts(602)))
      q.processAllAvailable()
      val v = DeltaAxis.Vec.advance(spark, idx, emb(99L -> oneHot(22)))
        .select("vec_id", "verdict", "winner")
        .as[(Long, String, Long)].collect().head
      Pinned.releaseAll(spark)
      assert(v == ((99L, "near", 10L)),
        s"post-TTL verdict should resolve to the min-id winner: $v")
    } finally q.stop()
  }
}
