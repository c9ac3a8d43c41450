package graft

import java.nio.file.Files

import graft.helium.SparkSuite
import graft.operators.IndexGenerations
import graft.queries.DeltaAxis

/** The nightly index-advance contract on the EMBEDDING axis — s24, the
  * d24/m12 lifecycle over quantized vectors: night 1 builds the base
  * index, night 2's delta is judged against it AND folds its admitted
  * uniques, night 3 catches a re-embedding of a night-2 unique.
  * Fixtures are 64-dim one-hot vectors (pairwise cosine 0) with planted
  * dups as copies / tiny perturbations (cosine ≈ 1 ≫ the 0.45
  * threshold). */
class VecAdvanceSpec extends SparkSuite {
  import spark.implicits._

  private val Dims = 64

  private def oneHot(hot: Int, scale: Float = 1f): Seq[Float] =
    (0 until Dims).map(i => if (i == hot) scale else 0f)

  /** One-hot plus a small second component — cosine vs the pure
    * one-hot = 1/sqrt(1+0.05²) ≈ 0.9988. */
  private def nearOf(hot: Int, noiseAt: Int): Seq[Float] =
    (0 until Dims).map(i =>
      if (i == hot) 1f else if (i == noiseAt) 0.05f else 0f)

  private def emb(rows: (Long, Seq[Float])*) =
    rows.map { case (id, v) => (id, v, id % 7) }
      .toDF("vec_id", "embedding", "label")

  private def indexIds(idx: String): Set[Long] =
    IndexGenerations.readCurrent(spark, idx)
      .select("vec_id").as[Long].collect().toSet

  test("three nights on the vector axis: delta verdicts against the " +
    "live index, uniques fold, a later night catches a re-embedding " +
    "of an earlier night's unique") {
    val idx = Files.createTempDirectory("s24_idx").toString
    DeltaAxis.Vec.build(spark, idx,
      emb((0L to 4L).map(i => i -> oneHot(i.toInt)): _*))
    assert(indexIds(idx) == Set(0L, 1L, 2L, 3L, 4L))

    // night 2: a copy of base vec 2 (scaled — same direction), a near
    // perturbation of base 3, and one genuinely new direction
    val v1 = DeltaAxis.Vec.advance(spark, idx, emb(
        10L -> oneHot(2, scale = 2f),
        11L -> nearOf(3, noiseAt = 40),
        12L -> oneHot(9)))
      .select("vec_id", "verdict", "winner")
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    Pinned.releaseAll(spark)
    assert(v1(10L) == (("near", 2L)), v1(10L))
    assert(v1(11L) == (("near", 3L)), v1(11L))
    assert(v1(12L) == (("unique", -1L)), v1(12L))
    assert(indexIds(idx) == Set(0L, 1L, 2L, 3L, 4L, 12L),
      "only the unique direction may fold")

    // night 3: a re-embedding of night-2's admitted unique — the
    // contract the read-only query face cannot deliver alone
    val v2 = DeltaAxis.Vec.advance(spark, idx,
        emb(20L -> nearOf(9, noiseAt = 50), 21L -> oneHot(13)))
      .select("vec_id", "verdict", "winner")
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    Pinned.releaseAll(spark)
    assert(v2(20L) == (("near", 12L)),
      s"night-3 missed night-2's admitted unique: ${v2(20L)}")
    assert(v2(21L) == (("unique", -1L)))
  }

  test("intra-night vector duplicates fold ONCE: min-id survivor, " +
    "verdicts unaffected, later nights resolve against the survivor") {
    val idx = Files.createTempDirectory("s24_intra").toString
    DeltaAxis.Vec.build(spark, idx,
      emb((0L to 2L).map(i => i -> oneHot(i.toInt)): _*))
    // three internal copies of one new direction — all judged unique
    // vs the index, but only min-id 30 folds
    val v = DeltaAxis.Vec.advance(spark, idx, emb(
        30L -> oneHot(20), 31L -> nearOf(20, noiseAt = 41),
        32L -> oneHot(20, scale = 3f)))
      .select("vec_id", "verdict").as[(Long, String)].collect().toMap
    Pinned.releaseAll(spark)
    assert(v == Map(30L -> "unique", 31L -> "unique", 32L -> "unique"), v)
    assert(indexIds(idx) == Set(0L, 1L, 2L, 30L),
      "intra-night vector dups leaked into the index")
    // copies of both kept and dropped variants hit the one survivor
    val v2 = DeltaAxis.Vec.advance(spark, idx,
        emb(40L -> oneHot(20), 41L -> nearOf(20, noiseAt = 41)))
      .select("vec_id", "verdict", "winner")
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    Pinned.releaseAll(spark)
    assert(v2(40L) == (("near", 30L)), v2(40L))
    assert(v2(41L) == (("near", 30L)), v2(41L))
  }

  test("s24Night is exactly-once per id on the shared night ledger; " +
    "a rerun of a committed night is a no-op") {
    val idx = Files.createTempDirectory("s24_night").toString
    DeltaAxis.Vec.build(spark, idx, emb(0L -> oneHot(0)))
    val d = emb(10L -> oneHot(30))
    val first = DeltaAxis.Vec.night(spark, idx, d, "v1")
    assert(first.isDefined)
    first.foreach(_.verdicts.count())
    Pinned.releaseAll(spark)
    assert(indexIds(idx) == Set(0L, 10L))
    val gens = IndexGenerations.committed(spark, idx)
    assert(DeltaAxis.Vec.night(spark, idx, d, "v1").isEmpty,
      "rerun of a committed vec night must skip")
    assert(IndexGenerations.committed(spark, idx) == gens)
  }
}
