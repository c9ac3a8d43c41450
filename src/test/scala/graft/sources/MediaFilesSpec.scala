package graft.sources

import java.nio.file.{Files, Paths}

import graft.helium.SparkSuite
import graft.multimodal.Media

/** The asset drop-directory contract: files arrive as MediaRecords
  * with extension-derived kinds and name-derived deterministic ids,
  * unknown extensions are filtered before the decode arms, and the
  * streaming face drives the media store bridge — each dropped fetch
  * file a committed payload-corpus night + fingerprint fold. */
class MediaFilesSpec extends SparkSuite {
  import spark.implicits._

  private def freshText(p: String): String =
    (0 until 40).map(i => s"$p$i").mkString(" ")

  test("batch read: kind from extension, id from the file name " +
    "(deterministic across re-reads), source from the parent dir, " +
    "unknown extensions filtered") {
    val drop = Files.createTempDirectory("mf_drop").toString
    Files.createDirectories(Paths.get(drop, "hostA"))
    Files.write(Paths.get(drop, "hostA", "a.png"), "imgbytes".getBytes)
    Files.write(Paths.get(drop, "hostA", "b.wav"), "wavbytes".getBytes)
    Files.write(Paths.get(drop, "hostA", "c.xyz"), "junk".getBytes)
    val got = MediaFiles.media(spark, drop).collect()
      .map(r => new String(r.payload) ->
        (r.kind, r.source, r.media_id)).toMap
    assert(got.keySet == Set("imgbytes", "wavbytes"),
      s"unknown extension must be filtered: ${got.keySet}")
    assert(got("imgbytes")._1 == "image" && got("wavbytes")._1 == "audio")
    assert(got.values.forall(_._2 == "hostA"))
    val again = MediaFiles.media(spark, drop).collect()
      .map(r => new String(r.payload) -> r.media_id).toMap
    assert(got.view.mapValues(_._3).toMap == again,
      "name-derived ids must be stable across re-reads")
  }

  test("streaming: each dropped asset file lands as a committed media " +
    "corpus night + fingerprint fold; a re-drop of known bytes under " +
    "a new name is judged exact and kept out") {
    val idx = Files.createTempDirectory("mf_idx").toString
    val u0 = freshText("mfb0w")
    graft.queries.DeltaAxis.Media.build(spark, idx,
      Media.mediaFromDocuments(
        Seq((0L, u0, "en", "s0", u0.length.toLong),
          (3L, freshText("mfb1w"), "en", "s0", 40L))
          .toDF("doc_id", "text", "lang", "source", "n_chars")))
    val drop = Files.createTempDirectory("mf_sdrop").toString
    Files.createDirectories(Paths.get(drop, "hostB"))
    val corpus = Files.createTempDirectory("mf_corpus").toString
    val ckpt = Files.createTempDirectory("mf_ckpt").toString
    // base ids 0 and 3 are both kind "image" (id % 3 == 0) — the
    // re-drop must carry the same kind, which .png gives it
    val fresh = (0 until 9).map(i => s"ZZZZZZZ$i ZK").mkString(" | ")
    Files.write(Paths.get(drop, "hostB", "redrop.png"), u0.getBytes)
    Files.write(Paths.get(drop, "hostB", "fresh.png"), fresh.getBytes)
    val q = graft.streaming.StoreMediaDedup.ingestNights(
      MediaFiles.streamMedia(spark, drop), idx, corpus, ckpt, "assets")
    try {
      q.processAllAvailable()
      val served = graft.operators.Corpus.readCommitted(spark, corpus)
        .select("payload").as[Array[Byte]].collect()
        .map(new String(_)).toSet
      assert(served == Set(fresh),
        s"the night must hold only the fresh asset: $served")
      assert(graft.operators.Corpus.liveNights(spark, corpus)
        .forall(_.startsWith("assets.")))
    } finally q.stop()
  }
}
