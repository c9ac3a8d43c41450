package graft

import java.nio.file.{Files, Paths}

import graft.helium.SparkSuite
import graft.operators.{Corpus, IndexGenerations}

/** The COMPLETE production loop against ONE corpus root and ONE index
  * — the cross-feature narrative no single-feature spec covers: an
  * always-on crawl stream writes micro-nights, hands the root to the
  * scheduler for a batch night, weekly compaction absorbs the mix, a
  * training consumer's pinned snapshot rides through it all, and the
  * retention + reconcile faces close the story. Night ids from the
  * stream (`crawl.N`), the scheduler (dates), and compaction (weekly
  * ids) share one namespace per root — this is where that actually
  * gets exercised together. */
class ProductionLoopSpec extends SparkSuite {
  import spark.implicits._

  private def freshText(p: String): String =
    (0 until 40).map(i => s"$p$i").mkString(" ")

  test("crawl stream → scheduler night → compaction → pinned snapshot " +
    "→ takedown → reconcile: one root, every face, consistent " +
    "throughout") {
    val idx = Files.createTempDirectory("pl_idx").toString
    val root = Files.createTempDirectory("pl_root").toString
    val drop = Files.createTempDirectory("pl_drop").toString
    val ckpt = Files.createTempDirectory("pl_ckpt").toString

    // day 0: the index is built from the existing base corpus
    val u0 = freshText("plb0w")
    queries.DeltaAxis.Text.build(spark, idx,
      Seq((0L, "s0", u0), (1L, "s0", freshText("plb1w")))
        .toDF("doc_id", "source", "text"))

    // the always-on crawl: two fetch files, the second re-crawling
    // both a base doc and a doc the FIRST micro-batch admitted —
    // the store bridge must catch both
    val u10 = freshText("plu10w")
    Files.write(Paths.get(drop, "f0.jsonl"),
      s"""{"doc_id": 10, "text": "$u10"}""".getBytes("UTF-8"))
    val q = streaming.StoreDedup.ingestNights(
      sources.Jsonl.streamDocuments(spark, drop), idx, root, ckpt,
      "crawl")
    try {
      q.processAllAvailable()
      Files.write(Paths.get(drop, "f1.jsonl"), Seq(
        s"""{"doc_id": 20, "text": "$u0"}""",
        s"""{"doc_id": 21, "text": "$u10"}""",
        s"""{"doc_id": 22, "text": "${freshText("plu22w")}"}""")
        .mkString("\n").getBytes("UTF-8"))
      q.processAllAvailable()
    } finally q.stop()
    def served(): Set[Long] = Corpus.readCommitted(spark, root)
      .select("doc_id").as[Long].collect().toSet
    assert(served() == Set(10L, 22L),
      "the crawl nights must hold exactly the fresh docs")

    // the stream is stopped; the scheduler runs a batch night into
    // the SAME root — one namespace, no collision with crawl.N ids
    val night = Nightly.run(spark, Seq("text", "night", idx,
      {
        val d = Files.createTempDirectory("pl_delta").toString
        Seq((30L, "s1", freshText("plu30w")))
          .toDF("doc_id", "source", "text")
          .write.mode("overwrite").parquet(d); d
      }, "--id", "20260815", "--shards", root))
    assert(night.contains("\"skipped\":false"), night)
    assert(served() == Set(10L, 22L, 30L))
    assert(Corpus.liveNights(spark, root).toSet ==
      Set("crawl.0", "crawl.1", "20260815"))

    // a training run starts: record the snapshot it will re-read
    val snapshot = Corpus.liveNights(spark, root)
    val frozen = served()

    // weekly compaction absorbs the stream + scheduler mix; the prune
    // pins the training run's snapshot; the live read is unchanged
    assert(Corpus.compactNights(spark, root, "w1"))
    Nightly.run(spark, Seq("text", "prune-shards", root,
      "--pin", snapshot.mkString(",")))
    assert(served() == frozen)
    assert(Corpus.readNights(spark, root, snapshot)
      .select("doc_id").as[Long].collect().toSet == frozen,
      "the pinned snapshot must re-read byte-frozen across compaction")

    // cross-store health before the next night — the operator's check
    val rec = Nightly.run(spark,
      Seq("text", "reconcile", idx, "--shards", root))
    assert(rec.contains("\"clean\":true"), rec)
    val audit = Nightly.run(spark, Seq("text", "audit-shards", root))
    assert(audit.contains("\"clean\":true"), audit)

    // the training run ends: pins lift, reclamation proceeds
    Nightly.run(spark, Seq("text", "prune-shards", root))
    assert(Corpus.liveNights(spark, root) == Seq("w1"))
    assert(served() == frozen)

    // a takedown against the compacted corpus: content leaves the
    // serving set, stays banned in the index — reconcile still clean
    Nightly.run(spark, Seq("text", "delete-docs", root, "--ids", "22"))
    Nightly.run(spark, Seq("text", "prune-shards", root))
    assert(served() == Set(10L, 30L))
    val rec2 = Nightly.run(spark,
      Seq("text", "reconcile", idx, "--shards", root))
    assert(rec2.contains("\"clean\":true"),
      s"delete-docs keeps content banned — reconcile must stay clean: " +
        rec2)

    // tomorrow's crawl: a fresh checkpoint redeploy re-crawls the
    // taken-down doc — the index still bans it (deleteDocs kept the
    // signature), so the corpus cannot re-accrete removed content
    val drop2 = Files.createTempDirectory("pl_drop2").toString
    val ckpt2 = Files.createTempDirectory("pl_ckpt2").toString
    Files.write(Paths.get(drop2, "f2.jsonl"),
      s"""{"doc_id": 40, "text": "${freshText("plu22w")}"}"""
        .getBytes("UTF-8"))
    val q2 = streaming.StoreDedup.ingestNights(
      sources.Jsonl.streamDocuments(spark, drop2), idx, root, ckpt2,
      "crawl2")
    try q2.processAllAvailable() finally q2.stop()
    assert(served() == Set(10L, 30L),
      "a re-crawl of taken-down content must NOT re-enter the corpus")
  }
}
