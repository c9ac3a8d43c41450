package graft.sources

import java.nio.file.{Files, Paths}

import graft.helium.SparkSuite

/** The JSONL ingestion contract: clean lines arrive documents-shaped,
  * malformed and textless lines land in the reject channel (never
  * silently dropped, never as 0-token docs), id-less lines get
  * deterministic rerun-stable ids, and the whole face drives the
  * nightly CLI end to end via `--format jsonl`. */
class JsonlSpec extends SparkSuite {
  import spark.implicits._

  private def freshText(p: String): String =
    (0 until 40).map(i => s"$p$i").mkString(" ")

  private def dump(lines: String*): String = {
    val f = Files.createTempFile("crawl", ".jsonl")
    Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    f.toString
  }

  test("clean lines map to the documents shape; defaults fill lang/" +
    "source; n_chars is derived; id-less lines get deterministic ids " +
    "stable across re-reads") {
    val t1 = freshText("ja1w")
    val path = dump(
      s"""{"doc_id": 7, "text": "$t1", "lang": "en", "source": "web"}""",
      s"""{"text": "idless doc body", "lang": "en"}""")
    val docs = Jsonl.documents(spark, path)
    assert(docs.columns.toSeq ==
      Seq("doc_id", "text", "lang", "source", "n_chars"))
    val byText = docs
      .as[(Long, String, String, String, Long)].collect()
      .map(r => r._2 -> r).toMap
    assert(byText(t1)._1 == 7L && byText(t1)._4 == "web" &&
      byText(t1)._5 == t1.length.toLong)
    val idless = byText("idless doc body")
    assert(idless._4 == "unknown" && idless._3 == "en")
    // deterministic synthesis: the same dump re-read yields the same id
    val again = Jsonl.documents(spark, path)
      .filter($"text" === "idless doc body")
      .select("doc_id").as[Long].head()
    assert(again == idless._1, "synthesized ids must be rerun-stable")
  }

  test("the reject channel captures malformed JSON with the raw line " +
    "and textless parses with a reason — and the clean read excludes " +
    "exactly those") {
    val path = dump(
      s"""{"doc_id": 1, "text": "${freshText("jb1w")}"}""",
      """this is not json at all {{{""",
      """{"doc_id": 2, "lang": "en"}""",
      """{"doc_id": 3, "text": "   "}""")
    assert(Jsonl.documents(spark, path).count() == 1L)
    val rej = Jsonl.rejects(spark, path)
      .as[(Option[String], String)].collect().sortBy(_._2)
    assert(rej.length == 3, rej.mkString("; "))
    assert(rej.count(_._2 == "malformed_json") == 1)
    assert(rej.count(_._2 == "empty_text") == 2)
    assert(rej.find(_._2 == "malformed_json").get._1
      .exists(_.contains("not json")),
      "the malformed reject must carry the raw line for debugging")
  }

  test("a JSONL drop directory drives the always-on corpus ingest: " +
    "each file the crawler drops lands as a committed night + index " +
    "fold, re-crawls of the base are kept out, broken lines filtered") {
    val idx = Files.createTempDirectory("jst_idx").toString
    val u0 = freshText("jsb0w")
    graft.queries.DeltaAxis.Text.build(spark, idx,
      Seq((0L, "s0", u0), (1L, "s0", freshText("jsb1w")))
        .toDF("doc_id", "source", "text"))
    val drop = Files.createTempDirectory("jst_drop").toString
    val corpus = Files.createTempDirectory("jst_corpus").toString
    val ckpt = Files.createTempDirectory("jst_ckpt").toString
    def dropFile(name: String, lines: String*): Unit =
      Files.write(Paths.get(drop, name),
        lines.mkString("\n").getBytes("UTF-8"))
    val u1 = freshText("jsu1w")
    dropFile("fetch0.jsonl",
      s"""{"doc_id": 100, "text": "$u0"}""", // re-crawl of the base
      s"""{"doc_id": 101, "text": "$u1"}""",
      """broken {{ line""")
    val q = graft.streaming.StoreDedup.ingestNights(
      Jsonl.streamDocuments(spark, drop), idx, corpus, ckpt, "crawl")
    try {
      q.processAllAvailable()
      assert(graft.operators.Corpus.liveNights(spark, corpus) ==
        Seq("crawl.0"))
      assert(graft.operators.Corpus.readCommitted(spark, corpus)
        .select("doc_id").as[Long].collect().toSet == Set(101L),
        "the night must hold the fresh doc only — no re-crawl, no " +
          "broken line")
      // the crawler drops another file: a second committed night
      dropFile("fetch1.jsonl",
        s"""{"doc_id": 102, "text": "${freshText("jsu2w")}"}""")
      q.processAllAvailable()
      assert(graft.operators.Corpus.readCommitted(spark, corpus)
        .select("doc_id").as[Long].collect().toSet == Set(101L, 102L))
      assert(graft.operators.IndexGenerations.readCurrent(spark, idx)
        .count() == 4L, "both fresh docs must have folded")
    } finally q.stop()
  }

  test("a JSONL crawl dump drives the nightly CLI end to end: build " +
    "from the dump, a delta night catches its own re-crawl exactly") {
    val idx = Files.createTempDirectory("jnl_idx").toString
    val u1 = freshText("jc1w")
    val base = dump(
      (0 until 3).map(i =>
        s"""{"doc_id": $i, "text": "${freshText(s"jb${i}w")}"}""") :+
      """broken line""": _*)
    val out1 = graft.Nightly.run(spark,
      Seq("text", "build", idx, base, "--format", "jsonl"))
    assert(out1.contains("\"index_rows\":3"),
      s"the reject line must not reach the index: $out1")
    // the delta re-crawls one admitted doc (same text, fresh id) plus
    // one new doc — extension-based routing, no flag
    val deltaF = Files.createTempFile("crawl_delta", ".jsonl")
    Files.write(deltaF, Seq(
      s"""{"doc_id": 100, "text": "${freshText("jb0w")}"}""",
      s"""{"doc_id": 101, "text": "$u1"}""").mkString("\n")
        .getBytes("UTF-8"))
    val out2 = graft.Nightly.run(spark,
      Seq("text", "advance", idx, deltaF.toString))
    assert(out2.contains("\"exact\":1") && out2.contains("\"unique\":1"),
      s"the jsonl delta must judge against the jsonl base: $out2")
    Files.delete(deltaF)
    Files.delete(Paths.get(base))
  }
}
