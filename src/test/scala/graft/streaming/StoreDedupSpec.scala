package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.Pinned
import graft.helium.SparkSuite
import graft.operators.IndexGenerations
import graft.queries.DeltaAxis
import StoreDedup._

/** The stream↔store junction contract: the always-on ingest and the
  * nightly d24 loop share one admission ledger. Uses the
  * DedupInvariantSpec fixture discipline (distinct token families, so
  * the only matches are the planted ones). */
class StoreDedupSpec extends SparkSuite {
  import spark.implicits._

  private def freshText(p: String): String =
    (0 until 40).map(i => s"$p$i").mkString(" ")

  private def docsDf(rows: (Long, String)*) =
    rows.map { case (id, t) => (id, t, "en", s"src${id % 2}", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  private def indexIds(idx: String): Set[Long] =
    IndexGenerations.readCurrent(spark, idx)
      .select("doc_id").as[Long].collect().toSet

  test("stream-admitted uniques reach the index, and the next nightly " +
    "d24Advance judges their copies exact") {
    implicit val sqlCtx = spark.sqlContext
    val idx = Files.createTempDirectory("sd_idx").toString
    val ckpt = Files.createTempDirectory("sd_ckpt").toString
    DeltaAxis.Text.build(spark, idx,
      docsDf((0L to 4L).map(i => i -> freshText(s"sb${i}w")): _*))

    val input = MemoryStream[IngestDoc]
    val q = ingest(input.toDS(), idx, ckpt)
    try {
      // batch 1: a copy of indexed doc 2 (bootstrap catch — fresh
      // checkpoint, state seeded from the store) + two fresh docs
      val u1 = freshText("su1w")
      input.addData(IngestDoc(100L, "s", freshText("sb2w")),
        IngestDoc(101L, "s", u1), IngestDoc(102L, "s", freshText("su2w")))
      q.processAllAvailable()
      assert(indexIds(idx) == Set(0L, 1L, 2L, 3L, 4L, 101L, 102L),
        "batch-1 uniques (and only them) should have folded")

      // batch 2: a copy of the batch-1 STREAM unique — caught by state,
      // folds nothing new
      input.addData(IngestDoc(200L, "s", u1))
      q.processAllAvailable()
      assert(indexIds(idx) == Set(0L, 1L, 2L, 3L, 4L, 101L, 102L),
        "a within-stream dup must not fold")
    } finally q.stop()

    // the junction contract: tonight's batch loop judges a copy of the
    // stream-admitted doc EXACT against the advanced store
    val v = DeltaAxis.Text.advance(spark, idx,
        docsDf(300L -> freshText("su1w"), 301L -> freshText("su3w")))
      .select("doc_id", "verdict", "winner")
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    Pinned.releaseAll(spark)
    assert(v(300L) == (("exact", 101L)),
      s"nightly advance missed the stream-admitted unique: ${v(300L)}")
    assert(v(301L) == (("unique", -1L)))
  }

  test("a redeployed stream (fresh checkpoint) re-catches a doc the " +
    "previous deployment admitted, via the store bootstrap") {
    implicit val sqlCtx = spark.sqlContext
    val idx = Files.createTempDirectory("sd2_idx").toString
    DeltaAxis.Text.build(spark, idx,
      docsDf((0L to 2L).map(i => i -> freshText(s"rb${i}q")): _*))
    val uX = freshText("ruXq")

    val in1 = MemoryStream[IngestDoc]
    val q1 = ingest(in1.toDS(), idx,
      Files.createTempDirectory("sd2_c1").toString)
    try {
      in1.addData(IngestDoc(10L, "s", uX))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(indexIds(idx) == Set(0L, 1L, 2L, 10L))

    // deployment 2: brand-new checkpoint — in-stream state starts
    // empty, but the bootstrap reads the advanced store, so the copy
    // (and a near edit of it) are flagged, and nothing re-folds
    val in2 = MemoryStream[IngestDoc]
    val q2 = ingest(in2.toDS(), idx,
      Files.createTempDirectory("sd2_c2").toString)
    try {
      in2.addData(IngestDoc(20L, "s", uX),
        IngestDoc(21L, "s",
          uX.split(" ").updated(9, "EDITED").mkString(" ")))
      q2.processAllAvailable()
      assert(indexIds(idx) == Set(0L, 1L, 2L, 10L),
        "the redeployed stream re-folded an already-indexed doc")
    } finally q2.stop()
  }

  test("TTL eviction forgets in-stream state only: with indexCheck on, " +
    "a post-horizon re-arrival folds no duplicate index row") {
    implicit val sqlCtx = spark.sqlContext
    val idx = Files.createTempDirectory("sd3_idx").toString
    DeltaAxis.Text.build(spark, idx, docsDf(0L -> freshText("tb0j")))
    spark.conf.set("spark.graft.stream.indexCheck", "true")
    val in = MemoryStream[TimedIngestDoc]
    val q = ingestTimed(in.toDS(), idx,
      Files.createTempDirectory("sd3_c").toString, ttlMs = 1000L)
    try {
      val uY = freshText("tuYj")
      // keep event times well above epoch 0: the initial watermark IS 0,
      // and a first-batch row at exactly the watermark is dropped late
      def ts(sec: Long) = new java.sql.Timestamp((100000L + sec) * 1000L)
      in.addData(TimedIngestDoc(10L, "s", uY, ts(0)))
      q.processAllAvailable()
      assert(indexIds(idx) == Set(0L, 10L))
      // push the watermark far past the TTL…
      in.addData(TimedIngestDoc(11L, "s", freshText("tuZj"), ts(600)))
      q.processAllAvailable()
      // …and let a dataless trigger fire the timeout for uY's buckets
      // (a group WITH data in a trigger is served, not timed out)
      in.addData(TimedIngestDoc(12L, "s", freshText("tuWj"), ts(601)))
      q.processAllAvailable()
      // the re-arrival: state has forgotten uY, so it is re-admitted
      // (the TTL trade) — but the index check suppresses the duplicate
      // fold, so the store stays canonical
      in.addData(TimedIngestDoc(13L, "s", uY, ts(602)))
      q.processAllAvailable()
      assert(indexIds(idx) == Set(0L, 10L, 11L, 12L),
        "TTL re-arrival re-folded an already-indexed content")
    } finally {
      q.stop()
      spark.conf.unset("spark.graft.stream.indexCheck")
    }
  }

  test("foldBatch is exactly-once: a replayed (streamId, batchId) is " +
    "skipped; a new deployment's batch 0 is not fooled by old records") {
    val idx = Files.createTempDirectory("sd4_idx").toString
    DeltaAxis.Text.build(spark, idx, docsDf(0L -> freshText("xb0k")))
    def admissionsOf(id: Long, p: String) =
      bandDocs(Seq(IngestDoc(id, "s", freshText(p))).toDS()).toDF()
        .withColumn("verdict", org.apache.spark.sql.functions.lit("unique"))
        .withColumn("winner", org.apache.spark.sql.functions.lit(-1L))
    assert(foldBatch(spark, idx, admissionsOf(10L, "xu1k"), "ckA", 7L))
    val after = indexIds(idx)
    assert(after == Set(0L, 10L))
    val gensAfter = IndexGenerations.committed(spark, idx)
    // the crash-replay: same stream, same batch — skipped entirely
    assert(!foldBatch(spark, idx, admissionsOf(10L, "xu1k"), "ckA", 7L))
    assert(IndexGenerations.committed(spark, idx) == gensAfter)
    // an EARLIER batch id of the same stream replayed late: skipped too
    assert(!foldBatch(spark, idx, admissionsOf(11L, "xu2k"), "ckA", 3L))
    // a different deployment's batch numbering starts fresh — folds
    assert(foldBatch(spark, idx, admissionsOf(12L, "xu3k"), "ckB", 0L))
    assert(indexIds(idx) == Set(0L, 10L, 12L))
  }

  test("an upgraded store's LEGACY replay ledger still skips: records " +
    "written under the pre-hwm name are read by the fold's replay " +
    "check, so the rename cannot double-fold a checkpoint replay") {
    val idx = Files.createTempDirectory("sd_leg_idx").toString
    DeltaAxis.Text.build(spark, idx, docsDf(0L -> freshText("lb0k")))
    def admissionsOf(id: Long, p: String) =
      bandDocs(Seq(IngestDoc(id, "s", freshText(p))).toDS()).toDF()
        .withColumn("verdict", org.apache.spark.sql.functions.lit("unique"))
        .withColumn("winner", org.apache.spark.sql.functions.lit(-1L))
    // simulate the r-era store: the batch-5 record lives under the
    // OLD name inside the committed generation
    val gen = IndexGenerations.currentGen(spark, idx).get
    java.nio.file.Files.write(
      java.nio.file.Paths.get(idx, s"gen=$gen",
        "_" + StoreBridge.LegacyRecordName),
      "ckL:5".getBytes("UTF-8"))
    // the checkpoint replay of batch 5 after the upgrade: skipped
    val gens = IndexGenerations.committed(spark, idx)
    assert(!foldBatch(spark, idx, admissionsOf(10L, "lu1k"), "ckL", 5L),
      "the fold lost the legacy ledger and re-folded a replayed batch")
    assert(IndexGenerations.committed(spark, idx) == gens)
    // batch 6 is new work — folds, recorded under the current name
    assert(foldBatch(spark, idx, admissionsOf(11L, "lu2k"), "ckL", 6L))
    assert(indexIds(idx) == Set(0L, 11L))
    assert(IndexGenerations
      .records(spark, idx, StoreBridge.RecordName).contains("ckL:6"))
  }

  test("the fold's exactly-once survives compact + prune: a checkpoint " +
    "replay of the last pre-compact batch finds its record in the " +
    "compacted total and skips") {
    spark.conf.set("spark.graft.index.advanceMode", "delta")
    try {
      val idx = Files.createTempDirectory("sd7_idx").toString
      DeltaAxis.Text.build(spark, idx, docsDf(0L -> freshText("cb0r")))
      def admissionsOf(id: Long, p: String) =
        bandDocs(Seq(IngestDoc(id, "s", freshText(p))).toDS()).toDF()
          .withColumn("verdict", org.apache.spark.sql.functions.lit("unique"))
          .withColumn("winner", org.apache.spark.sql.functions.lit(-1L))
      (0L to 2L).foreach { b =>
        assert(foldBatch(spark, idx, admissionsOf(10L + b, s"cu${b}r"),
          "ckC", b))
      }
      // the nightly window: level-0 merge, then drop the recorded deltas
      IndexGenerations.compact(spark, idx)
      IndexGenerations.prune(spark, idx)
      assert(IndexGenerations.committed(spark, idx).size == 1,
        "prune should leave only the compacted total")
      val rows = indexIds(idx)
      assert(rows == Set(0L, 10L, 11L, 12L))
      // crash-replay of batch 2 from the checkpoint AFTER the deltas
      // that carried its record are gone: the compacted total carries
      // it forward, so the replay is skipped — not re-folded
      assert(!foldBatch(spark, idx, admissionsOf(12L, "cu2r"), "ckC", 2L),
        "replay after compact+prune re-folded a committed batch")
      assert(indexIds(idx) == rows &&
        IndexGenerations.committed(spark, idx).size == 1,
        "the skipped replay mutated the store")
    } finally spark.conf.unset("spark.graft.index.advanceMode")
  }

  test("stream-cadence folds in LSM mode stay bounded: one delta per " +
    "batch, the chain capped by maxDeltaChain's same-night compact") {
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.graft.index.advanceMode", "delta")
    spark.conf.set("spark.graft.index.maxDeltaChain", "2")
    try {
      val idx = Files.createTempDirectory("sd6_idx").toString
      DeltaAxis.Text.build(spark, idx, docsDf(0L -> freshText("lb0n")))
      val in = MemoryStream[IngestDoc]
      val q = ingest(in.toDS(), idx,
        Files.createTempDirectory("sd6_c").toString)
      try {
        (1 to 5).foreach { b =>
          in.addData(IngestDoc(10L + b, "s", freshText(s"lu${b}n")))
          q.processAllAvailable()
        }
      } finally q.stop()
      // every batch folded, yet the live read unions at most
      // 1 total + 2 deltas — the stream cannot grow an unbounded chain
      val active = IndexGenerations.readCurrent(spark, idx)
        .inputFiles.map(_.replaceAll("/[^/]*$", "")).distinct
      assert(active.length <= 3,
        s"stream folds grew an unbounded chain: ${active.length}")
      assert(indexIds(idx) == Set(0L, 11L, 12L, 13L, 14L, 15L))
    } finally {
      spark.conf.unset("spark.graft.index.advanceMode")
      spark.conf.unset("spark.graft.index.maxDeltaChain")
    }
  }

  test("the bridge is state-store-provider-agnostic: bootstrap, " +
    "in-stream catch, and fold behave identically on RocksDB — the " +
    "at-scale hydration posture") {
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      val idx = Files.createTempDirectory("sdr_idx").toString
      DeltaAxis.Text.build(spark, idx,
        docsDf((0L to 2L).map(i => i -> freshText(s"rk${i}t")): _*))
      val uR = freshText("rkuRt")
      val in = MemoryStream[IngestDoc]
      val q = ingest(in.toDS(), idx,
        Files.createTempDirectory("sdr_c").toString)
      try {
        // bootstrap catch (copy of indexed doc 1) + a fresh admit
        in.addData(IngestDoc(10L, "s", freshText("rk1t")),
          IngestDoc(11L, "s", uR))
        q.processAllAvailable()
        assert(indexIds(idx) == Set(0L, 1L, 2L, 11L))
        // in-stream catch across batches via RocksDB-held state
        in.addData(IngestDoc(12L, "s", uR))
        q.processAllAvailable()
        assert(indexIds(idx) == Set(0L, 1L, 2L, 11L))
      } finally q.stop()
    } finally spark.conf
      .unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("autoPrune keeps an always-on stream's generation count bounded " +
    "by the chain cap — and loses no replay evidence, because compact " +
    "carries the records of what prune deletes") {
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.graft.index.advanceMode", "delta")
    spark.conf.set("spark.graft.index.maxDeltaChain", "2")
    spark.conf.set("spark.graft.index.autoPrune", "true")
    try {
      val idx = Files.createTempDirectory("sd9_idx").toString
      val ckpt = Files.createTempDirectory("sd9_c").toString
      DeltaAxis.Text.build(spark, idx, docsDf(0L -> freshText("ab0s")))
      val in = MemoryStream[IngestDoc]
      val q = ingest(in.toDS(), idx, ckpt)
      try {
        (1 to 8).foreach { b =>
          in.addData(IngestDoc(10L + b, "s", freshText(s"au${b}s")))
          q.processAllAvailable()
        }
      } finally q.stop()
      // without autoPrune 8 folds leave ~11 dirs; the cap (1 total +
      // 2 deltas + the advance in flight) bounds it
      assert(IndexGenerations.committed(spark, idx).size <= 4,
        s"autoPrune left ${IndexGenerations.committed(spark, idx)}")
      assert(indexIds(idx) == (Set(0L) ++ (1 to 8).map(10L + _)),
        "autoPrune lost folded rows")
      // a crash-replay of an early batch whose delta dir is long gone:
      // its record rode compact → compact → … and still skips
      val replay = bandDocs(Seq(IngestDoc(11L, "s", freshText("au1s")))
          .toDS()).toDF()
        .withColumn("verdict", org.apache.spark.sql.functions.lit("unique"))
        .withColumn("winner", org.apache.spark.sql.functions.lit(-1L))
      assert(!foldBatch(spark, idx, replay, ckpt, 0L),
        "replay evidence lost to autoPrune")
    } finally {
      spark.conf.unset("spark.graft.index.advanceMode")
      spark.conf.unset("spark.graft.index.maxDeltaChain")
      spark.conf.unset("spark.graft.index.autoPrune")
    }
  }

  test("bootstrap-free mode (spark.graft.stream.bootstrap=false) admits " +
    "the same store content as the hydrated bootstrap: exact AND near " +
    "index dups are dropped at fold time by the full verdict core, and " +
    "the per-batch verdict join leaks no pins") {
    implicit val sqlCtx = spark.sqlContext
    val idx = Files.createTempDirectory("sd8_idx").toString
    DeltaAxis.Text.build(spark, idx,
      docsDf((0L to 2L).map(i => i -> freshText(s"bf${i}w")): _*))
    val uX = freshText("bfuXw")
    // a hydrated deployment folds uX, establishing the reference state
    val in1 = MemoryStream[IngestDoc]
    val q1 = ingest(in1.toDS(), idx,
      Files.createTempDirectory("sd8_c1").toString)
    try {
      in1.addData(IngestDoc(10L, "s", uX))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(indexIds(idx) == Set(0L, 1L, 2L, 10L))
    // redeploy BOOTSTRAP-FREE: in-stream state starts empty, so index
    // dups arrive at the fold marked unique — the fold's verdict core
    // must drop them (exact arm: 23 copies indexed base doc 1; near
    // arm: 21 is a one-token edit of the indexed uX, sent in its own
    // batch so nothing in-stream matches it first)
    spark.conf.set("spark.graft.stream.bootstrap", "false")
    try {
      val in2 = MemoryStream[IngestDoc]
      val q2 = ingest(in2.toDS(), idx,
        Files.createTempDirectory("sd8_c2").toString)
      try {
        in2.addData(IngestDoc(22L, "s", freshText("bfuYw")),
          IngestDoc(23L, "s", freshText("bf1w")))
        q2.processAllAvailable()
        assert(indexIds(idx) == Set(0L, 1L, 2L, 10L, 22L),
          "bootstrap-free fold let an exact index dup through")
        in2.addData(IngestDoc(21L, "s",
          uX.split(" ").updated(9, "EDITED").mkString(" ")))
        q2.processAllAvailable()
        assert(indexIds(idx) == Set(0L, 1L, 2L, 10L, 22L),
          "bootstrap-free fold let a NEAR index dup through — the " +
            "hash-only check is not enough without the bootstrap")
      } finally q2.stop()
      assert(Pinned.outstanding(spark) == 0,
        "the stream fold leaked pinned frames")
    } finally spark.conf.unset("spark.graft.stream.bootstrap")
  }

  test("a micro-batch full of internal copies folds one signature — " +
    "the nightly intra-delta rule applied at stream cadence") {
    implicit val sqlCtx = spark.sqlContext
    val idx = Files.createTempDirectory("sd5_idx").toString
    DeltaAxis.Text.build(spark, idx, docsDf(0L -> freshText("ib0m")))
    val in = MemoryStream[IngestDoc]
    val q = ingest(in.toDS(), idx,
      Files.createTempDirectory("sd5_c").toString)
    try {
      val t = freshText("iu1m")
      // 30 and 32 are byte-identical; 31 is a near edit — the state
      // step flags the later copies within the batch, and min-id 30 is
      // the one signature that folds
      in.addData(IngestDoc(30L, "s", t), IngestDoc(32L, "s", t),
        IngestDoc(31L, "s", t.split(" ").updated(5, "EDITED").mkString(" ")))
      q.processAllAvailable()
      assert(indexIds(idx) == Set(0L, 30L),
        "intra-batch copies leaked into the index")
    } finally q.stop()
  }

  test("ingestNights: each micro-batch lands as a committed corpus " +
    "night AND an index fold; replays skip byte-frozen; empty batches " +
    "leave nothing") {
    implicit val sqlCtx = spark.sqlContext
    val idx = Files.createTempDirectory("sn_idx").toString
    val corpus = Files.createTempDirectory("sn_corpus").toString
    DeltaAxis.Text.build(spark, idx,
      docsDf((0L to 2L).map(i => i -> freshText(s"nb${i}v")): _*))

    val in = MemoryStream[IngestDoc]
    val q = ingestNights(in.toDS(), idx, corpus,
      Files.createTempDirectory("sn_c").toString, "crawlA")
    try {
      val u1 = freshText("nu1v")
      // batch 0: an exact copy of indexed doc 1 + two fresh docs
      in.addData(IngestDoc(100L, "sa", freshText("nb1v")),
        IngestDoc(101L, "sa", u1), IngestDoc(102L, "sa", freshText("nu2v")))
      q.processAllAvailable()
      // batch 1: a copy of batch 0's admitted unique + one fresh doc
      in.addData(IngestDoc(200L, "sa", u1),
        IngestDoc(201L, "sa", freshText("nu3v")))
      q.processAllAvailable()
    } finally q.stop()

    assert(indexIds(idx) == Set(0L, 1L, 2L, 101L, 102L, 201L),
      "the micro-nights folded the wrong admitted set")
    assert(graft.operators.Corpus.liveNights(spark, corpus) ==
      Seq("crawlA.0", "crawlA.1"))
    val served = graft.operators.Corpus.readCommitted(spark, corpus)
    assert(served.select("doc_id").as[Long].collect().toSet ==
      Set(101L, 102L, 201L),
      "the corpus increments disagree with the index folds")
    assert(served.filter(col("night") === "crawlA.1")
      .select("doc_id").as[Long].collect().toSet == Set(201L))

    // the ledger answers with the stream's high-water mark; each
    // generation FILE holds at most one line per stream (the union
    // across still-committed generations collapses at compact+prune —
    // WriterFenceSpec pins that O(#streams) bound)
    def ledger = IndexGenerations.records(spark, idx, StoreBridge.NightRecordName)
    assert(ledger.collect { case r if r.startsWith("crawlA:") =>
      r.stripPrefix("crawlA:").toLong }.max == 1L)
    val ledgerBefore = ledger

    // a checkpoint replay of batch 1: skipped via the hwm rule, the
    // whole corpus root byte-frozen
    def state(dir: String) = java.nio.file.Files
      .walk(java.nio.file.Paths.get(dir)).iterator()
    import scala.jdk.CollectionConverters._
    def files(dir: String) = state(dir).asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(p => p.toString -> java.nio.file.Files.size(p))
      .toSeq.sortBy(_._1)
    val frozen = files(corpus)
    assert(!nightBatch(spark, idx, corpus,
      docsDf(201L -> freshText("nu3v")).toDF(), "crawlA", 1L))
    assert(files(corpus) == frozen, "a replayed micro-night wrote")

    // an empty batch: skipped unrecorded, no dir, no ledger growth
    assert(!nightBatch(spark, idx, corpus,
      docsDf().toDF(), "crawlA", 2L))
    assert(files(corpus) == frozen)
    assert(ledger == ledgerBefore,
      "an empty batch grew the night ledger")
    assert(Pinned.outstanding(spark) == 0,
      "the micro-night fold leaked pinned frames")
  }
}
