package graft

import java.nio.file.{Files, Paths}

import graft.helium.SparkSuite
import graft.multimodal.Media
import graft.operators.IndexGenerations
import graft.queries.{DeltaAxis, TextDedupOps}

/** The nightly index-advance contract for the delta-dedup family: night 1
  * builds the base index, night 2 runs the delta AND folds its admitted
  * uniques into a new index generation, night 3's delta is judged against
  * an index that already contains night 2 — a dup of a night-2 doc gets
  * caught. Each advance writes ONLY a new `gen=N` directory; every
  * earlier generation's files stay byte-identical (the write-new +
  * atomic-marker-swap discipline, [[graft.operators.IndexGenerations]]).
  */
class DeltaAdvanceSpec extends SparkSuite {
  import spark.implicits._

  private def fileState(dir: String): Map[String, (Long, Long)] = {
    val d = Paths.get(dir)
    import scala.jdk.CollectionConverters._
    Files.walk(d).iterator().asScala
      .filter(p => Files.isRegularFile(p))
      .map(p => d.relativize(p).toString ->
        ((Files.size(p), Files.getLastModifiedTime(p).toMillis)))
      .toMap
  }

  private def genFiles(state: Map[String, (Long, Long)], n: Long) =
    state.filter { case (k, _) => k.startsWith(s"gen=$n/") }

  /** documents-shaped frame from (id, text) pairs. */
  private def docs(rows: (Long, String)*) =
    rows.map { case (id, t) => (id, t, "en", s"src${id % 2}", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  // distinct token families per doc so the only near/exact matches are
  // the planted ones (the DedupInvariantSpec fixture discipline)
  private def freshText(p: String): String =
    (0 until 40).map(i => s"$p$i").mkString(" ")

  test("d24: night-2 uniques enter the index, night-3 dups of them are " +
    "caught; every advance leaves earlier generations byte-identical") {
    d24ThreeNights(advanceMode = None)
  }

  test("d24 in LSM delta mode: same three-night verdicts, but each " +
    "advance writes only the night's uniques") {
    d24ThreeNights(advanceMode = Some("delta"))
  }

  private def d24ThreeNights(advanceMode: Option[String]): Unit = {
    advanceMode.foreach(m =>
      spark.conf.set("spark.graft.index.advanceMode", m))
    try d24ThreeNightsBody(advanceMode.contains("delta"))
    finally spark.conf.unset("spark.graft.index.advanceMode")
  }

  private def d24ThreeNightsBody(lsm: Boolean): Unit = {
    val idx = Files.createTempDirectory("d24adv").toString
    val base = docs((0L to 9L).map(i => i -> freshText(s"b${i}w")): _*)
    DeltaAxis.Text.build(spark, idx, base)
    assert(IndexGenerations.currentGen(spark, idx).contains(0L))
    val s0 = fileState(idx)

    // night 2: an exact copy of base 3, two uniques, a 1-token edit of
    // base 5 (near — must NOT be folded into the index)
    val u1 = freshText("u1w")
    val u2 = freshText("u2w")
    val nearOf5 = freshText("b5w").split(" ").updated(7, "EDITED").mkString(" ")
    val v2 = DeltaAxis.Text.advance(spark, idx,
        docs(100L -> freshText("b3w"), 101L -> u1,
          102L -> nearOf5, 103L -> u2))
      .select("doc_id", "verdict", "winner")
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    Pinned.releaseAll(spark)
    assert(v2(100L) == (("exact", 3L)))
    assert(v2(101L) == (("unique", -1L)))
    assert(v2(102L) == (("near", 5L)))
    assert(v2(103L) == (("unique", -1L)))
    assert(IndexGenerations.currentGen(spark, idx).contains(1L))
    val s1 = fileState(idx)
    assert(genFiles(s1, 0L) == genFiles(s0, 0L),
      "advance touched generation 0's files")
    // the LSM point: a delta generation holds ONLY the night's uniques
    // (2 rows), not the rewritten index (base 10 + 2)
    val gen1Rows = spark.read.parquet(s"$idx/gen=1").count()
    assert(gen1Rows == (if (lsm) 2L else 12L),
      s"gen=1 holds $gen1Rows rows (lsm=$lsm)")

    // night 3: judged against the ADVANCED index — an exact copy of
    // night-2 unique 101 and a near edit of night-2 unique 103 are both
    // caught; the night-2 NEAR doc's text was not folded, so a copy of
    // it still resolves near against its base-5 root, not doc 102
    val nearOfU2 = u2.split(" ").updated(11, "EDITED").mkString(" ")
    val v3 = DeltaAxis.Text.advance(spark, idx,
        docs(200L -> u1, 201L -> nearOfU2,
          202L -> nearOf5, 203L -> freshText("u3w")))
      .select("doc_id", "verdict", "winner")
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    Pinned.releaseAll(spark)
    assert(v3(200L) == (("exact", 101L)), s"night-3 copy of a night-2 " +
      s"unique not caught: ${v3(200L)}")
    assert(v3(201L) == (("near", 103L)))
    assert(v3(202L) == (("near", 5L)))
    assert(v3(203L) == (("unique", -1L)))
    assert(IndexGenerations.currentGen(spark, idx).contains(2L))
    val s2 = fileState(idx)
    assert(genFiles(s2, 0L) == genFiles(s0, 0L) &&
      genFiles(s2, 1L) == genFiles(s1, 1L),
      "advance touched an earlier generation's files")
  }

  test("m12: a night-3 re-upload of a night-2 unique asset is exact " +
    "against the advanced fingerprint index") {
    m12TwoNights()
  }

  test("m12 in LSM delta mode: same verdicts through advanceByConf's " +
    "delta path") {
    spark.conf.set("spark.graft.index.advanceMode", "delta")
    try m12TwoNights()
    finally spark.conf.unset("spark.graft.index.advanceMode")
  }

  private def m12TwoNights(): Unit = {
    val idx = Files.createTempDirectory("m12adv").toString
    def media(rows: (Long, String)*) =
      Media.mediaFromDocuments(docs(rows: _*))
    // ids congruent mod 3 share the media kind (mediaFromDocuments'
    // kind = f(id % 3)), so a payload copy at id+3k is an EXACT hit
    DeltaAxis.Media.build(spark, idx,
      media((0L to 8L).map(i => i -> freshText(s"m${i}w")): _*))
    val s0 = fileState(idx)
    val t1 = freshText("mu1w")
    val v2 = DeltaAxis.Media.advance(spark, idx,
        media(99L -> freshText("m3w"), 100L -> t1))
      .select("media_id", "verdict", "winner")
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    Pinned.releaseAll(spark)
    assert(v2(99L) == (("exact", 3L)))
    assert(v2(100L)._1 == "unique")
    assert(genFiles(fileState(idx), 0L) == genFiles(s0, 0L),
      "m12 advance touched generation 0's files")

    // the second unique must be perceptually distinct, not just
    // textually: a same-shape token family ("mu2w…" vs "mu1w…") renders
    // to a near-identical byte raster and lands within the phash near
    // threshold — use a different length and alphabet entirely
    val v3 = DeltaAxis.Media.advance(spark, idx,
        media(202L -> t1,
          203L -> (0 until 9).map(i => s"ZZZZZZZ$i QQ").mkString(" | ")))
      .select("media_id", "verdict", "winner")
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    Pinned.releaseAll(spark)
    assert(v3(202L) == (("exact", 100L)), s"night-3 re-upload of a " +
      s"night-2 unique asset not caught: ${v3(202L)}")
    assert(v3(203L)._1 == "unique")
    assert(IndexGenerations.currentGen(spark, idx).contains(2L))
  }

  test("IndexGenerations LSM: delta chain reads as the union, compact " +
    "folds it into one total, prune keeps exactly the live set") {
    val root = Files.createTempDirectory("lsm").toString
    import scala.jdk.CollectionConverters._
    def gens = Files.list(Paths.get(root)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("gen=")).toSet
    def state = IndexGenerations.readCurrent(spark, root)
      .orderBy("id").as[(Long, String)].collect().toSeq
    IndexGenerations.reset(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    IndexGenerations.advanceDelta(spark, root, Seq((3L, "c")).toDF("id", "v"))
    IndexGenerations.advanceDelta(spark, root, Seq((4L, "d")).toDF("id", "v"))
    val full = Seq(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d")
    assert(state == full)
    // prune mid-chain must keep the whole active set — every delta is
    // load-bearing until a compact supersedes it
    IndexGenerations.prune(spark, root)
    assert(gens == Set("gen=0", "gen=1", "gen=2"), gens)
    assert(state == full)
    assert(IndexGenerations.compact(spark, root) == 3L)
    assert(state == full)
    IndexGenerations.prune(spark, root)
    assert(gens == Set("gen=3"), gens)
    assert(state == full)
    // a rewrite advance on top of a live delta chain folds the union
    IndexGenerations.advanceDelta(spark, root, Seq((5L, "e")).toDF("id", "v"))
    IndexGenerations.advance(spark, root, Seq((6L, "f")).toDF("id", "v"))
    assert(state == full ++ Seq(5L -> "e", 6L -> "f"))
  }

  test("an empty crawl night advances cleanly: no verdicts, contents " +
    "unchanged, generation still bumps (the audit trail of a ran night)") {
    val idx = Files.createTempDirectory("emptynight").toString
    DeltaAxis.Text.build(spark, idx,
      docs((0L to 3L).map(i => i -> freshText(s"e${i}v")): _*))
    def contents = IndexGenerations.readCurrent(spark, idx)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val before = contents
    val v = DeltaAxis.Text.advance(spark, idx,
      docs().selectExpr("doc_id", "text", "source"))
    assert(v.count() == 0L)
    Pinned.releaseAll(spark)
    assert(contents == before)
    assert(IndexGenerations.currentGen(spark, idx).contains(1L))
  }

  test("advance rerun is content-idempotent: replaying a night after a " +
    "post-marker crash folds nothing new") {
    val idx = Files.createTempDirectory("replay").toString
    DeltaAxis.Text.build(spark, idx,
      docs((0L to 4L).map(i => i -> freshText(s"r${i}y")): _*))
    val night = docs(50L -> freshText("ru1y"), 51L -> freshText("ru2y"))
    DeltaAxis.Text.advance(spark, idx, night)
    Pinned.releaseAll(spark)
    def contents = IndexGenerations.readCurrent(spark, idx)
      .select("doc_id", "content_hash").as[(Long, String)]
      .collect().sorted.toSeq
    val after1 = contents
    // the operator-level crash story: the generation marker is stamped
    // last, so a crash BEFORE it makes the rerun a clean first attempt;
    // a crash AFTER it means the rerun's docs now match THEMSELVES in
    // the index — verdict exact, nothing admitted, contents unchanged
    val v2 = DeltaAxis.Text.advance(spark, idx, night)
      .select("doc_id", "verdict", "winner")
      .as[(Long, String, Long)].collect()
    Pinned.releaseAll(spark)
    v2.foreach { case (id, verdict, winner) =>
      assert(verdict == "exact" && winner == id,
        s"replayed doc $id not self-exact: $verdict/$winner")
    }
    assert(contents == after1, "replay changed the index contents")
  }

  test("nightly-loop invariant: after k advance nights the index holds " +
    "exactly base + every admitted unique, in both advance modes") {
    for (mode <- Seq(None, Some("delta"))) {
      mode.foreach(m => spark.conf.set("spark.graft.index.advanceMode", m))
      try {
        val idx = Files.createTempDirectory("loop").toString
        val rnd = new scala.util.Random(99)
        val texts = scala.collection.mutable.Map[Long, String]()
        (0L to 7L).foreach(i => texts(i) = freshText(s"n${i}z"))
        DeltaAxis.Text.build(spark, idx,
          docs(texts.toSeq.sortBy(_._1): _*))
        val expected = scala.collection.mutable.Set[Long]() ++= texts.keys
        var nextId = 100L
        (1 to 4).foreach { night =>
          // each night: one exact re-crawl of a random indexed doc +
          // two fresh docs
          val dup = expected.toSeq.sortBy(identity)
            .apply(rnd.nextInt(expected.size))
          val fresh = (0 until 2).map { j =>
            val id = nextId; nextId += 1
            id -> freshText(s"f${night}x${j}q")
          }
          val nightDocs = (nextId, texts(dup)) +: fresh
          nextId += 1
          val v = DeltaAxis.Text.advance(spark, idx,
              docs(nightDocs: _*))
            .select("doc_id", "verdict").as[(Long, String)].collect().toMap
          Pinned.releaseAll(spark)
          assert(v(nightDocs.head._1) == "exact",
            s"night $night re-crawl of $dup not caught")
          fresh.foreach { case (id, t) =>
            assert(v(id) == "unique"); expected += id; texts(id) = t
          }
          val inIndex = IndexGenerations.readCurrent(spark, idx)
            .select("doc_id").as[Long].collect().toSet
          assert(inIndex == expected.toSet,
            s"night $night (mode=$mode): index ${inIndex.size} ids != " +
              s"expected ${expected.size}")
        }
      } finally spark.conf.unset("spark.graft.index.advanceMode")
    }
  }

  test("maxDeltaChain bounds the LSM chain with a same-night " +
    "auto-compact; contents always equal, compaction stays additive") {
    val root = Files.createTempDirectory("chain").toString
    spark.conf.set("spark.graft.index.advanceMode", "delta")
    spark.conf.set("spark.graft.index.maxDeltaChain", "2")
    try {
      IndexGenerations.reset(spark, root, Seq((0L, "z")).toDF("id", "v"))
      val expected = scala.collection.mutable.ArrayBuffer(0L -> "z")
      (1 to 5).foreach { n =>
        IndexGenerations.advanceByConf(spark, root,
          Seq((n.toLong, s"v$n")).toDF("id", "v"))
        expected += (n.toLong -> s"v$n")
        val got = IndexGenerations.readCurrent(spark, root)
          .orderBy("id").as[(Long, String)].collect().toSeq
        assert(got == expected.toSeq, s"night $n diverged")
      }
      // 5 delta nights with chain cap 2: at least one auto-compact ran,
      // so the live read unions at most 1 total + 2 deltas
      val active = IndexGenerations.readCurrent(spark, root)
        .inputFiles.map(_.replaceAll("/[^/]*$", "")).distinct
      assert(active.length <= 3,
        s"chain not bounded: ${active.length} generations in the read")
    } finally {
      spark.conf.unset("spark.graft.index.advanceMode")
      spark.conf.unset("spark.graft.index.maxDeltaChain")
    }
  }

  test("multi-table generations: one marker commits all tables " +
    "together; a torn second write is invisible and overwritten") {
    val root = Files.createTempDirectory("mt").toString
    IndexGenerations.writeTables(spark, root, Map(
      "a" -> Seq((1L, "x")).toDF("id", "v"),
      "b" -> Seq((2L, "y")).toDF("id", "v")))
    // torn retrain: both tables land in gen=1, the marker never does
    Seq((9L, "bad")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$root/gen=1/a")
    Seq((9L, "bad")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$root/gen=1/b")
    val served = IndexGenerations.readTables(spark, root, Seq("a", "b"))
    assert(served("a").as[(Long, String)].collect().toSeq == Seq(1L -> "x"))
    assert(served("b").as[(Long, String)].collect().toSeq == Seq(2L -> "y"))
    // the retried retrain overwrites the torn dir and commits
    IndexGenerations.writeTables(spark, root, Map(
      "a" -> Seq((3L, "x2")).toDF("id", "v"),
      "b" -> Seq((4L, "y2")).toDF("id", "v")))
    val next = IndexGenerations.readTables(spark, root, Seq("a", "b"))
    assert(next("a").as[(Long, String)].collect().toSeq == Seq(3L -> "x2"))
    assert(next("b").as[(Long, String)].collect().toSeq == Seq(4L -> "y2"))
    IndexGenerations.prune(spark, root)
    assert(IndexGenerations.readTables(spark, root, Seq("a", "b"))("a")
      .count() == 1L)
  }

  test("IndexGenerations model property: any interleaving of advance / " +
    "advanceDelta / compact / prune — with a second writer's lease " +
    "interleaved — preserves the live contents; the fenced advance " +
    "fails cleanly") {
    val rnd = new scala.util.Random(1234)
    val root = Files.createTempDirectory("model").toString
    var model = Vector(0L -> "seed")
    IndexGenerations.reset(spark, root, model.toDF("id", "v"))
    var nextId = 1L
    def additions(): Seq[(Long, String)] = {
      val n = 1 + rnd.nextInt(3)
      val rows = (0 until n).map { _ =>
        val id = nextId; nextId += 1; id -> s"v$id"
      }
      model ++= rows
      rows
    }
    (1 to 25).foreach { step =>
      rnd.nextInt(5) match {
        case 0 => IndexGenerations
          .advance(spark, root, additions().toDF("id", "v"))
        case 1 => IndexGenerations
          .advanceDelta(spark, root, additions().toDF("id", "v"))
        case 2 => IndexGenerations.compact(spark, root)
        case 3 => IndexGenerations.prune(spark, root)
        case 4 =>
          // a concurrent writer holds the lease mid-mutation: this
          // writer's advance must fail cleanly and mutate nothing
          // (the model intentionally does NOT change)
          val lease = Paths.get(root, "_WRITER_LEASE")
          Files.write(lease,
            System.currentTimeMillis().toString.getBytes)
          val e = intercept[IllegalStateException] {
            IndexGenerations.advance(spark, root,
              Seq((888L, "fenced")).toDF("id", "v"))
          }
          assert(e.getMessage.contains("lease"), s"step $step: $e")
          Files.delete(lease)
      }
      val got = IndexGenerations.readCurrent(spark, root)
        .orderBy("id").as[(Long, String)].collect().toSeq
      assert(got == model.sortBy(_._1),
        s"step $step: store ${got.size} rows != model ${model.size}")
    }
  }

  test("intra-night duplicates fold ONCE: a delta full of internal " +
    "copies contributes one signature per distinct content, and later " +
    "nights resolve against the min-id survivor") {
    val idx = Files.createTempDirectory("intranight").toString
    DeltaAxis.Text.build(spark, idx,
      docs((0L to 3L).map(i => i -> freshText(s"in${i}p")): _*))
    val u1 = freshText("iw1p")
    val u1near = u1.split(" ").updated(9, "EDITED").mkString(" ")
    // night: three internal copies of one new content (10 exact-dups 12,
    // 11 is a 1-token edit of both) — ALL judged unique vs the index
    // (intra-delta verdicts stay d02/d03's job), but only min-id 10
    // may fold
    val v = DeltaAxis.Text.advance(spark, idx,
        docs(10L -> u1, 11L -> u1near, 12L -> u1))
      .select("doc_id", "verdict").as[(Long, String)].collect().toMap
    Pinned.releaseAll(spark)
    assert(v == Map(10L -> "unique", 11L -> "unique", 12L -> "unique"), v)
    val folded = IndexGenerations.readCurrent(spark, idx)
      .select("doc_id").as[Long].collect().toSet
    assert(folded == Set(0L, 1L, 2L, 3L, 10L),
      s"intra-night dups leaked into the index: $folded")
    // next night: copies of the kept AND the dropped variants both
    // resolve against the one surviving signature
    val v2 = DeltaAxis.Text.advance(spark, idx,
        docs(20L -> u1, 21L -> u1near))
      .select("doc_id", "verdict", "winner")
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    Pinned.releaseAll(spark)
    assert(v2(20L) == (("exact", 10L)), v2(20L))
    assert(v2(21L) == (("near", 10L)), v2(21L))
  }

  test("m12 intra-night duplicates: a delta with an internal payload " +
    "copy folds one fingerprint, and a later re-upload hits the min-id " +
    "survivor") {
    val idx = Files.createTempDirectory("m12intra").toString
    def media(rows: (Long, String)*) =
      Media.mediaFromDocuments(docs(rows: _*))
    DeltaAxis.Media.build(spark, idx,
      media((0L to 5L).map(i => i -> freshText(s"mi${i}w")): _*))
    // ids congruent mod 3 share the media kind, so 100 and 103 carry the
    // SAME payload under the same kind — an intra-night exact pair
    val t = freshText("miu1w")
    val v = DeltaAxis.Media.advance(spark, idx,
        media(100L -> t, 103L -> t))
      .select("media_id", "verdict").as[(Long, String)].collect().toMap
    Pinned.releaseAll(spark)
    assert(v == Map(100L -> "unique", 103L -> "unique"), v)
    val folded = IndexGenerations.readCurrent(spark, idx)
      .select("media_id").as[Long].collect().toSet
    assert(folded == Set(0L, 1L, 2L, 3L, 4L, 5L, 100L),
      s"m12 intra-night dup leaked into the index: $folded")
    val v2 = DeltaAxis.Media.advance(spark, idx, media(106L -> t))
      .select("media_id", "verdict", "winner")
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    Pinned.releaseAll(spark)
    assert(v2(106L) == (("exact", 100L)), v2(106L))
  }

  test("readAt serves the as-of set: after an advance, readAt(N-1) " +
    "reproduces the prior night byte-for-byte; prune honors pins") {
    val root = Files.createTempDirectory("readat").toString
    IndexGenerations.reset(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val night1 = IndexGenerations.readCurrent(spark, root)
      .orderBy("id").as[(Long, String)].collect().toSeq
    val night1Files = IndexGenerations.readCurrent(spark, root)
      .inputFiles.sorted.toSeq
    IndexGenerations.advance(spark, root, Seq((3L, "c")).toDF("id", "v"))
    // the audit read: same rows, same concrete FILES as the live read
    // served before the advance
    val asOf = IndexGenerations.readAt(spark, root, 0L)
    assert(asOf.orderBy("id").as[(Long, String)].collect().toSeq == night1)
    assert(asOf.inputFiles.sorted.toSeq == night1Files,
      "readAt resolved different files than the pre-advance live read")
    // readByConf: unset → live; pinned via conf → the as-of read
    assert(IndexGenerations.readByConf(spark, root).count() == 3L)
    spark.conf.set("spark.graft.index.readGen", "0")
    try {
      assert(IndexGenerations.readByConf(spark, root).count() == 2L)
      // prune with the conf pin set must keep gen 0 alive
      IndexGenerations.prune(spark, root)
      assert(IndexGenerations.readAt(spark, root, 0L)
        .orderBy("id").as[(Long, String)].collect().toSeq == night1)
    } finally spark.conf.unset("spark.graft.index.readGen")
    // explicit pin argument, conf unset: same protection
    IndexGenerations.prune(spark, root, pinned = Seq(0L))
    assert(IndexGenerations.readAt(spark, root, 0L)
      .orderBy("id").as[(Long, String)].collect().toSeq == night1)
    // unpinned prune drops the superseded generation; the as-of read
    // then fails loudly (the documented boundary), the live one serves
    IndexGenerations.prune(spark, root)
    intercept[IllegalStateException] {
      IndexGenerations.readAt(spark, root, 0L)
    }
    assert(IndexGenerations.readCurrent(spark, root).count() == 3L)
  }

  test("a stray non-numeric gen= directory neither bricks reads nor " +
    "survives a prune") {
    val root = Files.createTempDirectory("stray").toString
    IndexGenerations.reset(spark, root, Seq((1L, "a")).toDF("id", "v"))
    // a manual copy beside the store — must be ignored by every read
    Seq((9L, "junk")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$root/gen=tmp")
    assert(IndexGenerations.currentGen(spark, root).contains(0L))
    assert(IndexGenerations.readCurrent(spark, root)
      .orderBy("id").as[(Long, String)].collect().toSeq == Seq(1L -> "a"))
    IndexGenerations.advance(spark, root, Seq((2L, "b")).toDF("id", "v"))
    assert(IndexGenerations.readCurrent(spark, root).count() == 2L)
    IndexGenerations.prune(spark, root)
    import scala.jdk.CollectionConverters._
    val left = Files.list(Paths.get(root)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("gen=")).toSet
    assert(left == Set("gen=1"), s"stray dir survived the prune: $left")
  }

  test("reset is write-new-then-clean: on a live store it lands as a " +
    "NEW committed generation before the old ones are dropped") {
    val root = Files.createTempDirectory("resetlive").toString
    IndexGenerations.reset(spark, root, Seq((1L, "a")).toDF("id", "v"))
    IndexGenerations.advance(spark, root, Seq((2L, "b")).toDF("id", "v"))
    // a rebuild from scratch: generation numbering CONTINUES (never
    // reuses a number a reader may have resolved), contents replaced
    val g = IndexGenerations.reset(spark, root,
      Seq((7L, "rebuilt")).toDF("id", "v"))
    assert(g == 2L, s"reset reused a generation number: $g")
    assert(IndexGenerations.currentGen(spark, root).contains(2L))
    assert(IndexGenerations.readCurrent(spark, root)
      .orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq(7L -> "rebuilt"))
    import scala.jdk.CollectionConverters._
    val left = Files.list(Paths.get(root)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("gen=")).toSet
    assert(left == Set("gen=2"), s"reset left superseded generations: $left")
  }

  test("multi-table model property: interleaved writeTables / prune " +
    "serve the newest total; single-table advances REFUSE the root " +
    "and leave it untouched") {
    val rnd = new scala.util.Random(4321)
    val root = Files.createTempDirectory("mtmodel").toString
    var model: (Seq[(Long, String)], Seq[(Long, String)]) =
      (Seq(1L -> "a0"), Seq(2L -> "b0"))
    IndexGenerations.writeTables(spark, root, Map(
      "a" -> model._1.toDF("id", "v"), "b" -> model._2.toDF("id", "v")))
    var nextId = 10L
    (1 to 25).foreach { step =>
      rnd.nextInt(4) match {
        case 0 => // retrain: a fresh total for both tables
          val a = Seq(nextId -> s"a$step"); nextId += 1
          val b = Seq(nextId -> s"b$step"); nextId += 1
          model = (a, b)
          IndexGenerations.writeTables(spark, root, Map(
            "a" -> a.toDF("id", "v"), "b" -> b.toDF("id", "v")))
        case 1 => IndexGenerations.prune(spark, root)
        case 2 => // the API-mixing hazard: must throw, not write
          intercept[IllegalArgumentException] {
            IndexGenerations.advanceDelta(spark, root,
              Seq((999L, "x")).toDF("id", "v"))
          }
        case 3 =>
          intercept[IllegalArgumentException] {
            IndexGenerations.advance(spark, root,
              Seq((999L, "x")).toDF("id", "v"))
          }
      }
      val served = IndexGenerations.readTables(spark, root, Seq("a", "b"))
      assert(served("a").as[(Long, String)].collect().toSeq == model._1,
        s"step $step: table a diverged")
      assert(served("b").as[(Long, String)].collect().toSeq == model._2,
        s"step $step: table b diverged")
    }
  }

  test("AnnIndexStore: a pre-generation FLAT store stays readable, and " +
    "the first generation write takes over") {
    val root = Files.createTempDirectory("annflat").toString
    val flat = graft.operators.AnnIndexStore.Tables.zipWithIndex.map {
      case (t, i) => t -> Seq((i.toLong, s"flat_$t")).toDF("id", "v")
    }.toMap
    // an older build shipped four sibling dirs, no gen=N
    flat.foreach { case (t, df) =>
      df.write.mode("overwrite").parquet(s"$root/$t") }
    val served = graft.operators.AnnIndexStore.read(spark, root)
    graft.operators.AnnIndexStore.Tables.foreach { t =>
      assert(served(t).as[(Long, String)].collect().toSeq ==
        flat(t).as[(Long, String)].collect().toSeq, s"flat table $t")
    }
    // the upgrade path: the next write lands as generation 0 and wins
    val gen = graft.operators.AnnIndexStore.Tables.map(t =>
      t -> Seq((100L, s"gen_$t")).toDF("id", "v")).toMap
    graft.operators.AnnIndexStore.write(gen, root)
    val now = graft.operators.AnnIndexStore.read(spark, root)
    graft.operators.AnnIndexStore.Tables.foreach { t =>
      assert(now(t).as[(Long, String)].collect().toSeq ==
        Seq(100L -> s"gen_$t"), s"generation table $t")
    }
  }

  test("IndexGenerations: a reader resolved before an advance keeps " +
    "serving its generation (until prune, the documented boundary)") {
    val root = Files.createTempDirectory("iso").toString
    IndexGenerations.reset(spark, root, Seq((1L, "a")).toDF("id", "v"))
    val before = IndexGenerations.readCurrent(spark, root)
    IndexGenerations.advance(spark, root, Seq((2L, "b")).toDF("id", "v"))
    // the old frame holds concrete gen=0 paths — the advance neither
    // changes nor deletes them, so a mid-advance reader is never torn
    assert(before.orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq(1L -> "a"))
    assert(IndexGenerations.readCurrent(spark, root)
      .orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq(1L -> "a", 2L -> "b"))
  }

  test("IndexGenerations: torn advances are invisible, prune keeps only " +
    "the live generation") {
    val root = Files.createTempDirectory("gens").toString
    IndexGenerations.reset(spark, root, Seq((1L, "a")).toDF("id", "v"))
    IndexGenerations.advance(spark, root, Seq((2L, "b")).toDF("id", "v"))
    assert(IndexGenerations.currentGen(spark, root).contains(1L))
    // a torn advance: parquet written, marker never stamped — readers
    // must keep serving gen 1
    Seq((9L, "torn")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$root/gen=2")
    assert(IndexGenerations.currentGen(spark, root).contains(1L))
    assert(IndexGenerations.readCurrent(spark, root)
      .orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq(1L -> "a", 2L -> "b"))
    IndexGenerations.prune(spark, root)
    import scala.jdk.CollectionConverters._
    val left = Files.list(Paths.get(root)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("gen=")).toSet
    assert(left == Set("gen=1"), s"prune left $left")
    assert(IndexGenerations.readCurrent(spark, root).count() == 2)
  }

  test("retraction (rewrite) un-ingests: the id leaves the live index, " +
    "its content is judged unique again and RE-folds, replay records " +
    "survive, history stays pinned until prune") {
    val root = Files.createTempDirectory("retract_idx").toString
    val u1 = freshText("rtu1w")
    DeltaAxis.Text.build(spark, root,
      docs(0L -> freshText("rtb0w")))
    // night 1 admits 10; a recorded fold stamps replay evidence
    IndexGenerations.advanceByConfRecorded(spark, root,
      TextDedupOps.intraUniqueSigs(TextDedupOps.d24Sig(docs(10L -> u1))),
      Some("stream_batch_hwm" -> "rt:0"))
    assert(IndexGenerations.readCurrent(spark, root)
      .select("doc_id").as[Long].collect().toSet == Set(0L, 10L))
    val genBefore = IndexGenerations.currentGen(spark, root).get

    // retract 10: gone from the live view, records carried, history
    // still served at the pinned generation
    IndexGenerations.rewrite(spark, root,
      _.filter(!org.apache.spark.sql.functions.col("doc_id").isin(10L)))
    assert(IndexGenerations.readCurrent(spark, root)
      .select("doc_id").as[Long].collect().toSet == Set(0L))
    assert(IndexGenerations.records(spark, root, "stream_batch_hwm")
      .contains("rt:0"),
      "a retraction erased stream replay evidence")
    assert(IndexGenerations.readAt(spark, root, genBefore)
      .select("doc_id").as[Long].collect().toSet == Set(0L, 10L),
      "pre-retraction history must stay readable until prune")

    // the content is re-admittable: tonight's advance judges the SAME
    // text unique and folds it under its new id
    val v = DeltaAxis.Text.advance(spark, root, docs(20L -> u1))
      .select("verdict").as[String].collect().toSeq
    Pinned.releaseAll(spark)
    assert(v == Seq("unique"),
      s"retraction did not re-open admission: $v")
    assert(IndexGenerations.readCurrent(spark, root)
      .select("doc_id").as[Long].collect().toSet == Set(0L, 20L))

    // the fence holds: a held lease fails a rewrite cleanly
    val lease = Paths.get(root, "_WRITER_LEASE")
    Files.write(lease, System.currentTimeMillis().toString.getBytes)
    val e = intercept[IllegalStateException] {
      IndexGenerations.rewrite(spark, root, identity)
    }
    assert(e.getMessage.contains("lease"))
    Files.delete(lease)
  }
}
