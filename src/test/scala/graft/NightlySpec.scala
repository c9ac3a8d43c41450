package graft

import java.nio.file.Files

import graft.helium.SparkSuite
import graft.operators.IndexGenerations

/** End-to-end contract of the `graft.Nightly` CLI driver: two simulated
  * crawl nights over documents-shaped fixture parquet — build, then an
  * advance whose uniques the second night's delta must hit, with the
  * lifecycle flags (auto-compact conf, --prune, --verdicts) exercised
  * the way a scheduler would. */
class NightlySpec extends SparkSuite {
  import spark.implicits._

  private def freshText(p: String): String =
    (0 until 40).map(i => s"$p$i").mkString(" ")

  private def writeDocs(rows: (Long, String)*): String = {
    val dir = Files.createTempDirectory("nightly_docs").toString
    rows.map { case (id, t) => (id, t, "en", s"src${id % 2}", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private def gens(idx: String): Seq[Long] =
    IndexGenerations.committed(spark, idx)

  test("text axis, rewrite mode: two nights end to end — the night-2 " +
    "delta hits night-1's admitted unique; --prune leaves the live set") {
    val idx = Files.createTempDirectory("nl_idx").toString
    val base = writeDocs((0L to 4L).map(i => i -> freshText(s"nb${i}w")): _*)
    val out1 = Nightly.run(spark,
      Seq("text", "build", idx, base))
    assert(out1.contains("\"gen\":0") && out1.contains("\"index_rows\":5"),
      out1)

    val u1 = freshText("nu1w")
    val night1 = writeDocs(100L -> u1, 101L -> freshText("nu2w"))
    val v1dir = Files.createTempDirectory("nl_v1").toString
    val out2 = Nightly.run(spark,
      Seq("text", "advance", idx, night1, "--verdicts", v1dir))
    assert(out2.contains("\"unique\":2") && out2.contains("\"gen\":1"), out2)
    assert(spark.read.parquet(v1dir).count() == 2L,
      "night-1 verdicts artifact missing rows")

    // night 2: an exact re-crawl of the night-1 unique + one fresh doc,
    // pruned on the way out
    val night2 = writeDocs(200L -> u1, 201L -> freshText("nu3w"))
    val out3 = Nightly.run(spark,
      Seq("text", "advance", idx, night2, "--prune"))
    assert(out3.contains("\"exact\":1") && out3.contains("\"unique\":1"),
      s"night-2 delta missed night-1's admitted unique: $out3")
    assert(gens(idx) == Seq(2L), s"prune left ${gens(idx)}")
    assert(IndexGenerations.readCurrent(spark, idx)
      .select("doc_id").as[Long].collect().toSet ==
      Set(0L, 1L, 2L, 3L, 4L, 100L, 101L, 201L))
  }

  test("text axis, LSM mode with chain cap: nightly advances stay " +
    "delta-sized, the cap auto-compacts, and the final prune leaves " +
    "one total") {
    spark.conf.set("spark.graft.index.advanceMode", "delta")
    spark.conf.set("spark.graft.index.maxDeltaChain", "1")
    try {
      val idx = Files.createTempDirectory("nl_lsm").toString
      Nightly.run(spark, Seq("text", "build", idx,
        writeDocs((0L to 2L).map(i => i -> freshText(s"lb${i}h")): _*)))
      val uA = freshText("lu1h")
      Nightly.run(spark, Seq("text", "advance", idx,
        writeDocs(10L -> uA)))
      Nightly.run(spark, Seq("text", "advance", idx,
        writeDocs(11L -> freshText("lu2h"))))
      // cap 1: the second delta night must have auto-compacted —
      // the live read unions at most 1 total + 1 delta
      val active = IndexGenerations.readCurrent(spark, idx)
        .inputFiles.map(_.replaceAll("/[^/]*$", "")).distinct
      assert(active.length <= 2, s"chain not bounded: ${active.length}")
      val out = Nightly.run(spark, Seq("text", "advance", idx,
        writeDocs(20L -> uA), "--prune"))
      assert(out.contains("\"exact\":1"),
        s"LSM night-3 missed the night-1 unique: $out")
      assert(IndexGenerations.readCurrent(spark, idx)
        .select("doc_id").as[Long].collect().toSet ==
        Set(0L, 1L, 2L, 10L, 11L))
    } finally {
      spark.conf.unset("spark.graft.index.advanceMode")
      spark.conf.unset("spark.graft.index.maxDeltaChain")
    }
  }

  test("media axis: build + a night whose delta re-uploads a night-1 " +
    "unique asset — caught exact through the CLI path") {
    val idx = Files.createTempDirectory("nl_m").toString
    Nightly.run(spark, Seq("media", "build", idx,
      writeDocs((0L to 5L).map(i => i -> freshText(s"mb${i}v")): _*)))
    // perceptually distinct from the base family, not just textually
    // (same-shape token families render to near-identical rasters —
    // the DeltaAdvanceSpec m12 fixture discipline)
    val t = (0 until 9).map(i => s"WWWWWWW$i KK").mkString(" | ")
    val out1 = Nightly.run(spark, Seq("media", "advance", idx,
      writeDocs(100L -> t)))
    assert(out1.contains("\"unique\":1"), out1)
    // same payload, same kind (ids congruent mod 3 share the kind)
    val out2 = Nightly.run(spark, Seq("media", "advance", idx,
      writeDocs(103L -> t), "--prune"))
    assert(out2.contains("\"exact\":1"),
      s"media night-2 missed the re-upload: $out2")
    assert(gens(idx) == Seq(2L), s"prune left ${gens(idx)}")
  }

  test("the night command runs the full production night exactly once " +
    "into ONE shards root: per-night partitions accumulate (night 2 " +
    "cannot wipe night 1), reruns skipped and byte-frozen, night-2 " +
    "excludes night-1's admissions from its increment") {
    val idx = Files.createTempDirectory("nl_night_idx").toString
    Nightly.run(spark, Seq("text", "build", idx,
      writeDocs((0L to 4L).map(i => i -> freshText(s"gn${i}w")): _*)))
    val u1 = freshText("gu1w")
    val night1 = writeDocs(100L -> u1, 101L -> freshText("gu2w"))
    // the scheduler posture the layout must survive: one CONSTANT
    // shards root for every night
    val shards = Files.createTempDirectory("nl_sh").toString
    val out1 = Nightly.run(spark,
      Seq("text", "night", idx, night1, "--id", "n1", "--shards", shards))
    assert(out1.contains("\"skipped\":false") &&
      out1.contains("\"unique\":2") && out1.contains("\"gen\":1"), out1)
    assert(spark.read.parquet(shards).count() == 2L,
      "night-1 shards should hold both uniques")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(shards, "night=n1", "_NIGHT_COMMITTED")),
      "a committed night must carry its shard-side marker")
    // rerun of a committed night: skipped, the WHOLE root byte-untouched
    import scala.jdk.CollectionConverters._
    def state(dir: String) = java.nio.file.Files
      .walk(java.nio.file.Paths.get(dir))
      .iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p))
      .map(p => p.toString ->
        java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
    val frozen = state(shards)
    val rerun = Nightly.run(spark,
      Seq("text", "night", idx, night1, "--id", "n1", "--shards", shards))
    assert(rerun.contains("\"skipped\":true"), rerun)
    assert(state(shards) == frozen, "a skipped night touched the shards")
    // night 2 into the SAME root: a re-crawl of night-1's admitted
    // unique + one fresh doc — the copy is caught by the advanced index
    // and kept OUT of the increment, and night 1's files survive intact
    val out2 = Nightly.run(spark,
      Seq("text", "night", idx,
        writeDocs(200L -> u1, 201L -> freshText("gu3w")),
        "--id", "n2", "--shards", shards, "--prune"))
    assert(out2.contains("\"exact\":1") && out2.contains("\"unique\":1"),
      out2)
    val byNight = spark.read.parquet(shards)
      .select("night", "doc_id").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byNight == Map("n1" -> Set(100L, 101L), "n2" -> Set(201L)),
      s"the corpus root should serve BOTH increments by night: $byNight")
    val frozen1 = frozen.filter(_._1.contains("night=n1"))
    assert(state(shards).filter(_._1.contains("night=n1")) == frozen1,
      "night 2 modified night 1's increment")
    assert(gens(idx) == Seq(2L), s"prune left ${gens(idx)}")
    // the corpus lifecycle through the CLI: compact both nights into
    // one merged partition, prune the absorbed dirs, reads unchanged
    val c1 = Nightly.run(spark,
      Seq("text", "compact-shards", shards, "--into", "c1"))
    assert(c1.contains("\"skipped\":false") &&
      c1.contains("\"live\":[\"c1\"]"), c1)
    val pr = Nightly.run(spark, Seq("text", "prune-shards", shards))
    assert(pr.contains("\"deleted\":[\"n1\",\"n2\"]"), pr)
    val st = Nightly.run(spark, Seq("text", "shards-status", shards))
    assert(st.contains("\"live\":[\"c1\"]") && st.contains("\"rows\":3")
      && st.contains("\"c1\":{\"n_docs\":3"), st)
    val audit = Nightly.run(spark, Seq("text", "audit-shards", shards))
    assert(audit.contains("\"dup_groups\":0") &&
      audit.contains("\"clean\":true"), audit)
    // the retention face through the CLI: one takedown, then prune
    val del = Nightly.run(spark,
      Seq("text", "delete-docs", shards, "--ids", "100,424242"))
    assert(del.contains("\"requested\":2") && del.contains("\"c1\":\"c1-d"),
      del)
    Nightly.run(spark, Seq("text", "prune-shards", shards))
    assert(graft.operators.Corpus.readCommitted(spark, shards)
      .select("doc_id").as[Long].collect().toSet == Set(101L, 201L),
      "the CLI takedown did not remove exactly the requested doc")
    // the full un-ingest composes delete-docs (corpus) with retract
    // (index): doc 100's signature leaves the live index too
    val ret = Nightly.run(spark,
      Seq("text", "retract", idx, "--ids", "100"))
    assert(ret.contains("\"removed_ids\":1,") &&
      ret.contains("\"removed_rows\":1,"), ret)
  }

  test("night crash windows: a torn night (shards written, advance " +
    "missing) is healed by the rerun; a missing shard-side marker on a " +
    "COMMITTED night is repaired by the skipped rerun") {
    import java.nio.file.{Files => JFiles, Paths}
    val idx = Files.createTempDirectory("nl_crash_idx").toString
    Nightly.run(spark, Seq("text", "build", idx,
      writeDocs((0L to 2L).map(i => i -> freshText(s"cr${i}w")): _*)))
    val delta = writeDocs(100L -> freshText("cru1w"),
      101L -> freshText("cru2w"))
    val shards = Files.createTempDirectory("nl_crash_sh").toString
    val deltaDf = spark.read.parquet(delta)
      .select("doc_id", "source", "text")

    // crash A: the shard write landed, the advance did not — the night
    // is UNcommitted (no record), so the rerun must run fully and
    // replace the torn partition
    import org.apache.spark.sql.functions.col
    graft.operators.ShardWriter.writeDocs(
      deltaDf.filter(col("doc_id") === 100L), 16, s"$shards/night=c1")
    assert(!JFiles.exists(
      Paths.get(shards, "night=c1", "_NIGHT_COMMITTED")),
      "a torn night must not look committed")
    val healed = graft.queries.DeltaAxis.Text.night(spark, idx, deltaDf,
      "c1", Some(shards))
    assert(healed.isDefined, "rerun of an UNcommitted night must run")
    healed.foreach(_.receipt.foreach(_.count()))
    Pinned.releaseAll(spark)
    assert(spark.read.parquet(s"$shards/night=c1")
      .select("doc_id").as[Long].collect().toSet == Set(100L, 101L),
      "the healing rerun should replace the torn partition completely")
    assert(JFiles.exists(
      Paths.get(shards, "night=c1", "_NIGHT_COMMITTED")))

    // crash B: advance committed (record present) but the JVM died
    // before the shard-side marker stamp — the skipped rerun repairs
    // the marker without touching anything else
    JFiles.delete(Paths.get(shards, "night=c1", "_NIGHT_COMMITTED"))
    import scala.jdk.CollectionConverters._
    def state(dir: String) = JFiles.walk(Paths.get(dir))
      .iterator().asScala.filter(p => JFiles.isRegularFile(p))
      .filterNot(_.toString.contains("_NIGHT_COMMITTED"))
      .map(p => p.toString -> JFiles.getLastModifiedTime(p).toMillis)
      .toMap
    val frozen = state(shards)
    assert(graft.queries.DeltaAxis.Text.night(spark, idx, deltaDf,
      "c1", Some(shards)).isEmpty, "a committed night must skip")
    assert(JFiles.exists(
      Paths.get(shards, "night=c1", "_NIGHT_COMMITTED")),
      "the skipped rerun must repair the missing marker")
    assert(state(shards) == frozen,
      "the marker repair touched shard data")
  }

  test("reconcile: every served corpus id is banned in the live index " +
    "— clean after nights and after delete-docs alone, a retract " +
    "without its corpus twin is flagged with the serving night, the " +
    "completed un-ingest restores clean") {
    val idx = Files.createTempDirectory("nl_rec_idx").toString
    Nightly.run(spark, Seq("text", "build", idx,
      writeDocs((0L to 2L).map(i => i -> freshText(s"rc${i}w")): _*)))
    val shards = Files.createTempDirectory("nl_rec_sh").toString
    Nightly.run(spark, Seq("text", "night", idx,
      writeDocs(100L -> freshText("rcu1w"), 101L -> freshText("rcu2w")),
      "--id", "r1", "--shards", shards))
    val rec1 = Nightly.run(spark,
      Seq("text", "reconcile", idx, "--shards", shards))
    assert(rec1.contains("\"served_not_banned\":0") &&
      rec1.contains("\"clean\":true"), rec1)
    // delete-docs ALONE (banned-but-not-served) is the healthy
    // retention posture — reconcile must not flag it
    Nightly.run(spark, Seq("text", "delete-docs", shards,
      "--ids", "101"))
    Nightly.run(spark, Seq("text", "prune-shards", shards))
    val rec2 = Nightly.run(spark,
      Seq("text", "reconcile", idx, "--shards", shards))
    assert(rec2.contains("\"clean\":true"),
      s"delete-docs alone must stay clean: $rec2")
    // retract WITHOUT the corpus twin: doc 100 is served but no longer
    // banned — the exact damage reconcile exists to catch, named by id
    // and by the night that serves it
    Nightly.run(spark, Seq("text", "retract", idx, "--ids", "100"))
    val rec3 = Nightly.run(spark,
      Seq("text", "reconcile", idx, "--shards", shards))
    assert(rec3.contains("\"served_not_banned\":1") &&
      rec3.contains("\"sample_ids\":[100]") &&
      rec3.contains("\"clean\":false"), rec3)
    val viol = graft.operators.Corpus
      .servedNotBanned(spark, shards, idx)
      .as[(Long, Seq[String])].collect().toSeq
    assert(viol.map(_._1) == Seq(100L) &&
      viol.head._2.exists(_.startsWith("r1")),
      s"the violation must name the serving night: $viol")
    // completing the un-ingest (the corpus half) restores the invariant
    Nightly.run(spark, Seq("text", "delete-docs", shards,
      "--ids", "100"))
    Nightly.run(spark, Seq("text", "prune-shards", shards))
    val rec4 = Nightly.run(spark,
      Seq("text", "reconcile", idx, "--shards", shards))
    assert(rec4.contains("\"clean\":true"), rec4)
  }

  test("judge is the read-only dry-run: tonight's verdicts against " +
    "the live index with nothing folded, nothing recorded, the store " +
    "byte-untouched — then the real night folds the same delta") {
    val idx = Files.createTempDirectory("nl_judge").toString
    Nightly.run(spark, Seq("text", "build", idx,
      writeDocs((0L to 2L).map(i => i -> freshText(s"jd${i}w")): _*)))
    val u1 = freshText("jdu1w")
    Nightly.run(spark, Seq("text", "advance", idx, writeDocs(10L -> u1)))
    val delta = writeDocs(20L -> u1, 21L -> freshText("jdu2w"))
    val vdir = Files.createTempDirectory("nl_judge_v").toString
    val before = IndexGenerations.readCurrent(spark, idx)
      .select("doc_id").as[Long].collect().toSet
    val out = Nightly.run(spark,
      Seq("text", "judge", idx, delta, "--verdicts", vdir))
    assert(out.contains("\"metric\":\"nightly_judge\"") &&
      out.contains("\"exact\":1") && out.contains("\"unique\":1") &&
      out.contains("\"folded\":false"), out)
    assert(spark.read.parquet(vdir).count() == 2L,
      "the dry-run verdict artifact is missing rows")
    assert(IndexGenerations.committed(spark, idx) == Seq(0L, 1L) &&
      IndexGenerations.readCurrent(spark, idx)
        .select("doc_id").as[Long].collect().toSet == before,
      "judge must not touch the store")
    // judged twice = same answer (read-only); the real night then
    // folds the same delta and the unique is admitted
    assert(Nightly.run(spark, Seq("text", "judge", idx, delta))
      .contains("\"unique\":1"))
    val night = Nightly.run(spark, Seq("text", "night", idx, delta,
      "--id", "jn1", "--shards",
      Files.createTempDirectory("nl_judge_sh").toString))
    assert(night.contains("\"unique\":1") &&
      night.contains("\"skipped\":false"), night)
    assert(IndexGenerations.readCurrent(spark, idx)
      .select("doc_id").as[Long].collect().toSet == before + 21L)
  }

  test("a dangling value-flag errors loudly instead of reading as " +
    "absent — '--pin' with the value forgotten must not prune the " +
    "nights it meant to protect, '--shards' must not skip the corpus") {
    val root = Files.createTempDirectory("nl_flag").toString
    Seq("--pin", "--shards", "--ids", "--verdicts").foreach { f =>
      val e = intercept[IllegalArgumentException] {
        Nightly.run(spark, Seq("text", "prune-shards", root, f))
      }
      assert(e.getMessage.contains("requires a value"), e.getMessage)
    }
    // a flag followed by another flag is dangling too
    val e = intercept[IllegalArgumentException] {
      Nightly.run(spark,
        Seq("text", "night", root, root, "--shards", "--prune"))
    }
    assert(e.getMessage.contains("requires a value"), e.getMessage)
  }

  /** A numeric flag given `bad` fails before anything is read, naming
    * the flag and the value (no data exists under these roots). */
  private def badNumber(flag: String, bad: String, args: String*): Unit = {
    val e = intercept[IllegalArgumentException](Nightly.run(spark, args))
    assert(e.getMessage.contains(flag) && e.getMessage.contains(s"'$bad'"),
      e.getMessage)
  }

  test("feed's --epoch and --readers fail naming the flag and the value") {
    val root = Files.createTempDirectory("nl_num_feed").toString
    badNumber("--epoch", "one",
      "text", "feed", root, "--epoch", "one", "--readers", "2")
    badNumber("--readers", "2x",
      "text", "feed", root, "--epoch", "1", "--readers", "2x")
  }

  test("--ids fails naming the flag and the value, on retract and " +
    "delete-docs") {
    val root = Files.createTempDirectory("nl_num_ids").toString
    badNumber("--ids", "7a", "text", "retract", root, "--ids", "3,7a")
    badNumber("--ids", "x", "media", "delete-docs", root, "--ids", "x")
  }

  test("--rates and --budgets values fail naming the flag and the value") {
    val root = Files.createTempDirectory("nl_num_mix").toString
    badNumber("--rates", "half", "text", "feed", root, "--epoch", "1",
      "--readers", "2", "--rates", "src0=500,src1=half")
    badNumber("--budgets", "1e3", "text", "feed", root, "--epoch", "1",
      "--readers", "2", "--budgets", "src0=1e3")
  }

  test("media night: the recorded advance is exactly-once per id — " +
    "rerun of a committed night is a no-op, and a later night still " +
    "catches the re-upload") {
    val idx = Files.createTempDirectory("nl_mnight").toString
    val mroot = Files.createTempDirectory("nl_mnight_sh").toString
    Nightly.run(spark, Seq("media", "build", idx,
      writeDocs((0L to 5L).map(i => i -> freshText(s"mn${i}v")): _*)))
    val t = (0 until 9).map(i => s"QQQQQQQ$i QZ").mkString(" | ")
    val delta1 = writeDocs(100L -> t)
    val out1 = Nightly.run(spark,
      Seq("media", "night", idx, delta1, "--id", "m1",
        "--shards", mroot))
    assert(out1.contains("\"skipped\":false") &&
      out1.contains("\"unique\":1") && out1.contains("\"gen\":1"), out1)
    // the media corpus half: the admitted payload landed as night=m1,
    // keyed on media_id, served by the committed read
    val mServed = graft.operators.Corpus.readCommitted(spark, mroot)
    assert(mServed.select("media_id").as[Long].collect().toSeq ==
      Seq(100L), "the media night did not shard its admitted payload")
    assert(mServed.columns.contains("payload"))
    val mAudit = Nightly.run(spark, Seq("media", "audit-shards", mroot))
    assert(mAudit.contains("\"clean\":true"), mAudit)
    val mRec = Nightly.run(spark,
      Seq("media", "reconcile", idx, "--shards", mroot))
    assert(mRec.contains("\"served_not_banned\":0") &&
      mRec.contains("\"clean\":true"), mRec)
    val rowsAfter = IndexGenerations.readCurrent(spark, idx).count()
    val rerun = Nightly.run(spark,
      Seq("media", "night", idx, delta1, "--id", "m1",
        "--shards", mroot))
    assert(rerun.contains("\"skipped\":true"), rerun)
    // retention on the payload corpus: media_id-keyed delete
    assert(graft.operators.Corpus
      .deleteDocs(spark, mroot, Seq(100L), idCol = "media_id")
      .keySet == Set("m1"))
    assert(graft.operators.Corpus.nightStats(spark, mroot).count() == 0L,
      "the media takedown left served payload rows")
    assert(gens(idx) == Seq(0L, 1L) &&
      IndexGenerations.readCurrent(spark, idx).count() == rowsAfter,
      "a skipped media night touched the store")
    // night m2: same payload, same kind (ids congruent mod 3) — exact
    val out2 = Nightly.run(spark,
      Seq("media", "night", idx, writeDocs(103L -> t),
        "--id", "m2", "--prune"))
    assert(out2.contains("\"exact\":1"), out2)
    assert(gens(idx) == Seq(2L), s"prune left ${gens(idx)}")
    // retract keys on the media axis's id column: asset 100 leaves the
    // live index and its payload becomes re-admittable
    val ret = Nightly.run(spark, Seq("media", "retract", idx, "--ids", "100"))
    assert(ret.contains("\"removed_ids\":1,") &&
      ret.contains("\"removed_rows\":1,"), ret)
    val again = Nightly.run(spark,
      Seq("media", "judge", idx, writeDocs(106L -> t)))
    assert(again.contains("\"unique\":1"), again)
  }

  test("--clean-lines scrubs boilerplate lines at ingest — the stored " +
    "corpus text is the cleaned text, and the flag refuses non-text axes") {
    val idx = Files.createTempDirectory("nl_clean").toString
    val root = Files.createTempDirectory("nl_clean_sh").toString
    Nightly.run(spark, Seq("text", "build", idx,
      writeDocs((0L to 3L).map(i => i -> freshText(s"cl${i}v")): _*)))
    val body = freshText("clean100w")
    val dirty = body + "\nsubscribe now\n" +
      "click here to accept our cookie policy\n" + body
    Nightly.run(spark, Seq("text", "night", idx, writeDocs(100L -> dirty),
      "--id", "c1", "--shards", root, "--clean-lines"))
    val stored = operators.Corpus.readCommitted(spark, root)
      .filter($"doc_id" === 100L).select("text", "n_toks")
      .as[(String, Long)].collect()
    assert(stored.length == 1, "cleaned doc did not land")
    assert(stored.head._1 == body + "\n" + body,
      s"stored text not cleaned: ${stored.head._1.take(120)}")
    // the same rule as the t29 audit: kept mass only
    val e = intercept[IllegalArgumentException] {
      Nightly.run(spark, Seq("media", "build", idx,
        writeDocs(0L -> "x y z"), "--clean-lines"))
    }
    assert(e.getMessage.contains("text-axis option"), e.getMessage)
  }

  test("vec axis through the CLI: build, a night that folds one new " +
    "direction exactly once, and a later advance that catches its " +
    "re-embedding") {
    val idx = Files.createTempDirectory("nl_vec").toString
    def embDir(rows: (Long, Int)*): String = {
      val dir = Files.createTempDirectory("nl_vec_emb").toString
      rows.map { case (id, hot) =>
        (id, (0 until 64).map(i => if (i == hot) 1f else 0f), id % 7)
      }.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(dir)
      dir
    }
    val out0 = Nightly.run(spark, Seq("vec", "build", idx,
      embDir((0L to 3L).map(i => i -> i.toInt): _*)))
    assert(out0.contains("\"index_rows\":4") && out0.contains("\"gen\":0"),
      out0)
    val delta = embDir(10L -> 2, 11L -> 30) // a copy of base dir 2 + new
    // a corpus root on the corpus-less axis is refused, not dropped —
    // and refused before anything is recorded: the night below still runs
    val refused = intercept[IllegalArgumentException] {
      Nightly.run(spark, Seq("vec", "night", idx, delta, "--id", "vn1",
        "--shards", Files.createTempDirectory("nl_vec_sh").toString))
    }
    assert(refused.getMessage.contains("--shards") &&
      refused.getMessage.contains("vec"), refused.getMessage)
    val vdir = Files.createTempDirectory("nl_vec_v").toString
    val out1 = Nightly.run(spark,
      Seq("vec", "night", idx, delta, "--id", "vn1", "--verdicts", vdir))
    assert(out1.contains("\"skipped\":false") &&
      out1.contains("\"near\":1") && out1.contains("\"unique\":1"), out1)
    assert(spark.read.parquet(vdir).count() == 2L,
      "the night's --verdicts artifact is missing rows")
    val rerun = Nightly.run(spark,
      Seq("vec", "night", idx, delta, "--id", "vn1"))
    assert(rerun.contains("\"skipped\":true"), rerun)
    val out2 = Nightly.run(spark, Seq("vec", "advance", idx,
      embDir(20L -> 30), "--prune"))
    assert(out2.contains("\"near\":1"),
      s"vec night-2 missed night-1's admitted direction: $out2")
    assert(gens(idx) == Seq(2L), s"prune left ${gens(idx)}")
    // retract keys on the vec axis's id column: vec 11 leaves the live
    // index and its direction becomes re-admittable
    val ret = Nightly.run(spark, Seq("vec", "retract", idx, "--ids", "11"))
    assert(ret.contains("\"removed_ids\":1,") &&
      ret.contains("\"removed_rows\":1,"), ret)
    val again = Nightly.run(spark, Seq("vec", "judge", idx, embDir(21L -> 30)))
    assert(again.contains("\"unique\":1"), again)
  }

  test("status reports generations, tags, the live set, the night " +
    "ledger, and the lease — before and after a night, and mid-crash") {
    spark.conf.set("spark.graft.index.advanceMode", "delta")
    try {
      val idx = Files.createTempDirectory("nl_status").toString
      Nightly.run(spark, Seq("text", "build", idx,
        writeDocs(0L -> freshText("st0q"))))
      val s0 = Nightly.run(spark, Seq("text", "status", idx))
      assert(s0.contains(""""generations":[{"gen":0,"tag":""}]""") &&
        s0.contains(""""active":[0]""") &&
        s0.contains(""""lease":{"held":false}""") &&
        s0.contains(""""index_rows":1"""), s0)
      val shards = Files.createTempDirectory("nl_status_sh").toString
      Nightly.run(spark, Seq("text", "night", idx,
        writeDocs(10L -> freshText("st1q")), "--id", "sn1",
        "--shards", shards))
      val s1 = Nightly.run(spark, Seq("text", "status", idx))
      assert(s1.contains(""""gen":1,"tag":"delta"""") &&
        s1.contains(""""records":{"night":1}""") &&
        s1.contains(""""index_rows":2"""), s1)
      // a crashed writer's abandoned lease shows up with its age
      java.nio.file.Files.write(
        java.nio.file.Paths.get(idx, "_WRITER_LEASE"),
        (System.currentTimeMillis() - 5000L).toString.getBytes)
      val s2 = Nightly.run(spark, Seq("text", "status", idx))
      assert(s2.contains(""""lease":{"held":true,"age_ms":"""), s2)
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(idx, "_WRITER_LEASE"))
    } finally spark.conf.unset("spark.graft.index.advanceMode")
  }

  test("compact and prune commands fold a delta chain into one served " +
    "total; bad arguments fail loudly") {
    spark.conf.set("spark.graft.index.advanceMode", "delta")
    try {
      val idx = Files.createTempDirectory("nl_cp").toString
      Nightly.run(spark, Seq("text", "build", idx,
        writeDocs(0L -> freshText("cb0g"))))
      Nightly.run(spark, Seq("text", "advance", idx,
        writeDocs(10L -> freshText("cu1g"))))
      val outC = Nightly.run(spark, Seq("text", "compact", idx))
      assert(outC.contains("\"gen\":2"), outC)
      val outP = Nightly.run(spark, Seq("text", "prune", idx))
      assert(outP.contains("\"kept\":1"), outP)
      assert(IndexGenerations.readCurrent(spark, idx).count() == 2L)
    } finally spark.conf.unset("spark.graft.index.advanceMode")
    intercept[IllegalArgumentException] {
      Nightly.run(spark, Seq("text", "build"))
    }
    intercept[IllegalArgumentException] {
      Nightly.run(spark, Seq("video", "build", "/tmp/x", "/tmp/y"))
    }
    intercept[RuntimeException] {
      Nightly.run(spark, Seq("text", "frobnicate", "/tmp/x"))
    }
  }

  test("'all night' fans one id across the three axes, each " +
    "independently exactly-once: one cron entry, a crashed-between-" +
    "axes rerun completes only the missing axes") {
    val base = Files.createTempDirectory("nl_all").toString
    val shards = Files.createTempDirectory("nl_all_sh").toString
    def embDir(rows: (Long, Int)*): String = {
      val dir = Files.createTempDirectory("nl_all_emb").toString
      rows.map { case (id, hot) =>
        (id, (0 until 64).map(i => if (i == hot) 1f else 0f), id % 7)
      }.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(dir)
      dir
    }
    // each axis's store needs its committed base first
    Nightly.run(spark, Seq("text", "build", s"$base/text",
      writeDocs((0L to 3L).map(i => i -> freshText(s"al${i}w")): _*)))
    Nightly.run(spark, Seq("media", "build", s"$base/media",
      writeDocs((0L to 3L).map(i => i -> freshText(s"am${i}w")): _*)))
    Nightly.run(spark, Seq("vec", "build", s"$base/vec",
      embDir((0L to 3L).map(i => i -> i.toInt): _*)))

    val mediaShards = Files.createTempDirectory("nl_all_msh").toString
    val docs = writeDocs(100L -> freshText("au1w"))
    val emb = embDir(100L -> 9)
    val out = Nightly.run(spark, Seq("all", "night", base, docs,
      "--id", "a1", "--shards", shards, "--emb", emb,
      "--media-shards", mediaShards))
    assert(out.contains("\"metric\":\"nightly_all_night\"") &&
      out.split("\"skipped\":false").length == 4, out)
    assert(spark.read.parquet(shards).count() == 1L)
    // freshText-derived payloads may be judged perceptual near-dups of
    // the base (the m12 fixture discipline), so the increment can be
    // legitimately empty — what the all-night must guarantee is that
    // the media axis got ITS OWN root and committed its night there
    // (the data path is pinned by the single-axis media night test)
    assert(graft.operators.Corpus.liveNights(spark, mediaShards) ==
      Seq("a1"), "the all-night missed the media corpus half")
    Seq("text", "media", "vec").foreach { ax =>
      assert(IndexGenerations.currentGen(spark, s"$base/$ax")
        .contains(1L), s"$ax did not advance")
    }

    // rerun: every axis skips
    val rerun = Nightly.run(spark, Seq("all", "night", base, docs,
      "--id", "a1", "--shards", shards, "--emb", emb))
    assert(rerun.split("\"skipped\":true").length == 4, rerun)

    // crash-between-axes: media's night a2 already committed by a
    // partial earlier run — the all-night completes text + vec only
    val docs2 = writeDocs(200L -> freshText("au2w"))
    Nightly.run(spark,
      Seq("media", "night", s"$base/media", docs2, "--id", "a2"))
    val heal = Nightly.run(spark, Seq("all", "night", base, docs2,
      "--id", "a2", "--shards", shards, "--emb", embDir(200L -> 21)))
    assert(heal.contains("\"media\":{\"metric\":\"nightly_night\"") &&
      heal.split("\"skipped\":false").length == 3 &&
      heal.split("\"skipped\":true").length == 2, heal)

    // without --emb the vec axis is skipped entirely; status spans all
    val st = Nightly.run(spark, Seq("all", "status", base))
    assert(st.contains("\"metric\":\"nightly_all_status\"") &&
      st.split("\"metric\":\"nightly_status\"").length == 4, st)

    // all-judge: the dry-run fans across the fed axes, nothing folds
    val gensBefore = Seq("text", "media", "vec")
      .map(ax => IndexGenerations.committed(spark, s"$base/$ax"))
    val jd = Nightly.run(spark, Seq("all", "judge", base, docs2,
      "--emb", embDir(300L -> 31)))
    assert(jd.contains("\"metric\":\"nightly_all_judge\"") &&
      jd.split("\"folded\":false").length == 4, jd)
    assert(Seq("text", "media", "vec")
      .map(ax => IndexGenerations.committed(spark, s"$base/$ax")) ==
      gensBefore, "all-judge advanced a store")

    // all-reconcile: both corpora against their indexes in one command
    // — never the vec axis (no shard corpus), even with --emb present
    val rec = Nightly.run(spark, Seq("all", "reconcile", base,
      "--shards", shards, "--media-shards", mediaShards, "--emb", emb))
    assert(rec.contains("\"metric\":\"nightly_all_reconcile\"") &&
      rec.split("\"clean\":true").length == 3 &&
      !rec.contains("\"vec\""), rec)
    // a text-only deployment omits --media-shards: media leg skipped,
    // text still answers
    val recT = Nightly.run(spark, Seq("all", "reconcile", base,
      "--shards", shards))
    assert(recT.split("\"clean\":true").length == 2 &&
      !recT.contains("\"media\""), recT)
  }
}
