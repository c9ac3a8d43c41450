package graft.operators

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.helium.SparkSuite
import graft.queries.DeltaAxis

/** The corpus root's consumer contract: committed-only reads,
  * compaction with recorded absorption, lazy prune. Nights are written
  * by the real text night (against a real index) so the spec pins the
  * producer/consumer pair, not a fixture of the layout. */
class CorpusSpec extends SparkSuite {
  import spark.implicits._

  private def freshText(p: String): String =
    (0 until 40).map(i => s"$p$i").mkString(" ")

  private def docsDf(rows: (Long, String)*) =
    rows.map { case (id, t) => (id, "s" + (id % 2), t) }
      .toDF("doc_id", "source", "text")

  private def night(idx: String, root: String, id: String,
      rows: (Long, String)*): Unit = {
    assert(DeltaAxis.Text.night(spark, idx, docsDf(rows: _*), id, Some(root))
      .isDefined, s"night $id unexpectedly skipped")
    graft.Pinned.releaseAll(spark)
  }

  private def servedIds(root: String): Set[Long] =
    Corpus.readCommitted(spark, root)
      .select("doc_id").as[Long].collect().toSet

  private def walk(dir: String): Seq[(String, Long)] = {
    val s = java.nio.file.Files.walk(Paths.get(dir))
    try s.iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(p => p.toString -> java.nio.file.Files.size(p))
      .toSeq.sortBy(_._1)
    finally s.close()
  }

  test("readCommitted serves exactly the committed nights — a crashed " +
    "night's partial dir (files, no marker) is invisible") {
    val idx = Files.createTempDirectory("cs_idx").toString
    val root = Files.createTempDirectory("cs_root").toString
    DeltaAxis.Text.build(spark, idx,
      docsDf((0L to 2L).map(i => i -> freshText(s"cb${i}w")): _*))
    night(idx, root, "n1",
      10L -> freshText("cu1w"), 11L -> freshText("cu2w"))

    // fabricate the crash: a night dir with real parquet but no marker
    Seq((99L, "s1", "junk")).toDF("doc_id", "source", "text")
      .write.parquet(s"$root/night=crashed")

    assert(Corpus.liveNights(spark, root) == Seq("n1"))
    assert(servedIds(root) == Set(10L, 11L),
      "a marker-less partial night leaked into the committed read")
    // partition columns ride along for directory pruning
    val cols = Corpus.readCommitted(spark, root).columns.toSet
    assert(cols.contains("night") && cols.contains("shard"))
  }

  test("compactNights rewrites the live set as one recorded merge: " +
    "reads unchanged, absorbed dirs prunable, rerun a frozen no-op, " +
    "chains resolve") {
    val idx = Files.createTempDirectory("cc_idx").toString
    val root = Files.createTempDirectory("cc_root").toString
    DeltaAxis.Text.build(spark, idx, docsDf(0L -> freshText("kb0w")))
    night(idx, root, "n1", 10L -> freshText("ku1w"))
    night(idx, root, "n2", 20L -> freshText("ku2w"))

    assert(Corpus.compactNights(spark, root, "c1"))
    assert(Corpus.liveNights(spark, root) == Seq("c1"))
    assert(servedIds(root) == Set(10L, 20L),
      "compaction changed the served row set")
    // sources still on disk (lazy prune), but excluded from reads
    assert(Files.exists(Paths.get(s"$root/night=n1")))

    // rerun with the same id: recorded no-op, root byte-frozen
    val frozen = walk(root)
    assert(!Corpus.compactNights(spark, root, "c1"))
    assert(walk(root) == frozen, "a skipped compaction touched the root")

    // prune deletes the absorbed dirs, reads unchanged
    assert(Corpus.pruneNights(spark, root).toSet == Set("n1", "n2"))
    assert(!Files.exists(Paths.get(s"$root/night=n1")))
    assert(servedIds(root) == Set(10L, 20L))

    // chain: a fresh night, then a second compaction absorbing c1+n3
    // WITHOUT an intervening prune — the absorbed set resolves the
    // chain and serves only c2
    night(idx, root, "n3", 30L -> freshText("ku3w"))
    assert(Corpus.compactNights(spark, root, "c2"))
    assert(Corpus.liveNights(spark, root) == Seq("c2"))
    assert(servedIds(root) == Set(10L, 20L, 30L))
    assert(Corpus.pruneNights(spark, root).toSet == Set("c1", "n3"))
    assert(servedIds(root) == Set(10L, 20L, 30L))
  }

  test("a run of stream micro-nights compacts to a bounded file " +
    "count — the small-files answer for the always-on corpus ingest") {
    val idx = Files.createTempDirectory("cm_idx").toString
    val root = Files.createTempDirectory("cm_root").toString
    DeltaAxis.Text.build(spark, idx, docsDf(0L -> freshText("mb0w")))
    // 8 micro-batches of 5 fresh docs each, as the stream would land them
    (0 until 8).foreach { b =>
      val docs = docsDf((0 until 5).map(i =>
        (1000L + b * 10 + i) -> freshText(s"mu${b}x${i}y")): _*)
      assert(graft.streaming.StoreDedup.nightBatch(
        spark, idx, root, docs.toDF(), "mn", b.toLong))
    }
    def parquetFiles = walk(root).count(_._1.endsWith(".parquet"))
    val before = parquetFiles
    val served = servedIds(root)
    assert(served.size == 40 && Corpus.liveNights(spark, root).size == 8)

    assert(Corpus.compactNights(spark, root, "base"))
    assert(Corpus.pruneNights(spark, root).size == 8)
    assert(parquetFiles < before,
      s"compaction did not shrink the file count ($before -> " +
        s"$parquetFiles)")
    assert(parquetFiles <= 16,
      s"the merged night must hold ~one file per shard, got " +
        s"$parquetFiles")
    assert(servedIds(root) == served,
      "compaction changed the served corpus")
  }

  test("a night filter prunes partitions at the scan — even for " +
    "digit-only night ids, where type inference would break pruning") {
    val idx = Files.createTempDirectory("cp_idx").toString
    val root = Files.createTempDirectory("cp_root").toString
    DeltaAxis.Text.build(spark, idx, docsDf(0L -> freshText("pb0w")))
    // the scheduler's natural ids are dates — all digits
    night(idx, root, "20260814", 10L -> freshText("pu1w"))
    night(idx, root, "20260815", 20L -> freshText("pu2w"))

    val one = Corpus.readCommitted(spark, root)
      .filter(org.apache.spark.sql.functions.col("night") === "20260815")
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("\\s+", " ")
        .matches("(?s).*PartitionFilters: \\[[^\\]]*night[^\\]]*\\].*"),
      s"the night filter did not reach the partition pruner:\n$plan")
    // behavioral proof: the scan touches only the filtered night's files
    val touched = one
      .select(org.apache.spark.sql.functions.input_file_name())
      .distinct().as[String].collect()
    assert(touched.nonEmpty && touched.forall(_.contains("night=20260815")),
      s"the scan read outside its night: ${touched.mkString(",")}")
    assert(one.select("doc_id").as[Long].collect().toSet == Set(20L))
    // and shard keeps its numeric face despite the string-typed read
    assert(Corpus.readCommitted(spark, root).schema("shard").dataType ==
      org.apache.spark.sql.types.LongType)
  }

  test("corpus model property: any interleaving of nights / compacts / " +
    "prunes (pinned and not) / crashed partials / committed-night " +
    "reruns / snapshot reads / retired-id reuse serves exactly the " +
    "model's rows") {
    val rnd = new scala.util.Random(4242)
    val idx = Files.createTempDirectory("cmp_idx").toString
    val root = Files.createTempDirectory("cmp_root").toString
    DeltaAxis.Text.build(spark, idx, docsDf(0L -> freshText("qb0w")))
    // model: the live night ids and the doc ids each contributes;
    // markers mirrors every committed marker ON DISK (live + absorbed-
    // but-unpruned) with its absorbs lines — the source of the retired
    // set and of what a prune deletes
    var model = Map.empty[String, Set[Long]]
    var markers = Map.empty[String, Set[String]]
    // a long-running consumer: the night set + rows it recorded, kept
    // pinned through every prune while held
    var snapshot = Option.empty[(Seq[String], Set[Long])]
    var nextId = 100L
    def freshRows(k: Int): Seq[(Long, String)] =
      (0 until k).map { _ =>
        val id = nextId; nextId += 1
        id -> freshText(s"qq${id}z")
      }
    (1 to 22).foreach { step =>
      rnd.nextInt(9) match {
        case 0 | 1 =>
          val rows = freshRows(1 + rnd.nextInt(2))
          night(idx, root, s"n$step", rows: _*)
          model += (s"n$step" -> rows.map(_._1).toSet)
          markers += (s"n$step" -> Set.empty)
        case 2 =>
          if (model.isEmpty)
            intercept[IllegalStateException] {
              Corpus.compactNights(spark, root, s"c$step")
            }
          else {
            assert(Corpus.compactNights(spark, root, s"c$step"))
            markers += (s"c$step" -> model.keySet)
            model = Map(s"c$step" -> model.values.flatten.toSet)
          }
        case 3 =>
          // prune never changes the SERVED set; a held snapshot rides
          // through pinned, exactly as its consumer would run it
          val pins = snapshot.map(_._1.toSet).getOrElse(Set.empty)
          val dead = markers.values.flatten.toSet
            .intersect(markers.keySet).diff(pins)
          assert(Corpus.pruneNights(spark, root, pins).toSet == dead,
            s"step $step: prune deleted a different set than the model")
          markers --= dead
        case 4 =>
          // a writer crashed mid-night: real files, no marker
          Seq((888L + step, "sx", "junk " * 5))
            .toDF("doc_id", "source", "text")
            .write.parquet(s"$root/night=crash$step")
        case 5 =>
          // rerun of a random committed night: recorded no-op. Only
          // REAL night ids qualify — a delete replacement ("n3-d<tag>")
          // is corpus-side only, and the night correctly REFUSES its id
          // (the collision guard), which is its own pinned test below
          model.keys.toSeq.sorted.headOption
            .filter(id => id.startsWith("n") && !id.contains("-d"))
            .foreach { id =>
              assert(DeltaAxis.Text.night(spark, idx,
                docsDf(freshRows(1): _*), id, Some(root)).isEmpty,
                s"step $step: a committed night re-ran")
            }
        case 6 =>
          // targeted deletion of a random served doc (plus one id
          // that exists nowhere); the model predicts the replacement
          // id from the documented tag rule — no peeking at the store
          val all = model.values.flatten.toSeq.sorted
          if (all.nonEmpty) {
            val victim = all(rnd.nextInt(all.length))
            val req = Seq(victim, 999999999L)
            Corpus.deleteDocs(spark, root, req)
            val tag = java.security.MessageDigest.getInstance("MD5")
              .digest(req.sorted.mkString(",").getBytes("UTF-8"))
              .take(6).map("%02x".format(_)).mkString
            model = model.map { case (k, v) =>
              if (v.contains(victim)) s"$k-d$tag" -> (v - victim)
              else k -> v
            }
            markers ++= markers.collect {
              case (k, _) if model.contains(s"$k-d$tag") =>
                s"$k-d$tag" -> Set(k)
            }
          }
        case 7 =>
          // the consumer lifecycle: record a snapshot if none is held
          // (live ids + their rows, frozen), else finish and unpin
          snapshot = snapshot match {
            case None if model.nonEmpty =>
              Some(model.keys.toSeq.sorted -> model.values.flatten.toSet)
            case _ => None
          }
        case 8 =>
          // reuse of a RETIRED id (named in any on-disk marker's
          // absorbs lines): while its own dir survives it reads as a
          // committed rerun (recorded no-op, false); once pruned, the
          // refusal guard is the only evidence left and must throw
          val retired = markers.values.flatten.toSet
          (retired -- markers.keySet).toSeq.sorted.headOption
            .foreach { id =>
              val e = intercept[IllegalStateException] {
                Corpus.compactNights(spark, root, id)
              }
              assert(e.getMessage.contains("retired"),
                s"step $step: ${e.getMessage}")
            }
          retired.intersect(markers.keySet).toSeq.sorted.headOption
            .foreach { id =>
              assert(!Corpus.compactNights(spark, root, id),
                s"step $step: absorbed-unpruned id reuse must be a " +
                  "recorded no-op")
            }
      }
      val served =
        if (model.values.flatten.isEmpty) Set.empty[Long]
        else servedIds(root)
      assert(served == model.values.flatten.toSet,
        s"step $step: served $served != model")
      assert(Corpus.liveNights(spark, root).toSet == model.keySet,
        s"step $step: live nights disagree with the model")
      // the held snapshot re-reads its FROZEN rows at every step, no
      // matter what compaction/deletion/prune did meanwhile — original
      // rows, including docs later deleted from the live view
      snapshot.foreach { case (ids, rows) =>
        val got = Corpus.readNights(spark, root, ids)
          .select("doc_id").as[Long].collect().toSet
        assert(got == rows,
          s"step $step: snapshot read $got != frozen $rows")
      }
    }
  }

  test("deleteDocs rewrites only the affected nights, absorption-" +
    "committed: untouched nights stay byte-frozen, reruns are no-ops, " +
    "a torn delete (no marker) serves the OLD night intact") {
    val idx = Files.createTempDirectory("cd_idx").toString
    val root = Files.createTempDirectory("cd_root").toString
    DeltaAxis.Text.build(spark, idx, docsDf(0L -> freshText("db0w")))
    night(idx, root, "n1",
      10L -> freshText("du1w"), 11L -> freshText("du2w"))
    night(idx, root, "n2", 20L -> freshText("du3w"))

    val frozen2 = walk(root).filter(_._1.contains("night=n2"))
    val replaced = Corpus.deleteDocs(spark, root, Seq(10L, 999L))
    assert(replaced.keySet == Set("n1") &&
      replaced("n1").startsWith("n1-d"), replaced)
    assert(servedIds(root) == Set(11L, 20L),
      "the takedown did not remove exactly the requested doc")
    assert(walk(root).filter(_._1.contains("night=n2")) == frozen2,
      "a night without hits was rewritten")
    // the old night is absorbed, its bytes leave at prune
    assert(Files.exists(Paths.get(s"$root/night=n1")))
    assert(Corpus.pruneNights(spark, root) == Seq("n1"))
    assert(servedIds(root) == Set(11L, 20L))
    // rerun of the same request: nothing left to do, nothing touched
    val frozenAll = walk(root)
    assert(Corpus.deleteDocs(spark, root, Seq(10L, 999L)).isEmpty)
    assert(walk(root) == frozenAll, "an idempotent rerun wrote")
    // the index keeps the signature: a re-crawl of the deleted content
    // is still judged a dup and cannot re-enter the corpus
    val v = DeltaAxis.Text.advance(spark, idx,
        docsDf(500L -> freshText("du1w")))
      .select("verdict").as[String].collect().toSeq
    graft.Pinned.releaseAll(spark)
    assert(v == Seq("exact"),
      s"deleted content re-entered through the nightly loop: $v")

    // torn delete: replacement written but marker never stamped — the
    // old night still serves, and the retry overwrites the debris
    night(idx, root, "n3", 30L -> freshText("du4w"),
      31L -> freshText("du5w"))
    val rep3 = Corpus.deleteDocs(spark, root, Seq(30L))("n3")
    // simulate the crash by un-stamping the replacement and re-listing
    Files.delete(Paths.get(s"$root/night=$rep3/_NIGHT_COMMITTED"))
    assert(servedIds(root).contains(30L),
      "a torn delete must leave the old night fully served")
    assert(Corpus.deleteDocs(spark, root, Seq(30L)) == Map("n3" -> rep3))
    assert(servedIds(root) == Set(11L, 20L, 31L))
  }

  test("exactDupGroups flags a hand-planted cross-night copy — the " +
    "self-consistency audit for a root of unknown provenance") {
    val idx = Files.createTempDirectory("ca_idx").toString
    val root = Files.createTempDirectory("ca_root").toString
    DeltaAxis.Text.build(spark, idx, docsDf(0L -> freshText("ab0w")))
    val t = freshText("au1w")
    night(idx, root, "n1", 10L -> t, 11L -> freshText("au2w"))
    assert(Corpus.exactDupGroups(spark, root).count() == 0L,
      "a healthy root must audit clean")
    // the damage the writers cannot produce: a foreign partition with
    // a byte-identical text, marker stamped by hand (through
    // ShardWriter so the night=/shard= layout stays consistent)
    ShardWriter.writeDocs(
      Corpus.readCommitted(spark, root)
        .filter(org.apache.spark.sql.functions.col("doc_id") === 10L)
        .drop("night", "shard")
        .withColumn("doc_id", org.apache.spark.sql.functions.lit(500L)),
      16, s"$root/night=foreign")
    Corpus.stampCommitted(spark, s"$root/night=foreign",
      Seq("foreign"), onlyIfMissing = false)
    val dups = Corpus.exactDupGroups(spark, root).collect()
    assert(dups.length == 1 && dups(0).getAs[Long]("n_copies") == 2L &&
      dups(0).getAs[Long]("min_doc_id") == 10L, dups.mkString(";"))
    assert(dups(0).getAs[scala.collection.Seq[String]]("nights")
      .toSeq == Seq("foreign", "n1"))
  }

  test("a night id colliding with a committed compaction is REFUSED — " +
    "the index ledger does not know corpus-side ids, and running " +
    "would overwrite-destroy the compacted corpus") {
    val idx = Files.createTempDirectory("cx_idx").toString
    val root = Files.createTempDirectory("cx_root").toString
    DeltaAxis.Text.build(spark, idx, docsDf(0L -> freshText("xb0w")))
    night(idx, root, "n1", 10L -> freshText("xu1w"))
    assert(Corpus.compactNights(spark, root, "20260815"))
    assert(Corpus.pruneNights(spark, root) == Seq("n1"))
    val frozen = walk(root)
    // the guard is the shared night's: a media night (--shards) into
    // the same root is refused the same way
    val midx = Files.createTempDirectory("cx_midx").toString
    DeltaAxis.Media.build(spark, midx,
      DeltaAxis.Media.fromDocs(docsDf(0L -> freshText("xb0w"))))
    Seq(DeltaAxis.Text -> idx, DeltaAxis.Media -> midx).foreach {
      case (ax, ix) =>
        val e = intercept[IllegalStateException] {
          ax.night(spark, ix, ax.fromDocs(docsDf(20L -> freshText("xu2w"))),
            "20260815", Some(root))
        }
        assert(e.getMessage.contains("collides"), s"${ax.name}: $e")
        assert(walk(root) == frozen,
          s"the refused ${ax.name} night touched the corpus root")
    }
    assert(servedIds(root) == Set(10L))
  }

  test("an ABSORBED night id stays retired even after prune deletes " +
    "its dir: reuse by compaction or a recorded night is refused " +
    "(mutual absorption would blank the corpus and let prune delete " +
    "it) — while an id whose own absorber was pruned is free again") {
    val idx = Files.createTempDirectory("ret_idx").toString
    val root = Files.createTempDirectory("ret_root").toString
    DeltaAxis.Text.build(spark, idx, docsDf(0L -> freshText("rb0w")))
    night(idx, root, "n1", 10L -> freshText("ru1w"))
    assert(Corpus.compactNights(spark, root, "c1")) // c1 absorbs n1
    assert(Corpus.compactNights(spark, root, "c2")) // c2 absorbs c1
    assert(Corpus.pruneNights(spark, root).toSet == Set("n1", "c1"))
    val frozen = walk(root)
    // c1 is still named in c2's committed marker: retired forever —
    // with NO marker of its own left to collide with, the absorbed
    // set is the only evidence
    val e1 = intercept[IllegalStateException] {
      Corpus.compactNights(spark, root, "c1")
    }
    assert(e1.getMessage.contains("retired"), e1.getMessage)
    val e2 = intercept[IllegalStateException] {
      DeltaAxis.Text.night(spark, idx,
        docsDf(20L -> freshText("ru2w")), "c1", Some(root))
    }
    assert(e2.getMessage.contains("retired"), e2.getMessage)
    // a root from before the _RETIRED cache existed (or whose cache
    // was lost): the guard falls back to the marker scan (delete the
    // local-FS .crc sidecar too, or it lingers in the walk)
    java.nio.file.Files.delete(Paths.get(root, Corpus.Retired))
    java.nio.file.Files.deleteIfExists(
      Paths.get(root, "." + Corpus.Retired + ".crc"))
    val e3 = intercept[IllegalStateException] {
      DeltaAxis.Text.night(spark, idx,
        docsDf(21L -> freshText("ru4w")), "c1", Some(root))
    }
    assert(e3.getMessage.contains("retired"),
      s"cache-less fallback failed: ${e3.getMessage}")
    val frozen2 = walk(root)
    assert(frozen2 == frozen.filterNot(_._1.contains(Corpus.Retired)),
      "a refused reuse touched the root")
    assert(Corpus.liveNights(spark, root) == Seq("c2"))
    assert(servedIds(root) == Set(10L))
    // n1's absorber c1 is pruned: no committed marker names n1, so the
    // id is free again for a writer whose own ledger allows it —
    // compaction reuses it cleanly. (A RECORDED night id like n1 stays
    // exactly-once on the index ledger regardless; this guard is the
    // corpus-side namespace only.)
    assert(Corpus.compactNights(spark, root, "n1"))
    assert(Corpus.pruneNights(spark, root) == Seq("c2"))
    assert(Corpus.liveNights(spark, root) == Seq("n1"))
    assert(servedIds(root) == Set(10L))
  }

  test("deleteDocs preserves each row's original shard: a root " +
    "compacted at nShards=4 keeps shard = hash(id) % 4 through the " +
    "deletion rewrite with NO caller-supplied count, so consumers' " +
    "derived-shard filters stay correct on any-shard-count corpora") {
    val idx = Files.createTempDirectory("sh4_idx").toString
    val root = Files.createTempDirectory("sh4_root").toString
    DeltaAxis.Text.build(spark, idx, docsDf(0L -> freshText("sb0w")))
    night(idx, root, "s1",
      (10L to 17L).map(i => i -> freshText(s"su${i}w")): _*)
    assert(Corpus.compactNights(spark, root, "sc1", nShards = 4))
    Corpus.pruneNights(spark, root)
    assert(Corpus.deleteDocs(spark, root, Seq(10L)).keySet == Set("sc1"))
    Corpus.pruneNights(spark, root)
    import org.apache.spark.sql.functions.col
    val served = Corpus.readCommitted(spark, root)
    assert(served.select("doc_id").as[Long].collect().toSet ==
      (11L to 17L).toSet)
    // every surviving row still sits in its hash(id) % 4 shard — the
    // deterministic-assignment contract a non-default corpus relies
    // on, held because the rewrite keeps the rows' OWN shard column
    assert(served
      .filter(col("shard") =!= ShardWriter.shardCol(col("doc_id"), 4))
      .count() == 0L,
      "the deletion rewrite re-sharded the replacement night")
  }

  test("readNights + pinned prune: a consumer's recorded snapshot " +
    "re-reads byte-identically across a compaction, survives a PINNED " +
    "prune, and fails loudly (never a silent subset) once unpinned " +
    "reclamation deletes it") {
    val idx = Files.createTempDirectory("snap_idx").toString
    val root = Files.createTempDirectory("snap_root").toString
    DeltaAxis.Text.build(spark, idx, docsDf(0L -> freshText("pb0w")))
    night(idx, root, "p1", 10L -> freshText("pu1w"))
    night(idx, root, "p2", 20L -> freshText("pu2w"))
    // the consumer starts: record the live set, remember the rows
    val snapshot = Corpus.liveNights(spark, root)
    assert(snapshot == Seq("p1", "p2"))
    def snapIds() = Corpus.readNights(spark, root, snapshot)
      .select("doc_id").as[Long].collect().toSet
    val rows0 = snapIds()
    assert(rows0 == Set(10L, 20L))
    // lifecycle churns around the snapshot: compact, then prune WITH
    // the pin — the absorbed dirs survive and the snapshot re-reads
    assert(Corpus.compactNights(spark, root, "pc1"))
    assert(Corpus.pruneNights(spark, root, pinned = snapshot.toSet)
      .isEmpty, "a pinned prune deleted a pinned night")
    assert(snapIds() == rows0,
      "the snapshot read changed across compact + pinned prune")
    assert(servedIds(root) == Set(10L, 20L),
      "the live read must serve the compaction meanwhile")
    // the conf form pins too (the session-wide knob a read-only
    // consumer can set without touching the prune call site)
    spark.conf.set("spark.graft.corpus.pinNights", "p1,p2")
    try assert(Corpus.pruneNights(spark, root).isEmpty)
    finally spark.conf.unset("spark.graft.corpus.pinNights")
    // pins lifted: reclamation proceeds, and the stale snapshot fails
    // loudly with the remedy instead of serving a silent subset
    assert(Corpus.pruneNights(spark, root).toSet == Set("p1", "p2"))
    val e = intercept[IllegalStateException] { snapIds() }
    assert(e.getMessage.contains("pruned") &&
      e.getMessage.contains("pinNights"), e.getMessage)
    // an uncommitted (torn) dir is not readable history either
    Seq((99L, "s1", "junk")).toDF("doc_id", "source", "text")
      .write.parquet(s"$root/night=torn")
    val e2 = intercept[IllegalStateException] {
      Corpus.readNights(spark, root, Seq("torn"))
    }
    assert(e2.getMessage.contains("not committed"), e2.getMessage)
  }

  test("a STALE retired cache (crash before its write) is safe: ids " +
    "it misses still have dirs + markers, so reuse hits the collision " +
    "check until the next prune rewrites the cache") {
    val idx = Files.createTempDirectory("stale_idx").toString
    val root = Files.createTempDirectory("stale_root").toString
    DeltaAxis.Text.build(spark, idx, docsDf(0L -> freshText("tb0w")))
    night(idx, root, "t1", 10L -> freshText("tu1w"))
    // simulate the crash window: compact commits its marker but the
    // cache write never lands (blank it back to the pre-compact state)
    assert(Corpus.compactNights(spark, root, "tc1"))
    java.nio.file.Files.write(Paths.get(root, Corpus.Retired),
      Array.empty[Byte])
    // t1 is absorbed but missing from the cache — its dir + marker
    // still exist (nothing pruned), so a reuse attempt is caught by
    // the committed-rerun/collision layer, not the retired guard.
    // (The reuse comes from a DIFFERENT index lineage — the original
    // index's own night ledger would skip t1 as a recorded rerun long
    // before either corpus guard, which is the healthy path.)
    val idx2 = Files.createTempDirectory("stale_idx2").toString
    DeltaAxis.Text.build(spark, idx2, docsDf(0L -> freshText("tb2w")))
    // a media lineage (a media night given --shards) meets the same
    // guards in the same root
    val midx2 = Files.createTempDirectory("stale_midx2").toString
    DeltaAxis.Media.build(spark, midx2,
      DeltaAxis.Media.fromDocs(docsDf(0L -> freshText("tb2w"))))
    val lineages = Seq(DeltaAxis.Text -> idx2, DeltaAxis.Media -> midx2)
    assert(!Corpus.compactNights(spark, root, "t1"),
      "reusing a marker-bearing id must read as a committed no-op")
    lineages.foreach { case (ax, ix) =>
      val e = intercept[IllegalStateException] {
        ax.night(spark, ix, ax.fromDocs(docsDf(20L -> freshText("tu2w"))),
          "t1", Some(root))
      }
      assert(e.getMessage.contains("collides"), s"${ax.name}: $e")
    }
    // the next prune heals the cache: t1's dir goes, and the guard
    // alone now carries the refusal
    assert(Corpus.pruneNights(spark, root) == Seq("t1"))
    lineages.foreach { case (ax, ix) =>
      val e2 = intercept[IllegalStateException] {
        ax.night(spark, ix, ax.fromDocs(docsDf(21L -> freshText("tu3w"))),
          "t1", Some(root))
      }
      assert(e2.getMessage.contains("retired"), s"${ax.name}: $e2")
    }
  }

  test("a replayed EMPTY stream batch mints no phantom night: the " +
    "marker repair only fires for a dir that exists") {
    val idx = Files.createTempDirectory("cph_idx").toString
    val root = Files.createTempDirectory("cph_root").toString
    DeltaAxis.Text.build(spark, idx, docsDf(0L -> freshText("hb0w")))
    // batch 3 recorded; a replay of EMPTY batch 2 is hwm-covered
    assert(graft.streaming.StoreDedup.nightBatch(spark, idx, root,
      docsDf(10L -> freshText("hu1w")).toDF(), "ph", 3L))
    assert(!graft.streaming.StoreDedup.nightBatch(spark, idx, root,
      docsDf().toDF(), "ph", 2L))
    assert(Corpus.liveNights(spark, root) == Seq("ph.3"),
      "an empty replayed batch minted a phantom night")
    assert(!Files.exists(Paths.get(s"$root/night=ph.2")))
  }

  test("status faces stay total on a fully-taken-down corpus: every " +
    "live night marker-only after delete + prune") {
    val idx = Files.createTempDirectory("ct_idx").toString
    val root = Files.createTempDirectory("ct_root").toString
    DeltaAxis.Text.build(spark, idx, docsDf(0L -> freshText("tb0w")))
    night(idx, root, "n1", 10L -> freshText("tu1w"))
    Corpus.deleteDocs(spark, root, Seq(10L))
    Corpus.pruneNights(spark, root)
    // the only live night is the empty replacement
    assert(Corpus.liveNights(spark, root).head.startsWith("n1-d"))
    assert(Corpus.nightStats(spark, root).count() == 0L)
    assert(Corpus.exactDupGroups(spark, root).count() == 0L)
    val st = graft.Nightly.run(spark,
      Seq("text", "shards-status", root))
    assert(st.contains("\"rows\":0"), st)
    val audit = graft.Nightly.run(spark,
      Seq("text", "audit-shards", root))
    assert(audit.contains("\"clean\":true"), audit)
  }

  test("schema evolution across nights: a later night's new column " +
    "arrives in the committed read (null for older nights), not " +
    "silently dropped") {
    val idx = Files.createTempDirectory("ce2_idx").toString
    val root = Files.createTempDirectory("ce2_root").toString
    DeltaAxis.Text.build(spark, idx, docsDf(0L -> freshText("eb0w")))
    night(idx, root, "n1", 10L -> freshText("eu1w"))
    // a v2-pipeline night carries an extra column, written by hand
    // through ShardWriter with its marker (the real text night would do
    // this the day the pipeline adds the column)
    ShardWriter.writeDocs(
      Seq((20L, "s0", freshText("eu2w"), "fr"))
        .toDF("doc_id", "source", "text", "lang_v2"),
      16, s"$root/night=n2")
    Corpus.stampCommitted(spark, s"$root/night=n2", Seq("n2"),
      onlyIfMissing = false)

    val served = Corpus.readCommitted(spark, root)
    assert(served.columns.contains("lang_v2"),
      s"the evolved column was dropped: ${served.columns.mkString(",")}")
    val byId = served
      .select("doc_id", "lang_v2")
      .as[(Long, Option[String])].collect().toMap
    assert(byId(20L) == Some("fr") && byId(10L).isEmpty,
      s"evolved column values wrong: $byId")
  }

  test("an empty root: readCommitted throws without a schema, reads as " +
    "an empty frame with one") {
    val root = Files.createTempDirectory("ce_root").toString
    intercept[IllegalStateException] {
      Corpus.readCommitted(spark, root)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType)))
    assert(Corpus.readCommitted(spark, root, Some(schema)).count() == 0L)
  }
}
