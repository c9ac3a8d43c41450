package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.helium.SparkSuite
import graft.queries.{DeltaAxis, TextDedupOps}

/** The training feed's contracts: the tied multi-value prefix sum is
  * bit-identical to the naive (ord, tie) window; epoch positions are a
  * deterministic permutation independent of cluster layout; reader
  * slices are contiguous, complete, and token-balanced; and the corpus
  * hand-off (Corpus.epochFeed + the Nightly feed CLI) serves exactly
  * the committed nights. */
class EpochFeedSpec extends SparkSuite {
  import spark.implicits._

  // ---- exclusiveMulti: ties + several sums in one pass ----

  /** Heavy-tie fixture: ord collides ON PURPOSE (mod 7), tie (doc_id)
    * is unique — the epoch feed's 60-bit-collision shape, exaggerated. */
  private lazy val tied = {
    val rnd = new scala.util.Random(7)
    (1 to 3000).map { i =>
      ("g" + (i % 3), (i % 7).toLong, i.toLong, (rnd.nextInt(9) + 1).toLong)
    }.toDF("part", "ord", "tie", "v").repartition(8)
  }

  test("exclusiveMulti with a tie column is bit-identical to the " +
    "(ord, tie) ordered window, for every output, at every bucket count") {
    val w = Window.partitionBy(col("part")).orderBy(col("ord"), col("tie"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val expected = tied
      .withColumn("one", lit(1L))
      .withColumn("cnt", coalesce(sum(col("one")).over(w), lit(0L)))
      .withColumn("cum", coalesce(sum(col("v")).over(w), lit(0L)))
      .select("part", "tie", "cnt", "cum")
      .as[(String, Long, Long, Long)].collect()
      .map { r => (r._1, r._2) -> (r._3, r._4) }.toMap
    for (b <- Seq(1, 2, 7, 32, 997)) {
      val got = PrefixSum.exclusiveMulti(
        tied.withColumn("one", lit(1L)), "part", "ord", Some("tie"),
        Seq("one" -> "cnt", "v" -> "cum"), b)
        .select("part", "tie", "cnt", "cum")
        .as[(String, Long, Long, Long)].collect()
        .map { r => (r._1, r._2) -> (r._3, r._4) }.toMap
      assert(got == expected, s"divergence at buckets=$b")
    }
  }

  // ---- withOrder: a deterministic permutation ----

  private def docs(n: Int) =
    (0 until n).map(i => (i.toLong, "s" + (i % 4), (i % 13 + 1).toLong))
      .toDF("doc_id", "source", "n_toks")

  test("withOrder assigns a permutation of 0..n-1, stable across runs " +
    "and across input partitioning, and different per epoch") {
    val d = docs(500)
    def posMap(df: org.apache.spark.sql.DataFrame, epoch: Int) =
      EpochFeed.withOrder(df, epoch)
        .select("doc_id", "pos").as[(Long, Long)].collect().toMap
    val e1 = posMap(d, 1)
    assert(e1.values.toSeq.sorted == (0L until 500L), "not a permutation")
    assert(posMap(d, 1) == e1, "two runs disagree")
    assert(posMap(d.repartition(17), 1) == e1,
      "order depends on input partitioning")
    assert(posMap(d.repartition(1), 1) == e1,
      "order depends on input partitioning (single partition)")
    val e2 = posMap(d, 2)
    assert(e2.values.toSeq.sorted == (0L until 500L))
    assert(e1 != e2, "epoch 1 and 2 produced the same order")
  }

  test("the epoch order actually interleaves sources (shuffle quality)") {
    // 4 sources striped by doc_id: if the order were id-order, the
    // first quartile would hold exactly one source per residue — the
    // hash order must mix all 4 sources into the first quartile
    val first = EpochFeed.withOrder(docs(400), 1)
      .filter(col("pos") < 100)
      .select("source").distinct().as[String].collect().toSet
    assert(first == Set("s0", "s1", "s2", "s3"),
      s"first quartile missing sources: $first")
  }

  // ---- feed: contiguous, complete, balanced slices ----

  test("feed slices are contiguous in position, cover every document " +
    "exactly once, and balance tokens to within one document") {
    val n = 1000
    val readers = 8
    val rows = EpochFeed.feed(docs(n), epoch = 3, nReaders = readers,
        tokCol = "n_toks")
      .select("doc_id", "pos", "reader", "n_toks")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.length == n)
    assert(rows.map(_._2).sorted.toSeq == (0L until n.toLong),
      "positions not a permutation")
    // contiguity + completeness: sorted by pos, reader is non-decreasing
    val byPos = rows.sortBy(_._2)
    assert(byPos.map(_._3).sliding(2).forall(p => p(0) <= p(1)),
      "a reader's slice is not contiguous")
    assert(byPos.map(_._3).distinct.toSeq == (0L until readers.toLong),
      "some reader rank got no slice")
    // balance: every rank within one max-document of the ideal share
    val total = rows.map(_._4).sum
    val maxTok = rows.map(_._4).max
    val perReader = rows.groupBy(_._3).view.mapValues(_.map(_._4).sum)
    perReader.foreach { case (r, t) =>
      assert(math.abs(t - total / readers) <= 2 * maxTok + 1,
        s"reader $r holds $t tokens vs ideal ${total / readers}")
    }
  }

  test("feed edge cases: one reader takes everything; zero-token tail " +
    "documents stay in range") {
    val one = EpochFeed.feed(docs(50), 1, 1, "n_toks")
      .select("reader").distinct().as[Long].collect().toSeq
    assert(one == Seq(0L))
    // all-zero tokens: reader must stay in [0, n) via the least() guard
    val zeros = (0 until 20).map(i => (i.toLong, "s", 0L))
      .toDF("doc_id", "source", "n_toks")
    val rs = EpochFeed.feed(zeros, 1, 4, "n_toks")
      .select("reader").as[Long].collect()
    assert(rs.forall(r => r >= 0 && r < 4), s"reader out of range: ${rs.toSeq}")
  }

  // ---- per-epoch mixture sampling ----

  test("mixtureKeep realizes the requested rate and epochs draw " +
    "independent subsets") {
    val n = 20000
    val d = (0 until n).map(i => (i.toLong, 400L))
      .toDF("doc_id", "rate_pm")
    val flags = d
      .withColumn("k1", EpochFeed.mixtureKeep(col("doc_id"), col("rate_pm"), 1))
      .withColumn("k2", EpochFeed.mixtureKeep(col("doc_id"), col("rate_pm"), 2))
      .select("k1", "k2").as[(Boolean, Boolean)].collect()
    val n1 = flags.count(_._1); val n2 = flags.count(_._2)
    val both = flags.count(f => f._1 && f._2)
    // rate 400‰ over 20k coins: ±3σ ≈ ±21‰
    assert(math.abs(n1 * 1000L / n - 400) < 25, s"epoch1 rate ${n1 * 1000L / n}")
    assert(math.abs(n2 * 1000L / n - 400) < 25, s"epoch2 rate ${n2 * 1000L / n}")
    // independence: overlap ≈ 160‰ (= 0.4²), NOT 400‰ (same subset)
    assert(math.abs(both * 1000L / n - 160) < 30,
      s"epoch overlap ${both * 1000L / n}‰ — epochs are not independent draws")
    // determinism: same epoch, same coin
    val again = d.withColumn("k1",
      EpochFeed.mixtureKeep(col("doc_id"), col("rate_pm"), 1))
      .select("k1").as[Boolean].collect()
    assert(again.toSeq == flags.map(_._1).toSeq)
  }

  // ---- the corpus hand-off ----

  test("Corpus.epochFeed + Nightly feed serve exactly the committed " +
    "nights, snapshot-pinnable, with a balanced per-rank report") {
    val idx = Files.createTempDirectory("ef_idx").toString
    val root = Files.createTempDirectory("ef_root").toString
    val out = Files.createTempDirectory("ef_out").toString
    def text(p: String) = (0 until 40).map(i => s"$p$i").mkString(" ")
    def df(ids: Range, p: String) =
      ids.map(i => (i.toLong, "s" + (i % 2), text(s"$p$i")))
        .toDF("doc_id", "source", "text")
    DeltaAxis.Text.build(spark, idx, df(0 until 6, "base"))
    assert(DeltaAxis.Text.night(spark, idx, df(100 until 140, "na"),
      "na", Some(root)).isDefined)
    assert(DeltaAxis.Text.night(spark, idx, df(200 until 240, "nb"),
      "nb", Some(root)).isDefined)
    graft.Pinned.releaseAll(spark)

    val served = Corpus.readCommitted(spark, root)
      .select("doc_id").as[Long].collect().toSet
    val feed = Corpus.epochFeed(spark, root, epoch = 1, nReaders = 4)
    val got = feed.select("doc_id", "pos", "reader")
      .as[(Long, Long, Long)].collect()
    assert(got.map(_._1).toSet == served,
      "feed does not cover exactly the served corpus")
    assert(got.map(_._2).sorted.toSeq ==
      (0L until served.size.toLong))

    // a pinned single-night snapshot feeds only that night, and its
    // order is reproducible after more nights land
    val naOnly = Corpus.epochFeed(spark, root, 1, 4, Some(Seq("na")))
      .select("doc_id", "pos").as[(Long, Long)].collect().toMap
    assert(naOnly.keySet == (100L until 140L).toSet)
    assert(DeltaAxis.Text.night(spark, idx, df(300 until 320, "nc"),
      "nc", Some(root)).isDefined)
    graft.Pinned.releaseAll(spark)
    assert(Corpus.epochFeed(spark, root, 1, 4, Some(Seq("na")))
      .select("doc_id", "pos").as[(Long, Long)].collect().toMap == naOnly,
      "pinned snapshot order shifted after a new night committed")

    // the CLI face: assignment table written per epoch, balance report
    val lineOut = graft.Nightly.run(spark, Seq("text", "feed", root,
      "--epoch", "2", "--readers", "4", "--out", out))
    assert(lineOut.contains(""""metric":"feed""""), lineOut)
    assert(lineOut.contains(""""written":true"""), lineOut)
    val written = spark.read.parquet(s"$out/epoch=2")
    assert(written.select("doc_id").as[Long].collect().toSet ==
      served ++ (300L until 320L).toSet)
    assert(written.select("reader").distinct().as[Long].collect()
      .toSet == Set(0L, 1L, 2L, 3L))
    // the commit marker stamps the spec that produced the artifact —
    // a reader honoring it never sees a torn overwrite; readFeed IS
    // that reader, and refuses a marker-less (in-flight/torn) dir
    val (feedBack, markerSpec) = EpochFeed.readFeed(spark, out, 2)
    assert(feedBack.count() == written.count())
    assert(markerSpec.contains("epoch=2") &&
      markerSpec.contains("readers=4") &&
      markerSpec.contains("materialize=false"), markerSpec)
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$out/epoch=2/_FEED_COMMITTED"))
    val torn = intercept[IllegalStateException] {
      EpochFeed.readFeed(spark, out, 2)
    }
    assert(torn.getMessage.contains("_FEED_COMMITTED"), torn.getMessage)

    // --materialize: full corpus rows land in epoch order, one file
    // per rank — each rank dir is strictly ascending in pos and
    // carries the text, so a loader reads sequentially with no join
    val mat = Files.createTempDirectory("ef_mat").toString
    graft.Nightly.run(spark, Seq("text", "feed", root,
      "--epoch", "2", "--readers", "4", "--out", mat, "--materialize"))
    val allMat = spark.read.parquet(s"$mat/epoch=2")
    assert(allMat.columns.contains("text"), allMat.columns.mkString(","))
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$mat/epoch=2/_FEED_COMMITTED")), "UTF-8")
      .contains("materialize=true"))
    assert(allMat.select("doc_id").as[Long].collect().toSet ==
      written.select("doc_id").as[Long].collect().toSet)
    for (r <- 0 to 3) {
      val dir = new java.io.File(s"$mat/epoch=2/reader=$r")
      val files = dir.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1,
        s"rank $r has ${files.length} files — expected exactly one")
      val ps = spark.read.parquet(files.head.toString)
        .select("pos").as[Long].collect()
      assert(ps.sameElements(ps.sorted),
        s"rank $r file is not in epoch order")
    }
    // materialized assignment matches the assignment-table run
    val matAssign = allMat.select("doc_id", "pos", "reader")
      .as[(Long, Long, Long)].collect().toSet
    assert(matAssign == written.select("doc_id", "pos", "reader")
      .as[(Long, Long, Long)].collect().toSet)

    // --rates: the epoch-seeded mixture coin thins the named source
    // deterministically; unlisted sources keep everything
    val lineR = graft.Nightly.run(spark, Seq("text", "feed", root,
      "--epoch", "2", "--readers", "2", "--rates", "s0=400"))
    val kept = Corpus.readCommitted(spark, root)
      .filter(col("source") =!= "s0" ||
        EpochFeed.mixtureKeep(col("doc_id"), lit(400L), 2))
      .count()
    assert(lineR.contains(s""""rows":$kept"""), s"$lineR vs $kept")
    assert(graft.Nightly.run(spark, Seq("text", "feed", root,
      "--epoch", "2", "--readers", "2", "--rates", "s0=400")) == lineR,
      "rates feed not deterministic")

    // --budgets: the named source is capped at its token budget in
    // epoch order; the unlisted source rides through whole
    val lineB = graft.Nightly.run(spark, Seq("text", "feed", root,
      "--epoch", "2", "--readers", "2", "--budgets", "s0=50"))
    val servedAll = Corpus.readCommitted(spark, root)
    val droppedB = EpochFeed.withSourceCum(
        servedAll.select(col("doc_id"), col("source"),
          col("n_toks").cast("long").as("w")), 2, "w")
      .filter(col("source") === "s0" && col("src_cum_before") >= 50)
      .count()
    val keptB = servedAll.count() - droppedB
    assert(droppedB > 0, "the 50-token budget did not bite")
    assert(lineB.contains(s""""rows":$keptB"""), s"$lineB vs $keptB")
  }

  test("feed --split partitions the corpus by the d15 identity hash — " +
    "train/val/test are disjoint, complete, and eval never feeds") {
    val idx = Files.createTempDirectory("ef_sidx").toString
    val root = Files.createTempDirectory("ef_sroot").toString
    def text(p: String) = (0 until 40).map(i => s"$p$i").mkString(" ")
    def df(ids: Range, p: String) =
      ids.map(i => (i.toLong, "s" + (i % 2), text(s"$p$i")))
        .toDF("doc_id", "source", "text")
    DeltaAxis.Text.build(spark, idx, df(0 until 4, "sb"))
    assert(DeltaAxis.Text.night(spark, idx, df(500 until 700, "sn"),
      "n1", Some(root)).isDefined)
    graft.Pinned.releaseAll(spark)
    def rowsOf(split: String): Long = {
      val line = graft.Nightly.run(spark, Seq("text", "feed", root,
        "--epoch", "1", "--readers", "2", "--split", split))
      """"rows":(\d+)""".r.findFirstMatchIn(line).get.group(1).toLong
    }
    val served = Corpus.readCommitted(spark, root)
    val total = served.count()
    val parts = Seq("train", "val", "test").map(s => s -> rowsOf(s)).toMap
    assert(parts.values.sum == total,
      s"splits do not partition the corpus: $parts vs $total")
    assert(parts("train") > parts("val") && parts("train") > parts("test"),
      s"800/100/100 shape lost: $parts")
    // the shared definition: the CLI's train count IS d15's
    val d15Train = served.filter(
      TextDedupOps.splitCol(col("doc_id")) === "train").count()
    assert(parts("train") == d15Train)
  }

  test("withSourceCum + feed --budgets cap a source at its token " +
    "budget in epoch order, overshooting by at most one document") {
    val d = docs(300) // 4 sources striped, n_toks in 1..13
    val cum = EpochFeed.withSourceCum(d, epoch = 1, tokCol = "n_toks")
      .select("source", "doc_id", "n_toks", "src_cum_before")
      .as[(String, Long, Long, Long)].collect()
    // the running total is the per-source (key, id)-ordered window
    val keyed = d.withColumn("k", EpochFeed.shuffleKey(col("doc_id"), 1))
      .select("source", "doc_id", "n_toks", "k")
      .as[(String, Long, Long, Long)].collect()
    val expect = keyed.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val sorted = rows.sortBy(r => (r._4, r._2)).toSeq
      sorted.zip(sorted.scanLeft(0L)(_ + _._3))
        .map { case (r, c) => (r._2, c) }
    }.toMap
    assert(cum.map(r => r._2 -> r._4).toMap == expect)
    // capping: kept tokens land within one doc of the budget
    val budget = 60L
    val kept = cum.filter(_._4 < budget)
    val perSrc = kept.groupBy(_._1).view.mapValues(_.map(_._3).sum)
    perSrc.foreach { case (src, t) =>
      assert(t < budget + 13 && t > 0, s"$src kept $t vs budget $budget")
    }
    // a different epoch caps a DIFFERENT subset of each source
    val cum2 = EpochFeed.withSourceCum(d, epoch = 2, tokCol = "n_toks")
      .select("doc_id", "src_cum_before").as[(Long, Long)].collect()
      .filter(_._2 < budget).map(_._1).toSet
    assert(cum2 != kept.map(_._2).toSet,
      "epoch 1 and 2 budget-kept the same docs")
  }

  test("media feed balances by payload bytes and covers every served " +
    "asset exactly once") {
    val idx = Files.createTempDirectory("ef_midx").toString
    val mroot = Files.createTempDirectory("ef_mroot").toString
    def text(p: String) = (0 until 40).map(i => s"$p$i").mkString(" ")
    def writeDocs(rows: (Long, String)*): String = {
      val dir = Files.createTempDirectory("ef_mdocs").toString
      rows.map { case (id, t) =>
        (id, t, "en", s"src${id % 2}", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(dir)
      dir
    }
    graft.Nightly.run(spark, Seq("media", "build", idx,
      writeDocs((0L to 5L).map(i => i -> text(s"mf${i}v")): _*)))
    graft.Nightly.run(spark, Seq("media", "night", idx,
      writeDocs((100L to 111L).map(i => i -> text(s"mfd${i}x")): _*),
      "--id", "m1", "--shards", mroot))
    val line = graft.Nightly.run(spark, Seq("media", "feed", mroot,
      "--epoch", "1", "--readers", "2"))
    assert(line.contains(""""metric":"feed""""), line)
    val served = Corpus.readCommitted(spark, mroot).count()
    assert(served > 0, "media fixture served nothing")
    val rows = """"rows":(\d+)""".r.findFirstMatchIn(line).get.group(1).toLong
    assert(rows == served, s"$line vs served $served")
    // the API face: byte-balanced, every asset exactly once, readers
    // in range — the media twin of the text feed contract
    val feed = EpochFeed.feed(
      Corpus.readCommitted(spark, mroot)
        .withColumn("n_bytes", length(col("payload")).cast("long")),
      epoch = 1, nReaders = 2, tokCol = "n_bytes", idCol = "media_id")
      .select("media_id", "pos", "reader", "n_bytes")
      .as[(Long, Long, Long, Long)].collect()
    assert(feed.length == served)
    assert(feed.map(_._2).sorted.toSeq == (0L until served))
    assert(feed.map(_._3).forall(r => r == 0L || r == 1L))
    val perRank = feed.groupBy(_._3).view.mapValues(_.map(_._4).sum)
    val maxBytes = feed.map(_._4).max
    assert(perRank.values.max - perRank.values.min <= 2 * maxBytes + 1,
      s"media rank byte skew: $perRank")
  }

  test("a feed is refused while another writer holds the --out lease, " +
    "and leaves the previous epoch artifact and its marker byte-identical") {
    val idx = Files.createTempDirectory("ef_lidx").toString
    val root = Files.createTempDirectory("ef_lroot").toString
    val out = Files.createTempDirectory("ef_lout").toString
    def text(p: String) = (0 until 40).map(i => s"$p$i").mkString(" ")
    DeltaAxis.Text.build(spark, idx, (0 until 4).map(i =>
      (i.toLong, "s0", text(s"lb$i"))).toDF("doc_id", "source", "text"))
    assert(DeltaAxis.Text.night(spark, idx, (100 until 130).map(i =>
      (i.toLong, "s" + (i % 2), text(s"ln$i"))).toDF("doc_id", "source",
      "text"), "l1", Some(root)).isDefined)
    graft.Pinned.releaseAll(spark)
    def feed(readers: String) = graft.Nightly.run(spark, Seq("text", "feed",
      root, "--epoch", "1", "--readers", readers, "--out", out))
    feed("2")
    import scala.jdk.CollectionConverters._
    def state(): Map[String, Seq[Byte]] = {
      val st = Files.walk(java.nio.file.Paths.get(s"$out/epoch=1"))
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.readAllBytes(p).toSeq).toMap
      finally st.close()
    }
    val before = state()
    assert(before.keys.exists(_.endsWith("_FEED_COMMITTED")))
    // another writer holds a fresh lease on the --out root for the
    // whole attempt: the feed must refuse before touching the epoch
    val e = intercept[IllegalStateException] {
      IndexGenerations.withLease(spark, out)(feed("3"))
    }
    assert(e.getMessage.contains("lease"), e.getMessage)
    assert(state() == before, "a refused feed touched the epoch artifact")
    // once the other writer is gone the same feed rewrites the epoch
    assert(feed("3").contains("\"written\":true"))
    assert(new String(Files.readAllBytes(java.nio.file.Paths.get(
      s"$out/epoch=1/_FEED_COMMITTED")), "UTF-8").contains("readers=3"))
  }
}
