package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** 10× scale rehearsal — the one executable answer to "would this still
  * run at the next order of magnitude": generates a synthetic corpus 10×
  * the sf0.1 documents table (50k docs, distinct ids, per-copy token
  * variation so exact dedup keeps a realistic survivor ratio), then runs
  * the production lifecycles end to end —
  *
  *  1. the composed p01 corpus build (exact dedup → span dedup →
  *     decontamination → quality gates → packing → shard write),
  *  2. the d24 delta-dedup cycle against its generation-store index
  *     (build + serve + one [[graft.queries.DeltaAxis.advance]] night
  *     on the text axis),
  *  3. the m12 media cycle on the same corpus (decode + fingerprint
  *     build, serve, one media-axis [[graft.queries.DeltaAxis.advance]]
  *     night), and
  *  4. the IVF-PQ lifecycle over a 10× embeddings table (offline build
  *     → atomic multi-table store write → serve → frozen-quantizer
  *     append → serve), plus the store-backed stream bridge (bootstrap
  *     hydration + LSM folds, and the bootstrap-free twin), the s24
  *     vector cycle, and the corpus micro-night loop
  *     ([[graft.streaming.StoreDedup.nightBatch]] ×3 into one root,
  *     then [[graft.operators.Corpus.compactNights]] + prune),
  *
  * and prints ONE JSON line with row counts and wall times. The caller
  * (ScaleRehearsalSpec, env-gated) forks this main into its own JVM
  * with the heap pinned LOW — completion under a small driver bound is
  * the assertion: nothing in either pipeline may collect corpus-scale
  * state driver-side. Run directly via
  * `SPARK_DRIVER_MEM=2g sbt "runMain graft.ScaleRehearsal /tmp/dir"`. */
object ScaleRehearsal {

  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse(
      sys.props("java.io.tmpdir") + "/graft_scale_rehearsal")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // same iteration knob as Bench/Verify: SPARK_GRAFT_CONF=k=v,k=v —
    // e.g. spark.graft.index.advanceMode=delta rehearses the LSM path
    SparkEntry.applyEnvConf(spark)

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // --- 10× corpus: union ten re-keyed copies of sf0.1, each copy's
    // text perturbed by a copy-tag token so the dup structure stays
    // realistic (cross-copy near-dups, not 90% exact dups) ---
    val sfDocs = spark.read
      .parquet("/root/testdata/sf0.1/documents.parquet")
    val n = sfDocs.count()
    val dir = s"$work/sf1x10"
    val (_, genSecs) = timed {
      (0 until 10).map { c =>
        sfDocs.select(
          (col("doc_id") + lit(c * n)).as("doc_id"),
          (if (c == 0) col("text")
           else concat(lit(s"copyvariant$c "), col("text"))).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    }

    // --- p01 composed build over the 10× corpus ---
    spark.conf.set("spark.graft.p01.outDir", s"$work/shards")
    val (p01Rows, p01Secs) = timed {
      val r = SparkEntry.queries("p01_corpus_pipeline")(spark, dir).count()
      Pinned.releaseAll(spark)
      r
    }

    // --- d24 delta cycle: build + serve, then one advance night ---
    spark.conf.set("spark.graft.d24.indexDir", s"$work/d24_index")
    val (d24Rows, d24Secs) = timed {
      val r = SparkEntry.queries("d24_delta_dedup")(spark, dir).count()
      Pinned.releaseAll(spark)
      r
    }
    val (advRows, advSecs) = timed {
      // tomorrow's crawl: a re-keyed perturbed slice of today's corpus
      val delta = spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 97 === 0)
        .select((col("doc_id") + lit(10L * n)).as("doc_id"),
          concat(lit("nightly "), col("text")).as("text"), col("source"))
      val r = graft.queries.DeltaAxis.Text
        .advance(spark, s"$work/d24_index", delta).count()
      Pinned.releaseAll(spark)
      r
    }

    // --- store-backed stream bridge at 10×: first-start bootstrap
    // hydration is O(|banded index|) — the one axis the batch
    // rehearsals don't touch — then ~1000 docs folded over three
    // micro-batches at LSM cadence (the documented stream posture;
    // the mode is forced locally and restored, so both rehearsal
    // variants carry the same leg). Feed: exact re-crawls of indexed
    // docs (must not fold) + genuinely fresh docs (tagged, token-
    // reversed, so their shingles share nothing with the originals).
    // Then the bootstrap-free posture (empty state + per-batch full
    // verdict join, spark.graft.stream.bootstrap=false) folds a fresh
    // slice with an O(1) start — the hydration-vs-per-batch-join trade
    // measured side by side. The ~500-row collect is harness-plane
    // (MemoryStream feeding), not operator state. ---
    val savedMode = spark.conf.getOption("spark.graft.index.advanceMode")
    val savedChain = spark.conf.getOption("spark.graft.index.maxDeltaChain")
    spark.conf.set("spark.graft.index.advanceMode", "delta")
    spark.conf.set("spark.graft.index.maxDeltaChain", "4")
    val streamIdx = s"$work/d24_index"
    val (bootSecs, stateRows, foldSecs, streamFolded, bfSecs, bfFolded) = {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      import graft.streaming.StoreDedup.IngestDoc
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val base = spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 97 === 0)
        .select("doc_id", "source", "text").collect()
      // two genuinely fresh derivations that share no shingles with
      // the originals OR each other (reversal vs per-token prefix —
      // a tag prefix alone is NOT fresh: the shingle stream past the
      // tag is identical, so the second feed would be judged near-dup
      // of the first feed's folds, which an early rehearsal confirmed)
      def freshRev(keyShift: Long) = base.map(r =>
        IngestDoc(r.getLong(0) + keyShift * n, r.getString(1),
          s"sv${r.getLong(0)} " +
            r.getString(2).split(" ").reverse.mkString(" ")))
      def freshPfx(keyShift: Long) = base.map(r =>
        IngestDoc(r.getLong(0) + keyShift * n, r.getString(1),
          r.getString(2).split(" ").map(t => s"b$t").mkString(" ")))
      val copies = base.map(r => IngestDoc(r.getLong(0) + 40L * n,
        r.getString(1), r.getString(2)))
      def liveRows() = graft.operators.IndexGenerations
        .readCurrent(spark, streamIdx).count()
      val pre = liveRows()
      val in = MemoryStream[IngestDoc]
      val q = graft.streaming.StoreDedup.ingest(in.toDS(), streamIdx,
        s"$work/stream_ckpt")
      val feed = (copies ++ freshRev(30L)).sortBy(_.doc_id)
      val third = (feed.length + 2) / 3
      val (_, boot) = timed {
        in.addData(feed.take(third).toIndexedSeq: _*)
        q.processAllAvailable()
      }
      val sr = Option(q.lastProgress)
        .flatMap(_.stateOperators.headOption).map(_.numRowsTotal)
        .getOrElse(-1L)
      val (_, fold) = timed {
        in.addData(feed.slice(third, 2 * third).toIndexedSeq: _*)
        q.processAllAvailable()
        in.addData(feed.drop(2 * third).toIndexedSeq: _*)
        q.processAllAvailable()
      }
      q.stop()
      val folded = liveRows() - pre
      // bootstrap-free twin: same shape of work, O(1) start
      spark.conf.set("spark.graft.stream.bootstrap", "false")
      val in2 = MemoryStream[IngestDoc]
      val q2 = graft.streaming.StoreDedup.ingest(in2.toDS(), streamIdx,
        s"$work/stream_ckpt_bf")
      val pre2 = liveRows()
      val (_, bf) = timed {
        in2.addData((copies.map(d => d.copy(doc_id = d.doc_id + 10L * n))
          ++ freshPfx(60L)).toIndexedSeq: _*)
        q2.processAllAvailable()
      }
      q2.stop()
      spark.conf.unset("spark.graft.stream.bootstrap")
      (boot, sr, fold, folded, bf, liveRows() - pre2)
    }
    savedMode.fold(spark.conf.unset("spark.graft.index.advanceMode"))(
      spark.conf.set("spark.graft.index.advanceMode", _))
    savedChain.fold(spark.conf.unset("spark.graft.index.maxDeltaChain"))(
      spark.conf.set("spark.graft.index.maxDeltaChain", _))

    // --- corpus micro-nights + compaction at 10×: the stream-as-corpus
    // posture — each micro-batch a FULL p04 night into ONE corpus root
    // (verdicts vs the live 10× index, gate, pack, night partition,
    // index fold), then the small-files answer: compactNights merges
    // the per-batch partitions into one and pruneNights deletes the
    // absorbed dirs, served rows unchanged. LSM + autoPrune (the
    // always-on store posture) forced locally and restored. ---
    val corpusConfs = Seq("spark.graft.index.advanceMode" -> "delta",
      "spark.graft.index.maxDeltaChain" -> "4",
      "spark.graft.index.autoPrune" -> "true")
    val savedCorpus = corpusConfs.map { case (k, _) =>
      k -> spark.conf.getOption(k) }
    corpusConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    val corpusRoot = s"$work/corpus"
    val (nightSecs, corpusRows, filesBefore, filesAfter, compactSecs,
      reconcileBad, reconcileSecs) = {
      // a third fresh token derivation ("c" per-token prefix — shares
      // no shingles with the originals, the reversal feed, or the "b"
      // prefix feed)
      val feed = spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 97 === 0)
        .select((col("doc_id") + lit(80L * n)).as("doc_id"),
          col("source"),
          concat_ws(" ", transform(split(col("text"), " "),
            t => concat(lit("c"), t))).as("text"))
      val (_, ns) = timed {
        (0 until 3).foreach { i =>
          graft.streaming.StoreDedup.nightBatch(spark, streamIdx,
            corpusRoot, feed.filter(col("doc_id") % 3 === i), "reh",
            i.toLong)
        }
      }
      def parquetFiles: Long = {
        val st = java.nio.file.Files
          .walk(java.nio.file.Paths.get(corpusRoot))
        try {
          val it = st.iterator(); var c = 0L
          while (it.hasNext)
            if (it.next().toString.endsWith(".parquet")) c += 1
          c
        } finally st.close()
      }
      val before = parquetFiles
      val rows0 = graft.operators.Corpus
        .readCommitted(spark, corpusRoot).count()
      val (_, cs) = timed {
        graft.operators.Corpus.compactNights(spark, corpusRoot, "base0")
        graft.operators.Corpus.pruneNights(spark, corpusRoot)
      }
      val rows1 = graft.operators.Corpus
        .readCommitted(spark, corpusRoot).count()
      require(rows1 == rows0,
        s"compaction changed the served corpus: $rows0 -> $rows1")
      // the cross-store invariant at 10×: every served id banned in
      // the live index (id-only anti-join against the banded store)
      val (bad, rs) = timed(graft.operators.Corpus
        .servedNotBanned(spark, corpusRoot, streamIdx).count())
      (ns, rows1, before, parquetFiles, cs, bad, rs)
    }
    savedCorpus.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }

    // --- p04 incremental night on the 10× corpus: the
    // incremental-vs-full evidence — p01 rebuilds everything, p04's
    // cost is |delta| + |index|, so the gap must WIDEN with scale ---
    spark.conf.set("spark.graft.p04.indexDir", s"$work/p04_index")
    spark.conf.set("spark.graft.p04.outDir", s"$work/p04_shards")
    val (p04Rows, p04Secs) = timed {
      val r = SparkEntry.queries("p04_incremental_shards")(spark, dir).count()
      Pinned.releaseAll(spark)
      r
    }

    // --- training feed at 10×: the global-rank path — position + token
    // running totals over ONE constant partition key, 500k docs through
    // the bucketed prefix sum (no global sort), sliced into 64 reader
    // ranks. Balance is asserted here (each rank within two max-docs of
    // every other), wall time goes in the JSON. Token counts ride the
    // stored n_chars so the timing measures the rank path, not
    // tokenization. ---
    val (feedReaders, feedSecs) = timed {
      val docs10 = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"),
          expr("n_chars DIV 5").cast("long").as("n_toks"))
      val maxTok = docs10.agg(max(col("n_toks"))).head().getLong(0)
      val per = graft.operators.EpochFeed
        .feed(docs10, epoch = 1, nReaders = 64, tokCol = "n_toks",
          buckets = 256)
        .groupBy(col("reader")).agg(sum(col("n_toks")).as("t"))
        .collect()
      require(per.length == 64,
        s"expected 64 reader ranks, got ${per.length}")
      val ts = per.map(_.getLong(1))
      require(ts.max - ts.min <= 2 * maxTok + 1,
        s"reader skew ${ts.max - ts.min} exceeds the two-document bound")
      // the budget path at 10×: per-source running totals (the
      // low-cardinality partition shape), every source capped within
      // one doc of a 100k-token budget
      val capped = graft.operators.EpochFeed
        .withSourceCum(docs10, epoch = 1, tokCol = "n_toks",
          buckets = 256)
        .filter(col("src_cum_before") < 100000L)
        .groupBy(col("source")).agg(sum(col("n_toks")).as("t"))
        .collect()
      capped.foreach(r => require(r.getLong(1) < 100000L + maxTok,
        s"budget overshoot on ${r.getString(0)}: ${r.getLong(1)}"))
      per.length.toLong
    }

    // --- materialized feed at 10×: the production write path — narrow
    // rank computation, wide join-back, rank-hash shuffle, in-partition
    // (reader, pos) sort, one file per rank. The corpus text rides
    // exactly ONE shuffle; the receipt re-reads the files. ---
    val (feedMatFiles, feedMatSecs) = timed {
      val docsAll = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"), col("text"),
          expr("n_chars DIV 5").cast("long").as("n_toks"))
      val assign = graft.operators.EpochFeed
        .feed(docsAll.select("doc_id", "n_toks"), epoch = 1,
          nReaders = 16, tokCol = "n_toks", buckets = 256)
        .select(col("doc_id"), col("pos"), col("reader"))
      graft.operators.EpochFeed.writeMaterialized(
        docsAll.join(assign, Seq("doc_id")), 16, s"$work/feed_mat")
      val back = spark.read.parquet(s"$work/feed_mat")
      require(back.count() == 10 * n,
        "materialized feed lost documents")
      val st = java.nio.file.Files
        .walk(java.nio.file.Paths.get(s"$work/feed_mat"))
      val files =
        try {
          val it = st.iterator(); var c = 0L
          while (it.hasNext)
            if (it.next().toString.endsWith(".parquet")) c += 1
          c
        } finally st.close()
      require(files == 16L, s"expected 16 rank files, got $files")
      files
    }

    // --- m12 media cycle on the same 10× corpus: build + serve, then
    // one advance night (the d24 lifecycle on the media axis — decode,
    // fingerprints, and the fold all stay executor-side) ---
    spark.conf.set("spark.graft.m12.indexDir", s"$work/m12_index")
    val (m12Rows, m12Secs) = timed {
      val r = SparkEntry.queries("m12_media_delta")(spark, dir).count()
      Pinned.releaseAll(spark)
      r
    }
    val (mAdvRows, mAdvSecs) = timed {
      val delta = graft.multimodal.Media.mediaFromDocuments(
        spark.read.parquet(s"$dir/documents.parquet")
          .filter(col("doc_id") % 89 === 0)
          .select((col("doc_id") + lit(20L * n)).as("doc_id"),
            concat(lit("medianight "), col("text")).as("text"),
            col("lang"), col("source"), col("n_chars")))
      val r = graft.queries.DeltaAxis.Media
        .advance(spark, s"$work/m12_index", delta).count()
      Pinned.releaseAll(spark)
      r
    }

    // --- IVF-PQ lifecycle at 10×: union ten re-keyed copies of the
    // sf0.1 embeddings (20k vectors), offline build → atomic store
    // write → serve from the store → frozen-quantizer append of a new
    // slice → serve again. Everything but the broadcast-sized
    // centroids/codebook stays distributed. ---
    val sfEmb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val ne = sfEmb.count()
    (0 until 10).map { c =>
      sfEmb.select((col("vec_id") + lit(c * ne)).as("vec_id"),
        col("embedding"), col("label"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val annDir = s"$work/ann_index"
    val emb = graft.queries.SimilarityOps.annEmb(spark, dir)
    val (annServeRows, annBuildSecs) = timed {
      graft.operators.AnnIndexStore.write(
        graft.queries.SimilarityOps.buildAnnIndex(emb), annDir)
      graft.queries.SimilarityOps.serveAnnIndex(emb,
        graft.operators.AnnIndexStore.read(spark, annDir)).count()
    }
    val (annServe2Rows, annAppendSecs) = timed {
      // the daily delta: a re-keyed slice encoded under the FROZEN
      // quantizer, landed as a new atomic generation
      val fresh = emb.filter(col("vec_id") % 101 === 0)
        .withColumn("vec_id", col("vec_id") + lit(10L * ne))
      graft.operators.AnnIndexStore.write(
        graft.queries.SimilarityOps.appendToAnnIndex(
          graft.operators.AnnIndexStore.read(spark, annDir), fresh),
        annDir)
      graft.queries.SimilarityOps.serveAnnIndex(emb,
        graft.operators.AnnIndexStore.read(spark, annDir)).count()
    }

    // --- s24 vector delta-dedup cycle at 10×: the third axis of the
    // index-lifecycle triad — build the quantized-vector index from the
    // 20k-vector table, then one advance night over a re-keyed slice
    // (byte-identical embeddings under new ids → near, winner = the
    // original; nothing folds for them). ---
    val s24Dir = s"$work/s24_index"
    val emb10 = spark.read.parquet(s"$dir/embeddings.parquet")
    val (s24Rows, s24BuildSecs) = timed {
      graft.queries.DeltaAxis.Vec.build(spark, s24Dir, emb10)
      graft.operators.IndexGenerations.readCurrent(spark, s24Dir).count()
    }
    val (s24AdvRows, s24AdvSecs) = timed {
      val delta = emb10.filter(col("vec_id") % 103 === 0)
        .withColumn("vec_id", col("vec_id") + lit(100L * ne))
      val r = graft.queries.DeltaAxis.Vec
        .advance(spark, s24Dir, delta).count()
      Pinned.releaseAll(spark)
      r
    }

    val mx = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    println(s"""{"metric":"scale_rehearsal","docs":${10 * n},""" +
      s""""heap_mb":$mx,"gen_secs":$genSecs,""" +
      s""""p01_rows":$p01Rows,"p01_secs":$p01Secs,""" +
      s""""d24_rows":$d24Rows,"d24_secs":$d24Secs,""" +
      s""""adv_rows":$advRows,"adv_secs":$advSecs,""" +
      s""""p04_rows":$p04Rows,"p04_secs":$p04Secs,""" +
      s""""feed_readers":$feedReaders,"feed_secs":$feedSecs,""" +
      s""""feed_mat_files":$feedMatFiles,"feed_mat_secs":$feedMatSecs,""" +
      s""""m12_rows":$m12Rows,"m12_secs":$m12Secs,""" +
      s""""m12_adv_rows":$mAdvRows,"m12_adv_secs":$mAdvSecs,""" +
      s""""stream_boot_secs":$bootSecs,"stream_state_rows":$stateRows,""" +
      s""""stream_fold_secs":$foldSecs,"stream_folded":$streamFolded,""" +
      s""""stream_bf_secs":$bfSecs,"stream_bf_folded":$bfFolded,""" +
      s""""corpus_night_secs":$nightSecs,"corpus_rows":$corpusRows,""" +
      s""""corpus_files_before":$filesBefore,""" +
      s""""corpus_files_after":$filesAfter,""" +
      s""""corpus_compact_secs":$compactSecs,""" +
      s""""reconcile_bad":$reconcileBad,""" +
      s""""reconcile_secs":$reconcileSecs,""" +
      s""""ann_vecs":${10 * ne},"ann_build_secs":$annBuildSecs,""" +
      s""""ann_serve_rows":$annServeRows,""" +
      s""""ann_append_secs":$annAppendSecs,""" +
      s""""ann_serve2_rows":$annServe2Rows,""" +
      s""""s24_rows":$s24Rows,"s24_build_secs":$s24BuildSecs,""" +
      s""""s24_adv_rows":$s24AdvRows,"s24_adv_secs":$s24AdvSecs}""")
    spark.stop()
  }
}
