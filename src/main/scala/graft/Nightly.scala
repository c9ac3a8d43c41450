package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, length, lit, sum}

import graft.operators.IndexGenerations

/** The nightly index-lifecycle driver — the runnable face of the
  * delta-dedup write path, beside [[graft.helium.Main]] (the reference
  * ships its lifecycle as CLI subcommands, src/main.rs:19-42; the
  * dedup index deserves the same). Until now build → advance →
  * auto-compact → prune was reachable only as library calls driven by
  * specs and ScaleRehearsal; this wires it into the entry point a
  * production scheduler invokes:
  *
  * {{{
  * graft.Nightly <text|media|vec> build   <indexDir> <docsParquet>
  * graft.Nightly <text|media|vec> advance <indexDir> <deltaParquet>
  *                                        [--verdicts <dir>] [--prune]
  *   (text/media doc inputs also accept JSONL crawl dumps —
  *    `--format jsonl`, or automatically for .jsonl/.json paths —
  *    via [[graft.sources.Jsonl]]; embeddings stay parquet)
  * graft.Nightly <text|media|vec> night   <indexDir> <deltaParquet>
  *                                        --id <nightId>
  *                                        [--shards <root>] [--prune]
  * graft.Nightly <text|media|vec> judge   <indexDir> <deltaParquet>
  *                                        [--verdicts <dir>]
  * graft.Nightly <text|media|vec> compact <indexDir>
  * graft.Nightly <text|media|vec> prune   <indexDir>
  * graft.Nightly <text|media|vec> status  <indexDir>
  * graft.Nightly <text|media|vec> retract <indexDir> --ids <id,...>
  * graft.Nightly all night  <indexBase> <docsParquet> --id <nightId>
  *                          --shards <root> [--media-shards <root>]
  *                          [--emb <embParquet>] [--prune]
  * graft.Nightly all status <indexBase>
  * graft.Nightly all reconcile <indexBase> --shards <root>
  *                             --media-shards <root>
  * graft.Nightly <text|media> compact-shards <shardsRoot> --into <nightId>
  * graft.Nightly <text|media> prune-shards   <shardsRoot> [--pin <id,...>]
  * graft.Nightly <text|media> shards-status  <shardsRoot>
  * graft.Nightly <text|media> audit-shards   <shardsRoot>
  * graft.Nightly <text|media> delete-docs    <shardsRoot> --ids <id,...>
  * graft.Nightly <text|media> feed <shardsRoot> --epoch <n> --readers <k>
  *                            [--out <dir> [--materialize]] ...
  * graft.Nightly <text|media> reconcile <indexDir> --shards <root>
  * }}}
  *
  * Every index command resolves the axis once to its
  * [[graft.queries.DeltaAxis]] and runs that descriptor's lifecycle
  * step — one implementation for all three axes; the axis supplies only
  * its input rows ([[graft.queries.DeltaAxis.fromDocs]]: documents-
  * shaped parquet on text/media, media payloads derived through
  * [[graft.multimodal.Media.mediaFromDocuments]] as the m12 query face
  * does; embeddings-shaped parquet (vec_id, embedding, label) on vec),
  * its index rows, verdict core and corpus columns.
  *
  * `build` distills a base corpus into generation 0
  * ([[graft.queries.DeltaAxis.build]]); `advance`
  * ([[graft.queries.DeltaAxis.advance]]) runs one crawl night —
  * verdicts for the delta against the live index, admitted uniques
  * folded into generation N+1 (rewrite or LSM per
  * `spark.graft.index.advanceMode`, chain bounded by `maxDeltaChain`'s
  * same-night auto-compact), verdicts optionally written as the night's
  * artifact, superseded generations optionally pruned. `night`
  * ([[graft.queries.DeltaAxis.night]]) is the exactly-once production
  * night: the recorded advance plus, where the axis has a corpus, the
  * night's partition under `<shards root>/night=<nightId>` from the
  * same delta scan — text requires `--shards` (pass the SAME root every
  * night; each night is its own partition and a rerun of a committed id
  * is a recorded no-op) and writes packed shards, media writes its
  * admitted payloads when given `--shards`, vec has no corpus. `judge`
  * is the dry run ([[graft.queries.DeltaAxis.judge]]). Confs arrive via
  * `SPARK_GRAFT_CONF=k=v,k=v` ([[SparkEntry.applyEnvConf]], the
  * Bench/Verify knob).
  *
  * Prints ONE JSON line per command (generation, verdict breakdown) —
  * the driver-parseable shape Bench established. */
object Nightly {

  private val Usage =
    "usage: graft.Nightly <text|media|vec> " +
      "<build|advance|night|judge|compact|prune|status|retract> " +
      "<indexDir> [<parquetDir>] [--verdicts <dir>] [--prune] " +
      "[--clean-lines] [--ids <id,...>] " +
      "[--id <nightId> [--shards <dir>]] | graft.Nightly all " +
      "<night|status|reconcile|judge> <indexBase> ... | " +
      "graft.Nightly <text|media> " +
      "<compact-shards|prune-shards|shards-status|audit-shards|" +
      "delete-docs|feed> <shardsRoot> [--into <nightId>] " +
      "[--ids <id,...>] [--epoch <n> --readers <k> [--nights <id,...>] " +
      "[--split <train|val|test>] [--rates <src=pm,...>] " +
      "[--budgets <src=n,...>] [--out <dir>] [--materialize]] | " +
      "graft.Nightly <text|media> reconcile <indexDir> --shards <root>"

  /** Flags that take no value; every other `--flag` must be followed
    * by one. Validated up front because several value flags have a
    * LEGITIMATE absent default (`--pin` → no pins, `--shards` on a
    * media night → no corpus half): a dangling flag parsed as "absent"
    * would silently do the destructive default — prune the nights the
    * operator meant to pin, skip the corpus increment they meant to
    * write — instead of erroring. */
  private val BoolFlags = Set("--prune", "--materialize", "--clean-lines")

  /** `v`, the value of numeric flag `flag`, parsed by `parse`; a value
    * that does not parse fails naming the flag and the value, instead of
    * a bare NumberFormatException that names neither. */
  private def numFlag[T](flag: String, v: String)(parse: String => T): T =
    try parse(v.trim)
    catch { case _: NumberFormatException =>
      throw new IllegalArgumentException(
        s"$flag: '$v' is not a valid whole number\n$Usage") }

  /** Execute one command; returns the JSON summary line (also the
    * spec-assertable result). */
  def run(s: SparkSession, args: Seq[String]): String = {
    require(args.length >= 3, Usage)
    args.zipWithIndex.foreach { case (a, i) =>
      if (a.startsWith("--") && !BoolFlags(a))
        require(args.lift(i + 1).exists(!_.startsWith("--")),
          s"flag $a requires a value\n$Usage")
    }
    val Seq(axis, cmd, indexDir) = args.take(3)
    // `all` fans one night (or status) across the three axes — ONE
    // cron entry for the whole production night. Here `indexDir` is
    // the BASE: each axis's store lives at <base>/<axis>. Axes are
    // independently exactly-once on their own ledgers, so a crash
    // between axes heals on rerun (the committed ones skip). The vec
    // axis needs --emb <embeddings parquet> and is skipped without it.
    if (axis == "all") {
      require(Set("night", "status", "reconcile", "judge")(cmd),
        s"'all' supports night|status|reconcile|judge, not '$cmd'\n$Usage")
      val rest0 = args.drop(3)
      def flagOf(name: String): Option[String] = rest0.sliding(2)
        .collectFirst { case Seq(`name`, v) => v }
      val emb = flagOf("--emb")
      val mediaShards = flagOf("--media-shards")
      require(!rest0.contains("--verdicts"),
        "--verdicts is per-axis; run the single-axis night for it")
      def strip(in: Seq[String], names: Set[String]): Seq[String] = {
        val b = Seq.newBuilder[String]; var i = 0
        while (i < in.length) {
          if (names(in(i))) i += 2
          else { b += in(i); i += 1 }
        }
        b.result()
      }
      val sub = strip(rest0, Set("--emb", "--media-shards"))
      // vec joins status always, night/judge only when fed — and never
      // reconcile (no shard corpus to reconcile against). A reconcile
      // checks only the corpora it was handed roots for: a text-only
      // deployment omits --media-shards and still gets its answer.
      val axes = Seq("text") ++
        (if (cmd != "reconcile" || mediaShards.isDefined) Seq("media")
         else Nil) ++
        (if (cmd == "status" ||
          (Set("night", "judge")(cmd) && emb.isDefined)) Seq("vec")
         else Nil)
      val per = axes.map { ax =>
        // each axis gets its OWN corpus root: --shards is the text
        // corpus; --media-shards the media payload corpus (the two
        // cannot share a root — night ids are one namespace per root)
        val input = ax match {
          case "text" => sub
          case "media" => strip(sub, Set("--shards")) ++
            mediaShards.toSeq.flatMap(v => Seq("--shards", v))
          case "vec" if Set("night", "judge")(cmd) =>
            // embeddings stay parquet: --format governs the doc axes
            emb.toSeq ++ strip(sub.drop(1), Set("--shards", "--format"))
          case _ => sub
        }
        s""""$ax":${run(s, Seq(ax, cmd, s"$indexDir/$ax") ++ input)}"""
      }
      return per.mkString(s"""{"metric":"nightly_all_$cmd",""", ",", "}")
    }
    val ax = queries.DeltaAxis.byName(axis)
      .getOrElse(throw new IllegalArgumentException(Usage))
    val rest = args.drop(3)
    // --format jsonl reads the crawl dump through the ingestion face
    // (graft.sources.Jsonl: explicit schema, reject capture, id
    // synthesis) instead of documents-shaped parquet; a .jsonl/.json
    // path switches automatically. Embeddings (the vec axis) stay
    // parquet-shaped.
    val jsonlFlag = rest.sliding(2)
      .collectFirst { case Seq("--format", v) => v }
      .map { v =>
        require(Set("parquet", "jsonl")(v),
          s"unknown --format '$v' (parquet|jsonl)\n$Usage")
        v == "jsonl"
      }
    // --clean-lines: ingest-time line-level boilerplate scrub — t29's
    // rule (graft.functions.TextFns.cleanLines, the ONE definition) on
    // the text axis only (media derives payload bytes from the text,
    // which a scrub would silently change)
    val cleanLinesFlag = rest.contains("--clean-lines")
    require(!cleanLinesFlag || axis == "text",
      "--clean-lines is a text-axis option\n" + Usage)
    // the axis's input rows: documents- (text, media) or
    // embeddings-shaped (vec) rows through the axis's fromDocs
    def inputAt(path: String): DataFrame = {
      val raw =
        if (axis != "vec" && jsonlFlag.getOrElse(
            path.endsWith(".jsonl") || path.endsWith(".json")))
          sources.Jsonl.documents(s, path)
        else s.read.parquet(path)
      ax.fromDocs(if (!cleanLinesFlag) raw else {
        val cleaned = raw.withColumn("text",
          graft.functions.TextFns.cleanLines(col("text")))
        if (cleaned.columns.contains("n_chars"))
          cleaned.withColumn("n_chars", length(col("text")).cast("long"))
        else cleaned
      })
    }
    def line(fields: (String, String)*): String =
      fields.map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}")
    // the shard-corpus commands' (id, content) columns
    def corpusCols: (String, String) = ax.corpusCols.getOrElse(
      throw new IllegalArgumentException(
        s"no shard corpus on the $axis axis"))
    def genField = "gen" ->
      IndexGenerations.currentGen(s, indexDir).getOrElse(-1L).toString
    def verdictCounts(v: DataFrame): String = {
      val counts = v.groupBy("verdict").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      Seq("exact", "near", "unique")
        .map(k => s""""$k":${counts.getOrElse(k, 0L)}""")
        .mkString("{", ",", "}")
    }
    cmd match {
      case "build" =>
        val path = rest.headOption.getOrElse(sys.error(Usage))
        ax.build(s, indexDir, inputAt(path))
        val n = IndexGenerations.readCurrent(s, indexDir).count()
        line("metric" -> "\"nightly_build\"", "axis" -> s""""$axis"""",
          genField, "index_rows" -> n.toString)

      case "advance" =>
        val path = rest.headOption.getOrElse(sys.error(Usage))
        val flags = rest.tail
        val v = ax.advance(s, indexDir, inputAt(path))
        val vs = verdictCounts(v)
        flags.sliding(2).collectFirst { case Seq("--verdicts", d) => d }
          .foreach(d => v.write.mode("overwrite").parquet(d))
        Pinned.releaseAll(s)
        if (flags.contains("--prune")) IndexGenerations.prune(s, indexDir)
        line("metric" -> "\"nightly_advance\"", "axis" -> s""""$axis"""",
          genField, "verdicts" -> vs,
          "pruned" -> flags.contains("--prune").toString)

      case "night" =>
        // the COMPLETE production night, exactly-once per --id: the
        // recorded advance, plus the night's corpus partition under
        // <shards>/night=<id> where the axis has one (text requires
        // --shards; media writes its payloads when given it; vec has no
        // corpus) — both halves from one delta scan
        val path = rest.headOption.getOrElse(sys.error(Usage))
        val flags = rest.tail
        def flag(name: String): Option[String] =
          flags.sliding(2).collectFirst { case Seq(`name`, v) => v }
        val nightId = flag("--id").getOrElse(
          sys.error("night requires --id <nightId>\n" + Usage))
        val head = Seq("metric" -> "\"nightly_night\"",
          "axis" -> s""""$axis"""")
        ax.night(s, indexDir, inputAt(path), nightId, flag("--shards")) match {
          case None =>
            line(head ++ Seq(genField, "id" -> s""""$nightId"""",
              "skipped" -> "true"): _*)
          case Some(night) =>
            val vs = verdictCounts(night.verdicts)
            // the night's verdict artifact, like advance's. Best-effort
            // relative to the night's commit point (the index advance):
            // a crash in the window after the commit loses only this
            // artifact — the skipped rerun cannot regenerate it, because
            // re-judging against the ADVANCED index would call every doc
            // exact-against-itself. The verdict counts survive in the
            // night's JSON line either way.
            flag("--verdicts").foreach(d =>
              night.verdicts.write.mode("overwrite").parquet(d))
            val shards = night.receipt.map(r => "shards" -> r.count().toString)
            Pinned.releaseAll(s)
            if (flags.contains("--prune")) IndexGenerations.prune(s, indexDir)
            line(head ++ Seq(genField, "id" -> s""""$nightId"""",
              "skipped" -> "false", "verdicts" -> vs) ++ shards ++
              Seq("pruned" -> flags.contains("--prune").toString): _*)
        }

      case "judge" =>
        // the dry-run: tonight's delta judged against the LIVE index
        // — nothing folded, nothing recorded, the root byte-untouched.
        // An operator previews the dedup rate (and optionally keeps
        // the verdict artifact) BEFORE committing the night; the same
        // flags then drive `night` for real.
        val path = rest.headOption.getOrElse(sys.error(Usage))
        val flags = rest.tail
        val v = Pinned.pin(ax.judge(s, indexDir, inputAt(path)))
        val vs = verdictCounts(v)
        flags.sliding(2).collectFirst { case Seq("--verdicts", d) => d }
          .foreach(d => v.write.mode("overwrite").parquet(d))
        Pinned.releaseAll(s)
        line("metric" -> "\"nightly_judge\"", "axis" -> s""""$axis"""",
          genField, "verdicts" -> vs, "folded" -> "false")

      case "status" =>
        // read-only store inspection — what an operator checks before
        // touching a root blind: committed generations + tags, the
        // live set a read unions, the night/stream ledgers, whether a
        // writer currently holds (or abandoned) the lease, and the
        // live row count. Works on any axis (the store is untyped).
        val gens = IndexGenerations.generations(s, indexDir)
          .map { case (n, tag) => s"""{"gen":$n,"tag":"$tag"}""" }
          .mkString("[", ",", "]")
        val active = IndexGenerations.activeGenerations(s, indexDir)
          .mkString("[", ",", "]")
        val recs = IndexGenerations.recordSummary(s, indexDir).toSeq
          .sortBy(_._1)
          .map { case (k, n) => s""""$k":$n""" }.mkString("{", ",", "}")
        val lease = IndexGenerations.leaseStamp(s, indexDir)
          .map(t => s"""{"held":true,"age_ms":${
            System.currentTimeMillis() - t}}""")
          .getOrElse("""{"held":false}""")
        val rows =
          if (IndexGenerations.committed(s, indexDir).isEmpty) -1L
          else IndexGenerations.readCurrent(s, indexDir).count()
        line("metric" -> "\"nightly_status\"", "axis" -> s""""$axis"""",
          genField, "generations" -> gens, "active" -> active,
          "records" -> recs, "lease" -> lease,
          "index_rows" -> rows.toString)

      case "compact" =>
        IndexGenerations.compact(s, indexDir)
        line("metric" -> "\"nightly_compact\"", "axis" -> s""""$axis"""",
          genField)

      case "retract" =>
        // un-ingest: remove mistakenly admitted ids from the live
        // index so their content becomes RE-ADMITTABLE (the opposite
        // policy of delete-docs, which keeps content banned; a full
        // un-ingest runs both). One new total generation, replay
        // records carried.
        val ids = rest.sliding(2)
          .collectFirst { case Seq("--ids", v) => v }
          .getOrElse(sys.error("retract requires --ids <id,...>\n" + Usage))
          .split(",").map(numFlag("--ids", _)(_.toLong)).toSeq
        val idCol = ax.idCol
        val colId = org.apache.spark.sql.functions.col(idCol)
        val liveIdx = IndexGenerations.readCurrent(s, indexDir)
        val hitIds = liveIdx.filter(colId.isin(ids: _*))
          .select(idCol).distinct().count()
        val before = liveIdx.count()
        IndexGenerations.rewrite(s, indexDir,
          _.filter(!colId.isin(ids: _*)))
        val after = IndexGenerations.readCurrent(s, indexDir).count()
        // ids vs rows differ by design: a text/media doc is one row
        // per band in some stores — report both so an operator can
        // tell "2 docs un-ingested" from the row mechanics
        line("metric" -> "\"nightly_retract\"", "axis" -> s""""$axis"""",
          genField, "removed_ids" -> hitIds.toString,
          "removed_rows" -> (before - after).toString,
          "index_rows" -> after.toString)

      case "prune" =>
        IndexGenerations.prune(s, indexDir)
        line("metric" -> "\"nightly_prune\"", "axis" -> s""""$axis"""",
          genField, "kept" ->
            IndexGenerations.committed(s, indexDir).size.toString)

      // the corpus-root lifecycle (graft.operators.Corpus) — here the
      // third positional is the SHARDS root, not an index dir. The
      // text corpus keys on doc_id/text; the media payload corpus
      // (a media night given --shards) on media_id/payload.
      case "compact-shards" =>
        val idc = corpusCols._1
        val into = rest.sliding(2)
          .collectFirst { case Seq("--into", v) => v }
          .getOrElse(sys.error(
            "compact-shards requires --into <nightId>\n" + Usage))
        val ran = operators.Corpus.compactNights(s, indexDir, into,
          idCol = idc)
        line("metric" -> "\"shards_compact\"",
          "into" -> s""""$into"""", "skipped" -> (!ran).toString,
          "live" -> operators.Corpus.liveNights(s, indexDir)
            .map(id => s""""$id"""").mkString("[", ",", "]"))

      case "prune-shards" =>
        corpusCols
        // --pin <id,...>: absorbed nights a long-running consumer is
        // still re-reading via readNights survive this prune
        val pins = rest.sliding(2)
          .collectFirst { case Seq("--pin", v) => v }
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
          .getOrElse(Set.empty[String])
        val deleted = operators.Corpus.pruneNights(s, indexDir, pins)
        line("metric" -> "\"shards_prune\"",
          "deleted" -> deleted.map(id => s""""$id"""")
            .mkString("[", ",", "]"),
          "live" -> operators.Corpus.liveNights(s, indexDir)
            .map(id => s""""$id"""").mkString("[", ",", "]"))

      case "shards-status" =>
        corpusCols
        val committed = operators.Corpus.committedNights(s, indexDir)
        val live = operators.Corpus.liveNights(s, indexDir)
        // ONE corpus scan: rows is the sum of the per-night counts
        // (total on data-less roots — a fully-taken-down corpus still
        // reports instead of crashing monitoring)
        val stats = operators.Corpus.nightStats(s, indexDir)
          .collect().sortBy(_.getString(0))
        val nights = stats
          .map(r => s""""${r.getString(0)}":{"n_docs":${r.getLong(1)},""" +
            s""""n_toks":${r.getLong(2)}}""")
          .mkString("{", ",", "}")
        line("metric" -> "\"shards_status\"",
          "committed" -> committed.map { case (id, _) => s""""$id"""" }
            .mkString("[", ",", "]"),
          "live" -> live.map(id => s""""$id"""")
            .mkString("[", ",", "]"),
          "rows" -> stats.map(_.getLong(1)).sum.toString,
          "nights" -> nights)

      case "feed" =>
        // the trainer hand-off: deterministic epoch shuffle +
        // token-balanced reader slices over the committed corpus
        // (media balances by payload bytes). --nights pins an explicit
        // snapshot (the readNights discipline — REQUIRED for a
        // multi-epoch run, so a night committed mid-run cannot shift
        // the next epoch's order); --rates src=pm,... composes the
        // per-epoch mixture coin in front (unlisted sources keep
        // 1000‰); --out writes the (id, pos, reader) assignment table
        // under <out>/epoch=N, one partition per reader rank — or,
        // with --materialize, the FULL corpus rows in epoch order, one
        // file per rank, the layout a loader reads sequentially with
        // no join-back. Without --out it is a dry-run balance report.
        val idc = corpusCols._1
        def intFlag(name: String): Int = rest.sliding(2)
          .collectFirst { case Seq(`name`, v) => numFlag(name, v)(_.toInt) }
          .getOrElse(sys.error(s"feed requires $name <n>\n$Usage"))
        val epoch = intFlag("--epoch")
        val readers = intFlag("--readers")
        val nights = rest.sliding(2)
          .collectFirst { case Seq("--nights", v) => v }
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        val outFlag = rest.sliding(2)
          .collectFirst { case Seq("--out", v) => v }
        // --rates src=pm,... and --budgets src=n,... (below): per-source
        // whole numbers, both validated here before anything is read
        def perSource(name: String, unit: String): Option[Map[String, Long]] =
          rest.sliding(2)
            .collectFirst { case Seq(`name`, v) => v }
            .map(_.split(",").map(_.trim).filter(_.nonEmpty).map { kv =>
              val i = kv.lastIndexOf('=')
              require(i > 0, s"bad $name entry '$kv' (want source=$unit)")
              kv.take(i) -> numFlag(name, kv.drop(i + 1))(_.toLong)
            }.toMap)
        val rates = perSource("--rates", "pm")
        val budgets = perSource("--budgets", "n")
        val materialize = rest.contains("--materialize")
        require(!materialize || outFlag.isDefined,
          "--materialize requires --out\n" + Usage)
        val docs0 = nights match {
          case Some(ids) => operators.Corpus.readNights(s, indexDir, ids)
          case None      => operators.Corpus.readCommitted(s, indexDir)
        }
        // --split train|val|test: the d15 identity-hash split (ONE
        // shared definition — TextDedupOps.splitCol — so a feed's
        // train set and the d15/d16 audits can never disagree). The
        // usual production call is '--split train': eval documents
        // never enter a training feed, recomputed from the id with no
        // assignment table.
        val splitFlag = rest.sliding(2)
          .collectFirst { case Seq("--split", v) => v }
        splitFlag.foreach(v => require(Set("train", "val", "test")(v),
          s"unknown --split '$v' (train|val|test)\n$Usage"))
        val docsS = splitFlag.fold(docs0) { sp =>
          docs0.filter(
            queries.TextDedupOps.splitCol(col(idc)) === sp)
        }
        val docs = rates.fold(docsS) { rm =>
          // per-source per-mille map rides a tiny when-chain (config-
          // sized); membership is the epoch-seeded coin, so the next
          // epoch's feed draws an independent subset (t27 semantics)
          val ratePm = rm.foldLeft(lit(1000L)) { case (acc, (src, pm)) =>
            org.apache.spark.sql.functions
              .when(col("source") === src, lit(pm)).otherwise(acc)
          }
          docsS.filter(
            operators.EpochFeed.mixtureKeep(col(idc), ratePm, epoch))
        }
        val withTok0 =
          if (ax == queries.DeltaAxis.Media)
            docs.withColumn("__feed_tok",
              length(col("payload")).cast("long"))
          else docs.withColumn("__feed_tok", col("n_toks").cast("long"))
        // --budgets src=n,...: cap listed sources at n tokens (media:
        // bytes) for THIS epoch — t28's rule: keep a doc iff its
        // source's running total before it, in epoch order, is under
        // the budget. Applied after --rates (the budget caps what the
        // coin kept). The per-source running total computes on a
        // narrow (id, source, weight) projection and rejoins as an
        // id-only semi-join, the same payload-free discipline as the
        // rank computation below.
        val withTok = budgets.fold(withTok0) { bm =>
          val budgetCol = bm.foldLeft(lit(Long.MaxValue)) {
            case (acc, (src, n)) =>
              org.apache.spark.sql.functions
                .when(col("source") === src, lit(n)).otherwise(acc)
          }
          val keptIds = operators.EpochFeed
            .withSourceCum(
              withTok0.select(col(idc), col("source"), col("__feed_tok")),
              epoch, "__feed_tok", idc)
            .filter(col("src_cum_before") < budgetCol)
            .select(col(idc))
          withTok0.join(keptIds, Seq(idc), "left_semi")
        }
        // the rank computation runs on a NARROW (id, token) projection
        // — at 100 TB the text/payload must not ride the prefix sum's
        // bucket window sort; the materialized write joins it back by
        // id (one wide shuffle, the honest minimum for a physically
        // shuffled corpus)
        // `weight` is tokens on the text axis, payload bytes on media
        val assign = graft.Pinned.pin(operators.EpochFeed
          .feed(withTok.select(col(idc), col("__feed_tok")),
            epoch, readers, "__feed_tok", idc)
          .select(col(idc), col("pos"), col("reader"),
            col("__feed_tok").as("weight")))
        try {
          outFlag.foreach { out =>
            val dir = s"$out/epoch=$epoch"
            val fs = new org.apache.hadoop.fs.Path(dir)
              .getFileSystem(s.sparkContext.hadoopConfiguration)
            val marker =
              new org.apache.hadoop.fs.Path(dir, "_FEED_COMMITTED")
            // single writer per --out root (the index store's lease):
            // two feeds racing on one epoch dir would interleave their
            // deletes and writes under one marker. The lease file sits
            // at the root, not in the epoch dir, whose overwrite
            // deletes the whole directory.
            IndexGenerations.withLease(s, out) {
              // overwrite discipline: parquet overwrite is delete+write,
              // not atomic — drop the marker FIRST so a reader honoring
              // it sees "in-flight" for the whole rewrite instead of a
              // torn mix of old and new files, and stamp it LAST with
              // the spec that produced the artifact
              fs.delete(marker, false)
              if (materialize)
                operators.EpochFeed.writeMaterialized(
                  docs.join(assign.drop("weight"), Seq(idc)),
                  readers, dir)
              else
                assign.write.mode("overwrite").partitionBy("reader")
                  .parquet(dir)
              val os = fs.create(marker, true)
              try os.write((Seq(
                s"axis=$axis", s"epoch=$epoch", s"readers=$readers",
                s"materialize=$materialize") ++
                splitFlag.map(v => s"split=$v") ++
                rates.map(rm => "rates=" + rm.toSeq.sorted
                  .map { case (k, v) => s"$k=$v" }.mkString(",")) ++
                nights.map(ns => "nights=" + ns.mkString(",")))
                .mkString("\n").getBytes("UTF-8"))
              finally os.close()
            }
          }
          // driver-plane rollup: one row per reader rank (bounded by
          // --readers), the balance report a trainer checks for skew
          val perReader = assign.groupBy(col("reader"))
            .agg(count(lit(1)).as("n_docs"), sum(col("weight")).as("w"))
            .collect().sortBy(_.getLong(0))
          line("metric" -> "\"feed\"",
            "epoch" -> epoch.toString,
            "readers" -> readers.toString,
            "rows" -> perReader.map(_.getLong(1)).sum.toString,
            "written" -> outFlag.isDefined.toString,
            "balance" -> perReader.map(r =>
              s""""${r.getLong(0)}":{"n_docs":${r.getLong(1)},""" +
                s""""weight":${r.getLong(2)}}""")
              .mkString("{", ",", "}"))
        } finally Pinned.releaseAll(s)

      case "delete-docs" =>
        // the retention face: rewrite only the affected nights minus
        // the requested ids (absorption commit point, crash-safe);
        // bytes leave disk at the NEXT prune-shards
        val idc = corpusCols._1
        val ids = rest.sliding(2)
          .collectFirst { case Seq("--ids", v) => v }
          .getOrElse(sys.error(
            "delete-docs requires --ids <id,id,...>\n" + Usage))
          .split(",").map(numFlag("--ids", _)(_.toLong)).toSeq
        val replaced = operators.Corpus.deleteDocs(s, indexDir, ids,
          idCol = idc)
        line("metric" -> "\"shards_delete\"",
          "requested" -> ids.length.toString,
          "replaced" -> replaced.toSeq.sorted
            .map { case (o, nw) => s""""$o":"$nw"""" }
            .mkString("{", ",", "}"))

      case "reconcile" =>
        // the cross-store invariant: every id the corpus SERVES is
        // banned in the LIVE index. Violations (a retract without its
        // delete-docs twin, an index reset under a live corpus, two
        // lineages merged by hand) mean future nights can re-admit
        // duplicates of already-served content — the alarm an operator
        // wants BEFORE the next night runs, not after the dup lands.
        val idc = corpusCols._1
        val shardsRoot = rest.sliding(2)
          .collectFirst { case Seq("--shards", v) => v }
          .getOrElse(sys.error(
            "reconcile requires --shards <corpusRoot>\n" + Usage))
        // pin: sample + count below would otherwise each re-run the
        // full corpus-vs-index anti-join
        val bad = Pinned.pin(operators.Corpus.servedNotBanned(s,
          shardsRoot, indexDir, idCol = idc))
        // sample ids make the line actionable without a second query;
        // the full frame stays available through the library face
        val n = bad.count()
        val sample = bad.orderBy(idc).limit(10)
          .collect().map(_.getLong(0))
        Pinned.releaseAll(s)
        line("metric" -> "\"nightly_reconcile\"",
          "axis" -> s""""$axis"""", genField,
          "served_not_banned" -> n.toString,
          "sample_ids" -> sample.mkString("[", ",", "]"),
          "clean" -> (n == 0L).toString)

      case "audit-shards" =>
        // the self-consistency check an operator runs on a root of
        // unknown provenance: any cross-night exact dup means the
        // increments did NOT all flow through one index lineage
        val (idc, content) = corpusCols
        val dups = operators.Corpus.exactDupGroups(s, indexDir,
          idCol = idc, contentCol = content)
        val groups = dups.count()
        line("metric" -> "\"shards_audit\"",
          "dup_groups" -> groups.toString,
          "clean" -> (groups == 0L).toString)

      case other => sys.error(s"unknown command '$other'\n$Usage")
    }
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-nightly")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.applyEnvConf(spark)
    try println(run(spark, args.toIndexedSeq))
    finally spark.stop()
  }
}
