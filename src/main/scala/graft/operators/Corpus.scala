package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types
import org.apache.spark.sql.types.StructType

/** The corpus root's night-partition lifecycle — the read/compact/prune
  * half of the nightly shard increments
  * ([[graft.queries.DeltaAxis.night]] writes one
  * `night=<nightId>` partition per committed night, marker-stamped).
  * This is the consumer-facing contract the reference's follower keeps
  * on its own output tables (only committed blocks are visible,
  * src/follower.rs:100-112): a training job reads EXACTLY the committed
  * increments, never a crashed night's partial files, no matter when it
  * looks.
  *
  *  - [[readCommitted]] serves the union of committed nights — a
  *    `night=*` dir without its `_NIGHT_COMMITTED` marker (crashed
  *    mid-write, or mid-compaction) is invisible.
  *  - [[compactNights]] answers the small-files problem the night
  *    layout creates at scale: an always-on ingest lands one night per
  *    micro-batch, and a year of nights × shards is tens of thousands
  *    of files. Compaction rewrites today's live set as ONE merged
  *    night whose marker RECORDS the nights it absorbed (the
  *    generation-store total-tag pattern,
  *    [[IndexGenerations]]): the marker create is the commit point, so
  *    a crash before it leaves the merge invisible and the sources
  *    live, while after it the sources are excluded from every read
  *    even though their dirs still exist.
  *  - [[pruneNights]] deletes absorbed dirs lazily, exactly like the
  *    generation store's prune.
  *
  * Compact and prune run under the same create-exclusive writer lease
  * as the index store (one `_WRITER_LEASE` at the corpus root) — two
  * racing compactions would otherwise both absorb the same nights and
  * serve every row twice. Night WRITES need no lease: each night id is
  * its own directory and the index-side night ledger already makes a
  * given id exactly-once.
  *
  * Scale shape: list-status of the root (O(#live nights) after
  * pruning), one marker read per night; [[readCommitted]] plans a
  * plain multi-dir parquet scan with `night`/`shard` as partition
  * columns, so partition pruning on either survives. Compaction is one
  * |live corpus| rewrite — opt-in, scheduled, never on the write path.
  */
object Corpus {

  /** A committed night's marker file: first line the night id, then
    * one [[AbsorbsTag]] line per night a compaction absorbed. */
  private[graft] val Marker = "_NIGHT_COMMITTED"
  private val NightPrefix = "night="
  private val AbsorbsTag = "absorbs:"

  private def fsOf(s: SparkSession, p: String) =
    new Path(p).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Stamp `nightDir`'s committed marker (lines = `content`). With
    * `onlyIfMissing` an existing marker stays byte-frozen — the
    * rerun-repair face ([[graft.queries.DeltaAxis.nightRecorded]]).
    * Marker CONTENT is load-bearing (`absorbs:` lines), so the stamp
    * is write-temp-then-rename: a reader can never observe a visible
    * but empty marker, which for a compaction would read as "commits
    * nothing absorbed" and double-serve every absorbed row. */
  private[graft] def stampCommitted(s: SparkSession, nightDir: String,
      content: Seq[String], onlyIfMissing: Boolean): Unit = {
    val fs = fsOf(s, nightDir)
    val p = new Path(nightDir, Marker)
    if (!(onlyIfMissing && fs.exists(p))) {
      val tmp = new Path(nightDir, Marker + ".tmp")
      val out = fs.create(tmp, true)
      try out.write(content.mkString("\n").getBytes("UTF-8"))
      finally out.close()
      if (!fs.rename(tmp, p)) { fs.delete(p, false); fs.rename(tmp, p) }
    }
  }

  /** All committed nights under `root`: (nightId, marker lines),
    * sorted by id. Uncommitted (marker-less) dirs are not listed. */
  def committedNights(s: SparkSession, root: String)
      : Seq[(String, Seq[String])] = {
    val fs = fsOf(s, root)
    val rp = new Path(root)
    if (!fs.exists(rp)) Seq.empty
    else fs.listStatus(rp).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(NightPrefix))
      .flatMap { st =>
        val mp = new Path(st.getPath, Marker)
        if (!fs.exists(mp)) None
        else {
          val in = fs.open(mp)
          val lines =
            try new String(in.readAllBytes(), "UTF-8")
              .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
            finally in.close()
          Some(st.getPath.getName.stripPrefix(NightPrefix) -> lines)
        }
      }
      .sortBy(_._1)
  }

  /** Whether a night dir holds any data (shard subdirs), as opposed to
    * a marker-only dir left by an all-deleted replacement. */
  private def hasData(s: SparkSession, root: String, id: String): Boolean =
    fsOf(s, root).listStatus(new Path(s"$root/$NightPrefix$id"))
      .exists(_.isDirectory)

  private def absorbedOf(committed: Seq[(String, Seq[String])])
      : Set[String] =
    committed.flatMap(_._2.collect {
      case l if l.startsWith(AbsorbsTag) => l.stripPrefix(AbsorbsTag)
    }).toSet

  /** A night id named in any COMMITTED marker's `absorbs:` line is
    * permanently retired, even after [[pruneNights]] deletes its dir:
    * re-committing it would make the new night and its old absorber
    * absorb EACH OTHER — both drop out of [[liveNights]] (the whole
    * corpus reads as empty) and the next prune deletes both dirs.
    * Every id-choosing writer (compaction, the recorded nights) must
    * refuse such an id up front. */
  private[graft] def refuseAbsorbedId(absorbed: Set[String], id: String,
      root: String): Unit =
    if (absorbed.contains(id)) throw new IllegalStateException(
      s"night id '$id' was absorbed by a committed compaction under " +
        s"$root and is permanently retired — committing it again " +
        "would make the absorber and the new night absorb each other " +
        "(every read of the corpus goes empty and the next prune " +
        "deletes both); pick a fresh id")

  /** [[refuseAbsorbedId]] against the root's current retired set —
    * the form the night writers (which don't hold the marker listing)
    * call before claiming an id. Reads the O(1) [[Retired]] cache when
    * present so an always-on micro-night stream pays one small-file
    * read per commit, not a marker scan that grows with night count;
    * roots from before the cache fall back to the scan until their
    * first compact/delete/prune writes it. */
  private[graft] def refuseAbsorbedId(s: SparkSession, root: String,
      id: String): Unit =
    if (fsOf(s, root).exists(new Path(root)))
      refuseAbsorbedId(retiredOf(s, root), id, root)

  /** The root-level retired-id cache: exactly the `absorbs:` union of
    * the markers on disk, maintained by the only writers that change
    * it — [[compactNights]]/[[deleteDocs]] append their new
    * absorptions, [[pruneNights]] recomputes after deleting markers
    * (an id whose every naming marker is gone leaves the set — the
    * freed-id semantics the model property pins). Temp-then-rename
    * write, so the lease-less night writers read it atomically.
    *
    * Crash-staleness is SAFE in both directions: a crash before the
    * cache write leaves it missing fresh absorptions, but those ids'
    * own dirs and markers still exist (nothing pruned yet), so the
    * marker-collision check catches any reuse until the next prune
    * rewrites the cache; a crash mid-prune leaves the cache
    * over-retiring freed ids — conservative, healed by the next
    * prune. */
  private[graft] val Retired = "_RETIRED"

  private def retiredOf(s: SparkSession, root: String): Set[String] =
    // open-and-catch, not exists-then-open: on stores where
    // rename-to-existing fails (HDFS), writeRetired's delete+rename
    // fallback makes the rewrite momentarily non-atomic, and a
    // lease-less night commit racing it must fall back to the marker
    // scan instead of crashing on the vanished file
    try {
      val in = fsOf(s, root).open(new Path(root, Retired))
      val body = try new String(in.readAllBytes(), "UTF-8")
      finally in.close()
      body.split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSet
    } catch {
      case _: java.io.FileNotFoundException =>
        absorbedOf(committedNights(s, root))
    }

  private def writeRetired(s: SparkSession, root: String,
      ids: Set[String]): Unit = {
    val fs = fsOf(s, root)
    val p = new Path(root, Retired)
    val tmp = new Path(root, Retired + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(ids.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(tmp, p)) { fs.delete(p, false); fs.rename(tmp, p) }
  }

  /** The night ids a read serves: committed minus absorbed-by-a-
    * committed-compaction (absorption chains resolve because every
    * absorbed id appears in SOME committed marker). */
  def liveNights(s: SparkSession, root: String): Seq[String] = {
    val committed = committedNights(s, root)
    val absorbed = absorbedOf(committed)
    committed.map(_._1).filterNot(absorbed)
  }

  /** The committed corpus as one DataFrame — `night` (string) and
    * `shard` ride along as partition columns, so a reader filtering on
    * either prunes directories, not rows. `schema` (sans the partition
    * columns) makes an all-empty corpus read as an empty frame instead
    * of failing inference. Throws if no night is committed and no
    * schema is given. */
  def readCommitted(s: SparkSession, root: String,
      schema: Option[StructType] = None): DataFrame = {
    // marker-only dirs (an all-deleted replacement night, or an
    // all-empty compaction) carry no data and would break schema
    // inference — serve the dirs that have any
    val live = liveNights(s, root).filter(hasData(s, root, _))
    if (live.isEmpty && schema.isEmpty)
      throw new IllegalStateException(
        s"no committed corpus data under $root (and no explicit schema)")
    if (live.isEmpty) {
      // keep the documented shape: night/shard ride along even on the
      // empty read, so a consumer's `filter(col("night") ...)` does
      // not break the first time it meets a fresh root
      val withParts = Seq("night" -> types.StringType,
        "shard" -> types.LongType)
        .foldLeft(schema.get) { case (sc, (n, t)) =>
          if (sc.fieldNames.contains(n)) sc
          else sc.add(types.StructField(n, t))
        }
      return s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], withParts)
    }
    readNightDirs(s, root, live)
  }

  /** Read EXACTLY the given night dirs (no re-listing) — the shared
    * tail of [[readCommitted]], also used directly by the lifecycle
    * writers ([[compactNights]], [[deleteDocs]]) so the set they read
    * is the set their markers account for, immune to a night committed
    * between their listing and the scan. */
  private def readNightDirs(s: SparkSession, root: String,
      ids: Seq[String]): DataFrame = {
    // partition-type inference would make a digit-only night id an INT
    // column, and a cast back to string sits between a reader's
    // `night = '20260815'` filter and the partition pruner. Inference
    // is decided when read() builds the file index, so pin it off for
    // this read: both partition columns arrive as strings, `night`
    // filters prune directories for any id shape, and `shard` gets its
    // numeric type back explicitly.
    val conf = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val prev = s.conf.getOption(conf)
    s.conf.set(conf, "false")
    // mergeSchema: a pipeline that GAINS a column between months must
    // not have old reads silently drop it (the default samples one
    // file's schema); the footer-merge cost is bounded by compaction
    val df =
      try s.read.option("basePath", root)
        .option("mergeSchema", "true")
        .parquet(ids.map(id => s"$root/$NightPrefix$id"): _*)
      finally prev match {
        case Some(v) => s.conf.set(conf, v)
        case None    => s.conf.unset(conf)
      }
    df.withColumn("shard", col("shard").cast("long"))
  }

  /** Rewrite the live night set as ONE merged night `into` (fresh id,
    * directory-safe), its marker recording what it absorbed. Returns
    * false (a recorded no-op) if `into` is already committed — the
    * rerun discipline of the night itself. Runs under the root's
    * writer lease. */
  def compactNights(s: SparkSession, root: String, into: String,
      nShards: Int = 16, idCol: String = "doc_id"): Boolean = {
    require(into.matches("[A-Za-z0-9._-]+"),
      s"night id '$into' must be directory-safe ([A-Za-z0-9._-]+)")
    IndexGenerations.withLease(s, root) {
      val committed = committedNights(s, root)
      if (committed.exists(_._1 == into)) false
      else {
        val absorbed = absorbedOf(committed)
        refuseAbsorbedId(absorbed, into, root)
        val live = committed.map(_._1).filterNot(absorbed)
        if (live.isEmpty) throw new IllegalStateException(
          s"nothing to compact under $root — no committed nights")
        val withData = live.filter(hasData(s, root, _))
        if (withData.nonEmpty) {
          // read EXACTLY the live set pinned above — a re-listing
          // readCommitted here would merge in a night committed after
          // the listing (night writes are lease-less by design) whose
          // rows the marker below would NOT absorb: served twice,
          // forever
          val docs = readNightDirs(s, root, withData)
            .drop("night", "shard")
          // writeDocs re-derives shard from doc_id — the same
          // deterministic assignment every night used — and the
          // compaction posture pays one shuffle on the shard key so
          // the merged night holds ONE file per shard (the default
          // stream-through write leaves tasks × shards files, which
          // is the problem compaction exists to fix)
          ShardWriter.writeDocs(docs, nShards,
            s"$root/$NightPrefix$into", onePassPerShard = true,
            idCol = idCol)
        }
        // an all-empty live set still merges: N marker-only nights
        // collapse to one
        stampCommitted(s, s"$root/$NightPrefix$into",
          into +: live.map(AbsorbsTag + _), onlyIfMissing = false)
        writeRetired(s, root, absorbed ++ live)
        true
      }
    }
  }

  /** Cross-night exact-duplicate audit — the invariant checker for
    * "every night was admitted through ONE index lineage". The nightly
    * and stream writers cannot create a cross-night exact dup (the
    * index verdict excludes re-crawls), so any group this returns is
    * operational damage: two roots merged by hand, a night replayed
    * against a RESET index, a partition copied in. One hash-groupBy
    * over the committed corpus (map-side combinable, no text in the
    * shuffle beyond the hash), `nights` bounded by the night count.
    * Empty result = the artifact is self-consistent. */
  def exactDupGroups(s: SparkSession, root: String,
      idCol: String = "doc_id", contentCol: String = "text"): DataFrame =
    readData(s, root, StructType(Seq(
      types.StructField(idCol, types.LongType),
      types.StructField(contentCol,
        if (contentCol == "payload") types.BinaryType
        else types.StringType))))
      .groupBy(md5(col(contentCol)).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"),
        min(col(idCol)).as("min_doc_id"),
        sort_array(collect_set(col("night"))).as("nights"))
      .filter(col("n_copies") > 1)

  /** Index↔corpus reconciliation — the cross-store invariant checker
    * beside [[exactDupGroups]]'s intra-corpus one: every id the
    * committed corpus SERVES must be banned in the LIVE index (its
    * signature folded by the night that admitted it), or a future
    * night can admit an exact re-crawl of already-served content and
    * the corpus accretes the very duplicates the pipeline exists to
    * reject. The nightly writers cannot break this (the fold and the
    * shard write share one commit point), so violations are
    * operational damage: a `retract` without its corpus-side
    * `deleteDocs` twin, an index `reset` under a live corpus, roots
    * from two lineages merged by hand. The REVERSE direction —
    * banned-but-not-served — is healthy by design (the base build
    * folds without sharding; `deleteDocs` keeps content banned) and is
    * deliberately not flagged.
    *
    * Returns the violating ids with the night that serves them, empty
    * = consistent. Id-only anti-join (ids + night strings shuffle,
    * text/payloads never do); total on data-less roots like the other
    * audit faces. */
  def servedNotBanned(s: SparkSession, root: String, indexDir: String,
      idCol: String = "doc_id"): DataFrame = {
    require(IndexGenerations.committed(s, indexDir).nonEmpty,
      s"no committed index generation under $indexDir — reconcile " +
        "compares the corpus against a LIVE index, not an empty root")
    readData(s, root, StructType(Seq(
      types.StructField(idCol, types.LongType))))
      .select(col(idCol), col("night"))
      .join(IndexGenerations.readCurrent(s, indexDir).select(col(idCol)),
        Seq(idCol), "left_anti")
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("night"))).as("nights"))
  }

  /** Per-night accounting of the committed corpus: (night, n_docs,
    * n_toks) — the shard-root face of the night's JSON line, readable
    * long after the line scrolled away. A corpus without a token
    * column (the media payload root) reports n_toks −1. */
  def nightStats(s: SparkSession, root: String): DataFrame = {
    val df = readData(s, root, StructType(Seq(
      types.StructField("n_toks", types.LongType))))
    val toks =
      if (df.columns.contains("n_toks")) sum(col("n_toks"))
      else max(lit(-1L))
    df.groupBy(col("night"))
      .agg(count(lit(1)).as("n_docs"), toks.as("n_toks"))
  }

  /** [[readCommitted]] that is TOTAL on data-less roots (fully taken
    * down, or every live night an empty replacement): falls back to
    * the given core schema so the status/audit faces keep working on
    * exactly the states the lifecycle produces. */
  private def readData(s: SparkSession, root: String,
      fallback: StructType): DataFrame =
    readCommitted(s, root, Some(fallback))

  /** Targeted document deletion — the retention face (takedowns,
    * right-to-be-forgotten). Rewrites ONLY the nights that contain a
    * requested id: each affected night is re-written minus the doc as
    * a NEW night whose marker absorbs the old one — the same commit
    * point as [[compactNights]], so a crash anywhere leaves either the
    * old night fully served or the new one, never a half-deleted
    * partition, and a rerun of the same request is idempotent (the
    * replacement id is derived from the sorted id list, so the retry
    * overwrites its own debris). Cost is |affected nights|, not
    * |corpus| — at yearly-night scale a deletion touches days, not the
    * 100 TB archive. Run [[pruneNights]] afterwards to reclaim the
    * absorbed dirs (that is also when the deleted bytes leave disk —
    * retention holds only after the prune).
    *
    * The dedup INDEX deliberately keeps the deleted docs' signatures:
    * a re-crawl of removed content must NOT re-enter the corpus
    * through the nightly loop. (Index verdicts may therefore name a
    * deleted doc_id as winner — the ledger of what was seen, not of
    * what is served.) Returns (oldNightId → replacementId). */
  def deleteDocs(s: SparkSession, root: String, ids: Seq[Long],
      idCol: String = "doc_id"): Map[String, String] = {
    require(ids.nonEmpty, "empty deletion request")
    IndexGenerations.withLease(s, root) {
      val committed = committedNights(s, root)
      val absorbed = absorbedOf(committed)
      val live = committed.map(_._1).filterNot(absorbed)
      // deterministic, dir-safe replacement suffix for this request
      val tag = java.security.MessageDigest.getInstance("MD5")
        .digest(ids.sorted.mkString(",").getBytes("UTF-8"))
        .take(6).map("%02x".format(_)).mkString
      // ONE scan finds the affected nights (the id column only, night
      // dirs as partitions) — not one probe job per live night. The
      // scan reads EXACTLY the pinned live set: a night committed
      // after the listing above must not surface as "affected" when
      // the rewrite loop below (live.filter) would skip it — the
      // caller would be told its ids were handled when they were not.
      val withData = live.filter(hasData(s, root, _))
      val affected =
        if (withData.isEmpty) Set.empty[String]
        else readNightDirs(s, root, withData)
          .filter(col(idCol).isin(ids: _*))
          .select("night").distinct()
          .collect().map(_.getString(0)).toSet
      val replacements = live.filter(affected)
        .map(nid => nid -> s"$nid-d$tag")
      // refuse RETIRED replacement ids BEFORE any rewrite (deleteDocs
      // is an id-choosing writer like compaction and the nights): the
      // collision needs a reused night id plus the same deletion
      // request recurring after its earlier replacement was absorbed
      // and pruned — rare, but stamping it would mutual-absorb and
      // blank the corpus. Up-front means the refusal leaves no
      // partial rewrite; vary the request (one extra absent id
      // changes the tag) to proceed.
      replacements.foreach { case (_, newId) =>
        refuseAbsorbedId(absorbed, newId, root)
      }
      val done = replacements.map { case (nid, newId) =>
        val dir = s"$root/$NightPrefix$nid"
        // each kept row KEEPS the shard its night assigned it — the
        // rewrite is per-night-correct for any historical shard
        // count, with no caller-supplied count to get wrong
        val kept = s.read.option("basePath", root).parquet(dir)
          .drop("night")
          .filter(!col(idCol).isin(ids: _*))
        ShardWriter.writeSharded(kept, s"$root/$NightPrefix$newId")
        stampCommitted(s, s"$root/$NightPrefix$newId",
          Seq(newId, AbsorbsTag + nid), onlyIfMissing = false)
        nid -> newId
      }.toMap
      if (done.nonEmpty)
        writeRetired(s, root, absorbed ++ done.keys)
      done
    }
  }

  /** Delete the dirs of absorbed nights (their rows live on in a
    * committed compaction). Never touches an uncommitted dir — that is
    * an in-flight writer's, not garbage. Returns the deleted ids.
    *
    * `pinned` ids (plus the session-wide
    * `spark.graft.corpus.pinNights` comma list) survive the prune even
    * when absorbed — the corpus twin of the index store's
    * `readGen`-honoring prune: a long training run records
    * [[liveNights]] at start and keeps re-reading that EXACT set via
    * [[readNights]] while compaction and retention churn the root
    * around it; prune reclaims the pinned dirs only after the pin is
    * lifted. (Retention note: a [[deleteDocs]] takedown's bytes leave
    * disk at the prune — a pin on the OLD night defers exactly that,
    * so lift pins before a deletion's retention clock matters.) */
  def pruneNights(s: SparkSession, root: String,
      pinned: Set[String] = Set.empty): Seq[String] =
    IndexGenerations.withLease(s, root) {
      val pins = pinned ++ s.conf
        .getOption("spark.graft.corpus.pinNights")
        .iterator.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      val committed = committedNights(s, root)
      val dead = absorbedOf(committed)
        .intersect(committed.map(_._1).toSet)
        .diff(pins).toSeq.sorted
      val fs = fsOf(s, root)
      // heal the cache BEFORE any dir leaves disk: a compact that
      // crashed between its marker and its cache write left retired
      // ids covered only by their surviving markers — deleting those
      // markers first would open a window (permanent, if this prune
      // crashed mid-delete) where neither guard covers the id
      writeRetired(s, root, absorbedOf(committed))
      dead.foreach(id =>
        fs.delete(new Path(s"$root/$NightPrefix$id"), true))
      // deleting markers can FREE ids (an id named only by a
      // now-deleted marker leaves the retired set) — recompute from
      // the survivors. A crash before this line leaves the
      // conservative over-retiring cache above: safe, healed by the
      // next prune.
      writeRetired(s, root,
        absorbedOf(committed.filterNot(c => dead.contains(c._1))))
      dead
    }

  /** Read an EXPLICIT night set — the reproducible-read face, the
    * corpus twin of the index store's `readAt`: a consumer records
    * [[liveNights]] when it starts and re-reads that exact set for as
    * long as the dirs survive, immune to compactions committed in
    * between (an absorbed night's dir serves history until a
    * [[pruneNights]] that does not pin it). Every id must carry a
    * committed marker (an uncommitted dir is an in-flight writer's,
    * not history); a pruned id fails loudly with the pin to use —
    * never a silent subset. Marker-only ids (a takedown replaced every
    * row) contribute no rows, exactly as they did when live. */
  def readNights(s: SparkSession, root: String, ids: Seq[String])
      : DataFrame = {
    require(ids.nonEmpty, "empty night set")
    val committed = committedNights(s, root).map(_._1).toSet
    val fs = fsOf(s, root)
    ids.foreach { id =>
      if (!committed.contains(id))
        throw new IllegalStateException(
          if (fs.exists(new Path(s"$root/$NightPrefix$id")))
            s"night '$id' under $root is not committed — an in-flight " +
              "or torn write is not readable history"
          else
            s"night '$id' under $root was pruned — pin a snapshot " +
              "across the lifecycle with pruneNights(pinned=...) or " +
              "spark.graft.corpus.pinNights before reclaiming it")
    }
    val withData = ids.distinct.filter(hasData(s, root, _))
    if (withData.isEmpty)
      // every id in the set was taken down to marker-only: no data
      // columns survive to infer, so serve the bare partition shape
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          types.StructField("night", types.StringType),
          types.StructField("shard", types.LongType))))
    else readNightDirs(s, root, withData)
  }

  /** The training feed over the corpus — [[EpochFeed.feed]]'s
    * deterministic epoch shuffle + token-balanced reader slices over
    * the committed nights (or over an EXPLICIT night snapshot, the
    * [[readNights]] discipline — a multi-epoch training run records
    * `liveNights` once and passes that set for every epoch, so a night
    * committed mid-run cannot shift epoch 3's order relative to epoch
    * 2's, and compaction cannot rewrite it mid-read). Returns the per-
    * document frame (`pos`, `toks_before`, `reader` + the corpus
    * columns); callers project the (id, pos, reader) assignment table
    * or aggregate the per-rank balance report. */
  def epochFeed(s: SparkSession, root: String, epoch: Int, nReaders: Int,
      nights: Option[Seq[String]] = None, tokCol: String = "n_toks",
      idCol: String = "doc_id",
      buckets: Int = PrefixSum.DefaultBuckets): DataFrame = {
    val docs = nights match {
      case Some(ids) => readNights(s, root, ids)
      case None      => readCommitted(s, root)
    }
    EpochFeed.feed(docs, epoch, nReaders, tokCol, idCol, buckets)
  }
}
