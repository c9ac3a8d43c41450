package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Generation-versioned parquet index store — the lifecycle layer under
  * the delta-dedup indexes (d24's signature index, m12's media
  * fingerprint index, [[graft.queries.TextDedupOps]] /
  * [[graft.queries.MultimodalOps]]).
  *
  * The nightly contract those operators document — "today's run dedups
  * against yesterday's corpus" — needs the index to ADVANCE: each
  * night's admitted uniques must be part of the next night's index.
  * In-place append to a serving parquet dir is not an option (a reader
  * mid-append sees a torn file listing), so generations: the root holds
  * `gen=<n>/` subdirectories, each one immutable once committed, and a
  * `_COMMITTED` marker stamped only AFTER a generation's parquet write
  * fully succeeds — the write-new-then-mark discipline of
  * [[graft.helium.ExactlyOnceSink]]'s compaction. Readers resolve the
  * live generation as max-committed-n, so a torn advance (parquet
  * half-written, marker absent) is invisible and the previous
  * generation keeps serving; re-running the failed advance overwrites
  * the unmarked dir. An advance never modifies any earlier generation's
  * files (DeltaAdvanceSpec pins this byte-for-byte).
  *
  * Single-writer by design, like the nightly jobs it serves: one
  * build/advance at a time per root; concurrent readers are always
  * safe. [[prune]] is the separate compaction face — advances stay
  * additive-only so the "old generations untouched" invariant is
  * auditable. The contract is ENFORCED, not just documented: every
  * mutation (generation write, multi-table write, prune) runs under a
  * create-exclusive `_WRITER_LEASE` file at the root — a second writer
  * arriving while one holds the lease fails with a clear error instead
  * of interleaving parquet + marker writes into the same `gen=` dir
  * (the silent-corruption race a folding stream plus a cron'd nightly
  * advance would otherwise hit). A crashed writer's stale lease is
  * taken over after `spark.graft.index.leaseTimeoutMs` (default 1 h —
  * bound it below your scheduler's retry gap). Belt-and-braces, a
  * write also refuses a target generation that ALREADY carries a
  * commit marker: a writer that lost the race after computing N+1 from
  * a stale listing errors instead of overwriting the winner's
  * committed generation.
  *
  * 100 TB: generations hold the distilled index rows (~40 B/doc — the
  * signature/fingerprint tables, never text or payloads), so a full
  * rewrite per [[advance]] is |index| I/O, not |corpus|. When even
  * that is too much, [[advanceDelta]] is the LSM refinement: the
  * night's additions land as their OWN generation whose marker is
  * tagged `delta`, and readers union the newest total generation with
  * every committed delta above it — nightly I/O drops to |delta|.
  * [[compact]] folds the chain back into one total generation (run it
  * when the delta chain's file count starts to hurt scan planning —
  * the classic LSM level-0 merge); atomicity is unchanged because each
  * generation, total or delta, becomes visible only at its marker
  * stamp. */
object IndexGenerations {

  private val Marker = "_COMMITTED"
  private val DeltaTag = "delta"
  private val GenName = "gen=(\\d{1,18})".r
  private val Lease = "_WRITER_LEASE"

  /** Record names ending in this suffix are HIGH-WATER-MARK ledgers:
    * each value is `key:number` (split at the LAST ':'), the consumer's
    * replay skip is "number ≤ max recorded for key" (the monotonic
    * batch-id discipline of [[graft.streaming.StoreBridge.foldBatch]]),
    * so a carry keeps only the max number per key instead of the full
    * value history. Without this an always-on stream fold's ledger
    * grows one line per micro-batch FOREVER — compact and rewrite
    * advances carry the whole set forward, and every batch's replay
    * check re-reads it: O(batches²) ledger I/O over the stream's life.
    * With it the ledger is O(#streams) lines at any age. Membership
    * ledgers (e.g. the night-id record — skip is `contains`, ids are
    * unordered) must NOT use the suffix: they keep full history. */
  private[graft] val HwmSuffix = "_hwm"

  /** Keep the max number per key among `key:number` values; a value
    * with no numeric tail keeps membership semantics (never dropped —
    * a malformed line must not erase replay evidence). */
  private def hwmCompact(values: Seq[String]): Seq[String] = {
    val (keyed, raw) = values.distinct.partitionMap { v =>
      val i = v.lastIndexOf(':')
      (if (i < 0) None else v.substring(i + 1).toLongOption) match {
        case Some(num) => Left(v.substring(0, i) -> num)
        case None      => Right(v)
      }
    }
    raw ++ keyed.groupMapReduce(_._1)(_._2)(math.max)
      .toSeq.sortBy(_._1).map { case (k, n) => s"$k:$n" }
  }

  /** Run `body` holding the root's create-exclusive writer lease —
    * the single-writer fence. Acquisition is `fs.create(path,
    * overwrite=false)`, which fails if the file exists; a lease older
    * than `spark.graft.index.leaseTimeoutMs` (default 1 h) is presumed
    * a crashed writer's and taken over once. The lease is released on
    * ALL exits (a failed write leaves a torn, unmarked dir that the
    * retry overwrites — the lease guards concurrency, not retries). */
  private[graft] def withLease[A](s: SparkSession, root: String)(
      body: => A): A = {
    val fs = fsOf(s, root)
    val rp = new Path(root)
    if (!fs.exists(rp)) fs.mkdirs(rp)
    val lp = new Path(rp, Lease)
    val timeoutMs =
      graft.Conf.long(s, "spark.graft.index.leaseTimeoutMs", 3600000L)
    // the lease content is "<stamp>:<uuid>" — the stamp bounds
    // staleness, the uuid makes ownership checkable. Takeover and exit
    // never blind-delete the lease PATH: both first claim it with an
    // atomic RENAME to a private name, so exactly one contender ever
    // holds the claimed file, then act on its verified content — a
    // fresh lease that got claimed by mistake is renamed straight
    // back. (A claimer crashing mid-takeover strands only its inert
    // claim file; the lease path itself is already free.)
    val token = System.currentTimeMillis().toString + ":" +
      java.util.UUID.randomUUID().toString
    def tryAcquire(): Boolean =
      try {
        val out = fs.create(lp, false)
        try out.write(token.getBytes("UTF-8"))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    // content read with a short retry ladder: a transient IO hiccup
    // must not be mistaken for "absent" (that misread could strand a
    // lease or skip a restore); a genuinely missing file returns fast
    def readPath(p: Path): Option[String] = {
      var attempt = 0
      while (attempt < 3) {
        try {
          val in = fs.open(p)
          return Some(
            try new String(in.readAllBytes(), "UTF-8").trim
            finally in.close())
        } catch {
          case _: java.io.FileNotFoundException => return None
          case _: java.io.IOException =>
            attempt += 1
            if (attempt < 3) Thread.sleep(20L << attempt)
        }
      }
      None
    }
    def claimPath(kind: String) =
      new Path(rp, Lease + "." + kind + "." + token.takeRight(12))
    val acquired = tryAcquire() || {
      readPath(lp) match {
        case None => tryAcquire() // vanished between create-fail & read
        case Some(seen) =>
          val t = seen.takeWhile(_ != ':').toLongOption.getOrElse(
            try fs.getFileStatus(lp).getModificationTime
            catch { case _: java.io.IOException => Long.MaxValue })
          val stale = System.currentTimeMillis() - t > timeoutMs
          // double-check just before the claim: if the content already
          // changed (another takeover completed), abort WITHOUT the
          // rename — a fresh lease must never leave the path, even for
          // the verify instant, because a naive create-exclusive would
          // slip into that instant with no staleness judgment at all
          stale && readPath(lp).contains(seen) && {
            // atomic claim: of all contenders judging this lease
            // stale, the rename admits exactly one
            val claim = claimPath("takeover")
            val won =
              try fs.rename(lp, claim)
              catch { case _: java.io.IOException => false }
            won && {
              if (readPath(claim).contains(seen)) {
                // the exact lease judged stale: retire it and race
                // create-exclusive for the now-free path (losing that
                // race to a third writer is a clean failure below)
                fs.delete(claim, false)
                tryAcquire()
              } else {
                // a fresh lease landed inside the re-read→rename gap
                // (needs a FULL takeover inside microseconds — the
                // residual bound of filesystem primitives without
                // compare-and-swap; an object-store deployment that
                // needs tighter should front a CAS lock service):
                // restore it; if a third writer claimed the free path
                // meanwhile, the displaced lease is already dead —
                // drop the claim file as debris rather than strand it
                if (!fs.rename(claim, lp)) fs.delete(claim, false)
                false
              }
            }
          }
      }
    }
    if (!acquired) throw new IllegalStateException(
      s"another writer holds the lease on $root ($Lease present and " +
        s"fresh) — the store is single-writer; stop the other " +
        s"build/advance/prune first, or wait out the " +
        s"${timeoutMs / 1000}s stale-lease bound if it crashed")
    // a holder whose body outlives leaseTimeoutMs can be legitimately
    // taken over mid-body (set the timeout above the longest expected
    // job); the claimed exit below means it then leaves WITHOUT
    // touching the usurper's lease
    try body
    finally {
      // only touch a lease that still READS as ours (a usurped holder
      // leaves the usurper's lease strictly alone), then claim-verify
      // it off the path; the read→rename gap is the same µs residual
      // bound as the takeover's
      if (readPath(lp).contains(token)) {
        val out = claimPath("exit")
        val won =
          try fs.rename(lp, out)
          catch { case _: java.io.IOException => false }
        if (won) {
          if (readPath(out).contains(token)) fs.delete(out, false)
          // foreign or unreadable content: restore; if the path was
          // re-acquired meanwhile the displaced lease is dead — drop
          // the claim as debris
          else if (!fs.rename(out, lp)) fs.delete(out, false)
        }
      }
    }
  }

  /** The lost-race backstop inside the lease: refuse to touch a
    * generation that is already committed (a stale-listing writer must
    * error, never overwrite the winner). */
  private def requireUncommitted(s: SparkSession, root: String,
      n: Long): Unit = {
    val m = new Path(genPath(root, n), Marker)
    if (fsOf(s, root).exists(m)) throw new IllegalStateException(
      s"gen=$n under $root is already committed — a concurrent writer " +
        s"advanced this store after this write computed its target " +
        s"generation; re-read the store and retry")
  }

  private def fsOf(s: SparkSession, root: String) =
    new Path(root).getFileSystem(s.sparkContext.hadoopConfiguration)

  private def genPath(root: String, n: Long) = new Path(root, s"gen=$n")

  /** Committed generations with their marker tag ("" = total,
    * "delta" = LSM delta), ascending by number. Directories without the
    * marker are torn writes — ignored; so are `gen=` dirs whose suffix
    * is not a plain number (a stray `gen=tmp` from a manual copy must
    * not brick every read of the root). */
  private def committedTagged(s: SparkSession, root: String)
      : Seq[(Long, String)] = {
    val fs = fsOf(s, root)
    val rp = new Path(root)
    if (!fs.exists(rp)) Seq.empty
    else fs.listStatus(rp).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case GenName(n) => n.toLong }
      .sorted
      .flatMap { n =>
        val m = new Path(genPath(root, n), Marker)
        if (!fs.exists(m)) None
        else {
          val in = fs.open(m)
          val tag = try new String(in.readAllBytes(), "UTF-8").trim
          finally in.close()
          Some(n -> tag)
        }
      }
  }

  /** True iff the newest committed generation carries table
    * SUBDIRECTORIES (the [[writeTables]] layout) rather than a flat
    * parquet file set — the single-table APIs must refuse such roots
    * rather than union table trees as if they were row data. */
  private def isMultiTable(s: SparkSession, root: String): Boolean =
    currentGen(s, root).exists { n =>
      fsOf(s, root).listStatus(genPath(root, n)).exists(_.isDirectory)
    }

  private def requireSingleTable(s: SparkSession, root: String,
      op: String): Unit =
    require(!isMultiTable(s, root),
      s"$op on $root: its generations hold table subdirectories " +
        s"(the writeTables layout) — use writeTables/readTables, the " +
        s"single-table advance/read APIs would corrupt reads here")

  /** Committed generation numbers under `root`, ascending. */
  def committed(s: SparkSession, root: String): Seq[Long] =
    committedTagged(s, root).map(_._1)

  /** Committed generations with their marker tags ("" total,
    * "delta") — the inspection face ([[graft.Nightly]] `status`). */
  def generations(s: SparkSession, root: String): Seq[(Long, String)] =
    committedTagged(s, root)

  /** The generation set a live read unions (newest total + its delta
    * chain) — everything else under the root is prune fodder. */
  def activeGenerations(s: SparkSession, root: String): Seq[Long] =
    activeSet(s, root)

  /** The writer lease's timestamp if one is currently held (stale or
    * not — the holder may have crashed; compare against
    * `spark.graft.index.leaseTimeoutMs`). */
  def leaseStamp(s: SparkSession, root: String): Option[Long] = {
    val fs = fsOf(s, root)
    val lp = new Path(root, Lease)
    if (!fs.exists(lp)) None
    else {
      val in = fs.open(lp)
      val body = try new String(in.readAllBytes(), "UTF-8").trim
      finally in.close()
      // "<stamp>:<uuid>" since the token format; bare "<stamp>" before
      Some(body.takeWhile(_ != ':').toLongOption
        .getOrElse(fs.getFileStatus(lp).getModificationTime))
    }
  }

  /** Every record name present across committed generations with its
    * distinct value count — the ledger summary for `status`. */
  def recordSummary(s: SparkSession, root: String): Map[String, Int] =
    recordsOf(s, root, committed(s, root)).view
      .mapValues(_.size).toMap

  /** The live (max committed) generation, if any. */
  def currentGen(s: SparkSession, root: String): Option[Long] =
    committed(s, root).lastOption

  /** The generations a read AS OF generation `upTo` must union: the
    * newest TOTAL generation at or below `upTo` plus every committed
    * delta between it and `upTo` (older totals and shadowed deltas are
    * compaction debris — [[prune]] fodder). */
  private def asOfSet(s: SparkSession, root: String,
      upTo: Long): Seq[Long] = {
    val tagged = committedTagged(s, root).filter(_._1 <= upTo)
    tagged.filter(_._2 != DeltaTag).map(_._1).maxOption match {
      case None => Seq.empty
      case Some(t) =>
        t +: tagged.collect { case (n, DeltaTag) if n > t => n }
    }
  }

  private def activeSet(s: SparkSession, root: String): Seq[Long] =
    asOfSet(s, root, Long.MaxValue)

  /** Read the live index: the newest total generation unioned with its
    * committed delta chain. One parquet relation per generation — keep
    * the chain short with [[compact]]. */
  def readCurrent(s: SparkSession, root: String): DataFrame =
    readSet(s, root, activeSet(s, root), "")

  /** Read the index AS OF generation `gen` — the reproducible-audit
    * face: after an [[advance]], `readAt(N-1)` serves exactly what
    * [[readCurrent]] served before it, byte-for-byte, for as long as
    * the superseded generations survive (i.e. until a [[prune]] that
    * does not pin them — pin via the `pinned` argument there, or
    * session-wide via `spark.graft.index.readGen`, which the d24/m12
    * serve faces and [[prune]] both honor). */
  def readAt(s: SparkSession, root: String, gen: Long): DataFrame =
    readSet(s, root, asOfSet(s, root, gen), s" as of gen $gen")

  /** [[readAt]] under `spark.graft.index.readGen` when set (the
    * serve-mode pin for reproducible audits), else [[readCurrent]]. */
  def readByConf(s: SparkSession, root: String): DataFrame =
    graft.Conf.long(s, "spark.graft.index.readGen") match {
      case Some(g) => readAt(s, root, g)
      case None    => readCurrent(s, root)
    }

  private def readSet(s: SparkSession, root: String, set: Seq[Long],
      what: String): DataFrame = {
    if (set.isEmpty) throw new IllegalStateException(
      s"no committed index generation under $root$what — build the index first")
    set.map(n => s.read.parquet(genPath(root, n).toString))
      .reduce(_ unionByName _)
  }

  /** `records`, when present, land INSIDE the generation directory
    * before the marker stamp, so they commit atomically with the
    * generation — the application-level commit evidence the streaming
    * fold's exactly-once discipline needs ([[records]]). Each record
    * file `_<name>` holds one value per line ([[compact]] carries the
    * whole history of a record name forward as the merged line set;
    * [[HwmSuffix]] ledgers compact to the max number per key at every
    * write).
    * The whole mutation runs under the writer lease, and refuses a
    * target generation that is already committed. */
  private[operators] def write(s: SparkSession, root: String, n: Long,
      df: DataFrame, tag: String = "",
      records: Map[String, Seq[String]] = Map.empty): Long =
    withLease(s, root) {
      requireUncommitted(s, root, n)
      val dir = genPath(root, n)
      df.write.mode("overwrite").parquet(dir.toString)
      records.foreach { case (name, values) =>
        val kept =
          if (name.endsWith(HwmSuffix)) hwmCompact(values) else values
        val out = fsOf(s, root).create(new Path(dir, "_" + name), true)
        try out.write(kept.mkString("\n").getBytes("UTF-8"))
        finally out.close()
      }
      val out = fsOf(s, root).create(new Path(dir, Marker), true)
      try out.write(tag.getBytes("UTF-8")) finally out.close()
      n
    }

  /** (Re)initialize from scratch — the build-mode face, idempotent
    * across reruns. Write-new-then-clean like every other mutation: the
    * rebuilt index lands as a NEW total generation (marker last), and
    * only then are the superseded generations dropped via [[prune]] —
    * a reader resolving mid-reset always finds a committed generation.
    * [[prune]]'s boundary applies to the cleanup half: a reader frame
    * that resolved concrete files of a PRE-reset generation loses them
    * when the prune lands (pin via `spark.graft.index.readGen` /
    * [[prune]]'s `pinned` to audit across a reset). On a virgin root
    * this writes generation 0. */
  def reset(s: SparkSession, root: String, df: DataFrame): Long = {
    val n = write(s, root, nextGen(s, root), df)
    prune(s, root)
    n
  }

  /** Fold `additions` into the next generation: read the live index
    * (total + delta chain), union by name, write generation N+1 as a
    * new TOTAL, stamp its marker last. Earlier generations' files are
    * never touched — a reader mid-advance keeps serving them, and a
    * crash before the marker leaves the previous state live. Returns
    * the new generation number. */
  def advance(s: SparkSession, root: String, additions: DataFrame): Long =
    advanceRecorded(s, root, additions, None)

  private def advanceRecorded(s: SparkSession, root: String,
      additions: DataFrame, record: Option[(String, String)]): Long = {
    if (committed(s, root).isEmpty) throw new IllegalStateException(
      s"advance needs a committed base generation under $root")
    requireSingleTable(s, root, "advance")
    val n = currentGen(s, root).get
    // a rewrite advance REPLACES the chain it read, so it must carry
    // every superseded generation's records forward like compact does —
    // the replay evidence must never ride only on prune-able dirs
    write(s, root, n + 1, readCurrent(s, root).unionByName(additions),
      records = mergeRecords(recordsOf(s, root, activeSet(s, root)),
        record.map { case (k, v) => k -> Seq(v) }.toMap))
  }

  /** LSM advance: write ONLY `additions` as generation N+1, marker
    * tagged delta — nightly I/O proportional to the delta, not the
    * index. Readers union it with the base automatically; run
    * [[compact]] when the chain grows long. Refuses a multi-table root
    * ([[writeTables]] layout): a delta generation there would be
    * resolved by table readers that expect table subdirs it lacks. */
  def advanceDelta(s: SparkSession, root: String,
      additions: DataFrame): Long =
    advanceDeltaRecorded(s, root, additions, None)

  private def advanceDeltaRecorded(s: SparkSession, root: String,
      additions: DataFrame, record: Option[(String, String)]): Long = {
    if (activeSet(s, root).isEmpty) throw new IllegalStateException(
      s"advanceDelta needs a committed base generation under $root")
    requireSingleTable(s, root, "advanceDelta")
    write(s, root, currentGen(s, root).get + 1, additions, DeltaTag,
      record.map { case (k, v) => k -> Seq(v) }.toMap)
  }

  /** [[advance]] or [[advanceDelta]] per
    * `spark.graft.index.advanceMode` (`rewrite` (default) | `delta`) —
    * the one switch the nightly operators (every axis's
    * `graft.queries.DeltaAxis.advance`) consult, so a deployment flips
    * the whole family to LSM mode with one conf. In delta mode, `spark.graft.index.maxDeltaChain=N`
    * bounds the chain: when an advance leaves more than N deltas above
    * the newest total, a [[compact]] runs in the same night. Compaction
    * is still additive-only (superseded generations stay until an
    * explicit [[prune]] — the documented reader boundary), so the
    * auto-compact never invalidates a frame a reader resolved earlier.
    * For deployments with no natural prune point — an always-on
    * stream fold, where every committed generation dir adds to the
    * per-batch `records()`/listing cost forever —
    * `spark.graft.index.autoPrune=true` runs [[prune]] right after
    * each auto-compact: total directory count stays bounded by the
    * chain cap, and nothing is lost because compaction carries both
    * the rows AND the commit records of the chain it folds (pins via
    * `spark.graft.index.readGen` are honored as always — but note the
    * reader boundary now arrives at auto-compact cadence, so leave
    * autoPrune off where unpinned as-of audits matter).
    * Returns the live generation after any compaction. */
  def advanceByConf(s: SparkSession, root: String,
      additions: DataFrame): Long =
    advanceByConfRecorded(s, root, additions, None)

  /** [[advanceByConf]] with an application-level commit record stamped
    * inside the generation that CARRIES the additions, before its
    * marker — so the record commits atomically with the fold (crash
    * before the marker: neither is visible; after: both are). The
    * streaming fold keys its exactly-once skip on these
    * ([[records]]). An auto-compact generation carries no record (it
    * adds no rows); the recorded delta stays committed-and-readable
    * until an explicit [[prune]]. */
  def advanceByConfRecorded(s: SparkSession, root: String,
      additions: DataFrame, record: Option[(String, String)]): Long =
    if (s.conf.getOption("spark.graft.index.advanceMode").contains("delta")) {
      val g = advanceDeltaRecorded(s, root, additions, record)
      graft.Conf.int(s, "spark.graft.index.maxDeltaChain") match {
        case Some(max) if activeSet(s, root).size - 1 > max =>
          val c = compact(s, root)
          if (graft.Conf.flag(s, "spark.graft.index.autoPrune", false))
            prune(s, root)
          c
        case _ => g
      }
    } else advanceRecorded(s, root, additions, record)

  /** Every committed generation's values for record file `_<name>`
    * (one per line), ascending by generation — the replay-detection
    * read for [[advanceByConfRecorded]]'s exactly-once discipline.
    * Only COMMITTED generations count (a record in an unmarked dir is
    * a torn write's debris, invisible like the data). Values can
    * repeat across generations ([[compact]] and rewrite advances carry
    * record history forward so a later [[prune]] cannot erase replay
    * evidence); consumers treat the result as a set. */
  def records(s: SparkSession, root: String, name: String): Seq[String] = {
    val fs = fsOf(s, root)
    committed(s, root).flatMap { n =>
      val p = new Path(genPath(root, n), "_" + name)
      if (!fs.exists(p)) Seq.empty
      else {
        val in = fs.open(p)
        val body = try new String(in.readAllBytes(), "UTF-8")
        finally in.close()
        body.split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSeq
      }
    }
  }

  /** All record files of `gens`, merged: name → the distinct values
    * seen across the set, in first-seen order. `_COMMITTED` and
    * parquet's `_SUCCESS` are layout files, not records. */
  private def recordsOf(s: SparkSession, root: String,
      gens: Seq[Long]): Map[String, Seq[String]] = {
    val fs = fsOf(s, root)
    val pairs = gens.flatMap { n =>
      fs.listStatus(genPath(root, n)).toSeq
        .filter(_.isFile)
        .map(_.getPath)
        .filter { p =>
          val nm = p.getName
          nm.startsWith("_") && nm != Marker && nm != "_SUCCESS"
        }
        .flatMap { p =>
          val in = fs.open(p)
          val body = try new String(in.readAllBytes(), "UTF-8")
          finally in.close()
          body.split("\n").iterator.map(_.trim).filter(_.nonEmpty)
            .map(v => p.getName.stripPrefix("_") -> v)
        }
    }
    pairs.groupBy(_._1).view
      .mapValues(_.map(_._2).distinct).toMap
  }

  private def mergeRecords(a: Map[String, Seq[String]],
      b: Map[String, Seq[String]]): Map[String, Seq[String]] =
    (a.keySet ++ b.keySet).map { k =>
      k -> (a.getOrElse(k, Seq.empty) ++ b.getOrElse(k, Seq.empty)).distinct
    }.toMap

  /** Fold the live total + delta chain into one new TOTAL generation
    * (the LSM level-0 merge). The superseded generations stay on disk
    * until [[prune]] — compaction is additive-only too. The chain's
    * commit records ride along into the compacted total (merged line
    * sets per record name), so the exactly-once replay evidence of
    * [[advanceByConfRecorded]] survives compact + prune — without
    * this, a checkpoint replay of the last pre-compact batch after a
    * prune would find no record and re-fold. */
  def compact(s: SparkSession, root: String): Long = {
    val active = activeSet(s, root)
    if (active.isEmpty) throw new IllegalStateException(
      s"compact needs a committed base generation under $root")
    requireSingleTable(s, root, "compact")
    write(s, root, currentGen(s, root).get + 1, readCurrent(s, root),
      records = recordsOf(s, root, active))
  }

  /** Rewrite the live total through `f` as a new TOTAL generation —
    * the RETRACTION face (un-ingest): an additive index can only ever
    * grow through [[advance]], so removing rows admitted by mistake (a
    * poisoned crawl night, a takedown that must become re-admittable)
    * needs a transform of the whole live state. Same commit shape as
    * [[compact]]: one new total, the chain's commit records carried
    * forward (stream replay evidence MUST survive a retraction — a
    * checkpoint replay after one still skips), readers serve the old
    * chain until the marker lands, pinned [[readAt]] generations keep
    * serving history until [[prune]].
    *
    * Policy note for the dedup stores: [[graft.operators.Corpus
    * .deleteDocs]] deliberately KEEPS index signatures so deleted
    * content stays banned; retract is the OTHER policy — content
    * becomes re-admittable. A full un-ingest composes both. */
  def rewrite(s: SparkSession, root: String,
      f: DataFrame => DataFrame): Long = {
    val active = activeSet(s, root)
    if (active.isEmpty) throw new IllegalStateException(
      s"rewrite needs a committed base generation under $root")
    requireSingleTable(s, root, "rewrite")
    write(s, root, currentGen(s, root).get + 1, f(readCurrent(s, root)),
      records = recordsOf(s, root, active))
  }

  /** The generation number the next committed write will claim —
    * exposed so a writer can stamp the number INTO its rows (the
    * tokenizer artifact's provenance column) before handing them to
    * [[writeTotal]]/[[writeTables]]; sound because the store is
    * single-writer by contract. */
  def nextGen(s: SparkSession, root: String): Long =
    currentGen(s, root).map(_ + 1).getOrElse(0L)

  /** Write `df` as a NEW total generation WITHOUT touching existing
    * ones — the retrain face: readers keep serving the previous
    * generation until the marker lands ([[reset]] wipes, so it is only
    * for building a store from scratch; [[advance]] unions, so it is
    * only for additive indexes). */
  def writeTotal(s: SparkSession, root: String, df: DataFrame): Long =
    write(s, root, nextGen(s, root), df)

  /** Multi-table TOTAL generation — for stores whose state is several
    * tables that must commit TOGETHER (the ANN index's centroids /
    * codebook / lists / codes, [[AnnIndexStore]]): every table lands
    * under one `gen=N/<table>/` tree and ONE marker commits them all,
    * so a reader can never observe table A from one write and table B
    * from another (the torn-multi-table-write hole a four-dir
    * overwrite store has). Total-only by design: each write is a full
    * index state (replace semantics), so there is no delta/union
    * variant — quantizer-frozen APPENDS happen at the DataFrame layer
    * (SimilarityOps.appendToAnnIndex) and re-land here as a new total.
    * A torn write leaves an unmarked dir the next write overwrites. */
  def writeTables(s: SparkSession, root: String,
      tables: Map[String, DataFrame]): Long = {
    require(tables.nonEmpty, "writeTables needs at least one table")
    withLease(s, root) {
      val n = nextGen(s, root)
      requireUncommitted(s, root, n)
      val dir = genPath(root, n)
      tables.foreach { case (t, df) =>
        df.write.mode("overwrite").parquet(new Path(dir, t).toString)
      }
      val out = fsOf(s, root).create(new Path(dir, Marker), true)
      try out.write("".getBytes("UTF-8")) finally out.close()
      n
    }
  }

  /** Read `names` from the live multi-table generation. Resolves the
    * newest TOTAL-tagged committed generation, like [[activeSet]] —
    * never a delta-tagged one (a delta accidentally written into a
    * multi-table root lacks the table subdirs entirely; the single-
    * table APIs refuse such roots, and this read stays correct even if
    * one slipped in before the refusal existed). */
  def readTables(s: SparkSession, root: String,
      names: Seq[String]): Map[String, DataFrame] = {
    val n = committedTagged(s, root).filter(_._2 != DeltaTag).map(_._1)
      .maxOption.getOrElse(throw new IllegalStateException(
        s"no committed index generation under $root — build the index first"))
    names.map(t =>
      t -> s.read.parquet(new Path(genPath(root, n), t).toString)).toMap
  }

  /** Delete every generation directory no surviving read depends on —
    * superseded totals, shadowed deltas, and torn leftovers alike. A
    * read survives pruning when it is the LIVE set, the as-of set of a
    * generation in `pinned`, or the as-of set of
    * `spark.graft.index.readGen` when that conf is set (so a session
    * serving a pinned audit generation never prunes it away
    * underneath itself). Runs under the writer lease like every other
    * mutation — a prune racing an advance on one root fails cleanly
    * instead of deleting the advance's in-flight dir as "torn". */
  def prune(s: SparkSession, root: String,
      pinned: Seq[Long] = Seq.empty): Unit = withLease(s, root) {
    val pins = pinned ++
      graft.Conf.long(s, "spark.graft.index.readGen")
    val keep = (activeSet(s, root) ++ pins.flatMap(asOfSet(s, root, _)))
      .map(n => s"gen=$n").toSet
    val fs = fsOf(s, root)
    val rp = new Path(root)
    if (fs.exists(rp))
      fs.listStatus(rp)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("gen="))
        .filter(st => !keep.contains(st.getPath.getName))
        .foreach(st => fs.delete(st.getPath, true))
  }
}
