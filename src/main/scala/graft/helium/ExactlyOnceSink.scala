package graft.helium

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import Model._

/** K1/K2/K4 — the exactly-once block-range commit unit.
  *
  * The reference wraps each block's inserts + cursor advance in one Postgres
  * transaction (src/follower.rs:100-106, src/block_processor.rs:44-47).
  * Spark's equivalent (SURVEY §2.2 K4): make the data write *idempotent per
  * batch* and advance the cursor only after the write succeeds:
  *
  *   - every batch writes with `batch_id=<max block height in the batch>`
  *     as a partition value using dynamic partition overwrite. The key is
  *     derived from the batch's CONTENT, not the streaming engine's epoch
  *     counter, so replays stay idempotent even if the checkpoint directory
  *     is lost and epoch ids restart at 0: the same height range always
  *     lands on the same partition. If a post-reset replay covers a wider
  *     range (more blocks arrived), the stale uncommitted partition —
  *     recognizable as any id above the durable cursor — is dropped first;
  *   - a `_COMMITTED` marker per partition is the batch-level commit
  *     record: stamped only after every table the batch writes is on
  *     disk, so a marker's existence alone proves its whole batch's data
  *     is complete ([[committedFloor]]);
  *   - the cursor ([[StateStore]]) moves forward only on success.
  *
  * At 100 TB this layout also gives partition pruning on batch ranges, and
  * each batch's files are written in parallel by all executors — there is
  * no coordinator bottleneck like the reference's single Postgres
  * connection (SURVEY §3.1 control-crossing summary).
  */
class ExactlyOnceSink(spark: SparkSession, root: String) extends Serializable {
  val state = new StateStore(spark, root)

  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tableDir(table: String) = new Path(s"$root/$table")
  private def tmpDir(table: String) = new Path(s"$root/_compact_$table")
  private def manifestPath(table: String) =
    new Path(s"$root/_compact_$table.manifest")

  private def partitionIds(table: String): Seq[Long] = {
    val dir = tableDir(table)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName).toSeq
      .filter(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=").toLong)
  }

  private def markerPath(table: String, id: Long): Path =
    new Path(tableDir(table), s"batch_id=$id/_COMMITTED")

  /** Single source of truth for every table the sink can own: name →
    * data schema. The stale sweep, the committed floor, compaction, and
    * explicit-schema reads all derive from this map, so adding a table
    * here enrolls it in ALL of those paths at once — a table listed in
    * one place but not another would silently reopen the
    * partial-adoption hole the marker scheme closes. */
  private val TableRegistry: scala.collection.immutable.ListMap[String,
      org.apache.spark.sql.types.StructType] =
    scala.collection.immutable.ListMap(
      "rewards" -> org.apache.spark.sql.Encoders.product[Reward].schema,
      "transactions" ->
        org.apache.spark.sql.Encoders.product[TxnEnvelope].schema)

  /** All tables the sink can own (registry key order). */
  private val AllTables: Seq[String] = TableRegistry.keys.toSeq

  /** Positive partition ids carrying a `_COMMITTED` marker, via ONE
    * globStatus listing (an fs.exists per partition would be O(N)
    * metadata round-trips on the recovery path at ~8.6k partitions/day). */
  private def markedIds(table: String): Seq[Long] = {
    val dir = tableDir(table)
    if (!fs.exists(dir)) Seq.empty
    else fs.globStatus(new Path(dir, "batch_id=*/_COMMITTED")).toSeq
      .map(_.getPath.getParent.getName.stripPrefix("batch_id=").toLong)
      .filter(_ >= 0)
  }

  /** Store-level sentinel proving this store has had batch markers from
    * its very first write. Stamped by [[commit]] on a FRESH store (no
    * data partitions in any table) strictly BEFORE the first data write,
    * so on recovery with zero markers + lost cursor its presence means
    * every unmarked positive partition is an uncommitted partial — sweep
    * it and replay — while its absence means pre-marker legacy history
    * (keep the round-3 max-positive rule). Closes the last
    * cursor-loss window: crash mid-batch-1 with zero markers. */
  private def markerEraPath: Path = new Path(root, "_MARKER_ERA")

  /** Once the era decision is made for this store it can never change
    * (a sentinel never disappears; a store with data partitions never
    * becomes fresh), so memoize it — otherwise every 10 s commit on a
    * pre-marker legacy store would re-list every partition of every
    * table (~8.6k/day and growing) just to re-conclude "not fresh". */
  @volatile private var markerEraSettled = false

  private def stampMarkerEra(): Unit =
    if (!markerEraSettled) {
      if (!fs.exists(markerEraPath)) {
        if (AllTables.flatMap(partitionIds).isEmpty) {
          val out = fs.create(markerEraPath, true)
          out.write("markers precede all data in this store".getBytes("UTF-8"))
          out.close()
        }
      }
      markerEraSettled = true
    }

  /** The highest batch id whose data provably reached disk IN FULL.
    *
    * The load-bearing invariant: [[commit]] stamps markers strictly AFTER
    * every table's data write for the batch has returned — so the mere
    * EXISTENCE of a marker at id k, in any table, proves the whole batch
    * k (all its tables) is on disk, and max-over-all-marked-ids is a
    * sound floor. No marker-content validation enters the decision: a
    * floor that content parsing could LOWER would be the destructive
    * direction here, because everything above the floor gets swept — a
    * torn/empty/unreadable marker must never cause committed history to
    * be deleted. (Marker content records the batch's participant tables
    * for forensics only.) A mode switch is naturally safe: a frozen
    * table's old markers just lose the max to the active table's newer
    * ones, and the sweep above the floor cannot touch the frozen
    * table's history, which all sits at or below the old cursor. */
  private def committedFloor(): Option[Long] = {
    val marked = AllTables.flatMap(markedIds)
    if (marked.isEmpty) None else Some(marked.max)
  }

  /** Batches are laid out z-ordered before the write — the multi-column
    * generalization of the reference's b-tree indexes (SURVEY §1.1):
    * rewards by (block, hash(gateway)) (h04-style block-window scans
    * prune; same-gateway rows cluster for per-gateway audits),
    * transactions by (block, hash(type)) (the h03/h06 envelope queries
    * slice exactly by block window and type). Off-switch
    * `spark.graft.sink.zorder=false` for latency-critical micro-batches
    * (the layout costs one fold over the batch's rows per table, plus a
    * range sample and exchange once a table's batch exceeds
    * [[graft.operators.Zorder.RowsPerRangePartition]] rows). Pruning
    * asserted on real sink output in ZorderSinkSpec. */
  private def zorderOn: Boolean =
    graft.Conf.flag(spark, "spark.graft.sink.zorder", true)

  private val ZorderKeys = Map(
    "rewards" -> (("block", "gateway")),
    "transactions" -> (("block", "type")))

  private[helium] def writeBatch(df: DataFrame, table: String,
      key: Long): Unit = {
    val zkeys = if (zorderOn) ZorderKeys.get(table) else None
    // The layout's fold, its range sample (large batches only) and the
    // parquet write each consume the batch plan; this persist makes them
    // share one evaluation of THIS table's plan, and the fold is the job
    // that fills it. It is per table, so it never covered work two
    // tables share: the follower's payload fetch feeds both rewards and
    // transactions, and Follower.start persists those payloads once per
    // batch for that reason.
    zkeys.foreach(_ => df.persist())
    try {
      val laid = zkeys match {
        case Some((a, b)) =>
          graft.operators.Zorder.layoutByRangeAndHash(df, a, b)
        case None => Some(df)
      }
      // an empty table batch (a tip batch carries no rewards) runs no
      // write job: sweepStale already cleared its key, a dynamic
      // overwrite of nothing would touch nothing, and markCommitted
      // still makes its marker-only dir
      laid.foreach(_.withColumn("batch_id", lit(key))
        .write
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(s"$root/$table"))
    } finally zkeys.foreach(_ => df.unpersist())
  }

  /** Delete positive partitions that are not committed state: anything
    * above the floor in EVERY table — including tables the current mode
    * no longer writes, so a partial left by a pre-mode-switch crash
    * cannot dangle above the cursor forever — plus the replayed batch's
    * own key in the tables THIS batch writes (dynamic overwrite touches
    * nothing when the replay is empty, so without the up-front delete a
    * stale dir at the key could survive and later be marker-stamped).
    * The key-delete must NOT extend to non-participant tables: a
    * committed other-mode partition at the same key would be destroyed
    * and never rebuilt by this batch's writes. */
  private def sweepStale(floor: Long, key: Long,
      participants: Seq[String]): Unit =
    AllTables.foreach { table =>
      val keyToo = participants.contains(table)
      partitionIds(table)
        .filter(id => id >= 0 && (id > floor || (keyToo && id == key)))
        .foreach(id =>
          fs.delete(new Path(tableDir(table), s"batch_id=$id"), true))
    }

  /** Stamp the batch-level commit record on `key`'s partition. MUST only
    * be called after every table's data write for the batch has returned
    * — [[committedFloor]]'s soundness rests on that ordering. Content is
    * the participant list (forensics only, never load-bearing). An empty
    * batch gets a marker-only directory: underscore files are invisible
    * to Spark's readers (zero rows), but the marker still advances the
    * floor evidence. The up-front [[sweepStale]] guarantees a
    * data-bearing dir here is this write's product, never stale
    * content. */
  private def markCommitted(table: String, key: Long,
      participants: Seq[String]): Unit = {
    val pdir = new Path(tableDir(table), s"batch_id=$key")
    if (!fs.exists(pdir)) fs.mkdirs(pdir)
    val out = fs.create(markerPath(table, key), true)
    out.write(participants.mkString(",").getBytes("UTF-8"))
    out.close()
  }

  /** Commit one batch: rewards (+ transactions in Full mode) then cursor.
    * `maxHeight` is the highest block height contained in the batch — both
    * the partition key and the cursor value after commit, exactly like
    * `follower_info.height` after the reference's per-block txn.
    *
    * In Full mode the two tables' writes overlap
    * ([[graft.operators.Overlap.both]]): they write disjoint directories
    * and only read the batch's cached blocks and payloads. The markers
    * still follow BOTH writes — `both` returns only once each leg has —
    * so a failure in either leg leaves no marker and no cursor advance,
    * and the batch replays in full. */
  def commit(out: Pipeline.Output, maxHeight: Long,
      firstBlock: Long): Unit = {
    // Cursor-loss guard: if the StateStore files are lost while data
    // partitions survive (metadata-only failure), a MinValue cursor
    // would make the stale-partition sweep delete ALL committed history.
    // Derive the floor from batch commit records instead
    // ([[committedFloor]]): a marker's existence proves its whole batch's
    // data reached disk, so max-over-marked is sound — a crash anywhere
    // mid-batch leaves the batch unmarked, above the floor, and it
    // replays in full across tables.
    stampMarkerEra() // fresh store: sentinel lands before any data write
    val prev = state.load().map(_.height).getOrElse {
      committedFloor().getOrElse {
        if (fs.exists(markerEraPath))
          // Marker-era store from birth: zero markers means NOTHING is
          // committed — any surviving positive partition is the torn
          // remains of batch 1 and must be swept, then replayed in full.
          Long.MinValue
        else {
          // Legacy fallback: a table written before markers existed has
          // data but no markers — a MinValue floor would sweep ALL its
          // committed history. Fall back to the round-3 rule (max
          // existing positive id = committed). Residual limitation for
          // legacy stores ONLY: a crash during their first marker-era
          // batch + cursor loss adopts the partial — unavoidable without
          // any commit record to consult; fresh stores are covered by
          // the [[markerEraPath]] sentinel.
          val existing = AllTables.flatMap(partitionIds).filter(_ >= 0)
          if (existing.isEmpty) Long.MinValue else existing.max
        }
      }
    }
    val participants =
      Seq("rewards") ++ out.transactions.map(_ => "transactions")
    sweepStale(prev, maxHeight, participants)
    out.transactions match {
      case Some(txns) => graft.operators.Overlap.both(spark,
        writeBatch(out.rewards, "rewards", maxHeight),
        writeBatch(txns, "transactions", maxHeight))
      case None => writeBatch(out.rewards, "rewards", maxHeight)
    }
    // Batch-level commit record: stamped only once ALL tables' data for
    // this batch is on disk, then the cursor. A crash before the first
    // stamp replays the whole batch; a crash between stamps is benign —
    // every table's data is already complete, the marked table carries
    // the floor, and the unmarked one's partition (same id, complete
    // data) sits AT the floor where the sweep never touches it.
    participants.foreach(markCommitted(_, maxHeight, participants))
    state.advance(IngestState(maxHeight, firstBlock))
  }

  /** Canonical stored schema (data columns + the batch_id partition
    * column). Passing it explicitly to every read keeps a table whose
    * only partitions are marker-only dirs (legitimate: every batch so far
    * was empty for this table) readable — schema inference has no data
    * files to look at there and would throw. */
  private def storedSchema(table: String): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val base = TableRegistry(table)
    StructType(base.fields.map(_.copy(nullable = true)) :+
      StructField("batch_id", LongType, nullable = true))
  }

  def rewardsTable(): DataFrame = {
    recover("rewards")
    spark.read.schema(storedSchema("rewards")).parquet(s"$root/rewards")
  }
  def transactionsTable(): DataFrame = {
    recover("transactions")
    spark.read.schema(storedSchema("transactions")).parquet(s"$root/transactions")
  }

  /** Compact closed batches: every positive `batch_id` partition except the
    * newest, plus all previous consolidated generations, is rewritten into
    * one NEW consolidated partition (`batch_id = -generation`, decreasing)
    * with `targetPartitions` files.
    *
    * Why safe: the cursor is monotonic and replay can only re-run the
    * batch *after* the stored cursor, i.e. at most the newest committed
    * batch — which compaction never touches. Everything strictly below
    * the newest MARKED id is consolidated (committed by the marker
    * invariant — unmarked ids down there are pre-marker legacy history
    * or complete leftovers of a crash between marker stamps); the newest
    * marked partition is kept as both replay target and floor evidence,
    * and ids above it (possible crash junk pending [[sweepStale]]) are
    * never touched, so junk cannot be laundered into a committed
    * generation. Tables from before the marker scheme (zero markers
    * anywhere) keep the round-3 rule (all positives minus the newest).
    * Why needed: a 10 s trigger
    * writes ~8.6k batch partitions/day; at cluster scale the accumulated
    * small files dominate scan planning cost. Compaction is the standard
    * maintenance pass (cf. Delta OPTIMIZE), expressed on plain parquet.
    *
    * Crash safety: the consolidated data is staged outside the table, then
    * a manifest (newGen + source ids) is persisted as the commit point,
    * then the swap runs: one atomic directory rename publishes the new
    * generation, and only after that do the superseded source partitions
    * get deleted (idempotent final step). [[recover]] rolls an interrupted
    * swap forward from the manifest — there is no window where committed
    * history exists solely in the staging directory. */
  def compact(table: String, targetPartitions: Int = 8): Unit = {
    recover(table) // finish any interrupted swap before planning a new one
    val dir = tableDir(table)
    if (!fs.exists(dir)) return
    val ids = partitionIds(table)
    val marked = markedIds(table)
    val closed =
      if (marked.nonEmpty)
        // everything strictly below the newest marked id is committed
        // state (markers follow data; unmarked ids below it are either
        // pre-marker legacy history or complete leftovers of a crash
        // between marker stamps) — consolidate it all, and keep the
        // newest marked partition as replay target + floor evidence
        ids.filter(id => id >= 0 && id < marked.max).sorted
      else ids.filter(_ >= 0).sorted.dropRight(1) // legacy, pre-marker table
    if (closed.isEmpty) return
    val gens = ids.filter(_ < 0)
    val newGen = (gens :+ 0L).min - 1
    val sources = closed ++ gens

    val tmp = tmpDir(table)
    fs.delete(tmp, true) // a tmp without manifest is a dead write
    val keep = sources.map(x => x: Any)
    spark.read.schema(storedSchema(table)).parquet(s"$root/$table")
      .filter(col("batch_id").isin(keep: _*))
      .drop("batch_id")
      .repartition(targetPartitions)
      .write.mode("overwrite").parquet(tmp.toString)

    // Commit point. Written via create-then-rename so the manifest is
    // either absent or complete, never truncated.
    val mf = manifestPath(table)
    val mfTmp = new Path(mf.toString + ".tmp")
    val out = fs.create(mfTmp, true)
    out.write(s"$newGen\n${sources.mkString(",")}\n".getBytes("UTF-8"))
    out.close()
    // Hadoop rename reports most failures by RETURNING FALSE, not throwing.
    // An unchecked false here would fall through to finishSwap and delete
    // source partitions without a commit point on disk.
    if (!fs.rename(mfTmp, mf))
      throw new java.io.IOException(
        s"compact($table): manifest rename $mfTmp -> $mf failed; aborting " +
          "before swap (sources and staging untouched)")

    finishSwap(table, newGen, sources)
  }

  /** Finish-or-rollback check for an interrupted [[compact]]. Idempotent;
    * called on every table read and at the start of every compaction. */
  def recover(table: String): Unit = {
    val mf = manifestPath(table)
    if (!fs.exists(mf)) {
      // staging data without a commit point: roll back
      fs.delete(tmpDir(table), true)
      return
    }
    val in = fs.open(mf)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val lines = txt.split("\n")
    val newGen = lines(0).trim.toLong
    val sources =
      if (lines.length > 1 && lines(1).trim.nonEmpty)
        lines(1).trim.split(",").map(_.toLong).toSeq
      else Seq.empty[Long]
    finishSwap(table, newGen, sources)
  }

  /** The swap, entered only once the manifest exists: publish the new
    * generation by a single atomic rename, then delete the superseded
    * sources, then drop the manifest. Every step is idempotent, so a crash
    * anywhere re-runs to completion via [[recover]]. */
  private def finishSwap(table: String, newGen: Long,
      sources: Seq[Long]): Unit = {
    val dir = tableDir(table)
    val dest = new Path(dir, s"batch_id=$newGen")
    val tmp = tmpDir(table)
    if (!fs.exists(dest)) {
      if (!fs.exists(tmp)) {
        // staging lost before publish — roll back, sources are untouched
        fs.delete(manifestPath(table), false)
        return
      }
      fs.delete(new Path(tmp, "_SUCCESS"), false)
      // The publish: one atomic directory rename. rename=false (not an
      // exception) is how Hadoop FS reports most failures — proceeding
      // would delete the sources AND the staged replacement, losing all
      // compacted history. Abort with everything intact; recover() retries.
      if (!fs.rename(tmp, dest))
        throw new java.io.IOException(
          s"compact($table): publish rename $tmp -> $dest failed; aborting " +
            "with sources, staging, and manifest intact")
    }
    sources.foreach(b => fs.delete(new Path(dir, s"batch_id=$b"), true))
    fs.delete(tmp, true)
    fs.delete(manifestPath(table), false)
  }
}
