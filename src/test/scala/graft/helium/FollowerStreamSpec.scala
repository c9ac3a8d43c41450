package graft.helium

import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import Model._

/** A fixture node that records which Spark task made each payload call. */
class TaskRecordingNode(dir: String) extends FixtureNode(dir) {
  override def getTxnJson(hash: String): Option[String] = {
    Option(TaskContext.get()).foreach(t =>
      TaskRecordingNode.tasks.add(t.taskAttemptId()))
    super.getTxnJson(hash)
  }
}

object TaskRecordingNode {
  val tasks: java.util.Set[java.lang.Long] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.lang.Long]()
}

/** Streaming semantics (SURVEY §5.5): resume-from-cursor after restart,
  * strict height coverage, exactly-once via idempotent batch partitions. */
class FollowerStreamSpec extends SparkSuite {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def copyFixture(dst: String): Unit = {
    val src = fixture("basic")
    Seq("blocks.jsonl", "txns.jsonl").foreach { f =>
      Files.copy(Paths.get(src, f), Paths.get(dst, f))
    }
  }

  test("follower drains fixture stream, commits rewards + cursor; resumes only new blocks") {
    val fixDir = tmpDir("fixt")
    val root = tmpDir("root")
    copyFixture(fixDir)

    // tip-follow from height 99 so blocks 100..105 are pending
    val store = new StateStore(spark, root)
    store.advance(IngestState(99, 100))

    val q1 = Follower.start(spark, fixDir, root, EtlMode.Rewards)
    q1.processAllAvailable()
    q1.stop()

    val rewards1 = spark.read.parquet(s"$root/rewards")
    assert(rewards1.count() == 5)
    assert(store.load().get.height == 105)

    // append block 106 (new tip) + its txn, then restart the follower:
    // only the new block may be processed (resume-from-cursor,
    // src/follower.rs:123-142)
    val src = fixture("basic")
    Files.write(Paths.get(fixDir, "blocks.jsonl"),
      Files.readAllBytes(Paths.get(src, "extra_block.jsonl")),
      StandardOpenOption.APPEND)
    Files.write(Paths.get(fixDir, "txns.jsonl"),
      Files.readAllBytes(Paths.get(src, "extra_txn.jsonl")),
      StandardOpenOption.APPEND)

    val q2 = Follower.start(spark, fixDir, root, EtlMode.Rewards)
    q2.processAllAvailable()
    q2.stop()

    val rewards2 = spark.read.parquet(s"$root/rewards")
    assert(rewards2.count() == 6)
    assert(rewards2.filter(col("block") === 106).count() == 1)
    // earlier batch partitions untouched (no reprocessing of 100..105)
    assert(rewards2.filter(col("block") <= 105).count() == 5)
    assert(store.load().get.height == 106)
  }

  test("idempotent batch overwrite: recommitting a batch does not duplicate") {
    val fixDir = tmpDir("fixt2")
    val root = tmpDir("root2")
    copyFixture(fixDir)
    val node = new FixtureNode(fixDir)
    val sink = new ExactlyOnceSink(spark, root)

    val heights = (100L to 105L).flatMap(node.getBlockJson)
    import spark.implicits._
    val blocks = Follower.parseBlocks(heights.toDF("json"))
    val payloads = Follower.fetchPayloads(spark, node, blocks, EtlMode.Rewards)
    val out = Pipeline.run(EtlMode.Rewards, blocks, payloads)

    sink.commit(out, maxHeight = 105, firstBlock = 100)
    val once = sink.rewardsTable().count()
    // crash-before-cursor replay: same height range, same data
    sink.commit(out, maxHeight = 105, firstBlock = 100)
    assert(sink.rewardsTable().count() == once)
  }

  test("Trigger.AvailableNow drains all pending blocks then terminates (backfill run)") {
    val fixDir = tmpDir("fixtan")
    val root = tmpDir("rootan")
    copyFixture(fixDir)
    val store = new StateStore(spark, root)
    store.advance(IngestState(99, 100))

    val q = Follower.start(spark, fixDir, root, EtlMode.Rewards,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    // AvailableNow processes everything pending and stops on its own —
    // the bounded backfill-run pattern (vs the 10s daemon trigger)
    assert(q.awaitTermination(120000), "AvailableNow query did not terminate")
    assert(spark.read.parquet(s"$root/rewards").count() == 5)
    assert(store.load().get.height == 105)
  }

  test("cursor-loss guard: losing the StateStore never sweeps committed partitions") {
    val fixDir = tmpDir("fixtcl")
    val root = tmpDir("rootcl")
    copyFixture(fixDir)
    val node = new FixtureNode(fixDir)
    val sink = new ExactlyOnceSink(spark, root)
    import spark.implicits._

    def commitRange(range: Seq[Long]): Unit = {
      val blocks = Follower.parseBlocks(
        range.flatMap(node.getBlockJson).toDF("json"))
      val payloads = Follower.fetchPayloads(spark, node, blocks, Model.EtlMode.Rewards)
      sink.commit(Pipeline.run(Model.EtlMode.Rewards, blocks, payloads),
        range.last, 100)
    }
    commitRange(100L to 101L)
    commitRange(102L to 103L)
    val committed = sink.rewardsTable().count()
    assert(committed == 5) // blocks 104-105 carry no rewards in this fixture

    // metadata-only failure: the cursor files vanish, data partitions survive
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root, "ingest_state"), true)

    // next commit must NOT treat the surviving partitions as stale leftovers
    // (an unguarded MinValue cursor would fs.delete batch 101 and 103 before
    // writing the new batch)
    commitRange(104L to 105L)
    assert(sink.rewardsTable().count() == committed)
    import spark.implicits.newLongEncoder
    assert(sink.rewardsTable().select("batch_id").distinct()
      .as[Long].collect().toSet == Set(101L, 103L))
  }

  test("cursor loss + partial partition from a crashed write: partial is swept, not adopted") {
    val fixDir = tmpDir("fixtclp")
    val root = tmpDir("rootclp")
    copyFixture(fixDir)
    val node = new FixtureNode(fixDir)
    val sink = new ExactlyOnceSink(spark, root)
    import spark.implicits._

    def commitRange(range: Seq[Long]): Unit = {
      val blocks = Follower.parseBlocks(
        range.flatMap(node.getBlockJson).toDF("json"))
      val payloads = Follower.fetchPayloads(spark, node, blocks, Model.EtlMode.Rewards)
      sink.commit(Pipeline.run(Model.EtlMode.Rewards, blocks, payloads),
        range.last, 100)
    }
    commitRange(100L to 101L)
    commitRange(102L to 103L)
    val committed = sink.rewardsTable().count()
    assert(committed == 5)

    // crash mid-write of the batch ending at 104: a PARTIAL partition
    // exists at a higher id than any committed one, with no _COMMITTED
    // marker (the marker is only written after the parquet write returns)
    spark.read.parquet(s"$root/rewards/batch_id=103")
      .write.parquet(s"$root/rewards/batch_id=104")
    // ... and the cursor files are lost in the same incident
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root, "ingest_state"), true)

    // the replay after reset covers a WIDER range, landing on key 105, not
    // 104 — before the marker floor, the partial partition was adopted as
    // committed (floor=104) and survived as duplicate rows forever
    commitRange(104L to 105L)
    assert(sink.rewardsTable().count() == committed,
      "partial partition rows leaked into the committed table")
    import spark.implicits.newLongEncoder
    assert(sink.rewardsTable().select("batch_id").distinct()
      .as[Long].collect().toSet == Set(101L, 103L))
    assert(sink.state.load().get.height == 105)
  }

  test("fresh store: crash mid-batch-1 + cursor loss leaves no adopted partial " +
    "(marker-era sentinel)") {
    val fixDir = tmpDir("fixtb1")
    val root = tmpDir("rootb1")
    copyFixture(fixDir)
    val node = new FixtureNode(fixDir)
    import spark.implicits._

    def commitRange(sink: ExactlyOnceSink, range: Seq[Long]): Unit = {
      val blocks = Follower.parseBlocks(
        range.flatMap(node.getBlockJson).toDF("json"))
      val payloads = Follower.fetchPayloads(spark, node, blocks, Model.EtlMode.Rewards)
      sink.commit(Pipeline.run(Model.EtlMode.Rewards, blocks, payloads),
        range.last, 100)
    }
    // batch 1 on a BRAND NEW store: the data write lands but the crash
    // hits before the _COMMITTED stamp and before the cursor write —
    // simulate by committing, then deleting marker + cursor (exactly the
    // on-disk state of that crash: sentinel + data, no marker, no cursor)
    val sink = new ExactlyOnceSink(spark, root)
    commitRange(sink, 100L to 101L)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, "_MARKER_ERA")),
      "commit must stamp the marker-era sentinel before the first write")
    fs.delete(new org.apache.hadoop.fs.Path(
      root, "rewards/batch_id=101/_COMMITTED"), false)
    fs.delete(new org.apache.hadoop.fs.Path(root, "ingest_state"), true)

    // restart replays from scratch over a WIDER range (more blocks
    // arrived), landing on key 103. Before the sentinel, the legacy
    // fallback adopted the torn batch at 101 as committed (floor = max
    // positive id) and its rows shadowed part of the replay forever.
    val sink2 = new ExactlyOnceSink(spark, root)
    commitRange(sink2, 100L to 103L)
    import spark.implicits.newLongEncoder
    assert(sink2.rewardsTable().select("batch_id").distinct()
      .as[Long].collect().toSet == Set(103L),
      "torn batch-1 partition was adopted instead of swept")
    assert(sink2.rewardsTable().count() == 5,
      "replayed batch must carry the full 100-103 history exactly once")
    assert(sink2.state.load().get.height == 103)
  }

  test("Full mode: crash between the two tables' writes + cursor loss never " +
    "adopts either table's leftover at the crashed batch's key") {
    val fixDir = tmpDir("fixtfm")
    val root = tmpDir("rootfm")
    copyFixture(fixDir)
    val node = new FixtureNode(fixDir)
    val sink = new ExactlyOnceSink(spark, root)
    import spark.implicits._

    def commitRange(range: Seq[Long]): Unit = {
      val blocks = Follower.parseBlocks(
        range.flatMap(node.getBlockJson).toDF("json"))
      val payloads = Follower.fetchPayloads(spark, node, blocks, Model.EtlMode.Full)
      sink.commit(Pipeline.run(Model.EtlMode.Full, blocks, payloads),
        range.last, 100)
    }
    commitRange(100L to 101L)
    commitRange(102L to 103L)
    val rewardsCommitted = sink.rewardsTable().count()
    val txnsCommitted = sink.transactionsTable().count()
    assert(txnsCommitted == 5) // blocks 100-103 carry 5 txns

    // crash mid-batch for heights 104-105: the rewards write finished and
    // the transactions write was cut short — both partitions exist at the
    // batch key with NO marker (markers are stamped only after ALL writes)
    spark.read.parquet(s"$root/rewards/batch_id=103")
      .write.parquet(s"$root/rewards/batch_id=105")
    spark.read.parquet(s"$root/transactions/batch_id=103")
      .write.parquet(s"$root/transactions/batch_id=105")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root, "ingest_state"), true)

    // floor = max over ALL marked ids = 103 (markers are stamped only
    // after EVERY table's data write, so one marker's existence proves
    // the whole batch is complete): BOTH tables' unmarked leftovers at
    // 105 sit above the floor and are swept up front, and the replay
    // (same key 105) rebuilds the batch consistently across tables
    commitRange(104L to 105L)
    assert(sink.rewardsTable().count() == rewardsCommitted,
      "stale rewards leftover survived at the crashed batch's key")
    import spark.implicits.newLongEncoder
    assert(sink.rewardsTable().select("batch_id").distinct()
      .as[Long].collect().toSet == Set(101L, 103L))
    // transactions 105 must contain exactly the replayed blocks 104-105,
    // none of the copied block<=103 junk
    val t105 = sink.transactionsTable().filter(col("batch_id") === 105L)
    assert(t105.count() == 2)
    assert(t105.filter(col("block") <= 103L).count() == 0,
      "partial transactions leftover was adopted as committed")
    assert(sink.transactionsTable().count() == txnsCommitted + 2)
    assert(sink.state.load().get.height == 105)
  }

  test("compaction + cursor loss: the joint floor survives consolidation, " +
    "committed generations and the newest batch stay intact") {
    val fixDir = tmpDir("fixtcc")
    val root = tmpDir("rootcc")
    copyFixture(fixDir)
    val node = new FixtureNode(fixDir)
    val sink = new ExactlyOnceSink(spark, root)
    import spark.implicits._

    def commitRange(range: Seq[Long]): Unit = {
      val blocks = Follower.parseBlocks(
        range.flatMap(node.getBlockJson).toDF("json"))
      val payloads = Follower.fetchPayloads(spark, node, blocks, Model.EtlMode.Full)
      sink.commit(Pipeline.run(Model.EtlMode.Full, blocks, payloads),
        range.last, 100)
    }
    commitRange(100L to 101L)
    commitRange(102L to 103L)
    sink.compact("rewards", targetPartitions = 1)
    sink.compact("transactions", targetPartitions = 1)
    val rewardsRows = sink.rewardsTable().count()
    val txnRows = sink.transactionsTable().count()

    // markers of the consolidated sources are gone with their dirs; the
    // newest batch (103) keeps its marker in both tables — after cursor
    // loss the joint floor must be 103, sweeping nothing
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root, "ingest_state"), true)
    commitRange(104L to 105L)
    assert(sink.rewardsTable().count() == rewardsRows,
      "compacted generation or newest batch swept after cursor loss")
    assert(sink.transactionsTable().count() == txnRows + 2)
    import spark.implicits.newLongEncoder
    assert(sink.transactionsTable().select("batch_id").distinct()
      .as[Long].collect().toSet == Set(-1L, 103L, 105L))
    assert(sink.state.load().get.height == 105)
  }

  test("Full->Rewards mode switch: the frozen transactions watermark cannot " +
    "drag the cursor-loss floor into committed rewards history") {
    val fixDir = tmpDir("fixtms")
    val root = tmpDir("rootms")
    copyFixture(fixDir)
    val node = new FixtureNode(fixDir)
    val sink = new ExactlyOnceSink(spark, root)
    import spark.implicits._

    def commitRange(range: Seq[Long], mode: Model.EtlMode): Unit = {
      val blocks = Follower.parseBlocks(
        range.flatMap(node.getBlockJson).toDF("json"))
      val payloads = Follower.fetchPayloads(spark, node, blocks, mode)
      sink.commit(Pipeline.run(mode, blocks, payloads), range.last, 100)
    }
    // Full mode to height 101 — transactions watermark freezes at 101
    commitRange(100L to 101L, Model.EtlMode.Full)
    // switch to Rewards mode, ingest onward — rewards watermark advances
    commitRange(102L to 103L, Model.EtlMode.Rewards)
    val committed = sink.rewardsTable().count()
    assert(sink.rewardsTable().select("batch_id").distinct()
      .as[Long].collect().toSet == Set(101L, 103L))

    // cursor loss: a naive min-over-tables floor would be 101 (the frozen
    // transactions watermark) and the sweep would delete committed
    // rewards batch 103; the max-over-marked floor is 103 (marker
    // existence proves batch 103's data is complete)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root, "ingest_state"), true)
    commitRange(104L to 105L, Model.EtlMode.Rewards)
    assert(sink.rewardsTable().count() == committed,
      "committed rewards history was swept after the mode switch")
    assert(sink.rewardsTable().select("batch_id").distinct()
      .as[Long].collect().toSet == Set(101L, 103L))
    // the frozen Full-era transactions stay intact too
    assert(sink.transactionsTable().count() == 3) // blocks 100-101: 3 txns
    assert(sink.state.load().get.height == 105)
  }

  test("crash between the two marker stamps + cursor loss: data is complete, " +
    "the marked table carries the floor, nothing is lost or duplicated") {
    val fixDir = tmpDir("fixtbs")
    val root = tmpDir("rootbs")
    copyFixture(fixDir)
    val node = new FixtureNode(fixDir)
    val sink = new ExactlyOnceSink(spark, root)
    import spark.implicits._

    def commitRange(range: Seq[Long]): Unit = {
      val blocks = Follower.parseBlocks(
        range.flatMap(node.getBlockJson).toDF("json"))
      val payloads = Follower.fetchPayloads(spark, node, blocks, Model.EtlMode.Full)
      sink.commit(Pipeline.run(Model.EtlMode.Full, blocks, payloads),
        range.last, 100)
    }
    commitRange(100L to 101L)
    commitRange(102L to 103L)
    val rewardsRows = sink.rewardsTable().count()
    val txnRows = sink.transactionsTable().count()

    // crash between the rewards and transactions marker stamps of batch
    // 103: both tables' DATA is complete (markers follow data) but only
    // rewards carries the marker — simulate by deleting transactions' one
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      root, "transactions/batch_id=103/_COMMITTED"), false)
    fs.delete(new org.apache.hadoop.fs.Path(root, "ingest_state"), true)

    // floor = max marked = 103 (rewards' marker); transactions 103 sits
    // AT the floor with complete data — the sweep must not touch it
    commitRange(104L to 105L)
    assert(sink.rewardsTable().count() == rewardsRows)
    assert(sink.transactionsTable()
      .filter(col("batch_id") === 103L).count() == 2) // blocks 102-103: 2 txns
    assert(sink.transactionsTable().count() == txnRows + 2)
    assert(sink.state.load().get.height == 105)
  }

  test("corrupt/torn state filenames are skipped, not fatal") {
    val root = tmpDir("rootcs")
    val store = new StateStore(spark, root)
    store.advance(IngestState(50, 10))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // a torn create on an object store can leave a name without the
    // _firstBlock suffix or with garbage — load() must skip it and keep
    // serving the surviving valid versions
    fs.create(new org.apache.hadoop.fs.Path(
      root, "ingest_state/state-9999"), true).close()
    fs.create(new org.apache.hadoop.fs.Path(
      root, "ingest_state/state-abc_def"), true).close()
    assert(store.load().get == IngestState(50, 10))
    store.advance(IngestState(60, 10)) // prune path must survive them too
    assert(store.load().get.height == 60)
  }

  test("legacy table without markers: cursor loss falls back to max id, sweeps nothing") {
    val fixDir = tmpDir("fixtleg")
    val root = tmpDir("rootleg")
    copyFixture(fixDir)
    val node = new FixtureNode(fixDir)
    val sink = new ExactlyOnceSink(spark, root)
    import spark.implicits._

    def commitRange(range: Seq[Long]): Unit = {
      val blocks = Follower.parseBlocks(
        range.flatMap(node.getBlockJson).toDF("json"))
      val payloads = Follower.fetchPayloads(spark, node, blocks, Model.EtlMode.Rewards)
      sink.commit(Pipeline.run(Model.EtlMode.Rewards, blocks, payloads),
        range.last, 100)
    }
    commitRange(100L to 101L)
    commitRange(102L to 103L)
    val committed = sink.rewardsTable().count()

    // simulate a table written before the marker scheme existed: no
    // batch markers AND no store-level marker-era sentinel (a real
    // pre-marker store predates both)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    for (id <- Seq(101L, 103L))
      fs.delete(new org.apache.hadoop.fs.Path(
        root, s"rewards/batch_id=$id/_COMMITTED"), false)
    fs.delete(new org.apache.hadoop.fs.Path(root, "_MARKER_ERA"), false)
    fs.delete(new org.apache.hadoop.fs.Path(root, "ingest_state"), true)

    // no marked partitions anywhere: the floor must fall back to the max
    // existing positive id (round-3 rule), not MinValue — else batches
    // 101 and 103 would be swept as "uncommitted"
    commitRange(104L to 105L)
    assert(sink.rewardsTable().count() == committed,
      "legacy partitions were swept on cursor loss")
    import spark.implicits.newLongEncoder
    assert(sink.rewardsTable().select("batch_id").distinct()
      .as[Long].collect().toSet == Set(101L, 103L))
  }

  test("compaction consolidates closed batches, preserves rows, newest batch untouched") {
    val fixDir = tmpDir("fixt3")
    val root = tmpDir("root4")
    copyFixture(fixDir)
    val node = new FixtureNode(fixDir)
    val sink = new ExactlyOnceSink(spark, root)
    import spark.implicits._

    // three batches; the last (blocks 104-105) yields ZERO rewards (r105
    // has an empty rewards list) so it writes a marker-only partition
    // (zero data rows) — that empty batch_id=105 is the newest partition
    // and is what compaction must protect (it is the cursor's batch, the
    // only replay target after a crash-before-cursor); 101 AND 103 are
    // closed and consolidate.
    Seq(100L to 101L, 102L to 103L, 104L to 105L)
      .foreach { range =>
        val blocks = Follower.parseBlocks(
          range.flatMap(node.getBlockJson).toDF("json"))
        val payloads = Follower.fetchPayloads(spark, node, blocks, Model.EtlMode.Rewards)
        sink.commit(Pipeline.run(Model.EtlMode.Rewards, blocks, payloads),
          range.last, 100)
      }
    val before = sink.rewardsTable().count()
    assert(before == 5)

    sink.compact("rewards", targetPartitions = 1)
    val after = sink.rewardsTable()
    assert(after.count() == before)
    // batches 101+103 consolidated into gen -1; the newest partition (the
    // marker-only 105) carries no rows, so only the generation shows
    assert(after.select("batch_id").distinct().as[Long].collect().toSet
      == Set(-1L))
    // compacting again with nothing new closed is a no-op
    sink.compact("rewards")
    assert(sink.rewardsTable().count() == before)
    assert(sink.rewardsTable().select("batch_id").distinct()
      .as[Long].collect().toSet == Set(-1L))
  }

  test("compaction crash windows: recover() rolls forward or back, never loses rows") {
    val fixDir = tmpDir("fixt4")
    val root = tmpDir("root5")
    copyFixture(fixDir)
    val node = new FixtureNode(fixDir)
    val sink = new ExactlyOnceSink(spark, root)
    import spark.implicits._

    Seq(100L to 101L, 102L to 103L, 104L to 105L).foreach { range =>
      val blocks = Follower.parseBlocks(
        range.flatMap(node.getBlockJson).toDF("json"))
      val payloads = Follower.fetchPayloads(spark, node, blocks, Model.EtlMode.Rewards)
      sink.commit(Pipeline.run(Model.EtlMode.Rewards, blocks, payloads),
        range.last, 100)
    }
    // data rows only — batch_id is layout, not data, and changes on swap
    val before = sink.rewardsTable().drop("batch_id")
      .orderBy("block", "amount").collect().toSeq

    // Crash window A: consolidated staging written + manifest persisted,
    // crash before any delete/rename (the window the old delete-then-rename
    // swap lost data in). Stage exactly what compact() would: the closed
    // partition (101), then the commit-point manifest.
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = s"$root/_compact_rewards"
    spark.read.parquet(s"$root/rewards")
      .filter(col("batch_id") === 101L).drop("batch_id")
      .repartition(1).write.mode("overwrite").parquet(tmp)
    val mf = new org.apache.hadoop.fs.Path(s"$root/_compact_rewards.manifest")
    val o = fs.create(mf, true); o.write("-1\n101\n".getBytes("UTF-8")); o.close()

    // next read triggers recover(): swap completes, rows identical
    val afterA = sink.rewardsTable()
    assert(afterA.drop("batch_id").orderBy("block", "amount").collect().toSeq == before)
    assert(afterA.select("batch_id").distinct().as[Long].collect().toSet
      == Set(-1L, 103L))
    assert(!fs.exists(mf) && !fs.exists(new org.apache.hadoop.fs.Path(tmp)))

    // Crash window B: staging written but NO manifest (crash mid-job or
    // before the commit point) — recover() rolls back, table untouched.
    spark.read.parquet(s"$root/rewards")
      .filter(col("batch_id") === -1L).drop("batch_id")
      .repartition(1).write.mode("overwrite").parquet(tmp)
    val afterB = sink.rewardsTable()
    assert(afterB.drop("batch_id").orderBy("block", "amount").collect().toSeq == before)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(tmp)))

    // Crash window C: manifest exists, the new generation (-2) is already
    // published and the source (-1) already deleted — recover() must just
    // finish the idempotent deletes and drop the manifest.
    val dir = s"$root/rewards"
    spark.read.parquet(dir).filter(col("batch_id") === -1L).drop("batch_id")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/batch_id=-2")
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/batch_id=-1"), true)
    val o2 = fs.create(mf, true); o2.write("-2\n-1\n".getBytes("UTF-8")); o2.close()
    val afterC = sink.rewardsTable()
    assert(afterC.drop("batch_id").orderBy("block", "amount").collect().toSeq == before)
    assert(afterC.select("batch_id").distinct().as[Long].collect().toSet
      == Set(-2L, 103L))
  }

  test("replay after checkpoint reset with a wider range drops the stale partition") {
    val fixDir = tmpDir("fixt5")
    val root = tmpDir("root6")
    copyFixture(fixDir)
    val node = new FixtureNode(fixDir)
    val sink = new ExactlyOnceSink(spark, root)
    import spark.implicits._

    def commitRange(range: Seq[Long], advanceCursor: Boolean): Unit = {
      val blocks = Follower.parseBlocks(
        range.flatMap(node.getBlockJson).toDF("json"))
      val payloads = Follower.fetchPayloads(spark, node, blocks, Model.EtlMode.Rewards)
      val out = Pipeline.run(Model.EtlMode.Rewards, blocks, payloads)
      if (advanceCursor) sink.commit(out, range.last, 100)
      else // simulate crash-before-cursor: data written, no marker, no cursor
        sink.writeBatch(out.rewards, "rewards", range.last)
    }

    commitRange(100L to 101L, advanceCursor = true)   // cursor=101, part 101
    commitRange(102L to 103L, advanceCursor = false)  // crash: part 103 staged
    // checkpoint reset: the replayed batch now covers 102..105 (wider,
    // new key 105). The stale 103 partition must go; no duplicates.
    commitRange(102L to 105L, advanceCursor = true)

    val rows = sink.rewardsTable()
    assert(rows.select("batch_id").distinct().as[Long].collect().toSet
      == Set(101L, 105L))
    // fixture rewards: 3 in block 100, 2 in block 102 — each exactly once
    assert(rows.count() == 5)
    assert(rows.select("block").as[Long].collect().sorted.toSeq
      == Seq(100L, 100L, 100L, 102L, 102L))
  }

  test("ingest throughput: the full pipeline sustains far above the " +
    "reference's 1-block/min requirement") {
    val fixDir = tmpDir("fixttp")
    val root = tmpDir("roottp")
    copyFixture(fixDir)
    val node = new FixtureNode(fixDir)
    import spark.implicits._

    // warm the planner/codegen paths once, then measure a clean drain
    def drain(r: String, via: NodeClient): Long = {
      val t0 = System.nanoTime()
      val range = 100L to 105L
      val blocks = Follower.parseBlocks(
        range.flatMap(via.getBlockJson).toDF("json"))
      val payloads = Follower.fetchPayloads(spark, via, blocks, Model.EtlMode.Full)
      new ExactlyOnceSink(spark, s"$root/$r")
        .commit(Pipeline.run(Model.EtlMode.Full, blocks, payloads), 105, 100)
      System.nanoTime() - t0
    }
    drain("warm", node)
    val nanos = drain("measured", node)
    val blocksPerSec = 6.0 / (nanos / 1e9)
    info(f"full-mode ingest: $blocksPerSec%.1f blocks/s " +
      f"(reference cadence requires ${1.0 / 60}%.3f)")
    // the same drain THROUGH THE WIRE (JSON-RPC over localhost) so the
    // protocol cost — request framing, Jackson round-trips, socket reuse
    // — is inside the measured number, not assumed away
    val srv = new MockNodeHttpServer(node)
    val wireBlocksPerSec = try {
      val http = new HttpNode(srv.endpoint)
      drain("warmwire", http)
      6.0 / (drain("wire", http) / 1e9)
    } finally srv.stop()
    info(f"full-mode ingest over http: $wireBlocksPerSec%.1f blocks/s")
    // the reference's design target is following a ~1 block/min chain;
    // even a 6-block micro-batch through parse + enrichment join +
    // flatten + exactly-once sink must beat that by orders of magnitude.
    // The bound is deliberately loose (30x cadence, not the ~440x
    // typically measured) so a loaded CI host cannot flake it.
    assert(blocksPerSec > 0.5,
      f"pipeline too slow: $blocksPerSec%.2f blocks/s")
    assert(wireBlocksPerSec > 0.5,
      f"pipeline too slow over http: $wireBlocksPerSec%.2f blocks/s")
  }

  test("the payload fetch of a multi-hash batch runs in more than one task") {
    val fixDir = tmpDir("fixtwide")
    copyFixture(fixDir)
    import spark.implicits._
    val blocks = Follower.parseBlocks(
      (100L to 105L).flatMap(new FixtureNode(fixDir).getBlockJson).toDF("json"))
    TaskRecordingNode.tasks.clear()
    val fetched = Follower.fetchPayloads(spark, new TaskRecordingNode(fixDir),
      blocks, EtlMode.Full).collect()
    assert(fetched.length == 7)
    // AQE would coalesce the tiny distinct shuffle into one partition and
    // serialize every node call in one task
    assert(TaskRecordingNode.tasks.size > 1,
      s"payload calls ran in tasks ${TaskRecordingNode.tasks}")
  }

  test("a failed Full-mode batch releases its cached blocks and payloads") {
    // each input breaks one leg of the overlapped commit, after both the
    // blocks and the payloads have been cached: (file, the line to
    // replace, its broken form, the error the batch must die with)
    val breaks = Seq(
      // a malformed rewards_v2 body trips strictRewardsPayload in the
      // rewards leg
      ("txns.jsonl", "\"r102\"",
        """{"hash": "r102", "type": "rewards_v2", "fields": "not json"}""",
        "Error getting rewards txn: 'r102'"),
      // a stub type outside transactionTypes trips validateTxnType in
      // the transactions leg only
      ("blocks.jsonl", "\"bh104\"",
        """{"height": 104, "time": 1600000340, "hash": "bh104", """ +
          """"transactions": [{"hash": "s1", "type": "bogus_v1"}]}""",
        "invalid input value for enum transaction_type: \"bogus_v1\""))
    breaks.foreach { case (file, line, broken, error) =>
      val fixDir = tmpDir("fixtbad")
      val root = tmpDir("rootbad")
      copyFixture(fixDir)
      val path = Paths.get(fixDir, file)
      val good = Files.readAllLines(path)
      Files.write(path, good.asScala.map { l =>
        if (l.contains(line)) broken else l
      }.asJava)
      new StateStore(spark, root).advance(IngestState(99, 100))
      graft.Pinned.releaseAll(spark)
      spark.catalog.clearCache()

      val q = Follower.start(spark, fixDir, root, EtlMode.Full)
      val e = try intercept[StreamingQueryException] { q.processAllAvailable() }
        finally q.stop()
      assert(e.getMessage.contains(error), e.getMessage)
      val left = spark.sparkContext.getPersistentRDDs.values.map(_.toString)
      assert(left.isEmpty, s"the failed batch left cached RDDs: $left")
      assert(new StateStore(spark, root).load().get.height == 99)
      // neither leg's table may carry a commit record for the batch
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val marked = Seq("rewards", "transactions").flatMap { t =>
        Option(fs.globStatus(
          new org.apache.hadoop.fs.Path(s"$root/$t/batch_id=*/_COMMITTED")))
          .toSeq.flatten
          .map(st => t -> st.getPath.getParent.getName.stripPrefix("batch_id=").toLong)
      }
      assert(!marked.exists(_._2 > 99), s"the failed batch left markers: $marked")

      // repaired, the rerun replays the batch: each row exactly once
      Files.write(path, good)
      val q2 = Follower.start(spark, fixDir, root, EtlMode.Full)
      try q2.processAllAvailable() finally q2.stop()
      val sink = new ExactlyOnceSink(spark, root)
      val rewards = sink.rewardsTable().drop("batch_id")
      val txns = sink.transactionsTable().drop("batch_id")
      // fixture: 3 rewards in block 100 and 2 in 102; 7 stubs in 100..105
      assert(rewards.count() == 5 && rewards.distinct().count() == 5)
      assert(txns.count() == 7 && txns.select("hash").distinct().count() == 7)
      assert(new StateStore(spark, root).load().get.height == 105)
    }
  }

  test("cursor is monotonic — backwards advance is refused") {
    val root = tmpDir("root3")
    val store = new StateStore(spark, root)
    store.advance(IngestState(50, 10))
    intercept[IllegalArgumentException] {
      store.advance(IngestState(49, 10))
    }
    assert(store.load().get == IngestState(50, 10))
  }
}
