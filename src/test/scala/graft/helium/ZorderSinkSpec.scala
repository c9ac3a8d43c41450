package graft.helium

import org.apache.spark.sql.functions._

import graft.operators.Zorder

/** The rewards sink's z-order layout, proven on REAL sink output (the
  * synthetic-table pruning proof lives in OperatorsSpec): a block-window
  * scan over a committed batch must read fewer row groups than the same
  * batch written in arrival order. */
class ZorderSinkSpec extends SparkSuite {
  import spark.implicits._

  private def tmpDir(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  // 200 blocks x 50 gateways in DETERMINISTICALLY SHUFFLED arrival order
  // — the worst case for incidental locality: without an explicit
  // layout every output file spans the whole block range
  private def syntheticRewards() = {
    val rows = for { b <- 0L until 200L; g <- 0 until 50 } yield
      Model.Reward(b, s"tx${b}_$g", b * 60, s"acct$g", f"gw$g%03d",
        b * 50 + g, "poc")
    new scala.util.Random(42).shuffle(rows).toDF()
  }

  private def dataFiles(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet"))

  /** A batch of fewer than [[Zorder.RowsPerRangePartition]] rows lands as
    * exactly one data file, its rows in Morton order of (block,
    * hash(`keyB`)) over the batch's own block range. */
  private def assertOneZSortedFile(root: String, table: String,
      keyB: String, key: Long, rows: Long): Unit = {
    val files = dataFiles(s"$root/$table/batch_id=$key")
    assert(files.size == 1, s"$rows rows wrote ${files.size} data files")
    val stored = spark.read.parquet(files.head.getPath)
    val (lo, hi) = stored.agg(min("block"), max("block")).as[(Long, Long)].head()
    val zs = stored
      .select(Zorder.rangeHashCode("block", lo, hi, keyB)).as[Long].collect()
    assert(zs.length == rows && zs.toSeq == zs.sorted.toSeq,
      s"the $table file is not in z order")
  }

  private def survivors(groups: Seq[Map[String, (Long, Long)]],
      lo: Long, hi: Long): Int =
    groups.count { g => val (mn, mx) = g("block"); mx >= lo && mn <= hi }

  test("committed rewards batches prune block-window scans; linear layout cannot") {
    val df = syntheticRewards().repartition(4) // arrival partitioning
    val zRoot = tmpDir("zsink")
    val linRoot = tmpDir("linsink")
    new ExactlyOnceSink(spark, zRoot).writeBatch(df, "rewards", 7L)
    spark.conf.set("spark.graft.sink.zorder", "false")
    try new ExactlyOnceSink(spark, linRoot).writeBatch(df, "rewards", 7L)
    finally spark.conf.unset("spark.graft.sink.zorder")

    val zGroups = Zorder.rowGroupRanges(
      spark, s"$zRoot/rewards/batch_id=7", Seq("block"))
    val linGroups = Zorder.rowGroupRanges(
      spark, s"$linRoot/rewards/batch_id=7", Seq("block"))
    assert(zGroups.size >= 4, s"z layout produced only ${zGroups.size} groups")

    // h04's shape: a 10% block window (blocks 0..19)
    val zHit = survivors(zGroups, 0L, 19L)
    val linHit = survivors(linGroups, 0L, 19L)
    info(s"block window: z reads $zHit/${zGroups.size}, " +
      s"linear reads $linHit/${linGroups.size}")
    // z-ordered sink output must skip at least half its groups…
    assert(zHit * 2 <= zGroups.size,
      s"sink z-layout read $zHit of ${zGroups.size} groups")
    // …while the arrival-order layout reads essentially everything
    assert(linHit == linGroups.size,
      s"shuffled arrival order unexpectedly pruned: $linHit/${linGroups.size}")

    // and the layout is purely physical: same rows either way
    val a = spark.read.parquet(s"$zRoot/rewards").drop("batch_id")
    val b = spark.read.parquet(s"$linRoot/rewards").drop("batch_id")
    assert(a.count() == 10000 && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)

    // a tip-sized batch (blocks 0..3: 200 rows) is too small to split
    val tip = syntheticRewards().filter(col("block") < 4).repartition(4)
    new ExactlyOnceSink(spark, zRoot).writeBatch(tip, "rewards", 8L)
    assertOneZSortedFile(zRoot, "rewards", "gateway", 8L, 200L)
  }

  // 200 blocks x 8 of the 34 txn types, deterministically shuffled —
  // the h03/h06 access pattern is "this type over this block window"
  private def syntheticTxns() = {
    val types = Seq("payment_v2", "poc_receipts_v1", "assert_location_v2",
      "add_gateway_v1", "rewards_v2", "transfer_hotspot_v1",
      "price_oracle_v1", "state_channel_close_v1")
    val rows = for { b <- 0L until 200L; t <- types } yield
      Model.TxnEnvelope(b, s"hash${b}_$t", t, s"""{"block":$b}""")
    new scala.util.Random(7).shuffle(rows).toDF()
  }

  test("committed transactions batches prune type-sliced block-window " +
    "scans on BOTH dimensions; linear layout cannot") {
    val df = syntheticTxns().repartition(4)
    val zRoot = tmpDir("ztxn")
    val linRoot = tmpDir("lintxn")
    new ExactlyOnceSink(spark, zRoot).writeBatch(df, "transactions", 7L)
    spark.conf.set("spark.graft.sink.zorder", "false")
    try new ExactlyOnceSink(spark, linRoot).writeBatch(df, "transactions", 7L)
    finally spark.conf.unset("spark.graft.sink.zorder")

    def stats(root: String) = (
      Zorder.rowGroupRanges(spark, s"$root/transactions/batch_id=7",
        Seq("block")),
      Zorder.rowGroupStringRanges(spark, s"$root/transactions/batch_id=7",
        Seq("type")))
    val (zBlocks, zTypes) = stats(zRoot)
    val (linBlocks, linTypes) = stats(linRoot)
    assert(zBlocks.size >= 4, s"z layout produced only ${zBlocks.size} groups")

    // the h03/h06 slice: type = 'payment_v2' over blocks 0..19 — a row
    // group survives only if it intersects the window AND can contain
    // the type
    def hit(blocks: Seq[Map[String, (Long, Long)]],
        types: Seq[Map[String, (String, String)]]): Int =
      blocks.zip(types).count { case (bg, tg) =>
        val (bLo, bHi) = bg("block")
        val (tLo, tHi) = tg("type")
        bHi >= 0L && bLo <= 19L && tLo <= "payment_v2" && "payment_v2" <= tHi
      }
    val zHit = hit(zBlocks, zTypes)
    val linHit = hit(linBlocks, linTypes)
    info(s"type-sliced window: z reads $zHit/${zBlocks.size}, " +
      s"linear reads $linHit/${linBlocks.size}")
    assert(zHit * 2 <= zBlocks.size,
      s"sink z-layout read $zHit of ${zBlocks.size} groups")
    assert(linHit == linBlocks.size,
      s"shuffled arrival order unexpectedly pruned: $linHit/${linBlocks.size}")

    // purely physical: same rows either way
    val a = spark.read.parquet(s"$zRoot/transactions").drop("batch_id")
    val b = spark.read.parquet(s"$linRoot/transactions").drop("batch_id")
    assert(a.count() == 1600 && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)

    // a committed tip-sized batch (blocks 0..9: 80 rows) beside an empty
    // rewards batch: one z-sorted transactions file, and no rewards data
    // file — the rewards partition is marker-only and reads as 0 rows
    val tipRoot = tmpDir("ztip")
    val sink = new ExactlyOnceSink(spark, tipRoot)
    val noRewards = syntheticRewards().limit(0)
    val tipTxns = syntheticTxns().filter(col("block") < 10).repartition(4)
    sink.commit(Pipeline.Output(noRewards, Some(tipTxns)), 9L, 0L)
    assertOneZSortedFile(tipRoot, "transactions", "type", 9L, 80L)
    assert(dataFiles(s"$tipRoot/rewards/batch_id=9").isEmpty)
    assert(new java.io.File(s"$tipRoot/rewards/batch_id=9/_COMMITTED").exists())
    assert(sink.rewardsTable().filter(col("batch_id") === 9L).count() == 0L)
    assert(sink.transactionsTable().count() == 80L)
  }
}
