package graft.helium

import org.apache.spark.sql.functions._

import graft.helium.source.BlockSourceProvider

/** Batch reads over the custom source with height-predicate pushdown
  * (SURVEY §4 ingest-time filter pushdown, declarative form). */
class BlockSourceBatchSpec extends SparkSuite {

  private def read() = spark.read
    .format(classOf[BlockSourceProvider].getName)
    .option("node", fixture("basic"))
    .load()

  test("batch read scans the node's blocks (lenient over gaps)") {
    // fixture has blocks 100..105; heights 1..99 are gaps
    val df = read()
    assert(df.count() == 6)
    assert(df.agg(min("height"), max("height")).head()
      == org.apache.spark.sql.Row(100L, 105L))
  }

  test("height predicates are pushed into the scan range") {
    val df = read().filter(col("height") >= 102 && col("height") < 105)
    assert(df.select("height").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(102L, 103L, 104L))
    // pushdown visible in the physical plan: PushedFilters non-empty
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan"))
  }

  test("maxBlocksPerBatch caps the streaming batch size (backpressure)") {
    val root = java.nio.file.Files.createTempDirectory("bp").toString
    new StateStore(spark, root).advance(Model.IngestState(99, 100))
    var batches = 0
    val q = spark.readStream
      .format(classOf[BlockSourceProvider].getName)
      .option("node", fixture("basic"))
      .option("startHeight", "99")
      .option("maxBlocksPerBatch", "2")
      .load()
      .writeStream
      .option("checkpointLocation", s"$root/_cp")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val n = df.count()
        assert(n <= 2, s"batch of $n exceeds cap")
        if (n > 0) batches += 1
      }
      .start()
    try {
      q.processAllAvailable()
      assert(batches >= 3) // 6 blocks / cap 2
    } finally q.stop()
  }

  test("Trigger.AvailableNow + cap drains in MULTIPLE batches then self-terminates") {
    // the SupportsTriggerAvailableNow contract: the tip is pinned at query
    // start, admission control still splits the drain (6 blocks / cap 2 =
    // 3 batches), and the query stops at the pinned tip instead of polling
    val root = java.nio.file.Files.createTempDirectory("an").toString
    var batches = 0
    var rows = 0L
    val q = spark.readStream
      .format(classOf[BlockSourceProvider].getName)
      .option("node", fixture("basic"))
      .option("startHeight", "99")
      .option("maxBlocksPerBatch", "2")
      .load()
      .writeStream
      .option("checkpointLocation", s"$root/_cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val n = df.count()
        assert(n <= 2, s"batch of $n exceeds cap")
        if (n > 0) { batches += 1; rows += n }
      }
      .start()
    assert(q.awaitTermination(120000), "AvailableNow query did not terminate")
    assert(batches == 3 && rows == 6, s"got $batches batches / $rows rows")
  }

  test("pushed slice feeds the batch pipeline end-to-end") {
    val blocks = Follower.parseBlocks(
      read().filter(col("height") === 102).select("json"))
    val node = new FixtureNode(fixture("basic"))
    val payloads = Follower.fetchPayloads(spark, node, blocks, Model.EtlMode.Rewards)
    val out = Pipeline.run(Model.EtlMode.Rewards, blocks, payloads)
    assert(out.rewards.count() == 2) // r102 has 2 rewards
  }
}
