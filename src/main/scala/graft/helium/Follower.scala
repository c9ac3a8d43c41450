package graft.helium

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import Model._
import graft.helium.source.BlockSourceProvider

/** The follower — SURVEY §3.1's main pipeline, assembled Spark-first.
  *
  * Reference flow: every 10 s poll height, drain pending blocks one at a
  * time, each in its own DB transaction (src/main.rs:55-64,
  * src/follower.rs:69-112). Here: a Structured Streaming query over
  * [[source.BlockSourceProvider]] with `Trigger.ProcessingTime("10 seconds")`;
  * each micro-batch covers the whole pending height range (drain semantics)
  * and commits through [[ExactlyOnceSink]] (idempotent batch partition +
  * cursor advance = the per-block transaction, K4).
  */
object Follower {

  /** Resolve the start state: resume from the cursor, else backfill-scan
    * the node for its first block, else start at the tip
    * (src/follower.rs:27-41). */
  def bootstrap(spark: SparkSession, node: NodeClient, root: String,
      backfill: Boolean): IngestState = {
    val store = new StateStore(spark, root)
    store.load().getOrElse {
      val first = if (backfill) Backfill.firstBlock(node) else node.height()
      // follower starts at height = first-1 so the first block processed
      // is `first` (src/follower.rs:37)
      val st = IngestState(math.max(first - 1, 0), first)
      store.advance(st)
      st
    }
  }

  /** Parse raw (height, json) source rows into blockSchema rows. */
  def parseBlocks(raw: DataFrame): DataFrame =
    raw.select(from_json(col("json"), blockSchema).as("b")).select("b.*")

  /** Collect the distinct stub hashes of a batch (only rewards_v2 outside
    * Full mode) and fetch their payloads through the node — the S3
    * enrichment as one keyed fetch per batch instead of one RPC per row
    * (the reference's N+1, src/block_processor.rs:58).
    *
    * The result is lazy: every action over it re-runs the node calls, so a
    * caller with more than one consumer (the rewards and transactions
    * writes of a Full-mode commit) must persist it once, as
    * [[start]] does. Width: the hashes are hash-partitioned over the
    * session's `defaultParallelism` before the per-partition fetch loop,
    * so a batch's calls run on every core at once. An explicit partition
    * count is not coalesced by AQE, which would otherwise fold the small
    * `distinct` shuffle into one partition and serialize every call.
    * Each partition fetches its hashes in windows of [[NodeClient.Window]]
    * through [[NodeClient.getTxnJsons]], so a remote node has a window of
    * calls in flight per partition; the calls are still one per hash. */
  def fetchPayloads(spark: SparkSession, node: NodeClient,
      blocks: DataFrame, mode: EtlMode): DataFrame = {
    import org.apache.spark.sql.Row
    val wanted = Transforms.explodeStubs(blocks)
    val hashes = (mode match {
      case EtlMode.Full => wanted
      case _ => Transforms.dispatchRewards(wanted)
    }).select("hash")
      .repartition(spark.sparkContext.defaultParallelism, col("hash"))
      .distinct()
    val fetched = hashes.rdd.mapPartitions { it =>
      it.map(_.getString(0)).grouped(NodeClient.Window).flatMap { hs =>
        hs.zip(node.getTxnJsons(hs)).flatMap { case (h, json) => json.map(Row(h, _)) }
      }
    }
    val raw = spark.createDataFrame(fetched,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("hash",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("json",
          org.apache.spark.sql.types.StringType))))
    raw.select(from_json(col("json"), txnSchema).as("t")).select("t.*")
  }

  /** Start the streaming follower. Caller stops the query or lets the
    * trigger run forever (daemon parity). `nodeAddr` takes any
    * [[NodeClient.forAddr]] scheme: a fixture dir, `fixture://dir`, or a
    * JSON-RPC `http(s)://` endpoint. */
  def start(spark: SparkSession, nodeAddr: String, root: String,
      mode: EtlMode, lists: Allowlists = Allowlists(Set.empty, Set.empty),
      backfill: Boolean = false,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
      checkpoint: Option[String] = None): StreamingQuery = {

    val node = NodeClient.forAddr(nodeAddr)
    val st = bootstrap(spark, node, root, backfill)
    val sink = new ExactlyOnceSink(spark, root)

    spark.readStream
      .format(classOf[BlockSourceProvider].getName)
      .option("node", nodeAddr)
      .option("startHeight", st.height.toString)
      .load()
      .writeStream
      .option("checkpointLocation",
        checkpoint.getOrElse(s"$root/_checkpoint"))
      .trigger(trigger)
      .foreachBatch { (raw: DataFrame, _: Long) =>
        val blocks = parseBlocks(raw).cache()
        try {
          // One pass over the cached blocks, with no shuffle, builds the
          // cache and yields both emptiness and the partition key (batch
          // content, not the epoch id: stays idempotent across checkpoint
          // resets, ExactlyOnceSink). A SQL aggregate here would cost two
          // more jobs: its exchange puts it under AQE, which materializes
          // the cache in a job of its own.
          val (n, maxH) = blocks.select(col("height")).rdd
            .map(r => (1L, if (r.isNullAt(0)) Long.MinValue else r.getLong(0)))
            .fold((0L, Long.MinValue))((a, b) => (a._1 + b._1, math.max(a._2, b._2)))
          if (n > 0) {
            require(maxH != Long.MinValue, s"batch of $n blocks carries no height")
            // both sink writes read the payloads: fetch them once
            val payloads = fetchPayloads(spark, node, blocks, mode).cache()
            try {
              val out = Pipeline.run(mode, blocks, payloads, lists)
              sink.commit(out, maxH, st.first_block)
            } finally payloads.unpersist()
          }
        } finally blocks.unpersist()
      }
      .start()
  }
}
