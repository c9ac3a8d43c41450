package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Training-shard output — the pipeline's last mile: the cleaned corpus
  * written as N deterministic shards a training job can consume
  * round-robin. Shard assignment is a pure function of doc_id
  * ([[graft.functions.Portable.hash60]] mod N — the d15 split trick at
  * shard granularity): no global sort, no coordination, reproducible
  * across runs and engines, and balanced to LLN over any corpus large
  * enough to matter (per-shard token mass concentrates at Σ/N). At
  * 100 TB the write is one hash-partitioned pass — the shard column IS
  * the partition key, so each task streams its shard files without a
  * pre-shuffle sort; no driver bottleneck anywhere.
  *
  * d22 exposes the same assignment as a gated query (per-shard token
  * accounting), so the planned layout is oracle-checked before anything
  * writes. */
object ShardWriter {

  /** Shard-hash seed — private to the package so the d22/p01 oracles
    * interpolate the SAME constant instead of hardcoding a copy. */
  private[graft] val Seed = 999

  /** The deterministic shard column — ONE definition shared by the d22
    * accounting query and [[write]], so the audited plan and the written
    * layout can never diverge. */
  def shardCol(docId: org.apache.spark.sql.Column, nShards: Int)
      : org.apache.spark.sql.Column =
    graft.functions.Portable.hash60(docId.cast("string"), Seed) % nShards

  /** Write `docs` as `nShards` hash-sharded parquet directories under
    * `path` (shard=K subdirs). Returns per-shard (shard, n_docs) read
    * back from the written files — the caller's receipt. */
  def write(docs: DataFrame, nShards: Int, path: String): DataFrame =
    writeDocs(docs, nShards, path)
      .groupBy(col("shard")).agg(count(lit(1)).as("n_docs"))

  /** Write `docs` hash-sharded exactly like [[write]] and return the
    * read-back frame itself (`shard` recovered as a partition column) —
    * the p01 pipeline computes its receipt from the files just written,
    * so the receipt proves the on-disk layout rather than the pre-write
    * plan.
    *
    * File-count trade: by default each task streams its rows straight
    * into its shards' dirs — no shuffle, but (tasks × shards) files.
    * Right for the nightly hot path (bounded task counts, and
    * [[Corpus.compactNights]] exists downstream). `onePassPerShard`
    * pays ONE shuffle on the shard key so each shard dir holds a
    * single file — the compaction posture, where the file bound IS the
    * point. A 100 TB FULL build (p01) has the same blow-up — ten
    * thousand tasks × a thousand shards is ten million files — so
    * `spark.graft.shards.onePassPerShard=true` arms the shuffle for
    * every write without touching call sites; at that scale one extra
    * shuffle of the final gated corpus is far cheaper than the
    * metadata storm. */
  def writeDocs(docs: DataFrame, nShards: Int, path: String,
      onePassPerShard: Boolean = false,
      idCol: String = "doc_id"): DataFrame = {
    val onePass = onePassPerShard || graft.Conf.flag(docs.sparkSession,
      "spark.graft.shards.onePassPerShard", false)
    val sharded0 = docs.withColumn("shard", shardCol(col(idCol), nShards))
    val sharded =
      if (onePass) sharded0.repartition(col("shard")) else sharded0
    writeAndReadBack(sharded, path)
  }

  /** [[writeDocs]] for rows that ALREADY carry their `shard` column —
    * the deletion-rewrite posture (`Corpus.deleteDocs`): each kept row
    * keeps the shard its night assigned it, so the rewrite is correct
    * for ANY historical shard count without the caller knowing it.
    * One shuffle on the shard key, one file per shard (rewrites are
    * the compaction posture). */
  def writeSharded(docs: DataFrame, path: String): DataFrame = {
    require(docs.columns.contains("shard"),
      "writeSharded needs the rows' existing shard column")
    writeAndReadBack(docs.repartition(col("shard")), path)
  }

  /** The shared write + receipt tail. Explicit schema on the
    * read-back: a 0-row corpus writes no part files, and schema
    * INFERENCE over an empty directory throws — the "new deployment,
    * nothing ingested" state must read as an empty frame, not an
    * AnalysisException (EmptyCorpusSpec). partitionBy moves `shard`
    * last in the on-disk layout; reorder the declared schema to match
    * so non-empty reads bind correctly. */
  private def writeAndReadBack(sharded: DataFrame, path: String)
      : DataFrame = {
    sharded
      .write.mode("overwrite")
      .partitionBy("shard")
      .parquet(path)
    val fields = sharded.schema.fields
    val readSchema = org.apache.spark.sql.types.StructType(
      fields.filter(_.name != "shard") :+ fields.find(_.name == "shard").get)
    sharded.sparkSession.read.schema(readSchema).parquet(path)
  }
}
