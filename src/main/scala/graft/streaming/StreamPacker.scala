package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming sequence packing — the incremental face of the batch packer
  * (t12): documents arrive continuously and each is assigned to a fixed
  * token-budget bin the moment it arrives, per source, with the running
  * token cursor persisted across micro-batches in `mapGroupsWithState`
  * fashion.
  *
  * The rule is the same one-pass greedy assignment as batch t12
  * (bin = tokens-before-this-doc DIV budget), so a stream that delivers
  * the docs in doc_id order produces EXACTLY the batch assignment — the
  * batch/streaming agreement that lets a backfill (batch) and a live tail
  * (stream) share one shard layout. State per source is a single Long
  * (the cursor): bounded by source cardinality, no TTL needed. The fold
  * runs on the package's one state kernel ([[BucketState.run]]).
  *
  * Scale: packing is per-source sequential by definition (each doc's bin
  * depends on the running sum), so the stream shuffles once on `source`
  * and each source's cursor advances serially — the same parallelism
  * contract as the reference's per-height serial commit, scaled out
  * across sources.
  */
object StreamPacker {

  case class Doc(source: String, doc_id: Long, n_toks: Long)
  case class Assignment(source: String, doc_id: Long, bin: Long,
      offset_in_bin: Long)

  def pack(docs: Dataset[Doc], budget: Long): Dataset[Assignment] = {
    import docs.sparkSession.implicits._
    require(budget > 0, s"budget must be positive, got $budget")
    BucketState.run(docs)(_.source) {
      (source: String, rows: Seq[Doc], state: Option[Long]) =>
        var cursor = state.getOrElse(0L)
        // deterministic intra-batch order: doc_id (matches batch t12's
        // ORDER BY doc_id)
        val out = rows.sortBy(_.doc_id).map { d =>
          val a = Assignment(source, d.doc_id, cursor / budget,
            cursor % budget)
          cursor += d.n_toks
          a
        }
        (cursor, out)
    }
  }
}
