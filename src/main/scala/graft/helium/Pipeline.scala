package graft.helium

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

import Model._
import Transforms._

/** T8 — mode-driven plan assembly (src/settings.rs:7-12,
  * src/block_processor.rs:51-144, README.md:50-63). The reference branches
  * imperatively per reward inside one loop; here each mode assembles a
  * different *declarative plan* up front, so Catalyst sees the whole
  * pipeline and can push the rewards_v2 dispatch predicate below the
  * enrichment join, prune payload columns for non-Full modes, and pick join
  * strategies per batch size.
  */
object Pipeline {

  /** Per-block-range outputs: `rewards` always; `transactions` in Full
    * mode only (README.md:50-63 modes table). */
  case class Output(rewards: DataFrame, transactions: Option[DataFrame])

  /** Assemble the extraction plan for one batch of blocks.
    *
    * @param blocks   raw blocks (Model.blockSchema rows)
    * @param payloads full txn payloads keyed by hash (Model.txnSchema) —
    *                 the "node" side of the S3 enrichment join
    * @param lists    allowlists, only consulted in Filters mode
    *
    * The payload side is hinted broadcastable: a micro-batch's payloads
    * are tiny next to its blocks.
    */
  def run(mode: EtlMode, blocks: DataFrame, payloads: DataFrame,
      lists: Allowlists = Allowlists(Set.empty, Set.empty)): Output = {

    val stubs = explodeStubs(blocks)
    val paySide = broadcast(payloads)

    val flat = flattenRewards(strictRewardsPayload(
      enrichStubs(dispatchRewards(stubs), paySide)))

    val rewards = mode match {
      case EtlMode.Rewards | EtlMode.Full => sentinelNulls(flat)
      // Reference matches allowlists on the pre-sentinel Option values
      // (src/block_processor.rs:84-121), then add_reward applies the
      // sentinel — same order here.
      case EtlMode.Filters => sentinelNulls(allowlistFilter(lists)(flat))
    }

    val txns = mode match {
      case EtlMode.Full => Some(toEnvelopes(enrichStubs(stubs, paySide)))
      case _ => None
    }
    Output(rewards, txns)
  }
}
