package graft.helium

/** Abstraction of the blockchain-node JSON-RPC surface the reference talks
  * to (helium-jsonrpc crate: `blocks::height`, `blocks::get_raw`,
  * `transactions::get` — call sites /root/reference/src/follower.rs:76,
  * src/block_processor.rs:29,58). Implementations must be Serializable so
  * executor-side readers of the streaming source can fetch blocks in
  * parallel partitions.
  *
  * Fetch loops (the stream's per-partition block reader and the follower's
  * per-partition payload fetch) call the batch reads [[getBlockJsons]] and
  * [[getTxnJsons]] one window of at most [[NodeClient.Window]] keys at a
  * time. The default batch read loops over the single-key call, so a
  * local backend needs nothing more; [[HttpNode]] keeps a whole window of
  * calls in flight at once.
  */
trait NodeClient extends Serializable {
  /** Current chain height (S1). */
  def height(): Long
  /** Raw block JSON for a height, None if the node doesn't have it (S2).
    * Shape: {"height":..,"time":..,"hash":"..","transactions":[{"hash":"..","type":".."}]} */
  def getBlockJson(h: Long): Option[String]
  /** Full txn payload JSON by hash, None if unknown (S3).
    * Shape: {"hash":"..","type":"..","fields":"{...json...}"} */
  def getTxnJson(hash: String): Option[String]
  /** [[getBlockJson]] for each height, results in key order. A failure
    * is the first failing height's own exception. */
  def getBlockJsons(heights: Seq[Long]): Seq[Option[String]] =
    heights.map(getBlockJson)
  /** [[getTxnJson]] for each hash, results in key order. A failure is the
    * first failing hash's own exception. */
  def getTxnJsons(hashes: Seq[String]): Seq[Option[String]] =
    hashes.map(getTxnJson)
}

object NodeClient {
  /** Keys per batch read in the fetch loops, and [[HttpNode]]'s bound on
    * node calls in flight per JVM. */
  val Window = 16

  /** Backend dispatch by address scheme — the single place a node address
    * becomes a client: `fixture:///dir` (or a bare directory path) →
    * [[FixtureNode]]; `http(s)://host:port` → [[HttpNode]] (JSON-RPC 2.0,
    * the reference's transport). */
  def forAddr(addr: String): NodeClient =
    if (addr.startsWith("fixture://")) new FixtureNode(addr.stripPrefix("fixture://"))
    else if (addr.startsWith("http://") || addr.startsWith("https://"))
      new HttpNode(addr)
    // bare DIR convenience (test call sites pass fixture dirs directly) —
    // but only when it cannot be a scheme-less network address: a typo'd
    // "localhost:4467" must fail HERE with a clear message, not surface
    // minutes later as a FixtureNode missing its blocks.jsonl
    else if (!addr.contains(":")) new FixtureNode(addr)
    else throw new IllegalArgumentException(
      s"no node client for '$addr' — did you mean 'http://$addr' or " +
        "'fixture://<dir>'? (implement graft.helium.NodeClient and " +
        "register its scheme in NodeClient.forAddr for other backends)")
}

/** A node backed by fixture JSONL files (blocks.jsonl / txns.jsonl) — the
  * file/fixture source of SURVEY §7 build-order step 3a. Loads lazily and
  * caches per-JVM so executor tasks reuse one parse.
  */
class FixtureNode(dir: String) extends NodeClient {
  @transient private lazy val blocks: Map[Long, String] = {
    val src = scala.io.Source.fromFile(s"$dir/blocks.jsonl")
    try src.getLines().filter(_.nonEmpty).map { line =>
      heightOf(line) -> line
    }.toMap finally src.close()
  }
  @transient private lazy val txns: Map[String, String] = {
    val src = scala.io.Source.fromFile(s"$dir/txns.jsonl")
    try src.getLines().filter(_.nonEmpty).map { line =>
      hashOf(line) -> line
    }.toMap finally src.close()
  }

  // minimal field sniffing to index fixture lines without a JSON dep
  private def heightOf(json: String): Long = {
    val m = """"height"\s*:\s*(\d+)""".r.findFirstMatchIn(json)
    m.map(_.group(1).toLong).getOrElse(
      throw new IllegalArgumentException(s"fixture block without height: $json"))
  }
  private def hashOf(json: String): String = {
    val m = """"hash"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(json)
    m.map(_.group(1)).getOrElse(
      throw new IllegalArgumentException(s"fixture txn without hash: $json"))
  }

  override def height(): Long = if (blocks.isEmpty) 0L else blocks.keys.max
  override def getBlockJson(h: Long): Option[String] = blocks.get(h)
  override def getTxnJson(hash: String): Option[String] = txns.get(hash)
}

/** Cold-start backfill bootstrap — S6, the epoch-skipping reverse scan
  * (src/follower.rs:144-194). Driver-side imperative logic by design
  * (SURVEY §7 hard-parts): it is stateful, abortable, and O(#epochs).
  *
  * Walks backwards from the tip; each block containing a rewards_v2 txn
  * lets us jump straight to that epoch's `start_epoch`. When a fetch fails
  * we are past the node's oldest block: re-enter from the last safe height
  * stepping -1 until the edge is exact.
  */
object Backfill {
  def firstBlock(node: NodeClient,
      shutdown: () => Boolean = () => false): Long = {
    var height = node.height()
    var lastSafe = height
    var inLastEpoch = false
    while (true) {
      if (shutdown()) return lastSafe // src/follower.rs:152-155
      val blockJson = node.getBlockJson(height) match {
        case Some(b) => b
        case None if inLastEpoch => return lastSafe // src/follower.rs:159
        case None =>
          inLastEpoch = true // src/follower.rs:160-168
          height = lastSafe - 1
          node.getBlockJson(height).getOrElse(
            throw new IllegalStateException(
              s"Can't get last height, stuck on block $height"))
      }
      // find a rewards_v2 stub and jump to its start_epoch (rs:169-185)
      val stubHashes = """\{"hash"\s*:\s*"([^"]+)"\s*,\s*"type"\s*:\s*"rewards_v2"\}""".r
        .findAllMatchIn(blockJson).map(_.group(1)).toList
      val it = stubHashes.iterator
      while (it.hasNext) {
        val h = it.next()
        node.getTxnJson(h) match {
          case None =>
            // reference aborts the scan when a rewards txn fetch fails
            // (follower.rs:179-183 Err arm) — best safe height wins
            return lastSafe
          case Some(txn) =>
            // `fields` is a JSON-escaped string, so the key may appear as
            // \"start_epoch\" — allow the escaped form.
            """start_epoch\\?"?\s*:\s*(\d+)""".r.findFirstMatchIn(txn)
              .foreach(m => height = m.group(1).toLong)
        }
      }
      lastSafe = height
      height -= 1
    }
    lastSafe
  }
}
