package graft.helium.source

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.helium.NodeClient

/** Custom DataSourceV2 streaming source for the Helium block stream — the
  * Spark-native form of the reference's poll loop (S1/S2: height poll at
  * /root/reference/src/main.rs:55-64 + per-height `blocks::get_raw` at
  * src/block_processor.rs:29).
  *
  * Offsets are block heights: a micro-batch covers the half-open height
  * range (start, end], exactly the drain-until-caught-up loop of
  * src/follower.rs:70-97 — but the heights inside one batch are fetched in
  * parallel across `partitions` executor slices, each keeping a window of
  * node calls in flight, which is the scale-out the single-threaded
  * reference lacks (SURVEY §3.1).
  *
  * Rows are (height, json) — payload parsing happens declaratively with
  * `from_json` downstream so Catalyst can prune/push as usual.
  *
  * Usage:
  * {{{
  *   spark.readStream.format(classOf[BlockSourceProvider].getName)
  *     .option("node", "fixture:///path/to/fixturedir") // or http(s)://host:port
  *     .option("startHeight", "0")
  *     .option("partitions", "4")
  *     .load()
  * }}}
  */
class BlockSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    BlockSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new BlockTable(properties.asScala.toMap)
}

object BlockSource {
  val schema: StructType = StructType(Seq(
    StructField("height", LongType, nullable = false),
    StructField("json", StringType, nullable = false)))

  def nodeFor(options: Map[String, String]): NodeClient =
    options.get("node").map(NodeClient.forAddr)
      .getOrElse(throw new IllegalArgumentException(
        "heliumblocks source requires a 'node' option (any " +
          "NodeClient.forAddr address, e.g. a fixture dir)"))
}

class BlockTable(options: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = "helium_blocks"
  override def schema(): StructType = BlockSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  override def newScanBuilder(caseInsensitive: CaseInsensitiveStringMap): ScanBuilder =
    new BlockScanBuilder(options)
}

/** Batch-read scan builder with height-predicate pushdown — the SURVEY §4
  * "ingest-time filter pushdown" made declarative: `=`, `>`, `>=`, `<`,
  * `<=` predicates on `height` shrink the fetched range at the source, so
  * a backfill query over a height slice never touches the rest of the
  * chain (the reference achieves the analogous laziness imperatively by
  * only dereferencing what it will load, block_processor.rs:56-58). */
class BlockScanBuilder(options: Map[String, String])
    extends ScanBuilder with SupportsPushDownFilters {
  import org.apache.spark.sql.sources._

  private var lo: Long = options.getOrElse("startHeight", "0").toLong + 1
  private var hi: Long = Long.MaxValue
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition {
      case EqualTo("height", _: java.lang.Number) => true
      case GreaterThan("height", _: java.lang.Number) => true
      case GreaterThanOrEqual("height", _: java.lang.Number) => true
      case LessThan("height", _: java.lang.Number) => true
      case LessThanOrEqual("height", _: java.lang.Number) => true
      case _ => false
    }
    accepted.foreach {
      case EqualTo(_, v: java.lang.Number) =>
        lo = math.max(lo, v.longValue); hi = math.min(hi, v.longValue)
      case GreaterThan(_, v: java.lang.Number) =>
        lo = math.max(lo, v.longValue + 1)
      case GreaterThanOrEqual(_, v: java.lang.Number) =>
        lo = math.max(lo, v.longValue)
      case LessThan(_, v: java.lang.Number) =>
        hi = math.min(hi, v.longValue - 1)
      case LessThanOrEqual(_, v: java.lang.Number) =>
        hi = math.min(hi, v.longValue)
      case _ => ()
    }
    pushed = accepted
    rejected // Spark re-applies these on top
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new Scan with Batch {
    override def readSchema(): StructType = BlockSource.schema
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
      new BlockMicroBatchStream(options)
    override def toBatch: Batch = this

    override def planInputPartitions(): Array[InputPartition] = {
      val node = BlockSource.nodeFor(options)
      val tip = math.min(hi, node.height())
      if (tip < lo) return Array.empty
      val n = math.min(options.getOrElse("partitions", "4").toLong,
        tip - lo + 1).toInt
      (0 until n).map { i =>
        val l = lo + i * (tip - lo + 1) / n
        val h = lo + (i + 1) * (tip - lo + 1) / n - 1
        HeightRangePartition(l, h, options, lenient = true): InputPartition
      }.toArray
    }
    override def createReaderFactory(): PartitionReaderFactory =
      new PartitionReaderFactory {
        override def createReader(p: InputPartition): PartitionReader[InternalRow] =
          new BlockPartitionReader(p.asInstanceOf[HeightRangePartition])
      }
  }
}

/** Height offset — serialized as a plain long in the offset log. */
case class HeightOffset(height: Long) extends Offset {
  override def json(): String = height.toString
}

class BlockMicroBatchStream(options: Map[String, String])
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.ReadLimit

  private val node = BlockSource.nodeFor(options)
  private val startHeight = options.getOrElse("startHeight", "0").toLong
  private val numPartitions = options.getOrElse("partitions", "4").toInt
  /** Backpressure cap — maxOffsetsPerTrigger analogue (SURVEY §2.8). The
    * cap must shrink the *committed* end offset (admission control), never
    * the planned partitions, or capped blocks would be silently skipped. */
  private val maxPerBatch = options.get("maxBlocksPerBatch").map(_.toLong)
  /** Trigger.AvailableNow contract: the tip captured at query start; all
    * batches (plural, when maxPerBatch splits the drain) stop here, then
    * the query terminates — the bounded backfill-run pattern. */
  private var fixedTip: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    fixedTip = Some(node.height())

  override def initialOffset(): Offset = HeightOffset(startHeight)
  override def deserializeOffset(json: String): Offset =
    HeightOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  override def getDefaultReadLimit: ReadLimit =
    maxPerBatch.map(m => ReadLimit.maxRows(m)).getOrElse(ReadLimit.allAvailable())

  /** The tip [[latestOffset]] read and [[reportLatestOffset]] has not yet
    * reported: the engine asks for both on every trigger, one right after
    * the other, and they share one `block_height` call. */
  private var unreportedTip: Option[Long] = None

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val tip = fixedTip.getOrElse {
      val t = node.height()
      unreportedTip = Some(t)
      t
    }
    val s = start.asInstanceOf[HeightOffset].height
    HeightOffset(maxPerBatch.map(m => math.min(tip, s + m)).getOrElse(tip))
  }

  override def reportLatestOffset(): Offset = {
    val tip = fixedTip.orElse(unreportedTip).getOrElse(node.height())
    unreportedTip = None
    HeightOffset(tip)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[HeightOffset].height
    val e = end.asInstanceOf[HeightOffset].height
    if (e <= s) return Array.empty
    // split (s, e] into ranges; one fetch loop per partition, each with
    // a window of NodeClient.Window calls in flight (the reference
    // fetches serially, one call at a time: src/follower.rs:86-97)
    val n = math.min(numPartitions.toLong, e - s).toInt
    (0 until n).map { i =>
      val lo = s + 1 + i * (e - s) / n
      val hi = s + (i + 1) * (e - s) / n
      HeightRangePartition(lo, hi, options): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
        val hr = p.asInstanceOf[HeightRangePartition]
        new BlockPartitionReader(hr)
      }
    }
}

/** Inclusive height range [lo, hi] assigned to one executor task.
  * `lenient` (batch slices) skips heights the node doesn't have; the
  * streaming tip-follower is strict — a gap mid-range means the node lied
  * about its height and the reference aborts the tick
  * (src/block_processor.rs:31-34). */
case class HeightRangePartition(lo: Long, hi: Long,
    options: Map[String, String], lenient: Boolean = false)
  extends InputPartition

/** Reads its range one window of [[NodeClient.Window]] heights at a time
  * ([[NodeClient.getBlockJsons]]), so a remote node has the whole window
  * in flight; rows and gaps are still handled in height order. */
class BlockPartitionReader(p: HeightRangePartition)
    extends PartitionReader[InternalRow] {
  private val node = BlockSource.nodeFor(p.options)
  /** First height not yet fetched. */
  private var unfetched = p.lo
  private var window: Iterator[(Long, Option[String])] = Iterator.empty
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (true) {
      if (!window.hasNext) {
        if (unfetched > p.hi) return false
        val hs = unfetched to math.min(p.hi, unfetched + NodeClient.Window - 1)
        unfetched = hs.last + 1
        window = hs.iterator.zip(node.getBlockJsons(hs))
      }
      window.next() match {
        case (h, Some(json)) =>
          current = InternalRow(h, UTF8String.fromString(json))
          return true
        case (_, None) if p.lenient => () // skip gap, keep scanning
        case (h, None) =>
          throw new IllegalStateException(s"Couldn't get block $h")
      }
    }
    false
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
