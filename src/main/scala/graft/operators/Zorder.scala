package graft.operators

// parquet-mr's Statistics[_ <: Comparable[_]] is inherently existential
import scala.language.existentials

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) layout — the multi-column clustering the
  * reference's b-tree indexes approximate for ONE column generalized to
  * several (SURVEY §1.1: "indexes → partitioning/Z-order (by block)").
  *
  * Sorting rows by the bit-interleaving of their (rank-normalized) key
  * columns places rows that are close in EVERY key dimension into the same
  * parquet row groups, so min/max stats prune scans for predicates on ANY
  * prefix-free combination of the keys — one layout serving several query
  * patterns, where plain sort-by-(a,b) only serves predicates on `a`.
  *
  * Built from plain Column bit-ops (codegen'd, no UDF): each key is
  * rank-normalized to `bits` via its value's position between the column
  * min/max (a driver-collected 2-number statistic), then bits are
  * interleaved. At 100 TB the same expression feeds
  * `df.repartitionByRange(col("zorder")).sortWithinPartitions("zorder")`
  * before the write — layout cost O(data log data), amortized over every
  * subsequent pruned scan. A batch too small to need a split is sorted
  * in one partition instead (see [[RowsPerRangePartition]]).
  */
object Zorder {

  /** Morton-interleave already-normalized non-negative ints (< 2^bits).
    * Column i contributes bit j of its value to output bit j*n + i. */
  def morton(bits: Int, cols: Column*): Column = {
    require(bits * cols.size <= 63, s"$bits bits x ${cols.size} cols > 63")
    val n = cols.size
    val terms = for {
      (c, i) <- cols.zipWithIndex
      j <- 0 until bits
    } yield shiftleft(
      shiftright(c.cast("long"), j).bitwiseAND(lit(1L)), j * n + i)
    terms.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Normalize a numeric column to [0, 2^bits) by linear position between
    * `lo` and `hi` (inclusive). Values outside clamp. The position math
    * runs in doubles: a Long multiply `(c - lo) * maxV` overflows once the
    * key span exceeds ~2^(63-bits) (e.g. epoch-nanos keys), scrambling the
    * Z-code; double rounding only costs layout precision, never
    * correctness, since the Z-code orders the write layout and is then
    * dropped. */
  def normalize(c: Column, lo: Long, hi: Long, bits: Int): Column = {
    val span = math.max(hi.toDouble - lo.toDouble, 1.0)
    val maxV = (1L << bits) - 1
    least(greatest(
      floor((c.cast("double") - lit(lo.toDouble)) * (maxV / span))
        .cast("long"),
      lit(0L)), lit(maxV))
  }

  /** Rows per range partition of [[layoutByRangeAndHash]]: a batch of
    * n rows is split into min(partitions, ceil(n / 256)) z-ranges, so a
    * tip-sized batch (tens of rows) is one coalesced, locally sorted
    * partition — one file, no range-sample job, no exchange — while a
    * large one still gets `partitions` files. Each z-range becomes one
    * parquet file and, at these sizes, one row group, and block-window
    * pruning needs several row groups per partition: a 1600-row batch
    * must keep at least 4 (at most 400 rows per range). 256 is the
    * largest power of two under that bound; the margin absorbs the range
    * sample's imbalance, and 1600 rows split into 7 ranges. */
  val RowsPerRangePartition = 256

  /** The Morton code of (`keyA` normalized over [lo, hi], `keyB` hashed)
    * that [[layoutByRangeAndHash]] orders rows by. */
  private[graft] def rangeHashCode(keyA: String, lo: Long, hi: Long,
      keyB: String, bits: Int = 12): Column =
    morton(bits, normalize(col(keyA), lo, hi, bits),
      pmod(xxhash64(col(keyB)), lit(1L << bits)))

  /** Re-layout (no write): range-partition + locally sort by the Morton
    * code of (rank-normalized long `keyA`, hashed `keyB`). `keyB` may be
    * any type — xxhash64 maps it uniformly onto the grid, so same-VALUE
    * rows cluster (what an equality/IN scan prunes by) even though range
    * predicates on keyB cannot prune (hashing destroys order). This is
    * the rewards-sink layout: block is the range key (h04-style
    * block-window scans), gateway the hash key (per-gateway audits).
    *
    * Everything the layout needs — the row count and `keyA`'s min/max —
    * comes from one no-shuffle fold over `df`; persist `df` first, so
    * that fold is also the job that fills the cache the write reads.
    * None for an empty `df`: there is nothing to write. The split is
    * sized by the row count ([[RowsPerRangePartition]]): one range means
    * `coalesce(1)` + a local sort (no sample job, no exchange), more
    * means one range sample + one range exchange. Amortized over every
    * subsequent pruned scan of the table. */
  def layoutByRangeAndHash(df: DataFrame, keyA: String, keyB: String,
      bits: Int = 12, partitions: Int = 8): Option[DataFrame] = {
    val (n, lo, hi) = df.select(col(keyA)).rdd
      .map { r =>
        if (r.isNullAt(0)) (1L, Long.MaxValue, Long.MinValue)
        else { val v = r.getLong(0); (1L, v, v) }
      }
      .fold((0L, Long.MaxValue, Long.MinValue)) { (a, b) =>
        (a._1 + b._1, math.min(a._2, b._2), math.max(a._3, b._3))
      }
    if (n == 0) None
    else if (lo > hi) Some(df) // every key null: nothing to order by
    else {
      val ranges = math.min(partitions,
        math.ceil(n.toDouble / RowsPerRangePartition).toInt)
      val z = df.withColumn("__z", rangeHashCode(keyA, lo, hi, keyB, bits))
      val split =
        if (ranges <= 1) z.coalesce(1)
        else z.repartitionByRange(ranges, col("__z"))
      Some(split.sortWithinPartitions("__z").drop("__z"))
    }
  }

  /** Write `df` z-ordered by two long-typed key columns: collect each
    * key's min/max (2 numbers per key — the only driver-side data),
    * range-partition + locally sort by the Morton code, write parquet.
    * Row groups then carry tight min/max on BOTH keys. */
  def writeZordered(df: DataFrame, keyA: String, keyB: String,
      path: String, bits: Int = 16, partitions: Int = 8): Unit = {
    val r = df.agg(min(col(keyA)), max(col(keyA)),
      min(col(keyB)), max(col(keyB))).head()
    if (r.isNullAt(0) || r.isNullAt(2)) { // empty input: nothing to order
      df.write.mode("overwrite").parquet(path)
      return
    }
    val z = morton(bits,
      normalize(col(keyA), r.getLong(0), r.getLong(1), bits),
      normalize(col(keyB), r.getLong(2), r.getLong(3), bits))
    df.withColumn("__z", z)
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Per-row-group [min, max] of each of `cols`, read straight from the
    * parquet footers under `path` — the audit tool that makes pruning
    * claims measurable: a scan with predicate `k ∈ [lo, hi]` reads
    * exactly the row groups whose [min, max] intersects it, so counting
    * intersections IS counting I/O. Footer-only reads (no row data). */
  def rowGroupRanges(spark: SparkSession, path: String,
      cols: Seq[String]): Seq[Map[String, (Long, Long)]] =
    footerStats(spark, path, cols) { (c, s) =>
      (s.genericGetMin, s.genericGetMax) match {
        case (lo: Number, hi: Number) =>
          (lo.longValue(), hi.longValue())
        case (other, _) => sys.error(
          s"rowGroupRanges reads integer-typed column stats only; " +
            s"$c has ${other.getClass.getSimpleName} stats " +
            "(use rowGroupStringRanges for string/binary columns)")
      }
    }

  /** [[rowGroupRanges]] for string-typed columns: per-row-group
    * [min, max] as UTF-8 strings. An equality predicate `k = v` reads
    * exactly the row groups whose [min, max] contains v — the pruning a
    * hash-dimension z-order key buys (same-value rows cluster, so most
    * groups carry min = max ≠ v and skip). */
  def rowGroupStringRanges(spark: SparkSession, path: String,
      cols: Seq[String]): Seq[Map[String, (String, String)]] =
    footerStats(spark, path, cols) { (c, s) =>
      (s.genericGetMin, s.genericGetMax) match {
        case (lo: org.apache.parquet.io.api.Binary,
              hi: org.apache.parquet.io.api.Binary) =>
          (lo.toStringUsingUTF8, hi.toStringUsingUTF8)
        case (other, _) => sys.error(
          s"rowGroupStringRanges reads binary column stats only; " +
            s"$c has ${other.getClass.getSimpleName} stats")
      }
    }

  /** Shared footer walk: per row group under `path`, extract a statistic
    * per requested column. Footer-only reads (no row data). */
  private def footerStats[T](spark: SparkSession, path: String,
      cols: Seq[String])(
      read: (String, org.apache.parquet.column.statistics.Statistics[_]) => T)
      : Seq[Map[String, T]] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    fs.listStatus(root).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
      .flatMap { st =>
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(st.getPath, conf))
        try reader.getFooter.getBlocks.asScala.toSeq.map { block =>
          cols.map { c =>
            val cc = block.getColumns.asScala
              .find(_.getPath.toDotString == c)
              .getOrElse(sys.error(s"column $c not in footer of ${st.getPath}"))
            val s = cc.getStatistics
            require(s != null && s.hasNonNullValue, s"no stats for $c")
            c -> read(c, s)
          }.toMap
        }
        finally reader.close()
      }
  }
}
