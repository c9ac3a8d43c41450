package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, TimestampType}

/** Table loaders + oracle-parity numeric helpers.
  *
  * Design note (100 TB): every loader is a plain parquet scan — Catalyst
  * pushes filters/projections into the scan (verified via
  * `.explain("formatted")`, see `PushedFilters`/`ReadSchema`), so queries
  * built on these helpers prune columns and row groups for free. At cluster
  * scale the same code reads a partitioned table root instead of a single
  * file; nothing here assumes single-file inputs.
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String)    = t(s, d, "region")
  def nation(s: SparkSession, d: String)    = t(s, d, "nation")
  def customer(s: SparkSession, d: String)  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String)  = t(s, d, "supplier")
  def part(s: SparkSession, d: String)      = t(s, d, "part")
  def orders(s: SparkSession, d: String)    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String)  = t(s, d, "lineitem")
  /** `events.ts` has drifted across driver testdata generations: parquet
    * TIMESTAMP(NANOS) (arrives as raw long nanos under the legacy switch) in
    * one vintage, TIMESTAMP_MICROS isAdjustedToUTC=0 (arrives as
    * TIMESTAMP_NTZ) in another. Keep the nanos switch on so the nanos
    * vintage still loads, and let queries adapt per-dtype via [[epochUs]] —
    * a driver-side regeneration then changes the scan, not the results. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    t(s, d, "events")
  }

  /** Event time as epoch microseconds, adaptive to how the parquet writer
    * encoded `ts` (see [[events]]): long nanos → integer `div 1000`;
    * TIMESTAMP_NTZ → cast to timestamp (wall-clock identity under the UTC
    * session every entry point pins) then `unix_micros`; plain timestamp →
    * `unix_micros` directly. Matches DuckDB `epoch_us(ts)` bit-for-bit on
    * every vintage. Pure column expression — stays inside whole-stage
    * codegen either way. */
  def epochUs(df: DataFrame): Column = df.schema("ts").dataType match {
    case LongType      => expr("ts div 1000")
    case TimestampType => unix_micros(col("ts"))
    case _             => unix_micros(col("ts").cast(TimestampType))
  }
  /** Floor a compute-heavy operator's input parallelism at the session's
    * core count.
    *
    * Parquet splits by row group, so a small input — one row group per
    * file, the shape of every local testdata table — plans as a ONE-task
    * scan stage and any expensive per-row pass over it (MinHash/SimHash
    * signatures, media synthesis + codec decode, multi-pass feed chains)
    * runs serially while the other cores idle. A production 100 TB table
    * has orders of magnitude more row groups than cores, so there this is
    * a pure no-op (the `<` guard fails and no exchange is added); when the
    * input IS narrower than the cluster, one round-robin exchange of the
    * (small by premise) input buys full-width execution of everything
    * downstream — the "derive parallelism from the input, not a constant"
    * rule.
    *
    * Scoped to the CONSUMERS that do heavy per-row work (media decode,
    * the p05 feed base), NOT the table loaders: r15 applied it blanket in
    * `documents`/`embeddings` and the ~0.1–0.3 s fixed exchange+stage tax
    * regressed every scan-bound light query 30–60% (PERF_r15), while only
    * the decode-heavy m-family and p05 won. Row-order independence: every
    * declared query is oracle-checked under sorted compare and already
    * runs over hash/AQE-coalesced partitionings at varying core counts;
    * money aggregates go through [[dec]]. Round-robin repartition keeps
    * task retries deterministic (sort-before-repartition, SPARK-23207).
    * Opt out with `spark.graft.scan.fanout=false` (any value other than
    * true/false fails, [[Conf.flag]]). */
  private[graft] def fanOut(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val on = Conf.flag(s, "spark.graft.scan.fanout", true)
    val target = s.sparkContext.defaultParallelism
    if (on && df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  def documents(s: SparkSession, d: String) = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String) = t(s, d, "embeddings")

  /** Id shift for [[documentsWithProbe]]: a multiple of 3, so the media
    * kind derived from `doc_id % 3` is preserved for the planted rows,
    * and large enough that planted ids can never collide with corpus
    * ids at any test scale factor. */
  val ProbeShift = 999999999L

  /** `documents` plus three PLANTED exact copies (ids shifted by
    * [[ProbeShift]]) — the input of the dup-group queries (d01, m11;
    * t05 plants a case-mangled variant on top). The testdata corpus is
    * exact-dup-clean by construction, so those queries' honest answer
    * on the raw table is EMPTY — a 0-row result that hash-matches a
    * 0-row oracle proves only the absence of dups. Planting three
    * deterministic copies (expressed identically in the DuckDB oracle
    * as a UNION ALL) makes the comparison prove the POSITIVE path:
    * group formation, dup counting, min-id canonicalization. */
  def documentsWithProbe(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    docs.unionByName(docs.filter(col("doc_id") < 3)
      .withColumn("doc_id", col("doc_id") + lit(ProbeShift)))
  }

  /** The oracle-side twin of [[documentsWithProbe]] as a CTE body. */
  val probeDocsSql: String =
    s"""SELECT doc_id, text, lang, source, n_chars FROM documents
       |  UNION ALL
       |  SELECT doc_id + $ProbeShift AS doc_id, text, lang, source,
       |    n_chars FROM documents WHERE doc_id < 3""".stripMargin

  /** Cast a double column to an exact decimal before aggregation.
    *
    * Double-sum results depend on accumulation order, which differs between
    * Spark's partial/final aggregation and DuckDB's — and between runs at
    * different parallelism. Summing exact decimals is order-independent, so
    * Spark and the DuckDB oracle agree bit-for-bit; the final cast back to
    * double is deterministic (exact rational → nearest double).
    */
  def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Order-independent sum of a money-like double column, output as double. */
  def sumd(c: Column): Column = sum(dec(c)).cast("double")

  /** Matching DuckDB SQL fragment for [[sumd]]. */
  def sqlSumd(expr: String): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(18,2))) AS DOUBLE)"
}
