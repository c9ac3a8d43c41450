package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.helium.SparkSuite

/** The library-hygiene gate for query-internal persists: a caller
  * composing queries into a longer session must not accumulate dead
  * cached blocks. Two enforcement angles:
  *
  *  1. RUNTIME: sweep every `SparkEntry.queries` entry, release via
  *     [[Pinned.releaseAll]] (NOT `clearCache()` — that would mask a
  *     pin that never registered), and assert zero persistent RDDs
  *     remain. Locally-checkpointed RDDs are exempt: checkpoint storage
  *     lives at the RDD layer and the ContextCleaner reclaims it on GC
  *     (Iterate.truncate and p01's lineage cut use it by design).
  *  2. STATIC: every raw `.persist()` or `.cache()` in the main sources
  *     must route through `Pinned.pin`, so a future query cannot
  *     reintroduce an untracked pin. Sites with their own try/finally
  *     loan release (ExactlyOnceSink.writeBatch, the follower's
  *     per-batch blocks and payloads) are allowlisted.
  */
class CacheLeakSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def leaked: Seq[String] =
    spark.sparkContext.getPersistentRDDs.values.toSeq
      .filterNot(_.isCheckpointed) // covers localCheckpoint (lineage cuts)
      .map(r => s"RDD ${r.id}: ${r.name}")

  test("every query releases its pins: no persistent RDDs survive " +
    "releaseAll, without clearCache()") {
    // start clean — an earlier suite in the same JVM may have pinned
    Pinned.releaseAll(spark)
    spark.catalog.clearCache()
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sf).count()
      catch { case e: Throwable => fail(s"$name failed: ${e.getMessage}") }
      Pinned.releaseAll(spark)
      assert(Pinned.outstanding(spark) == 0)
      val l = leaked
      assert(l.isEmpty, s"$name leaked ${l.size} cached RDDs: $l")
    }
  }

  test("static: every raw .persist() in main routes through Pinned.pin " +
    "or an allowlisted loan site") {
    val allowed = Set(
      "src/main/scala/graft/Pinned.scala",          // the registry itself
      "src/main/scala/graft/helium/ExactlyOnceSink.scala", // try/finally loan
      "src/main/scala/graft/helium/Follower.scala"         // try/finally loan
    )
    val root = Paths.get("src/main/scala")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(p => allowed(p.toString))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if (line.contains(".persist()") ||
              line.contains(".cache()")) &&
            !line.trim.startsWith("*") && !line.trim.startsWith("//") =>
            s"$p:${i + 1}: $line"
        }
      }.toSeq
    assert(offenders.isEmpty,
      s"untracked persists (route through Pinned.pin):\n${offenders.mkString("\n")}")
  }

  test("x01 leaves at most one memory-sink view however often it runs") {
    def sinks = spark.catalog.listTables().collect()
      .count(t => t.isTemporary && t.name.startsWith("x01_span_out_"))
    val x01 = SparkEntry.queries("x01_stream_span_dedup")
    (1 to 2).foreach(_ => x01(spark, sf).count())
    assert(sinks <= 1, s"$sinks x01 memory-sink views left in the session")
  }
}
