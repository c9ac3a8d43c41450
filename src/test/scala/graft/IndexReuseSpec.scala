package graft

import java.nio.file.{Files, Paths}

import graft.helium.SparkSuite

/** The nightly-serving contract for the delta-dedup indexes: with
  * `…buildIndex=false`, d24/m12 consume a pre-built artifact VERBATIM —
  * identical verdicts, and the index files untouched on disk (no
  * rebuild, so the base partition is never rescanned or re-decoded). */
class IndexReuseSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  // recursive: the index root is a generation store (gen=N subdirs) —
  // serve mode must leave every generation's files untouched
  private def fileState(dir: String): Map[String, (Long, Long)] = {
    val d = Paths.get(dir)
    import scala.jdk.CollectionConverters._
    Files.walk(d).iterator().asScala
      .filter(p => Files.isRegularFile(p))
      .map(p => d.relativize(p).toString ->
        ((Files.size(p), Files.getLastModifiedTime(p).toMillis)))
      .toMap
  }

  private def roundTrip(q: String, dirConf: String, buildConf: String)
      : Unit = {
    val idx = Files.createTempDirectory("reuse").toString
    spark.conf.set(dirConf, idx)
    try {
      val built = SparkEntry.queries(q)(spark, sf)
        .orderBy("verdict", "winner").collect().toSeq
      Pinned.releaseAll(spark)
      val frozen = fileState(idx)
      assert(frozen.nonEmpty, s"$q wrote no index files")
      spark.conf.set(buildConf, "false")
      val served = SparkEntry.queries(q)(spark, sf)
        .orderBy("verdict", "winner").collect().toSeq
      Pinned.releaseAll(spark)
      assert(served == built,
        s"$q serve-mode verdicts diverge from build-mode")
      assert(fileState(idx) == frozen,
        s"$q serve mode rewrote the index")
    } finally {
      spark.conf.unset(dirConf)
      spark.conf.unset(buildConf)
    }
  }

  test("d24 buildIndex=false serves frozen-artifact verdicts without " +
    "touching the index files") {
    roundTrip("d24_delta_dedup",
      "spark.graft.d24.indexDir", "spark.graft.d24.buildIndex")
  }

  test("m12 buildIndex=false serves frozen-artifact verdicts without " +
    "touching the index files (base media never re-decoded)") {
    roundTrip("m12_media_delta",
      "spark.graft.m12.indexDir", "spark.graft.m12.buildIndex")
  }

  test("p04 buildIndex=false runs the incremental night from the " +
    "frozen index: identical shard receipt, index files untouched") {
    val idx = Files.createTempDirectory("reuse_p04").toString
    spark.conf.set("spark.graft.p04.indexDir", idx)
    try {
      val built = SparkEntry.queries("p04_incremental_shards")(spark, sf)
        .orderBy("shard").collect().toSeq
      Pinned.releaseAll(spark)
      val frozen = fileState(idx)
      assert(frozen.nonEmpty, "p04 wrote no index files")
      spark.conf.set("spark.graft.p04.buildIndex", "false")
      val served = SparkEntry.queries("p04_incremental_shards")(spark, sf)
        .orderBy("shard").collect().toSeq
      Pinned.releaseAll(spark)
      assert(served == built,
        "p04 serve-mode receipt diverges from build-mode")
      assert(fileState(idx) == frozen, "p04 serve mode rewrote the index")
    } finally {
      spark.conf.unset("spark.graft.p04.indexDir")
      spark.conf.unset("spark.graft.p04.buildIndex")
    }
  }

  test("d24 serve mode honors the readGen pin: after an advance, " +
    "readGen=N-1 reproduces the pre-advance verdicts exactly") {
    import spark.implicits._
    val idx = Files.createTempDirectory("reuse_pin").toString
    spark.conf.set("spark.graft.d24.indexDir", idx)
    try {
      // build + serve once (generation 0), then advance the store with
      // a night containing an exact copy of a delta doc that was
      // previously UNIQUE — the advanced index will catch it, the
      // pinned read must not
      val before = SparkEntry.queries("d24_delta_dedup")(spark, sf)
        .orderBy("doc_id").collect().toSeq
      Pinned.releaseAll(spark)
      val victimId = before
        .filter(_.getAs[String]("verdict") == "unique")
        .map(_.getAs[Long]("doc_id")).min
      val victimText = spark.read.parquet(s"$sf/documents.parquet")
        .filter(org.apache.spark.sql.functions.col("doc_id") === victimId)
        .select("text").as[String].head()
      val night = Seq((900000L, victimText, "src0"))
        .toDF("doc_id", "text", "source")
      graft.queries.DeltaAxis.Text.advance(spark, idx, night)
      Pinned.releaseAll(spark)
      spark.conf.set("spark.graft.d24.buildIndex", "false")
      // the pinned serve reproduces the pre-advance world verbatim…
      spark.conf.set("spark.graft.index.readGen", "0")
      val pinnedRun = SparkEntry.queries("d24_delta_dedup")(spark, sf)
        .orderBy("doc_id").collect().toSeq
      Pinned.releaseAll(spark)
      assert(pinnedRun == before,
        "readGen-pinned serve diverged from the pre-advance verdicts")
      // …while the live serve sees the folded night: the victim flips
      // unique → exact against the night doc
      spark.conf.unset("spark.graft.index.readGen")
      val live = SparkEntry.queries("d24_delta_dedup")(spark, sf)
        .orderBy("doc_id").collect().toSeq
      Pinned.releaseAll(spark)
      val victimLive = live.find(_.getAs[Long]("doc_id") == victimId).get
      assert(victimLive.getAs[String]("verdict") == "exact" &&
        victimLive.getAs[Long]("winner") == 900000L,
        s"live serve missed the folded night doc: $victimLive")
      assert(live != before, "serve faces resolved the same generation")
    } finally {
      spark.conf.unset("spark.graft.d24.indexDir")
      spark.conf.unset("spark.graft.d24.buildIndex")
      spark.conf.unset("spark.graft.index.readGen")
    }
  }
}
