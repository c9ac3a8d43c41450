package graft.helium

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import Model._

/** CLI parity with the reference binary (src/main.rs:19-42):
  * `helium_etl_lite start` / `helium_etl_lite migrate`, config from a
  * TOML file (default config/settings.toml, same as the reference).
  *
  * `node_addr` selects the node backend by scheme: `fixture:///dir` runs
  * against JSONL fixtures ([[FixtureNode]]); `http(s)://host:port` talks
  * JSON-RPC 2.0 to a blockchain-node ([[HttpNode]] — exercised in tests
  * against an in-process mock server: the container is zero-egress).
  */
object Main {

  def runMigrate(spark: SparkSession, s: Settings.HeliumSettings): Unit =
    Migrate.run(spark, s.dataRoot)

  /** Assemble and start the follower per settings: Filters mode loads the
    * allowlists from the `filters` table under dataRoot (the reference
    * reads them from its filters table at startup, src/follower.rs:43-57). */
  def runStart(spark: SparkSession, s: Settings.HeliumSettings,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery = {
    val lists = s.mode match {
      case EtlMode.Filters =>
        val path = s"${s.dataRoot}/filters"
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(new org.apache.hadoop.fs.Path(path)))
          Transforms.partitionFilters(spark.read.parquet(path))
        else Allowlists(Set.empty, Set.empty)
      case _ => Allowlists(Set.empty, Set.empty)
    }
    NodeClient.forAddr(s.nodeAddr) // validate scheme
    Follower.start(spark, s.nodeAddr, s.dataRoot, s.mode, lists,
      backfill = s.backfill, trigger = trigger)
  }

  def main(args: Array[String]): Unit = {
    val cmd = args.headOption.getOrElse("start")
    val configPath = args.drop(1).headOption.getOrElse("config/settings.toml")
    val settings = Settings.parse(configPath)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[8]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.ui.enabled", "false")
      .appName("helium-etl-lite-spark")
      .getOrCreate()
    try cmd match {
      case "migrate" => runMigrate(spark, settings)
      case "start" =>
        val q = runStart(spark, settings)
        sys.addShutdownHook { q.stop() } // ctrl-c parity (src/main.rs:48-52)
        q.awaitTermination()
      case other =>
        System.err.println(s"unknown command '$other' (expected start|migrate)")
        sys.exit(2)
    } finally spark.stop()
  }
}
