package graft.helium

import java.nio.file.Files

import Model._

/** CLI assembly: settings file → follower → queryable tables. */
class MainSpec extends SparkSuite {

  private def settingsFile(mode: String, root: String): String = {
    val f = Files.createTempFile("settings", ".toml")
    Files.writeString(f,
      s"""node_addr = "fixture://${fixture("basic")}"
         |database_url = "$root"
         |mode = "$mode"
         |backfill = "false"
         |[log]
         |log_dir = "log"
         |""".stripMargin)
    f.toString
  }

  test("start (rewards mode) from a settings file drains the fixture node") {
    val root = Files.createTempDirectory("mainroot").toString
    // pre-position the cursor (backfill=false would start at the tip)
    new StateStore(spark, root).advance(IngestState(99, 100))
    val s = Settings.parse(settingsFile("rewards", root))
    val q = Main.runStart(spark, s)
    q.processAllAvailable()
    q.stop()
    assert(spark.read.parquet(s"$root/rewards").count() == 5)
  }

  test("filters mode reads allowlists from the filters table") {
    import spark.implicits._
    val root = Files.createTempDirectory("mainroot2").toString
    Seq(("account", "acct1"), ("gateway", "gw2"))
      .toDF("type", "value").write.parquet(s"$root/filters")
    new StateStore(spark, root).advance(IngestState(99, 100))
    val s = Settings.parse(settingsFile("filters", root))
    val q = Main.runStart(spark, s)
    q.processAllAvailable()
    q.stop()
    assert(spark.read.parquet(s"$root/rewards").count() == 3)
  }

  test("node scheme dispatch: fixture and http resolve, unknown is a clear error") {
    assert(NodeClient.forAddr("http://127.0.0.1:4467").isInstanceOf[HttpNode])
    assert(NodeClient.forAddr("https://node.example:443").isInstanceOf[HttpNode])
    assert(NodeClient.forAddr("fixture:///tmp/fx").isInstanceOf[FixtureNode])
    assert(NodeClient.forAddr("/tmp/fx").isInstanceOf[FixtureNode]) // bare dir
    // a scheme-less host:port is a config typo, not a fixture dir — must
    // fail up front with a clear message, not at first trigger
    intercept[IllegalArgumentException] { NodeClient.forAddr("localhost:4467") }
    val ex = intercept[IllegalArgumentException] {
      NodeClient.forAddr("grpc://127.0.0.1:4467")
    }
    assert(ex.getMessage.contains("NodeClient"))
  }
}
