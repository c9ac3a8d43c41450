package graft

import graft.helium.SparkSuite

/** [[Conf.flag]] — the one boolean reader for `spark.graft.*` switches. */
class ConfSpec extends SparkSuite {

  private val Key = "spark.graft.test.flag"

  private def withConf[T](v: String)(f: => T): T = {
    spark.conf.set(Key, v)
    try f finally spark.conf.unset(Key)
  }

  test("unset reads the default; true/false parse in any case") {
    assert(Conf.flag(spark, Key, default = true))
    assert(!Conf.flag(spark, Key, default = false))
    Seq("true", "TRUE", "True").foreach(v =>
      assert(withConf(v)(Conf.flag(spark, Key, default = false)), v))
    Seq("false", "FALSE", "fAlSe").foreach(v =>
      assert(!withConf(v)(Conf.flag(spark, Key, default = true)), v))
  }

  test("any other value fails with the key in the message") {
    Seq("0", "1", "off", "yes", "", " true").foreach { v =>
      val e = intercept[IllegalArgumentException](
        withConf(v)(Conf.flag(spark, Key, default = true)))
      assert(e.getMessage.contains(Key), e.getMessage)
    }
  }

  test("spark.graft.pin=0 fails instead of silently pinning") {
    import spark.implicits._
    spark.conf.set("spark.graft.pin", "0")
    try {
      val e = intercept[IllegalArgumentException](Pinned.pin(Seq(1).toDF("x")))
      assert(e.getMessage.contains("spark.graft.pin"))
    } finally {
      spark.conf.unset("spark.graft.pin")
      Pinned.releaseAll(spark)
    }
  }
}
