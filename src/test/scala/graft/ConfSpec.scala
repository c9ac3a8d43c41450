package graft

import graft.helium.SparkSuite

/** [[Conf]] — the one reader for `spark.graft.*` switches and numbers. */
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

  test("numbers: unset reads the default or None; whole numbers parse") {
    assert(Conf.long(spark, Key).isEmpty && Conf.int(spark, Key).isEmpty)
    assert(Conf.long(spark, Key, 7L) == 7L && Conf.int(spark, Key, 7) == 7)
    assert(withConf("-12")(Conf.long(spark, Key)).contains(-12L))
    assert(withConf("3000000000")(Conf.long(spark, Key, 0L)) == 3000000000L)
    assert(withConf("42")(Conf.int(spark, Key, 0)) == 42)
  }

  test("a non-number fails with the key in the message") {
    Seq("", "4x", "1.5", " 1", "0x10", "true").foreach { v =>
      val es = Seq(
        intercept[IllegalArgumentException](withConf(v)(Conf.long(spark, Key))),
        intercept[IllegalArgumentException](withConf(v)(Conf.int(spark, Key, 1))))
      es.foreach(e => assert(e.getMessage.contains(Key), s"'$v': $e"))
    }
    // in range for a long, not for an int
    val e = intercept[IllegalArgumentException](
      withConf("3000000000")(Conf.int(spark, Key)))
    assert(e.getMessage.contains(Key), e.getMessage)
  }

  test("spark.graft.index.readGen=abc fails naming the key") {
    spark.conf.set("spark.graft.index.readGen", "abc")
    try {
      val e = intercept[IllegalArgumentException](
        graft.operators.IndexGenerations.readByConf(spark, "/nonexistent"))
      assert(e.getMessage.contains("spark.graft.index.readGen"), e.getMessage)
    } finally spark.conf.unset("spark.graft.index.readGen")
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
