package graft.operators

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicBoolean

import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession

import graft.helium.SparkSuite

/** [[Overlap.both]]'s failure path: the background leg is drained before
  * the foreground leg's exception is rethrown, but never for longer than
  * the drain bound. And its background leg runs with the caller's Spark
  * thread-locals, not a pooled thread's stale ones. */
class OverlapSpec extends SparkSuite {

  test("each background leg sees its own caller's local properties and " +
    "active session") {
    val sc = spark.sparkContext
    val key = "graft.overlap.spec"
    // what the background leg's job carries, and whether its active
    // session is the caller's
    def background(value: String, active: SparkSession): (String, Boolean) = {
      sc.setLocalProperty(key, value)
      SparkSession.setActiveSession(active)
      try Overlap.both(spark,
        (sc.parallelize(Seq(0), 1)
          .map(_ => org.apache.spark.TaskContext.get().getLocalProperty(key))
          .collect().head,
          SparkSession.getActiveSession.exists(_ eq active)),
        ())._1
      finally {
        sc.setLocalProperty(key, null)
        SparkSession.setActiveSession(spark)
      }
    }
    // two successive calls: the second reuses the first's pool thread
    assert(background("first", spark) == (("first", true)))
    assert(background("second", spark.newSession()) == (("second", true)))
  }

  test("a failed foreground leg waits for the background leg to finish") {
    val done = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Overlap.both(spark, { Thread.sleep(200); done.set(true) },
        throw new IllegalStateException("foreground"))
    }
    assert(e.getMessage == "foreground")
    assert(done.get(), "rethrown before the background leg finished")
  }

  test("a hung background leg delays the original exception only up to " +
    "the drain bound") {
    val hang = new CountDownLatch(1)
    try {
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException] {
        Overlap.both(spark, hang.await(),
          throw new IllegalStateException("foreground"),
          drainBound = 300.millis)
      }
      val waited = (System.nanoTime() - t0).nanos
      assert(e.getMessage == "foreground")
      assert(waited >= 300.millis && waited < 30.seconds, s"waited $waited")
    } finally hang.countDown()
  }
}
