package graft.operators

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicBoolean

import scala.concurrent.duration._

import graft.helium.SparkSuite

/** [[Overlap.both]]'s failure path: the background leg is drained before
  * the foreground leg's exception is rethrown, but never for longer than
  * the drain bound. */
class OverlapSpec extends SparkSuite {

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
