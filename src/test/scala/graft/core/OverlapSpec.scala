package graft.core

import graft.SparkSpec
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

/** The job-overlap helper's contract: original exceptions, thunk-order
  * results, real concurrency under the cap, inherited local properties,
  * and no return or throw while a sibling thunk is still running. Only
  * the local-property case touches Spark. */
class OverlapSpec extends SparkSpec {

  test("a failing thunk surfaces its own exception, not a wrapper") {
    val e = intercept[IllegalStateException] {
      Overlap.all(Seq(() => 1, () => throw new IllegalStateException("x")))
    }
    assert(e.getMessage == "x")
  }

  test("later failures ride along as suppressed on the first") {
    val e = intercept[IllegalStateException] {
      Overlap.all(Seq[() => Int](
        () => throw new IllegalStateException("first"),
        () => throw new IllegalArgumentException("second")))
    }
    assert(e.getMessage == "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
  }

  test("results come back in thunk order") {
    val out = Overlap.all((0 until 9).map { i => () =>
      Thread.sleep((9 - i) * 5L)
      i * i
    })
    assert(out == (0 until 9).map(i => i * i))
  }

  test("two thunks overlap: each waits on the other's latch count") {
    val latch = new CountDownLatch(2)
    val met = Overlap.all(Seq.fill(2) { () =>
      latch.countDown()
      latch.await(10, TimeUnit.SECONDS)
    })
    assert(met == Seq(true, true))
  }

  test("at most MaxInFlight thunks run at once") {
    val running = new AtomicInteger(0)
    val peak = new AtomicInteger(0)
    Overlap.all(Seq.fill(12) { () =>
      peak.accumulateAndGet(running.incrementAndGet(), (a, b) => math.max(a, b))
      Thread.sleep(30)
      running.decrementAndGet()
    })
    assert(peak.get() <= Overlap.MaxInFlight)
  }

  test("every thunk sees the caller's SparkContext local properties") {
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.overlap.test", "span-7")
    try {
      val seen = Overlap.all(Seq.fill(3)(() => sc.getLocalProperty("graft.overlap.test")))
      assert(seen == Seq.fill(3)("span-7"))
    } finally sc.setLocalProperty("graft.overlap.test", null)
  }

  test("the exception reaches the caller only after every sibling finished") {
    val done = new AtomicBoolean(false)
    intercept[IllegalStateException] {
      Overlap.all(Seq(
        () => throw new IllegalStateException("x"),
        () => { Thread.sleep(300); done.set(true) }))
    }
    assert(done.get())
  }
}
