package graft

import org.scalatest.funsuite.AnyFunSuite

/** The round-16 Par hardening contract: shared named daemon pool (not the
  * JVM-global commonPool), Spark job attribution carried from the
  * submitting thread to the pool leg, and the sequential failure contract
  * (first failure wins, unwrapped; async legs drained before rethrow). */
class ParSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("both/all3: values return to their declaration positions") {
    assert(Par.both(1 + 1, "x" * 2) === ((2, "xx")))
    assert(Par.all3(1, 2L, "3") === ((1, 2L, "3")))
  }

  test("exceptions propagate unwrapped, async leg drained before rethrow") {
    val bRan = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException](
      Par.both(
        { Thread.sleep(50); throw new IllegalStateException("caller leg") },
        { Thread.sleep(150); bRan.set(true); 42 }))
    assert(e.getMessage === "caller leg")
    // the failure path awaited the running async leg — nothing detached
    assert(bRan.get())
    // async-leg failure propagates unwrapped too
    def boom(): Int = throw new IllegalArgumentException("async leg")
    val e2 = intercept[IllegalArgumentException](Par.both(1, boom()))
    assert(e2.getMessage === "async leg")
  }

  test("async legs run on the graft pool and carry the caller's job description") {
    val sc = spark.sparkContext
    sc.setJobDescription("par-spec-attribution")
    try {
      val (_, (thread, desc)) = Par.both(
        (),
        (Thread.currentThread().getName,
          Option(sc.getLocalProperty("spark.job.description"))))
      assert(thread.startsWith("graft-par"))
      assert(desc === Some("par-spec-attribution"))
      // the pool thread's pinned attribution was cleared after the leg:
      // a second submit from a clean caller sees no stale description
      sc.setJobDescription(null)
      val (_, desc2) = Par.both((), Option(sc.getLocalProperty("spark.job.description")))
      assert(desc2 === None)
    } finally sc.setJobDescription(null)
  }

  test("a wedged async leg cannot hang a failing caller leg past the drain bound") {
    val wedge = new java.util.concurrent.CountDownLatch(1)
    val leg   = Par.submit { wedge.await(); 42 } // never released: only an interrupt ends it
    val t0    = System.nanoTime()
    val e = intercept[IllegalStateException](
      Par.callerLeg(throw new IllegalStateException("caller leg"), drainMs = 300L, leg))
    val waitedMs = (System.nanoTime() - t0) / 1000000L
    assert(e.getMessage === "caller leg")
    assert(waitedMs >= 300L && waitedMs < 5000L, s"drain took $waitedMs ms")
    assert(leg.isCancelled, "the leg still running at the bound is interrupted")
  }
}
