package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

/** `QUtil.inParallel` drains its tasks in completion order: a failure
  * surfaces while earlier-submitted tasks still run, and the pool is
  * shut down hard behind it. The first test needs at least two pool
  * threads: SPARK_GRAFT_INTRA_SLOTS unset or at least 2. */
class InParallelSpec extends AnyFunSuite {

  test("a failing task surfaces without waiting for a blocked earlier task, and the pool stops") {
    val release = new CountDownLatch(1)
    val interrupted = new CountDownLatch(1)
    // releases task 0 if nothing interrupts it, so a submission-order
    // drain fails on the elapsed time instead of hanging
    val watchdog = new Thread(() => { Thread.sleep(10000); release.countDown() })
    watchdog.setDaemon(true)
    watchdog.start()
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      QUtil.inParallel(Seq(
        () => {
          try { release.await(); 0 }
          catch { case ie: InterruptedException => interrupted.countDown(); throw ie }
        },
        () => throw new IllegalStateException("task 1 failed")), slots = 2)
    }
    val elapsedS = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage == "task 1 failed")
    assert(elapsedS < 5, s"the failure waited ${elapsedS}s for the blocked task")
    assert(interrupted.await(5, TimeUnit.SECONDS), "the blocked task was never interrupted: the pool kept running")
  }

  test("results keep submission order whatever order the tasks finish in") {
    val first = new CountDownLatch(1)
    val got = QUtil.inParallel(Seq(
      () => { first.await(10, TimeUnit.SECONDS); "a" },
      () => { first.countDown(); "b" },
      () => "c"), slots = 3)
    assert(got == Seq("a", "b", "c"))
  }
}
