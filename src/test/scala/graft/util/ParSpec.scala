package graft.util

import java.util.concurrent.{CountDownLatch, ForkJoinPool, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** `Par`'s contract: input order, fail only after every item has
  * stopped, and nested calls that really run in parallel. */
class ParSpec extends AnyFunSuite with Matchers {

  test("results keep input order") {
    val items = 1 to 24
    Par.map(items) { i =>
      Thread.sleep((items.size - i).toLong * 5) // early items finish last
      i * i
    } shouldBe items.map(i => i * i)
  }

  test("a failing item rethrows only after a slower sibling has finished") {
    val siblingDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Par.foreach(Seq(0, 1)) { i =>
        if (i == 0) throw new IllegalStateException("boom")
        Thread.sleep(500)
        siblingDone.set(true)
      }
    }
    e.getMessage shouldBe "boom"
    siblingDone.get shouldBe true
  }

  /** Counts down, then waits for the others the way a blocking pool
    * task should: through `managedBlock`, so the pool can run queued
    * work on another thread meanwhile. True when all have met. */
  private def meet(latch: CountDownLatch): Boolean = {
    latch.countDown()
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(20)
    ForkJoinPool.managedBlock(new ForkJoinPool.ManagedBlocker {
      def block(): Boolean = {
        latch.await(deadline - System.nanoTime(), TimeUnit.NANOSECONDS)
        true
      }
      def isReleasable: Boolean = latch.getCount == 0 || System.nanoTime() >= deadline
    })
    latch.getCount == 0
  }

  test("a Par.map nested inside a Par.map runs concurrently") {
    // all four inner items must be running at once to pass the latch;
    // inner calls run one at a time would leave it waiting for the
    // timeout
    val latch = new CountDownLatch(4)
    val met = Par.map(Seq(0, 1))(_ => Par.map(Seq(0, 1))(_ => meet(latch)))
    met.flatten shouldBe Seq.fill(4)(true)
  }
}
