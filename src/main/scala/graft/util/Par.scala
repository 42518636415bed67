package graft.util

import java.util.concurrent.{ForkJoinPool, FutureTask, TimeUnit}

import scala.util.Try

/** Bounded parallel execution for independent Spark jobs (e.g. the
  * three sample tiers of one import day — separate output tables, no
  * shared state). The Spark scheduler interleaves concurrently
  * submitted jobs across executor slots, which a serial loop leaves
  * idle.
  *
  * Nesting: calls nest freely and really run in parallel. The caller
  * first runs every item no pool thread has started yet, then waits
  * for the rest through `ForkJoinPool.managedBlock`; the pool replaces
  * a pool thread parked there with a spare, so `width` threads stay
  * runnable and a Par call inside a Par task cannot deadlock.
  *
  * Failure: `map`/`foreach` wait for EVERY item to finish, then
  * rethrow the first failure in input order. A call that throws has
  * therefore left no sibling still running or writing.
  */
object Par {
  /** Pool width: cores/4, floored at the historical 4 (round-15
    * measurement: the per-day ingest pipelines submit ~30 tiny
    * single-task jobs; at width 4 they drain in ~8 serialized waves
    * of ~200 ms scheduling latency each on a 32-core box). */
  private val width = math.max(4, Runtime.getRuntime.availableProcessors / 4)
  private val pool = new ForkJoinPool( // minimumRunnable = width
    width, ForkJoinPool.defaultForkJoinWorkerThreadFactory, null, false,
    width, width + 256, width, null, 60, TimeUnit.SECONDS)

  private def await[B](t: FutureTask[Try[B]]): Try[B] = {
    ForkJoinPool.managedBlock(new ForkJoinPool.ManagedBlocker {
      def block(): Boolean = { t.get(); true }
      def isReleasable: Boolean = t.isDone
    })
    t.get()
  }

  def foreach[A](items: Seq[A])(f: A => Unit): Unit = map(items)(f): Unit

  def map[A, B](items: Seq[A])(f: A => B): Seq[B] =
    if (items.sizeIs <= 1) items.map(f)
    else {
      val tasks = items.toVector.map(a => new FutureTask(() => Try(f(a))))
      tasks.foreach(t => pool.execute(t))
      tasks.foreach(_.run()) // no-op for an item a pool thread has started
      tasks.map(await).map(_.get)
    }
}
