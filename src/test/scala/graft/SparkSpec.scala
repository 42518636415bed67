package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local session for all suites (one JVM-wide session — Spark
  * startup dominates suite time otherwise). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("graft-test", 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(s)
    s
  }
}

trait SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = TestSpark.spark
  /** sf0.001 smoke data (TESTDATA.md). */
  val sfSmoke = "/root/testdata/sf0.001"

  /** `body`'s result and the Spark jobs started while it runs. */
  def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.incrementAndGet(): Unit
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(counter)
    try {
      val a = body
      org.apache.spark.ListenerBusDrain(sc)
      (a, started.get)
    } finally sc.removeSparkListener(counter)
  }
}
