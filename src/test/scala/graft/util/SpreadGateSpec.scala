package graft.util

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The round-16 spread gate: `byKeyIfNarrow` fires only when the
  * input genuinely lacks scan parallelism, decides from the PLAN
  * alone (no job — `df.rdd` under AQE would materialize upstream
  * stages), and `byKey` stays unconditional for the exchange-reuse
  * shape. */
class SpreadGateSpec extends SparkSpec {
  import spark.implicits._

  private def width = spark.sessionState.conf.numShufflePartitions

  private def hasSpread(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.catalyst.plans.logical
          .RepartitionByExpression => r
    }.nonEmpty

  test("single-file parquet input (the fixture shape) still spreads") {
    val dir = TmpDirs.fresh("spreadgate_one")
    (1 to 100).toDF("id").coalesce(1).write.mode("overwrite").parquet(dir)
    val in = spark.read.parquet(dir)
    hasSpread(Spread.byKeyIfNarrow(in, col("id"))) shouldBe true
  }

  test("input already at shuffle width (post-shuffle relation) skips the spread") {
    val wideIn = (1 to 100).toDF("id").repartition(width, col("id"))
    hasSpread(Spread.byKeyIfNarrow(wideIn, col("id"))) shouldBe
      hasSpread(wideIn) // no ADDITIONAL repartition beyond the input's own
    val agg = (1 to 100).toDF("id").groupBy(col("id")).count()
    hasSpread(Spread.byKeyIfNarrow(agg, col("id"))) shouldBe false
  }

  test("many-split parquet input skips the spread; the gate launches no job") {
    val dir = TmpDirs.fresh("spreadgate_many")
    (1 to 1000).toDF("id").repartition(2 * width).write
      .mode("overwrite").parquet(dir)
    // tiny test files pack into one split at the 128 MB default (and
    // the gate correctly calls that narrow); shrink maxPartitionBytes
    // so the same files model a genuinely multi-split production input
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    try {
    val in = spark.read.parquet(dir)
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val out = Spread.byKeyIfNarrow(in, col("id"))
      hasSpread(out) shouldBe false
      // deliver every queued listener event, then assert no job ran
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      jobs.get shouldBe 0
    } finally spark.sparkContext.removeSparkListener(l)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("byKey stays unconditional (the exchange-reuse contract)") {
    val wideIn = (1 to 100).toDF("id").groupBy(col("id")).count()
    hasSpread(Spread.byKey(wideIn, col("id"))) shouldBe true
  }
}
