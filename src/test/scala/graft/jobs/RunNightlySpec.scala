package graft.jobs

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Similarity

/** RunNightly: two chained composed ticks must leave every persisted
  * relation equal to a fresh rebuild of the final snapshot — with the
  * vector postings compared under the PINNED bootstrap model. */
class RunNightlySpec extends SparkSpec {

  private def docsAt(dropMod: Long, patch: Boolean): DataFrame =
    graft.Tables.documents(spark, sfSmoke)
      .filter(col("doc_id") % 10 =!= dropMod)
      .select(col("doc_id"),
        (if (patch)
          when(col("doc_id") % 10 === 3, concat(col("text"), lit(" vN")))
            .otherwise(col("text"))
        else col("text")).as("text"),
        col("lang"), col("source"))

  private def vecsAt(flip: Boolean): DataFrame =
    graft.Tables.embeddings(spark, sfSmoke)
      .select(col("vec_id"),
        (if (flip)
          when(col("vec_id") % 10 === 5, transform(col("embedding"), x => -x))
            .otherwise(col("embedding"))
        else col("embedding")).as("embedding"))

  test("two composed ticks equal a fresh rebuild of the final snapshot") {
    val dir = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "nightly")
      .toString
    val d0 = docsAt(3L, patch = false)
    val d1 = docsAt(7L, patch = false)
    val d2 = docsAt(7L, patch = true) // same membership as d1, text patch
    val v0 = vecsAt(flip = false)
    val v1 = vecsAt(flip = true)
    val v2 = v1 // vectors stable on the second tick

    RunNightly.tick(spark, dir, d0, d1, v0, v1)
    RunNightly.tick(spark, dir, d1, d2, v1, v2)

    // text hash index == rebuild(d2)
    val wantHash = IndexMaintenance.rebuild(d2, "doc_id", "text")
      .hashIndex.orderBy("h").collect()
    IndexMaintenance.load(spark, s"$dir/index").get
      .hashIndex.orderBy("h").collect() shouldBe wantHash

    // card == rebuild(d2)
    val wantCard = CardMaintenance.card(
      CardMaintenance.rebuild(d2, "doc_id", "text")).orderBy("lang").collect()
    CardMaintenance.card(CardMaintenance.load(spark, s"$dir/card").get)
      .orderBy("lang").collect() shouldBe wantCard

    // vector postings == rebuild(v2) under the PINNED bootstrap model
    val model = RunNightly.loadModel(spark, s"$dir/model").get
    val wantPost = Similarity.ivfSqIndexBuild(
        v2.select(col("vec_id").as("id"), col("embedding").as("vec")),
        "id", "vec", model.centroids, model.scales)
      .orderBy("id").collect()
    spark.read.parquet(s"$dir/vecindex")
      .select("id", "cell", "code").orderBy("id").collect() shouldBe wantPost

    // covariance state == direct stats over v2
    val wantCov = Similarity.covarianceStats(v2, "embedding", 64)
      .orderBy("d1", "d2").collect()
    spark.read.parquet(s"$dir/cov")
      .select("d1", "d2", "n", "s1", "s2", "s12")
      .orderBy("d1", "d2").collect() shouldBe wantCov

    // tokenizer card == rebuild(d2) under the PINNED bootstrap merges
    val tokState = TokenizerMaintenance.load(spark, s"$dir/tokenizer").get
    val pinned = TokenizerMaintenance.mergesOf(tokState)
    pinned shouldBe TokenizerMaintenance.mergesOf(
      TokenizerMaintenance.rebuild(d0, "doc_id", "text"))
    val wantTok = TokenizerMaintenance.card(TokenizerMaintenance.TokState(
        tokState.merges,
        TokenizerMaintenance.rebuildCountersUnder(d2, "doc_id", "text", pinned)))
      .orderBy("lang").collect()
    TokenizerMaintenance.card(tokState)
      .orderBy("lang").collect() shouldBe wantTok
  }

  test("the bootstrap-trained model is pinned: a tick never rewrites it") {
    val dir = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "nightlym")
      .toString
    val d0 = docsAt(3L, patch = false)
    val d1 = docsAt(7L, patch = false)
    RunNightly.tick(spark, dir, d0, d1, vecsAt(false), vecsAt(true))
    val m1 = RunNightly.loadModel(spark, s"$dir/model").get
    RunNightly.tick(spark, dir, d1, d1, vecsAt(true), vecsAt(true))
    val m2 = RunNightly.loadModel(spark, s"$dir/model").get
    m2.centroids.map { case (c, v) => (c, v.toSeq) } shouldBe
      m1.centroids.map { case (c, v) => (c, v.toSeq) }
    m2.scales.toSeq shouldBe m1.scales.toSeq
  }

  /** A bootstrap tick d0 → d1, then a steady tick d1 → d2 with its
    * Spark jobs counted. */
  private class SteadyTick {
    val dir: String = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "nightlyj")
      .toString
    val first: String = RunNightly.tick(spark, dir,
      docsAt(3L, patch = false), docsAt(7L, patch = false), vecsAt(false), vecsAt(true))
    private val sc = spark.sparkContext
    private val started = new AtomicInteger
    private val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.incrementAndGet(): Unit
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(counter)
    val second: String =
      try {
        val line = RunNightly.tick(spark, dir,
          docsAt(7L, patch = false), docsAt(7L, patch = true), vecsAt(true), vecsAt(true))
        ListenerBusDrain(sc)
        line
      } finally sc.removeSparkListener(counter)
    val jobs: Int = started.get
  }
  private lazy val steady = new SteadyTick

  test("the [nightly] line of a bootstrap and a steady tick") {
    steady.first shouldBe "[nightly] index: hashes=450 bands=1800 | card: langs=5 | " +
      "vecindex: postings=500 | cov: pairs=2080 | tokenizer: merges=10 langs=5 | " +
      "guards: capped_buckets=1 pairs_est=17788 budget=100000000 binding=true"
    steady.second shouldBe "[nightly] index: hashes=450 bands=1800 | card: langs=5 | " +
      "vecindex: postings=500 | cov: pairs=2080 | tokenizer: merges=10 langs=5 | " +
      "guards: capped_buckets=1 pairs_est=17787 budget=100000000 binding=true"
  }

  test("job budget: one steady tick") {
    // 110 with the counts and the card's languages observed as the
    // saves write; the tick that reloaded and recounted every state
    // after the barrier ran 133-134
    steady.jobs should be <= 110
  }
}
