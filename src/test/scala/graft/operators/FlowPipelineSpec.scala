package graft.operators

import java.time.LocalDate

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.SampleTier
import graft.sources.CsvEventSource
import graft.util.TmpDirs

/** The 12-step cascade on a hand-traced 2-day fixture.
  *
  * Flows (32-char hex ids; cohort = first-7-hex-chars % 100):
  *  f1 (cohort 0):  begin d1, signin d1 (ft100), complete d2 (ft5000,
  *                  locale en, uid u1) → completed, duration 5000 (I2
  *                  late-data: the d+1 event folds in).
  *  f2 (cohort 28): begin d2 only → duration 0, locale/uid null.
  *  f3 (cohort 0):  begin d1 (locale fr, uid u3), continued.bbb… d1,
  *                  account.created d1 → new_account, continued_from.
  *  f4 (cohort 0):  begin d1 (context ''), experiment.expA.treatment d1
  *                  (uid ''), viewed d1 (ctxZ, de, u4) → backfilled
  *                  context, experiment uid updated to u4 (step 12).
  *  f5 (cohort 55): begin d1 → only in the 100% tier.
  */
class FlowPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val f1 = "00000001" + "a" * 24
  private val f2 = "80000002" + "a" * 24
  private val f3 = "00000003" + "a" * 24
  private val f4 = "00000004" + "a" * 24
  private val f5 = "ffffffff" + "a" * 24
  private val contTarget = "b" * 32

  private def line(ts: Long, tpe: String, fid: String, ft: Long,
      context: String = "", locale: String = "", uid: String = ""): String =
    s"$ts,$tpe,$fid,$ft,fb,v,os,$context,ep,,svc,camp,con,med,src,term,$locale,$uid"

  private val day1 = Seq(
    line(1704067200L, "flow.begin", f1, 0),
    line(1704067300L, "flow.signin", f1, 100),
    line(1704067400L, "flow.begin", f3, 0, context = "ctx3", locale = "fr", uid = "u3"),
    line(1704067500L, s"flow.continued.$contTarget", f3, 10),
    line(1704067600L, "account.created", f3, 20, locale = "fr", uid = "u3"),
    line(1704067700L, "flow.begin", f4, 0),
    line(1704067800L, "flow.experiment.expA.treatment", f4, 30),
    line(1704067900L, "flow.viewed", f4, 50, context = "ctxZ", locale = "de", uid = "u4"),
    line(1704068000L, "flow.begin", f5, 0, uid = "u5"))

  private val day2 = Seq(
    line(1704153700L, "flow.begin", f2, 0),
    line(1704153800L, "flow.complete", f1, 5000, locale = "en", uid = "u1"))

  private def runPipeline(name: String): FlowPipeline = {
    val landing = TmpDirs.fresh(s"spec-flow-$name-landing")
    CsvEventSource.appendLines(spark, s"$landing/flow-2024-01-01.csv", day1)
    CsvEventSource.appendLines(spark, s"$landing/flow-2024-01-02.csv", day2)
    val p = new FlowPipeline(TmpDirs.fresh(s"spec-flow-$name-wh"),
      historicalCutoff = LocalDate.parse("2030-01-01")) // backfill active
    p.run(spark, landing, "flow")
    p
  }

  private lazy val pipeline = runPipeline("main")
  private def tier100 = SampleTier.defaults.find(_.suffix == "").get
  private def meta100 = pipeline.metadataTable(tier100).read(spark)

  test("D3 absorption: permanent flow_events hold payload events only") {
    val types = pipeline.importer.tableBySuffix("").read(spark)
      .select("type").distinct().as[String].collect().toSet
    types.foreach { t =>
      assert(t != "flow.begin" && !t.startsWith("flow.continued.") &&
        !t.startsWith("flow.experiment."), s"control event survived: $t")
    }
    types should contain allOf ("flow.signin", "flow.complete", "account.created")
  }

  test("C2/I2: duration/locale/uid folded from day d ∪ d+1 (late data counts)") {
    val row = meta100.filter($"flow_id" === f1)
      .select($"duration", $"locale", $"uid", $"completed").head()
    row.getLong(0) shouldBe 5000L
    row.getString(1) shouldBe "en"
    row.getString(2) shouldBe "u1"
    row.getBoolean(3) shouldBe true
  }

  test("begin-only flow keeps defaults: duration 0, locale/uid null, flags false") {
    val row = meta100.filter($"flow_id" === f2)
      .select($"duration", $"locale", $"uid", $"completed", $"new_account").head()
    row.getLong(0) shouldBe 0L
    row.isNullAt(1) shouldBe true
    row.isNullAt(2) shouldBe true
    row.getBoolean(3) shouldBe false
    row.getBoolean(4) shouldBe false
  }

  test("C3/F3: new_account flag + continued_from extraction") {
    val row = meta100.filter($"flow_id" === f3)
      .select($"new_account", $"continued_from", $"duration").head()
    row.getBoolean(0) shouldBe true
    row.getString(1) shouldBe contTarget
    // fold includes the not-yet-absorbed continued row (ft 10) and
    // account.created (ft 20) — reference order: delete begin, THEN fold
    row.getLong(2) shouldBe 20L
  }

  test("B8: metrics-context backfill fills only blank context") {
    meta100.filter($"flow_id" === f4).select($"context").as[String]
      .head() shouldBe "ctxZ" // was '' on begin, filled from day aggregate
    meta100.filter($"flow_id" === f3).select($"context").as[String]
      .head() shouldBe "ctx3" // non-blank: kept
  }

  test("F4 + step 12: experiments split + uid update from the window fold") {
    val exp = pipeline.experimentsTable(tier100).read(spark)
    val row = exp.filter($"flow_id" === f4)
      .select($"experiment", $"cohort", $"uid").head()
    row.getString(0) shouldBe "expA"
    row.getString(1) shouldBe "treatment"
    row.getString(2) shouldBe "u4" // staging uid was ''; updated from fold
  }

  test("tier membership: metadata tables are nested by cohort") {
    def flows(suffix: String): Set[String] =
      pipeline.metadataTable(SampleTier.defaults.find(_.suffix == suffix).get)
        .read(spark).select("flow_id").as[String].collect().toSet
    flows("_sampled_10") shouldBe Set(f1, f3, f4)
    flows("_sampled_50") shouldBe Set(f1, f2, f3, f4)
    flows("") shouldBe Set(f1, f2, f3, f4, f5)
  }

  test("I3 v2: AvailableNow file replay reproduces the batch metadata fold") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.StreamingSessionizer
    pipeline: Unit // force the batch run (writes the landing files)
    val landing = "target/graft-scratch/spec-flow-main-landing"
    val dir = TmpDirs.fresh("spec-flow-replay")
    val path = s"$dir/flow_all"
    // one parquet file per day (oldest first), so maxFilesPerTrigger=1
    // replays day-at-a-time like the batch importer
    def dayFile(d: String): Unit =
      CsvEventSource.readDay(spark, s"$landing/flow-$d.csv",
          graft.model.Schemas.flow, persist = false)
        .select(
          graft.functions.GraftFunctions.epochSecondsToTs($"timestamp").as("ts"),
          $"type", $"flow_id", $"flow_time", $"locale", $"uid")
        .withColumn("day", to_date($"ts"))
        .coalesce(1).write.mode("append").parquet(path)
    dayFile("2024-01-01")
    dayFile("2024-01-02")
    // two heartbeat files: the first advances the watermark past every
    // real flow's lateness deadline, the second's batch fires the
    // event-time timeouts that watermark enabled
    def tick(t: String): Unit =
      Seq((java.sql.Timestamp.valueOf(t), "tick", s"tick-$t", 0L, "", ""))
        .toDF("ts", "type", "flow_id", "flow_time", "locale", "uid")
        .withColumn("day", to_date($"ts"))
        .coalesce(1).write.mode("append").parquet(path)
    tick("2024-02-01 00:00:00")
    tick("2024-02-02 00:00:00")
    val q = StreamingSessionizer.sessionize(
        StreamingSessionizer.fileStream(spark, path, maxFilesPerTrigger = Some(1)))
      .writeStream.format("memory").queryName("replay_sessions")
      .outputMode("append").option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000) shouldBe true
    val cols = Seq("flow_id", "begin_time", "duration", "completed",
      "new_account", "locale", "uid").map(col)
    val streamed = spark.table("replay_sessions").select(cols: _*)
      .orderBy("flow_id").collect()
    val batch = meta100.select(cols: _*).orderBy("flow_id").collect()
    streamed shouldBe batch
  }

  test("updateHorizon=2 equals the unbounded parity scope on 30 days") {
    // flows span ≤ 2 calendar days, so bounding the UPDATE scan to
    // export_date ≥ d-2 must not change a single metadata or
    // experiments row vs the reference-faithful full-table scope
    val oneTier = Seq(SampleTier(100, java.time.Period.ofDays(60), ""))
    val staged = graft.SparkEntry.flowStaging(spark, sfSmoke)
    def run(name: String, horizon: Option[Int]): FlowPipeline = {
      val landing = TmpDirs.fresh(s"spec-flow-hz-$name-landing")
      CsvEventSource.writeLanding(spark, staged, landing, "flow")
      val p = new FlowPipeline(TmpDirs.fresh(s"spec-flow-hz-$name-wh"),
        oneTier, historicalCutoff = LocalDate.parse("2030-01-01"),
        updateHorizon = horizon)
      p.run(spark, landing, "flow")
      p
    }
    val bounded = run("b", Some(2))
    val unbounded = run("u", None)
    def meta(p: FlowPipeline) = p.metadataTable(oneTier.head).read(spark)
      .orderBy("flow_id", "begin_time").collect()
    def exps(p: FlowPipeline) = p.experimentsTable(oneTier.head).read(spark)
      .orderBy("flow_id", "timestamp", "experiment").collect()
    meta(bounded) shouldBe meta(unbounded)
    exps(bounded) shouldBe exps(unbounded)
  }

  test("I5: forceReload rerun is a fixed point for metadata and events") {
    val p = runPipeline("idem")
    val before = p.metadataTable(tier100).read(spark)
      .orderBy("flow_id").collect()
    val landing = "target/graft-scratch/spec-flow-idem-landing"
    p.run(spark, landing, "flow", forceReload = true)
    val after = p.metadataTable(tier100).read(spark)
      .orderBy("flow_id").collect()
    after shouldBe before
  }

  /** Two nights over d0..d2: `run` imports d0-d1, then d2 alone, with
    * the second night's Spark jobs counted. g1 begins on d1 and
    * completes on d2; g0 (d0, with an experiment) has no event after d0;
    * g2 begins on d2. */
  private final class IncrementalNight {
    private val g0 = "00000010" + "c" * 24
    val g1 = "00000011" + "c" * 24
    val g2 = "00000012" + "c" * 24
    private val d0 = 1704067200L // 2024-01-01T00:00Z
    private val d1 = d0 + 86400L
    private val d2 = d1 + 86400L
    private val landing = TmpDirs.fresh("spec-flow-inc-landing")
    CsvEventSource.appendLines(spark, s"$landing/flow-2024-01-01.csv", Seq(
      line(d0 + 100, "flow.begin", g0, 0),
      line(d0 + 200, "flow.experiment.expB.control", g0, 10),
      line(d0 + 300, "flow.signin", g0, 200, uid = "u0")))
    CsvEventSource.appendLines(spark, s"$landing/flow-2024-01-02.csv", Seq(
      line(d1 + 100, "flow.begin", g1, 0),
      line(d1 + 200, "flow.signin", g1, 100))) // a payload event marks d1 imported
    CsvEventSource.appendLines(spark, s"$landing/flow-2024-01-03.csv", Seq(
      line(d2 + 100, "flow.complete", g1, 7000, locale = "en", uid = "u1"),
      line(d2 + 200, "flow.begin", g2, 0)))
    val p = new FlowPipeline(TmpDirs.fresh("spec-flow-inc-wh"),
      historicalCutoff = LocalDate.parse("2030-01-01"))
    p.run(spark, landing, "flow", dayUntil = Some(LocalDate.parse("2024-01-02")))

    /** (name, size, mtime) of every file under each table's `day` partition. */
    def listing(day: String): Set[(String, Long, Long)] =
      SampleTier.defaults.flatMap(t => Seq(p.metadataTable(t), p.experimentsTable(t)))
        .flatMap(t => Option(new java.io.File(s"${t.path}/${t.dayCol}=$day").listFiles())
          .getOrElse(Array.empty[java.io.File]))
        .map(f => (f.getPath, f.length, f.lastModified)).toSet
    val d0Before = listing("2024-01-01")
    val d1Before = listing("2024-01-02")

    val sc = spark.sparkContext
    private val started = new java.util.concurrent.atomic.AtomicInteger
    private val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.incrementAndGet(): Unit
    }
    private val persistedBefore = sc.getPersistentRDDs.keySet
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(counter)
    val imported =
      try {
        val days = p.run(spark, landing, "flow")
        org.apache.spark.ListenerBusDrain(sc)
        days
      } finally sc.removeSparkListener(counter)
    val jobs: Int = started.get
    /** Local checkpoints the night left in the block manager. */
    val checkpointsLeft: Set[Int] =
      (sc.getPersistentRDDs -- persistedBefore).filter(_._2.isCheckpointed).keySet.toSet
  }
  private lazy val incremental = new IncrementalNight

  test("an incremental night rewrites only the partitions holding a matched flow") {
    val night = incremental
    night.imported shouldBe Seq(LocalDate.parse("2024-01-03"))
    val meta = night.p.metadataTable(tier100).read(spark)
    val g1 = meta.filter($"flow_id" === night.g1)
      .select($"export_date".cast("string"), $"completed", $"duration", $"uid").head()
    g1.getString(0) shouldBe "2024-01-02"
    g1.getBoolean(1) shouldBe true
    g1.getLong(2) shouldBe 7000L
    g1.getString(3) shouldBe "u1"
    meta.filter($"export_date" === "2024-01-03").select("flow_id").as[String]
      .collect() shouldBe Array(night.g2)
    night.listing("2024-01-01") should not be empty
    night.listing("2024-01-01") shouldBe night.d0Before // no matched flow: untouched
    night.listing("2024-01-02") should not be night.d1Before
  }

  test("job budget: the one-day incremental flow night") {
    // 38 measured with one write of the banded events table per day
    // and the matched days observed on each rewrite's checkpoint; 59
    // with a write per tier and a collect per rewrite, and the
    // per-statement cascade ran 97-98
    incremental.jobs should be <= 38
  }

  test("the cascade releases its local checkpoints once a tier-day is written") {
    incremental.checkpointsLeft shouldBe empty
  }
}
