package graft.jobs

import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec, Tables}
import graft.model.Schemas
import graft.sources.{CsvEventSource, JsonEventSource, LandingFormat}
import graft.util.TmpDirs

class RunImportSpec extends SparkSpec {
  import spark.implicits._

  test("make-import order end to end: all five pipelines over one landing root") {
    val root = TmpDirs.fresh("spec-runimport-landing")
    val wh = TmpDirs.fresh("spec-runimport-wh")
    CsvEventSource.writeLanding(spark,
      SparkEntry.activityStaging(spark, sfSmoke), s"$root/activity", "activity")
    CsvEventSource.writeLanding(spark,
      SparkEntry.flowStaging(spark, sfSmoke), s"$root/flow", "flow")
    CsvEventSource.writeLanding(spark,
      SparkEntry.emailStaging(spark, sfSmoke), s"$root/email", "email-events")
    Tables.events(spark, sfSmoke)
      .groupBy(to_date($"ts").cast("string").as("day"))
      .agg(countDistinct($"user_id").as("a"), count(lit(1)).as("v"))
      .collect().foreach { r =>
        CsvEventSource.appendLines(spark,
          s"$root/counts/fxa-basic-metrics-${r.getString(0)}.txt",
          Seq(s"${r.getString(0)},${r.getLong(1)},${r.getLong(2)}"))
      }
    val job = new RunImport(wh, root, countsBegin = LocalDate.parse("2024-01-01"))
    val result = job.run(spark)
    result("activity").size shouldBe 30
    result("flow").size shouldBe 30
    result("email").size shouldBe 30
    result("counts").size shouldBe 30
    // every output table exists and is populated
    job.activity.tableBySuffix("").read(spark).count() should be > 0L
    job.flow.metadataTable(job.tiers.find(_.suffix == "").get)
      .read(spark).count() should be > 0L
    job.counts.table.read(spark).count() shouldBe 30
    job.summaries.multiDeviceTable(job.tiers.find(_.suffix == "").get)
      .read(spark).count() should be > 0L
    // a second run with nothing new landed is a complete no-op
    val again = job.run(spark)
    again.values.foreach(_ shouldBe Seq.empty)
  }

  test("JSON landing tree runs the full make-import order, table-identical to CSV") {
    val csvRoot = TmpDirs.fresh("spec-runimport-json-csvroot")
    val jsonRoot = TmpDirs.fresh("spec-runimport-json-root")
    val csvWh = TmpDirs.fresh("spec-runimport-json-csvwh")
    val jsonWh = TmpDirs.fresh("spec-runimport-json-wh")
    // same staging frames, two wire formats (counts has no second wire
    // format — same TXT on both sides)
    val act = SparkEntry.activityStaging(spark, sfSmoke)
    val flw = SparkEntry.flowStaging(spark, sfSmoke)
    val eml = SparkEntry.emailStaging(spark, sfSmoke)
    CsvEventSource.writeLanding(spark, act, s"$csvRoot/activity", "activity")
    CsvEventSource.writeLanding(spark, flw, s"$csvRoot/flow", "flow")
    CsvEventSource.writeLanding(spark, eml, s"$csvRoot/email", "email-events")
    JsonEventSource.writeLanding(spark, act, s"$jsonRoot/activity", "activity")
    JsonEventSource.writeLanding(spark, flw, s"$jsonRoot/flow", "flow")
    JsonEventSource.writeLanding(spark, eml, s"$jsonRoot/email", "email-events")
    Seq(csvRoot, jsonRoot).foreach { root =>
      Tables.events(spark, sfSmoke)
        .groupBy(to_date($"ts").cast("string").as("day"))
        .agg(countDistinct($"user_id").as("a"), count(lit(1)).as("v"))
        .collect().foreach { r =>
          CsvEventSource.appendLines(spark,
            s"$root/counts/fxa-basic-metrics-${r.getString(0)}.txt",
            Seq(s"${r.getString(0)},${r.getLong(1)},${r.getLong(2)}"))
        }
    }
    val begin = LocalDate.parse("2024-01-01")
    // a 10-day window keeps the double-orchestration parity run fast;
    // the 30-day full-landing path is covered by the CSV e2e above
    val from = Some(LocalDate.parse("2024-01-01"))
    val until = Some(LocalDate.parse("2024-01-10"))
    val csvJob = new RunImport(csvWh, csvRoot, countsBegin = begin)
    val jsonJob = new RunImport(jsonWh, jsonRoot, countsBegin = begin,
      formats = Map("activity" -> LandingFormat.Json,
        "flow" -> LandingFormat.Json, "email" -> LandingFormat.Json))
    val csvResult = csvJob.run(spark, from, until)
    val jsonResult = jsonJob.run(spark, from, until)
    jsonResult("activity") shouldBe csvResult("activity")
    jsonResult("flow") shouldBe csvResult("flow")
    jsonResult("email") shouldBe csvResult("email")
    jsonResult("counts") shouldBe csvResult("counts")
    jsonResult("activity") should have size 10
    // the permanent tables must be row-identical across wire formats
    val tier = jsonJob.tiers.find(_.suffix == "").get
    def rows(t: graft.store.DayPartitionedTable): Seq[String] =
      t.read(spark).collect().map(_.toString).sorted.toSeq
    rows(jsonJob.activity.table(tier)) shouldBe rows(csvJob.activity.table(tier))
    rows(jsonJob.flow.metadataTable(tier)) shouldBe rows(csvJob.flow.metadataTable(tier))
    rows(jsonJob.flow.experimentsTable(tier)) shouldBe rows(csvJob.flow.experimentsTable(tier))
    rows(jsonJob.email.table(tier)) shouldBe rows(csvJob.email.table(tier))
    rows(jsonJob.summaries.multiDeviceTable(tier)) shouldBe
      rows(csvJob.summaries.multiDeviceTable(tier))
    // idempotence holds for the JSON form too (same window → no-op)
    jsonJob.run(spark, from, until).values.foreach(_ shouldBe Seq.empty)
  }

  test("a flow day over MAXERROR fails the run only after every other pipeline has stopped") {
    val root = TmpDirs.fresh("spec-runimport-fail-landing")
    val wh = TmpDirs.fresh("spec-runimport-fail-wh")
    val day = LocalDate.parse("2024-01-03")
    def oneDay(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("day").cast("string") === day.toString)
    CsvEventSource.writeLanding(spark,
      oneDay(SparkEntry.activityStaging(spark, sfSmoke)), s"$root/activity", "activity")
    CsvEventSource.writeLanding(spark,
      oneDay(SparkEntry.flowStaging(spark, sfSmoke)), s"$root/flow", "flow")
    CsvEventSource.writeLanding(spark,
      oneDay(SparkEntry.emailStaging(spark, sfSmoke)), s"$root/email", "email-events")
    CsvEventSource.appendLines(spark, s"$root/counts/fxa-basic-metrics-$day.txt",
      Seq(s"$day,10,7"))
    // right field count, non-numeric timestamp: each line is one error
    val badLine = ("x" +: Seq.fill(Schemas.flow.columns.size)("")).mkString(",")
    CsvEventSource.appendLines(spark, s"$root/flow/flow-$day.csv", Seq.fill(150)(badLine))

    val job = new RunImport(wh, root, countsBegin = LocalDate.parse("2024-01-01"))
    intercept[CsvEventSource.MaxErrorExceeded] {
      job.run(spark, Some(day), Some(day))
    }
    def files: Set[(String, Long, Long)] =
      FileUtils.listFiles(new java.io.File(wh), null, true).asScala
        .map(f => (f.getPath, f.length, f.lastModified)).toSet
    val atThrow = files
    // every other pipeline has finished the day, row for row
    Seq((job.activity, s"$root/activity/activity-$day.csv"),
        (job.email, s"$root/email/email-events-$day.csv")).foreach { case (imp, file) =>
      val typed = imp.typedStaging(CsvEventSource.readDay(spark, file, imp.family, persist = false))
      job.tiers.foreach { tier =>
        imp.table(tier).read(spark).count() shouldBe
          imp.tierSlice(typed, tier, day, day).count()
      }
    }
    job.counts.table.days(spark) shouldBe Seq(day)
    // nothing is still running, and nothing lands after the throw
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.statusTracker.getActiveJobIds() shouldBe empty
    Thread.sleep(1000)
    files shouldBe atThrow
  }

  test("D4: compact() restores fragmented touched partitions to target file counts") {
    val wh = TmpDirs.fresh("spec-runimport-compact")
    val job = new RunImport(wh, wh)
    val tier = job.tiers.find(_.suffix == "").get
    val day = LocalDate.parse("2024-03-10")
    val actT = job.activity.events           // dayCol=day, sortCol=ts, banded
    val metaT = job.flow.metadataTable(tier) // dayCol=export_date, sortCol=begin_time

    // a day's partition directory: the activity table stores the 100%
    // tier's own cohorts under band=100
    def partition(t: graft.store.DayPartitionedTable, d: LocalDate): String =
      s"${t.path}/${t.dayCol}=$d" + t.bandCol.fold("")(b => s"/$b=100")
    // simulate a partition accreted by many small incremental appends:
    // five single-row writes straight into the partition dir
    def fragment(t: graft.store.DayPartitionedTable, d: LocalDate,
        sortColName: String): Unit =
      (1 to 5).foreach { i =>
        Seq((i.toLong, s"u$i")).toDF(sortColName, "uid")
          .coalesce(1).write.mode("append")
          .parquet(partition(t, d))
      }
    def parquetFiles(t: graft.store.DayPartitionedTable, d: LocalDate): Int =
      Option(new java.io.File(partition(t, d)).listFiles())
        .getOrElse(Array.empty).count(_.getName.endsWith(".parquet"))

    fragment(actT, day, "ts")
    // flow horizon (updateHorizon=2): day, day-1, day-2 are all touched
    // by processing `day`; day-3 is outside the horizon
    (0 to 3).foreach(h => fragment(metaT, day.minusDays(h.toLong), "begin_time"))
    parquetFiles(actT, day) shouldBe 5
    parquetFiles(metaT, day) shouldBe 5

    job.compact(spark, Map("activity" -> Seq(day), "flow" -> Seq(day)))

    parquetFiles(actT, day) shouldBe actT.filesPerDay
    actT.read(spark).count() shouldBe 5 // no rows lost
    (0 to 2).foreach { h =>
      parquetFiles(metaT, day.minusDays(h.toLong)) shouldBe metaT.filesPerDay
    }
    parquetFiles(metaT, day.minusDays(3)) shouldBe 5 // untouched stays as-is
  }

  test("job budget: one RunImport night after a first night") {
    val root = TmpDirs.fresh("spec-runimport-budget-landing")
    val wh = TmpDirs.fresh("spec-runimport-budget-wh")
    def land(day: LocalDate): Unit = {
      def oneDay(df: org.apache.spark.sql.DataFrame) =
        df.filter(col("day").cast("string") === day.toString)
      CsvEventSource.writeLanding(spark,
        oneDay(SparkEntry.activityStaging(spark, sfSmoke)), s"$root/activity", "activity")
      CsvEventSource.writeLanding(spark,
        oneDay(SparkEntry.flowStaging(spark, sfSmoke)), s"$root/flow", "flow")
      CsvEventSource.writeLanding(spark,
        oneDay(SparkEntry.emailStaging(spark, sfSmoke)), s"$root/email", "email-events")
      CsvEventSource.appendLines(spark, s"$root/counts/fxa-basic-metrics-$day.txt",
        Seq(s"$day,10,7"))
    }
    val (d1, d2) = (LocalDate.parse("2024-01-02"), LocalDate.parse("2024-01-03"))
    val job = new RunImport(wh, root, countsBegin = LocalDate.parse("2024-01-01"))
    land(d1)
    job.run(spark, dayUntil = Some(d1))
    land(d2)
    val (imported, jobs) = jobsDuring(job.run(spark, dayUntil = Some(d2)))
    imported.values.foreach(_ shouldBe Seq(d2))
    // 70 measured; the parent, which wrote each tier's table, ran 112
    jobs should be <= 70
    // each event family is stored once; its tiers are views
    new java.io.File(wh).list().filter(_.contains("_events")).sorted.toSeq shouldBe
      Seq("activity_events", "email_events", "flow_events")
  }
}
