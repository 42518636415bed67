package graft.operators

import java.time.{LocalDate, Period}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, SparkEntry}
import graft.model.{SampleTier, Schemas}
import graft.sources.{CsvEventSource, JsonEventSource, LandingFormat}
import graft.util.TmpDirs

class EventImporterSpec extends SparkSpec {
  import spark.implicits._

  // the oracle-gated day-granular tiers (single definition, shared with
  // the q11/q18 correctness queries so spec and gate can't drift)
  private val dayTiers = SparkEntry.dayTiers

  private def freshImporter(name: String): (EventImporter, String) = {
    val wh = TmpDirs.fresh(s"spec-imp-$name-wh")
    (new EventImporter(wh, Schemas.activity, dayTiers), wh)
  }

  private def landing(name: String): String = {
    val dir = TmpDirs.fresh(s"spec-imp-$name-landing")
    CsvEventSource.writeLanding(
      spark, SparkEntry.activityStaging(spark, sfSmoke), dir, "activity")
    dir
  }

  test("tier subset invariant: sampled_10 ⊆ sampled_50 ⊆ full (per shared day)") {
    val (imp, _) = freshImporter("subset")
    val dir = landing("subset")
    imp.run(spark, dir, "activity")
    val full = imp.tableBySuffix("").read(spark)
    val t50 = imp.tableBySuffix("_sampled_50").read(spark)
    val t10 = imp.tableBySuffix("_sampled_10").read(spark)
    // compare on a day present in every tier's retention window
    val d = lit("2024-01-25").cast("date")
    t10.filter($"day" === d).exceptAll(t50.filter($"day" === d)).count() shouldBe 0
    t50.filter($"day" === d).exceptAll(full.filter($"day" === d)).count() shouldBe 0
    t10.filter($"day" === d).count() should be < t50.filter($"day" === d).count()
  }

  test("I5: re-running is a fixed point; forceReload rebuilds identically") {
    val (imp, _) = freshImporter("idem")
    val dir = landing("idem")
    imp.run(spark, dir, "activity").size should be > 0
    val before = imp.tableBySuffix("").read(spark).orderBy("ts", "uid").collect()
    imp.run(spark, dir, "activity") shouldBe Seq.empty // all days populated (B9)
    imp.run(spark, dir, "activity",
      dayFrom = Some(LocalDate.parse("2024-01-20")),
      dayUntil = Some(LocalDate.parse("2024-01-20")),
      forceReload = true) shouldBe Seq(LocalDate.parse("2024-01-20"))
    val after = imp.tableBySuffix("").read(spark).orderBy("ts", "uid").collect()
    after shouldBe before
  }

  test("B2: cross-day rows inside a day file are dropped") {
    val wh = TmpDirs.fresh("spec-imp-b2-wh")
    val imp = new EventImporter(wh, Schemas.activity, dayTiers)
    val dir = TmpDirs.fresh("spec-imp-b2-landing")
    // file named 2024-01-05 containing one in-day and one out-of-day row
    CsvEventSource.appendLines(spark, s"$dir/activity-2024-01-05.csv", Seq(
      "1704412800,b,v,os,aaaaaaaa,login,s,d", // 2024-01-05 00:00
      "1704585600,b,v,os,aaaaaaaa,login,s,d")) // 2024-01-07: cross-day
    imp.run(spark, dir, "activity")
    val rows = imp.tableBySuffix("").read(spark)
    rows.count() shouldBe 1
    rows.select($"day".cast("string")).as[String].head() shouldBe "2024-01-05"
  }

  test("B3/D2: retention filters the insert AND expires old partitions") {
    val (imp, _) = freshImporter("retention")
    val dir = landing("retention")
    imp.run(spark, dir, "activity")
    // 100% tier keeps 18 days from max (2024-01-30): cutoff 2024-01-12
    val full = imp.tableBySuffix("")
    full.minDay(spark).get.toString shouldBe "2024-01-12"
    // 50% tier: 24 days → cutoff 2024-01-06
    imp.tableBySuffix("_sampled_50").minDay(spark).get.toString shouldBe "2024-01-06"
    // 10% tier: 36 days → nothing cut
    imp.tableBySuffix("_sampled_10").minDay(spark).get.toString shouldBe "2024-01-01"
  }

  test("incremental: only new days are imported; empty landing dir is a no-op") {
    val wh = TmpDirs.fresh("spec-imp-incr-wh")
    val imp = new EventImporter(wh, Schemas.activity, dayTiers)
    val empty = TmpDirs.fresh("spec-imp-incr-empty")
    imp.run(spark, empty, "activity") shouldBe Seq.empty // the :250 crash, fixed
    val dir = TmpDirs.fresh("spec-imp-incr-landing")
    val staged = SparkEntry.activityStaging(spark, sfSmoke)
    CsvEventSource.writeLanding(
      spark, staged.filter($"day" <= lit("2024-01-10").cast("date")), dir, "activity")
    imp.run(spark, dir, "activity").size shouldBe 10
    CsvEventSource.writeLanding(
      spark, staged.filter($"day" > lit("2024-01-10").cast("date")), dir, "activity")
    val second = imp.run(spark, dir, "activity")
    // only the 20 new days; the first 10 are populated (B9 probe)
    second.size shouldBe 20
    second.min.toString shouldBe "2024-01-11"
  }

  test("a run releases each day's persisted staging frame, CSV and JSON landings") {
    val day = LocalDate.parse("2024-01-25")
    val oneDay = SparkEntry.activityStaging(spark, sfSmoke)
      .filter($"day" === lit(day.toString).cast("date"))
    Seq[(LandingFormat, String => Any)](
      LandingFormat.Csv -> (CsvEventSource.writeLanding(spark, oneDay, _, "activity")),
      LandingFormat.Json -> (JsonEventSource.writeLanding(spark, oneDay, _, "activity"))
    ).foreach { case (format, write) =>
      val dir = TmpDirs.fresh(s"spec-imp-release-$format-landing")
      write(dir)
      val imp = new EventImporter(TmpDirs.fresh(s"spec-imp-release-$format-wh"),
        Schemas.activity, dayTiers, format = format)
      val before = spark.sparkContext.getPersistentRDDs.keySet
      imp.run(spark, dir, "activity") shouldBe Seq(day)
      withClue(format) {
        (spark.sparkContext.getPersistentRDDs.keySet -- before) shouldBe empty
      }
    }
  }

  test("tier views over several days equal a tierSlice recount, days and all") {
    // a 0-day tier beside two longer ones, as the nightly benchmark runs
    val tiers = Seq(
      SampleTier(10, Period.ofDays(14), "_sampled_10"),
      SampleTier(50, Period.ofDays(0), "_sampled_50"),
      SampleTier(100, Period.ofDays(7), ""))
    val wh = TmpDirs.fresh("spec-imp-views-wh")
    val imp = new EventImporter(wh, Schemas.activity, tiers)
    val dir = TmpDirs.fresh("spec-imp-views-landing")
    val staged = SparkEntry.activityStaging(spark, sfSmoke)
    CsvEventSource.writeLanding(spark,
      staged.filter($"day" <= lit("2024-01-20").cast("date")), dir, "activity")
    imp.run(spark, dir, "activity").size shouldBe 20
    val maxDay = LocalDate.parse("2024-01-20")
    val landed = (1 to 20).map(d => LocalDate.parse(f"2024-01-$d%02d"))
    val typed = imp.typedStaging(
      CsvEventSource.readDay(spark, s"$dir/*.csv", Schemas.activity, persist = false)).cache()
    def perDay(df: DataFrame): Map[LocalDate, Long] =
      df.groupBy($"day".cast("string")).count().collect()
        .map(r => LocalDate.parse(r.getString(0)) -> r.getLong(1)).toMap
    tiers.foreach { tier =>
      withClue(tier) {
        val view = imp.table(tier)
        val want = perDay(landed.map(d => imp.tierSlice(typed, tier, d, maxDay)).reduce(_ union _))
        perDay(view.read(spark)) shouldBe want
        view.days(spark) shouldBe want.keys.toSeq.sorted
        view.minDay(spark) shouldBe want.keys.minOption
        view.maxDay(spark) shouldBe want.keys.maxOption
        landed.foreach(d => view.hasDay(spark, d) shouldBe want.contains(d))
        view.read(spark).columns.toSeq shouldBe
          ("ts" +: Schemas.activity.permColumns :+ "day")
      }
    }
    typed.unpersist()
    imp.table(tiers(1)).days(spark) shouldBe Seq(maxDay)
    new java.io.File(wh).list().filterNot(_.startsWith(".")).toSeq shouldBe Seq("activity_events")
  }
}
