package graft.store

import java.time.LocalDate

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}
import graft.util.TmpDirs

class DayPartitionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def eventsWithDay =
    Tables.events(spark, sfSmoke).withColumn("day", to_date(col("ts")))

  test("D1: writeDays is an idempotent per-day rebuild (rewrite = fixed point)") {
    val root = TmpDirs.fresh("spec-store-d1")
    val t = new DayPartitionedTable(root, "ev", sortCol = Some("ts"))
    val ev = eventsWithDay
    t.writeDays(ev)
    val before = t.read(spark).count()
    val day = LocalDate.parse("2024-01-05")
    // rewrite one existing day: dynamic overwrite must replace, not append
    t.writeDays(ev.filter(col("day") === lit(day.toString).cast("date")))
    t.read(spark).count() shouldBe before
    // and only that day was touched: full rewrite equals itself
    t.writeDays(ev)
    t.read(spark).count() shouldBe before
  }

  test("D1: overwriting a day with fewer rows replaces the whole partition") {
    val root = TmpDirs.fresh("spec-store-d1b")
    val t = new DayPartitionedTable(root, "ev")
    val ev = eventsWithDay
    t.writeDays(ev)
    val day = "2024-01-05"
    val dayRows = ev.filter(col("day") === lit(day).cast("date"))
    val one = dayRows.limit(1)
    t.writeDays(one)
    t.read(spark).filter(col("day") === lit(day).cast("date")).count() shouldBe 1
  }

  test("D2: expireBefore drops exactly the old partitions, metadata-only") {
    val root = TmpDirs.fresh("spec-store-d2")
    val t = new DayPartitionedTable(root, "ev")
    t.writeDays(eventsWithDay)
    val cutoff = LocalDate.parse("2024-01-20")
    t.expireBefore(spark, cutoff)
    t.minDay(spark).get shouldBe cutoff
    t.read(spark).agg(min(col("day"))).as[java.sql.Date].head().toLocalDate shouldBe cutoff
  }

  test("B9/I4: hasDay + maxDay come from partition metadata") {
    val root = TmpDirs.fresh("spec-store-b9")
    val t = new DayPartitionedTable(root, "ev")
    t.hasDay(spark, LocalDate.parse("2024-01-01")) shouldBe false
    t.maxDay(spark) shouldBe None // empty-table case (import_events.py:250 crash)
    t.writeDays(eventsWithDay)
    t.hasDay(spark, LocalDate.parse("2024-01-01")) shouldBe true
    t.hasDay(spark, LocalDate.parse("2023-12-31")) shouldBe false
    t.maxDay(spark) shouldBe Some(LocalDate.parse("2024-01-30"))
  }

  test("D4: filesPerDay bounds file count per partition") {
    val root = TmpDirs.fresh("spec-store-d4")
    val t = new DayPartitionedTable(root, "ev", sortCol = Some("ts"), filesPerDay = 2)
    t.writeDays(eventsWithDay)
    val dir = new java.io.File(s"${t.path}/day=2024-01-05")
    val parquets = dir.listFiles().count(_.getName.endsWith(".parquet"))
    parquets should be <= 2
    parquets should be >= 1
  }

  test("D4: compactDay collapses an accreted partition, preserving rows") {
    val root = TmpDirs.fresh("spec-store-compact")
    val t = new DayPartitionedTable(root, "ev", sortCol = Some("ts"))
    val ev = eventsWithDay
    t.writeDays(ev)
    val day = LocalDate.parse("2024-01-05")
    // simulate small-file accretion: append extra files into the partition
    val dir = new java.io.File(s"${t.path}/day=$day")
    val part = dir.listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath, new java.io.File(dir, "extra1.parquet").toPath)
    val before = t.read(spark).filter(col("day") === lit(day.toString).cast("date")).count()
    dir.listFiles().count(_.getName.endsWith(".parquet")) should be > 1
    t.compactDay(spark, day)
    dir.listFiles().count(_.getName.endsWith(".parquet")) shouldBe 1
    t.read(spark).filter(col("day") === lit(day.toString).cast("date"))
      .count() shouldBe before
    // other partitions untouched
    t.read(spark).count() shouldBe ev.count() + (before / 2)
  }

  test("D4: compactDay restores a day left only under its parked name") {
    val root = TmpDirs.fresh("spec-store-parked")
    val t = new DayPartitionedTable(root, "ev", sortCol = Some("ts"))
    t.writeDays(eventsWithDay)
    val day = LocalDate.parse("2024-01-05")
    val onDay = col("day") === lit(day.toString).cast("date")
    def dayRows = t.read(spark).filter(onDay).collect().map(_.toString).sorted.toSeq
    val before = dayRows
    before should not be empty
    // a swap that stopped after parking the live partition, before the
    // compacted copy was renamed in
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"${t.path}/day=$day"),
      java.nio.file.Paths.get(s"${t.path}/.parked-$day"))
    t.hasDay(spark, day) shouldBe false
    t.compactDay(spark, day)
    t.hasDay(spark, day) shouldBe true
    dayRows shouldBe before
    new java.io.File(s"${t.path}/.parked-$day").exists() shouldBe false
  }

  test("D4: compactDay leaves no hidden swap dir behind") {
    val root = TmpDirs.fresh("spec-store-swap")
    val t = new DayPartitionedTable(root, "ev", sortCol = Some("ts"))
    t.writeDays(eventsWithDay)
    val day = LocalDate.parse("2024-01-05")
    val dir = new java.io.File(s"${t.path}/day=$day")
    val part = dir.listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath, new java.io.File(dir, "extra1.parquet").toPath)
    // a stale parked copy, as a swap that stopped before its reap leaves
    val stale = new java.io.File(s"${t.path}/.parked-$day")
    stale.mkdirs()
    java.nio.file.Files.copy(part.toPath, new java.io.File(stale, "old.parquet").toPath)
    t.compactDay(spark, day)
    dir.listFiles().count(_.getName.endsWith(".parquet")) shouldBe 1
    new java.io.File(t.path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("."))
      .map(_.getName) shouldBe empty
  }

  test("partition pruning: a day-range read scans only selected partitions") {
    val root = TmpDirs.fresh("spec-store-prune")
    val t = new DayPartitionedTable(root, "ev")
    t.writeDays(eventsWithDay)
    val pruned = t.readRange(spark, LocalDate.parse("2024-01-10"), LocalDate.parse("2024-01-12"))
    val plan = pruned.queryExecution.executedPlan.toString
    // the file scan should report a pruned partition filter, and the
    // result must only contain the three requested days
    pruned.select(countDistinct(col("day"))).as[Long].head() shouldBe 3
    assert(plan.contains("PartitionFilters"), s"no partition filters in plan:\n$plan")
  }

  test("declared schema: read returns the inferred schema and starts no job, plain and banded") {
    val root = TmpDirs.fresh("spec-store-schema")
    val plain = new DayPartitionedTable(root, "plain", sortCol = Some("ts"))
    val banded = new DayPartitionedTable(root, "banded", sortCol = Some("ts"),
      bandCol = Some("band"))
    val ev = eventsWithDay.withColumn("note", lit(null).cast("string"))
    plain.writeDays(ev)
    banded.writeDays(ev.withColumn("band", when(col("user_id") % 2 === 0, 10).otherwise(100)))
    Seq(plain, banded).foreach { t =>
      withClue(t.name) {
        new java.io.File(s"${t.path}/_schema.json").isFile shouldBe true
        val inferred = spark.read.option("basePath", t.path).parquet(t.path)
        val (declared, jobs) = jobsDuring(t.read(spark))
        jobs shouldBe 0
        declared.schema shouldBe inferred.schema
        declared.schema.map(f => (f.name, f.dataType, f.nullable)) shouldBe
          inferred.schema.map(f => (f.name, f.dataType, f.nullable))
        declared.collect().map(_.toString).sorted shouldBe
          inferred.collect().map(_.toString).sorted
      }
    }
    banded.read(spark).columns.takeRight(2) shouldBe Array("day", "band")
  }

  test("a banded table's view reads its bands within its retention, without the band") {
    val root = TmpDirs.fresh("spec-store-view")
    val t = new DayPartitionedTable(root, "ev", sortCol = Some("ts"), bandCol = Some("band"))
    t.writeDays(eventsWithDay.withColumn("band", when(col("user_id") % 3 === 0, 10).otherwise(100)))
    val v = t.view(10, java.time.Period.ofDays(4)) // newest day 2024-01-30
    v.days(spark) shouldBe (26 to 30).map(d => LocalDate.parse(f"2024-01-$d%02d"))
    v.read(spark).columns should not contain "band"
    v.read(spark).count() shouldBe t.read(spark)
      .filter(col("band") === 10 && col("day") >= lit("2024-01-26").cast("date")).count()
    an[UnsupportedOperationException] should be thrownBy v.clearDay(spark, LocalDate.parse("2024-01-30"))
    t.expireBands(spark, u => LocalDate.parse(if (u == 10) "2024-01-28" else "2024-01-02"))
    v.minDay(spark) shouldBe Some(LocalDate.parse("2024-01-28"))
    t.minDay(spark) shouldBe Some(LocalDate.parse("2024-01-02"))
  }
}
