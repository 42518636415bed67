package graft.operators

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.model.{EventFamily, SampleTier}
import graft.sources.{CsvEventSource, LandingFormat}
import graft.store.DayPartitionedTable

/** The generic per-day event importer — SURVEY.md §3 entry point 1
  * (import_events.py:147-258), Spark-first.
  *
  * Per day file: type the staging frame (F1 epoch→timestamp), derive the
  * deterministic hex-prefix cohort (F2) from the family's id column, and
  * write the `cohort < percent` (B4) rows whose timestamp falls on the
  * target day (B2 — cross-day rows in the file are dropped) and inside
  * the retention window (B3, import_events.py:107-127) ONCE, into the
  * banded [[events]] table; each sample tier is a view of it. The write
  * is a dynamic partition overwrite after a clear of the day, so
  * re-importing a day is the reference's clear-day-then-insert (D1/I5)
  * — an idempotent rebuild.
  *
  * Day discovery (A2/C4), the populated-day probe (B9,
  * import_events.py:72-78), newest-first ordering
  * (G3), the `max(extant, newest)` high-water mark with the empty-list
  * crash fixed (import_events.py:245-253 — `unpopulated_days[0]` raises
  * on empty; here an empty landing dir is a no-op), and retention expiry
  * (D2, import_events.py:226-236) all live in [[run]].
  *
  * Scale shape: the insert is a narrow filter+project over the day's
  * staging (persisted once), the write shuffles only that day's rows,
  * and all predicates are codegen-friendly column expressions — no
  * UDFs, no driver loops over data (the per-day loop is over *files*,
  * as in the reference).
  */
final class EventImporter(
    val warehouse: String,
    val family: EventFamily,
    val tiers: Seq[SampleTier] = SampleTier.defaults,
    val maxError: Int = 100,
    val insertFilter: Option[org.apache.spark.sql.Column] = None,
    val format: LandingFormat = LandingFormat.Csv) {

  /** The family's one stored table, `day=<d>/band=<u>`: a row's band is
    * the smallest tier percent above its cohort, so band `u` holds the
    * cohorts of tier `u` that no smaller tier samples. Named and placed
    * as the widest tier's table. */
  val events: DayPartitionedTable = new DayPartitionedTable(
    warehouse, family.tableName(tiers.maxBy(_.percent).suffix),
    sortCol = Some("ts"), bandCol = Some("band"))

  /** `tier`'s table: a read-only view of [[events]] — its bands, on the
    * days within its retention of the newest stored day. */
  def table(tier: SampleTier): DayPartitionedTable =
    events.view(tier.percent, tier.retention)

  def tableBySuffix(suffix: String): DayPartitionedTable =
    table(tiers.find(_.suffix == suffix).get)

  private val bandPercents = tiers.map(_.percent).distinct.sorted

  private def bandOf(cohort: Column): Column =
    bandPercents.tail.foldLeft(when(cohort < bandPercents.head, bandPercents.head)) {
      (c, u) => c.when(cohort < u, u)
    }

  /** B9 — is this day already imported? Any band's partition proves the
    * day was processed; the reference probes only the longest-retention
    * table (import_events.py:77), which re-imports a day forever when
    * its 10% sample happens to be empty. */
  private def isDayPopulated(spark: SparkSession, day: LocalDate): Boolean =
    events.hasDay(spark, day)

  /** E1/I4 — high-water mark (Q_GET_MAX_DAY, import_events.py:67-70);
    * partition metadata, no scan. */
  def maxExtantDay(spark: SparkSession): Option[LocalDate] = events.maxDay(spark)

  /** F1/F2/F5 typing of a staging frame (shared with pipeline hooks so
    * derived views use the exact same lineage as the inserts). */
  def typedStaging(staging: DataFrame): DataFrame =
    staging
      .withColumn("ts", epochSecondsToTs(col("timestamp"))) // F1
      .withColumn("cohort", hexPrefixCohort(col(family.idColumn))) // F2
      .withColumn("day", dayOf(col("ts"))) // F5

  /** The rows of `typed` that belong in `tier`'s permanent table for
    * `day` — sampling (B4), same-day (B2), retention (B3) — BEFORE the
    * optional insertFilter. Projected to the permanent layout. */
  def tierSlice(
      typed: DataFrame,
      tier: SampleTier,
      day: LocalDate,
      maxDay: LocalDate): DataFrame = {
    val cutoff = maxDay.minus(tier.retention)
    typed
      .filter(col("cohort") < tier.percent) // B4
      .filter(col("day") === lit(day.toString).cast("date")) // B2
      .filter(col("day") >= lit(cutoff.toString).cast("date")) // B3
      .select((col("ts") +: col("day") +: family.permColumns.map(col)): _*)
  }

  /** Import one day's staging frame into all tiers: one clear and one
    * write of the day's bands. Band `u` keeps the day while any tier
    * of percent `>= u` retains it (B3), so the kept bands are those
    * below the widest tier that retains the day. */
  def importDay(
      spark: SparkSession,
      day: LocalDate,
      staging: DataFrame,
      maxDay: LocalDate): Unit = {
    val widest = tiers.filter(t => !day.isBefore(maxDay.minus(t.retention)))
      .map(_.percent).foldLeft(0)(math.max)
    val rows = typedStaging(staging)
      .filter(col("cohort") < widest) // B4 + B3
      .filter(col("day") === lit(day.toString).cast("date")) // B2
      .select((col("ts") +: col("day") +: family.permColumns.map(col) :+
        bandOf(col("cohort")).as("band")): _*)
    events.clearDay(spark, day) // D1 clear half: a zero-row rebuild must clear
    events.writeDays(insertFilter.fold(rows)(rows.filter)) // D1 insert half
  }

  /** D2 — expire band `u` past the longest retention of the tiers that
    * read it (percent `>= u`). */
  def expire(spark: SparkSession, maxDay: LocalDate): Unit =
    events.expireBands(spark,
      u => tiers.filter(_.percent >= u).map(t => maxDay.minus(t.retention)).min)

  /** Full import run over a landing dir (import_events.py:242-258).
    * Returns the days imported (newest first). */
  def run(
      spark: SparkSession,
      landingDir: String,
      prefix: String,
      dayFrom: Option[LocalDate] = None,
      dayUntil: Option[LocalDate] = None,
      forceReload: Boolean = false,
      afterDay: (SparkSession, LocalDate, DataFrame, LocalDate) => Unit =
        (_, _, _, _) => ())
      : Seq[LocalDate] = {
    val extant = maxExtantDay(spark)
    val from = dayFrom.orElse(extant)
    def candidate(d: LocalDate): Boolean =
      from.forall(f => !d.isBefore(f)) && dayUntil.forall(u => !d.isAfter(u))
    val unpopulated = format
      .listDays(spark, landingDir, prefix)
      .filter { case (d, _) =>
        candidate(d) && (forceReload || !isDayPopulated(spark, d))
      }
      .sortBy(_._1)(Ordering[LocalDate].reverse) // G3 newest-first
    if (unpopulated.isEmpty && extant.isEmpty) return Seq.empty // empty-safe
    val maxDay = (extant.toSeq ++ unpopulated.headOption.map(_._1)).max
    unpopulated.foreach { case (day, file) =>
      val gated = format.readDay(spark, file, family, maxError)
      // Staging sanity probe (import_events.py:129-131,188-192): the
      // reference prints the staged MIN/MAX timestamps per day before
      // loading — the operator guardrail against a mis-dated or
      // mis-clocked file. The MAXERROR gate's one aggregate took them.
      println(s"[graft-import] $prefix $day staged ${gated.minTs}..${gated.maxTs} (epoch s)")
      val staging = CsvEventSource.kept(gated.flagged)
      importDay(spark, day, staging, maxDay)
      afterDay(spark, day, staging, maxDay)
      gated.flagged.unpersist() // the persisted frame, not its filtered view
    }
    expire(spark, maxDay)
    unpopulated.map(_._1)
  }
}
