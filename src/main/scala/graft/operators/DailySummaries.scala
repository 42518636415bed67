package graft.operators

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.SampleTier
import graft.store.DayPartitionedTable

/** Daily rollups — SURVEY.md §3 entry point 3
  * (calculate_daily_summary.py), per sample tier:
  *
  *  - `daily_activity_per_device`: DISTINCT (day, uid, device_id,
  *    service, ua_browser, ua_version, ua_os) with `device_id != ''`
  *    (B7/E3, `:54-65`).
  *  - `daily_multi_device_users`: the 7-day trailing range self-join
  *    (C1, `:92-105`) — DISTINCT (day, uid, device_now, device_prev)
  *    where the same uid was active on a different device within the
  *    trailing week.
  *
  * Incremental windows (`:135-168`): `day_from = MAX(day)+1` of the
  * multi-device table (falling back to the source's first day — the
  * `None` case the reference crashes on is an explicit error here only
  * when the SOURCE is empty, matching `:146`), `day_until = MAX(ts)`,
  * clear+insert of exactly that range, then expiry below the source's
  * min day.
  *
  * Scale shape: the present side of the self-join is partition-pruned
  * to the new window; the past side is pruned to `window.start - 7d`;
  * both sides shuffle on `uid` (the reference's DISTKEY) and AQE covers
  * skewed users. Day predicates prune partitions because `day` is a
  * physical partition column — what the reference's `timestamp::DATE`
  * sortkey scans could never give it.
  */
final class DailySummaries(
    val warehouse: String,
    val importer: EventImporter,
    val tiers: Seq[SampleTier] = SampleTier.defaults) {

  def devicesTable(tier: SampleTier): DayPartitionedTable =
    new DayPartitionedTable(warehouse, s"daily_activity_per_device${tier.suffix}",
      sortCol = Some("uid"))

  def multiDeviceTable(tier: SampleTier): DayPartitionedTable =
    new DayPartitionedTable(warehouse, s"daily_multi_device_users${tier.suffix}",
      sortCol = Some("uid"))

  /** One summarize pass over every tier (`summarize_events`). Tiers
    * read and write disjoint tables, so they run concurrently. */
  def summarize(spark: SparkSession): Unit =
    graft.util.Par.foreach(tiers)(summarizeTier(spark, _))

  private def summarizeTier(spark: SparkSession, tier: SampleTier): Unit = {
    val act = importer.table(tier)
    val devT = devicesTable(tier)
    val mdT = multiDeviceTable(tier)
    val dayFirst = act.minDay(spark).getOrElse(
      throw new IllegalStateException("no events in source table")) // `:146`
    val dayFrom = mdT.maxDay(spark).map(_.plusDays(1)).getOrElse(dayFirst)
    val dayUntil = act.maxDay(spark).get
    if (!dayFrom.isAfter(dayUntil)) {
      // daily_activity_per_device: clear+insert [dayFrom..dayUntil]
      val devices = act.readRange(spark, dayFrom, dayUntil)
        .filter(col("device_id") =!= "") // B7
        .select("day", "uid", "device_id", "service",
          "ua_browser", "ua_version", "ua_os")
        .distinct() // E3
      clearRange(spark, devT, dayFrom, dayUntil)
      devT.writeDays(devices)
      // daily_multi_device_users: 7-day trailing self-join (C1)
      val present = devT.readRange(spark, dayFrom, dayUntil).as("present")
      val past = devT // pruned: nothing older than dayFrom-7 can join
        .readRange(spark, dayFrom.minusDays(7), dayUntil).as("past")
      val pairs = present.join(past,
          col("present.uid") === col("past.uid") &&
          col("present.device_id") =!= col("past.device_id") &&
          col("past.day") <= col("present.day") &&
          col("past.day") >= date_sub(col("present.day"), 7))
        .select(
          col("present.day").as("day"),
          col("present.uid").as("uid"),
          col("present.device_id").as("device_now"),
          col("past.device_id").as("device_prev"))
        .distinct()
      clearRange(spark, mdT, dayFrom, dayUntil)
      mdT.writeDays(pairs)
    }
    // expire both summaries to the source's min day (`:163-165`)
    devT.expireBefore(spark, dayFirst)
    mdT.expireBefore(spark, dayFirst)
  }

  /** Range clear (Q_*_CLEAR): unconditional, so days that produce zero
    * rows in the rebuild still lose their stale partition. */
  private def clearRange(
      spark: SparkSession,
      t: DayPartitionedTable,
      from: LocalDate,
      until: LocalDate): Unit =
    t.days(spark)
      .filter(d => !d.isBefore(from) && !d.isAfter(until))
      .foreach(t.clearDay(spark, _))
}
