package graft.operators

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.GraftFunctions._
import graft.model.{SampleTier, Schemas}
import graft.store.DayPartitionedTable

/** The flow sessionizer — SURVEY.md §3 entry point 2
  * (import_flow_events.py), the reference's hardest surface, re-expressed
  * as one lineage DAG per day instead of 12 mutating SQL statements.
  *
  * Statement-by-statement mapping (reference lines in
  * import_flow_events.py):
  *
  *  3.   DELETE `flow.begin` from permanent events (`:151-155`, D3) →
  *       the permanent write already excludes ALL control events
  *       (begin/continued/experiment) via the importer's insertFilter;
  *       the update window below re-derives day-d's
  *       "begin-deleted-but-continued-still-present" intermediate state
  *       from the staging lineage, so ordering semantics are preserved
  *       without rewriting the partition three times.
  *  4/5/6/8. ONE per-flow aggregate over permanent days d ∪ d+1
  *       (`:157-205,242-261`, C2 + I2 late-data, C3 semi-joins, F3):
  *       MAX duration/locale/uid, the `flow.complete` /
  *       `account.created` flags, and the day-d `flow.continued.%` type
  *       that continued_from = SUBSTRING(type,16,64) is cut from.
  *  7.   metrics-context backfill — CASE-on-'' merge of 9 columns from
  *       the day's staging aggregate, only for days before the
  *       historical cutoff (`:207-240,344-352`, B8); the one full-outer
  *       join onto the aggregate, since staging holds begin-only flows
  *       the window lacks.
  *  1/2 + 4-9. clear day-d `flow_metadata`, then ONE rewrite: the
  *       on-disk rows in the update horizon plus the day-d inserts from
  *       staging `flow.begin` rows, sampled by flow_id cohort
  *       (`:104-149`), left-joined to the aggregate.
  *  10/11 + 12. the same for `flow_experiments`: day-d
  *       `flow.experiment.%` inserts (SPLIT_PART name/cohort, F4), uid
  *       updated from the aggregate, the rows absorbed (`:263-304`).
  *
  * Each rewrite writes only the partitions that contain a matched flow
  * (observed on the joined frame's checkpoint), plus day d.
  *
  * `updateHorizon` bounds the update scan to metadata partitions with
  * export_date ≥ day − horizon. Flows span at most 2 calendar days by
  * construction (one +1-day late-data lookback), so `Some(2)` — the
  * default — sees every metadata row a day-d processing can legitimately
  * touch while scanning O(1) partitions instead of the whole table (the
  * reference's unbounded `UPDATE ... FROM` scope is the classic
  * full-table-scan-per-day scale trap). `None` restores the
  * reference-faithful unbounded scope for parity experiments;
  * FlowPipelineSpec locks horizon-2 ≡ unbounded on a 30-day fixture.
  */
final class FlowPipeline(
    val warehouse: String,
    val tiers: Seq[SampleTier] = SampleTier.defaults,
    val historicalCutoff: LocalDate = LocalDate.parse("2016-10-25"),
    val maxError: Int = 100,
    val updateHorizon: Option[Int] = Some(2),
    val format: graft.sources.LandingFormat = graft.sources.LandingFormat.Csv) {

  /** Control events are absorbed into metadata/experiments (D3): the
    * permanent flow_events tables hold payload events only. */
  private val controlFilter: Column =
    !(col("type") === "flow.begin" ||
      col("type").like("flow.continued.%") || // B6
      col("type").like("flow.experiment.%"))

  val importer = new EventImporter(
    warehouse, Schemas.flow, tiers, maxError = maxError,
    insertFilter = Some(controlFilter), format = format)

  def metadataTable(tier: SampleTier): DayPartitionedTable =
    new DayPartitionedTable(warehouse, s"flow_metadata${tier.suffix}",
      dayCol = "export_date", sortCol = Some("begin_time"))

  def experimentsTable(tier: SampleTier): DayPartitionedTable =
    new DayPartitionedTable(warehouse, s"flow_experiments${tier.suffix}",
      dayCol = "export_date", sortCol = Some("timestamp"))

  private val metaContextCols = Seq(
    "ua_browser", "ua_version", "ua_os", "context", "entrypoint",
    "migration", "service", "utm_campaign", "utm_content", "utm_medium",
    "utm_source", "utm_term")

  /** The 9 columns the metrics-context backfill repairs (`:211-219`). */
  private val backfillCols = Seq(
    "context", "entrypoint", "migration", "service", "utm_campaign",
    "utm_content", "utm_medium", "utm_source", "utm_term")

  /** Q_INSERT_METADATA (`:109-149`): begin rows → metadata. */
  private def metadataInsert(sampled: DataFrame, day: LocalDate): DataFrame =
    sampled
      .filter(col("type") === "flow.begin") // B5
      .select(
        (col("flow_id") +:
          epochSecondsToTs(col("timestamp")).as("begin_time") +:
          lit(0L).as("duration") +:
          lit(false).as("completed") +:
          lit(false).as("new_account") +:
          metaContextCols.map(col)) :+
          lit(null).cast(StringType).as("locale") :+
          lit(null).cast(StringType).as("uid") :+
          lit(null).cast(StringType).as("continued_from") :+
          lit(day.toString).cast(DateType).as("export_date"): _*)

  /** Q_INSERT_EXPERIMENTS: experiment rows, SPLIT_PART name/cohort (F4). */
  private def experimentsInsert(sampled: DataFrame, day: LocalDate): DataFrame =
    sampled
      .filter(col("type").like("flow.experiment.%"))
      .select(
        splitPart(col("type"), ".", 3).as("experiment"),
        splitPart(col("type"), ".", 4).as("cohort"),
        epochSecondsToTs(col("timestamp")).as("timestamp"),
        col("flow_id"),
        col("uid"),
        lit(day.toString).cast(DateType).as("export_date"))

  /** A rewritten row whose flow_id the update frame holds. */
  private val matched: Column = col("u_flow_id").isNotNull

  /** Per-tier after-day cascade. `typed` is the day's typed staging. */
  private def afterDayTier(
      spark: SparkSession,
      tier: SampleTier,
      day: LocalDate,
      typed: DataFrame,
      maxDay: LocalDate): Unit = {
    val sampled = typed.filter(col("cohort") < tier.percent)

    // The update window (I2): day d in its mid-cascade state — begin
    // rows deleted, continued/experiment still present — union the
    // already-absorbed day d+1 partition from disk. Read once, by the
    // aggregate, so not cached.
    val dayState = importer
      .tierSlice(typed, tier, day, maxDay)
      .filter(col("type") =!= "flow.begin")
    val next = day.plusDays(1)
    val window =
      if (importer.table(tier).hasDay(spark, next))
        dayState.unionByName(
          importer.table(tier).read(spark)
            .filter(col("day") === lit(next.toString).cast("date")))
      else dayState

    // 4/5/6/8: MAX(flow_time|locale|uid) per flow (E2; MAX over VARCHAR
    // = "any non-blank wins" since ''/NULL sort low), the C3 flags, and
    // the continued type — only day d still has those rows (F3/B6).
    val fold = window.groupBy("flow_id").agg(
      max("flow_time").as("upd_flow_time"),
      max("locale").as("upd_locale"),
      max("uid").as("upd_uid"),
      max(when(col("type") === "flow.complete", true)).as("completed_m"),
      max(when(col("type") === "account.created", true)).as("created_m"),
      max(when(col("type").like("flow.continued.%"), col("type"))).as("cont_type"))
      .withColumn("cont_m", col("cont_type").isNotNull)
      .withColumn("fold_m", lit(true))
    // 7: metrics-context backfill build side — from STAGING (sampled,
    // no day filter), gated on the historical cutoff (`:344-352`).
    // localCheckpoint: both rewrites below join the aggregate.
    val upd = (
      if (!day.isBefore(historicalCutoff)) fold
      else fold.join(
        sampled.groupBy("flow_id")
          .agg(max(backfillCols.head).as(s"mcx_${backfillCols.head}"),
            backfillCols.tail.map(c => max(c).as(s"mcx_$c")): _*)
          .withColumn("mcx_m", lit(true)),
        Seq("flow_id"), "full_outer")
    ).localCheckpoint()

    // 1/2 + 4-9: UPDATE-on-match semantics — a column is overwritten
    // only when its source subquery matched (left join + per-column
    // `when`), matching Redshift UPDATE ... FROM.
    def m(c: String): Column = coalesce(col(c), lit(false))
    val meta = rewrite(spark, metadataTable(tier), day,
        metadataInsert(sampled, day), upd) { j =>
      backfillCols.filter(c => j.columns.contains(s"mcx_$c")).foldLeft(j) { (df, c) =>
        df.withColumn(c,
          when(m("mcx_m") && col(c) === "", emptyBackfill(col(c), col(s"mcx_$c")))
            .otherwise(col(c))) // B8: fill only blank fields
      }
        .withColumn("duration",
          when(m("fold_m"), col("upd_flow_time")).otherwise(col("duration")))
        .withColumn("locale",
          when(m("fold_m"), col("upd_locale")).otherwise(col("locale")))
        .withColumn("uid",
          when(m("fold_m"), col("upd_uid")).otherwise(col("uid")))
        .withColumn("completed", col("completed") || m("completed_m"))
        .withColumn("new_account", col("new_account") || m("created_m"))
        .withColumn("continued_from",
          when(m("cont_m"), continuedFrom(col("cont_type")))
            .otherwise(col("continued_from")))
    }

    // 10/11 + 12: experiments insert + uid update from the aggregate
    val exp = rewrite(spark, experimentsTable(tier), day,
        experimentsInsert(sampled, day),
        upd.filter(col("fold_m")).select("flow_id", "upd_uid")) {
      _.withColumn("uid", when(matched, col("upd_uid")).otherwise(col("uid")))
    }

    // Released only now, after the tier-day's last write has finished:
    // a local checkpoint's blocks cannot be recomputed.
    Seq(upd, meta, exp).foreach(release)
  }

  private def horizonFilter(day: LocalDate): Column =
    updateHorizon match {
      case Some(h) =>
        col("export_date") >= lit(day.minusDays(h.toLong).toString).cast(DateType)
      case None => lit(true)
    }

  /** Clear day d (so a zero-row rebuild still clears), then rewrite the
    * table's rows in the update horizon plus day d's `insert` rows,
    * left-joined to `upd` on flow_id and mapped through `update`. Writes
    * only the partitions holding a matched row, plus day d. Returns
    * the checkpointed joined frame, to be released by the caller. */
  private def rewrite(
      spark: SparkSession,
      t: DayPartitionedTable,
      day: LocalDate,
      insert: DataFrame,
      upd: DataFrame)(
      update: DataFrame => DataFrame): DataFrame = {
    t.clearDay(spark, day)
    val rows =
      if (t.days(spark).isEmpty) insert
      else t.read(spark).filter(horizonFilter(day)).unionByName(insert)
    // localCheckpoint, not cache: writeDays below dynamically overwrites
    // the very partitions this frame reads. A cached plan keeps its full
    // lineage, so losing a block mid-write would recompute from the
    // half-overwritten table; checkpointing severs the lineage before
    // the first overwritten byte.
    // No broadcast() hint: `upd` is one row per flow of one day —
    // bounded by day volume, but at 100 TB/day that is far past
    // broadcast range, and a literal hint overrides AQE's size check.
    // The days holding a matched row are observed on the checkpoint's
    // own job; unnamed, because the tiers rewrite concurrently.
    val u = upd.withColumnRenamed("flow_id", "u_flow_id")
    val seen = Observation()
    val joined = rows.join(u, col("flow_id") === col("u_flow_id"), "left")
      .observe(seen,
        collect_set(when(matched, col("export_date").cast("string"))).as("days"))
      .localCheckpoint()
    val days = day.toString +: seen.get("days").asInstanceOf[scala.collection.Seq[String]].toSeq
    t.writeDays(
      update(joined)
        .filter(col("export_date").cast("string").isin(days: _*))
        .select(rows.columns.toIndexedSeq.map(col): _*))
    joined
  }

  /** Drop a local checkpoint's blocks. `Dataset.unpersist` only reaches
    * the cache manager; the blocks belong to the RDD under the plan. */
  private def release(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false): Unit
      case _ =>
    }

  /** Full run: generic import (with absorption-filtered inserts) + the
    * per-day cascade + metadata/experiments expiry (`:379-386`). */
  def run(
      spark: SparkSession,
      landingDir: String,
      prefix: String,
      dayFrom: Option[LocalDate] = None,
      dayUntil: Option[LocalDate] = None,
      forceReload: Boolean = false): Seq[LocalDate] = {
    val days = importer.run(spark, landingDir, prefix, dayFrom, dayUntil,
      forceReload,
      afterDay = (sp, day, staging, maxDay) => {
        val typed = importer.typedStaging(staging)
        // per-tier cascades touch disjoint metadata/experiments tables
        graft.util.Par.foreach(tiers)(t => afterDayTier(sp, t, day, typed, maxDay))
      })
    importer.maxExtantDay(spark).foreach { maxDay =>
      tiers.foreach { tier =>
        metadataTable(tier).expireBefore(spark, maxDay.minus(tier.retention))
        experimentsTable(tier).expireBefore(spark, maxDay.minus(tier.retention))
      }
    }
    days
  }
}
