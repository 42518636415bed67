package perfbench

import java.io.File
import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.jobs.RunImport
import graft.model.SampleTier
import graft.store.DayPartitionedTable

/** The Redash-style read mix over the warehouse the import built, run by
  * the traced import: each query over the whole landed date window,
  * several rounds, each timed under its own span. Bytes and files
  * scanned come from a listing of the partitions the date predicate
  * keeps, and the listener's task input bytes are reported only as a
  * fraction of that listing, as a cross-check.
  */
object DashboardReads {
  val Rounds = 3

  def run(ctx: Ctx, job: RunImport, tiers: Seq[SampleTier], days: Seq[LocalDate]): Seq[(String, Double)] = {
    val spark = ctx.spark
    val (from, until) = (days.head, days.last)
    val (t10, t100) = (tiers.head, tiers.last)
    def range(t: DayPartitionedTable): DataFrame = t.readRange(spark, from, until)
    def dau(t: DayPartitionedTable): DataFrame =
      range(t).groupBy(col("day")).agg(countDistinct(col("uid")).as("dau"))
    val meta = job.flow.metadataTable(t100)
    val exps = job.flow.experimentsTable(t100)
    val queries: Seq[(String, Seq[DayPartitionedTable], () => DataFrame)] = Seq(
      ("dau_10", Seq(job.activity.table(t10)), () => dau(job.activity.table(t10))),
      ("dau_100", Seq(job.activity.table(t100)), () => dau(job.activity.table(t100))),
      ("multi_device", Seq(job.summaries.multiDeviceTable(t100)), () =>
        range(job.summaries.multiDeviceTable(t100)).groupBy(col("day"))
          .agg(countDistinct(col("uid")).as("users"))),
      ("flow_rates", Seq(meta, exps), () =>
        range(meta).join(range(exps).select(col("flow_id"), col("experiment"),
            col("cohort").as("arm")), Seq("flow_id"), "left")
          .groupBy(col("entrypoint"), col("experiment"), col("arm"))
          .agg(count(lit(1)).as("flows"),
            avg(col("completed").cast("int")).as("completion_rate"),
            avg(col("new_account").cast("int")).as("new_account_rate"))),
      ("email_bounce", Seq(job.email.table(t100)), () =>
        range(job.email.table(t100)).groupBy(col("template"))
          .agg(avg((col("type") === "bounced").cast("int")).as("bounce_rate"))),
      ("counts_trend", Seq(job.counts.table), () =>
        range(job.counts.table).select(col("day"), col("accounts"),
          (col("accounts") - lag(col("accounts"), 1).over(Window.orderBy(col("day"))))
            .as("new_accounts"))))

    val t = ctx.tracer
    (1 to Rounds).foreach { _ =>
      queries.foreach { case (name, _, q) => t.span(s"reads.$name")(q().collect()) }
    }
    def scanned(tables: Seq[DayPartitionedTable]): Seq[File] = tables.flatMap { tb =>
      days.flatMap(d => Workload.dataFiles(new File(s"${tb.path}/${tb.dayCol}=$d")))
    }
    val perQuery = queries.map { case (name, tables, _) =>
      val files = scanned(tables)
      val spans = t.named(s"reads.$name")
      (name, Workload.median(spans.map(_.seconds)), files.size.toDouble,
        files.map(_.length).sum.toDouble, spans.map(s => t.inclusive(s).inputBytes).sum.toDouble)
    }
    val listed = perQuery.map(_._4).sum * Rounds
    perQuery.map { case (name, s, _, _, _) => s"reads.${name}_s" -> s } ++ Seq(
      "store.files_scanned_per_query" -> perQuery.map(_._3).sum / perQuery.size,
      "store.bytes_scanned_per_query" -> perQuery.map(_._4).sum / perQuery.size,
      "store.input_metrics_over_listing" -> (if (listed == 0) 0.0 else perQuery.map(_._5).sum / listed))
  }
}
