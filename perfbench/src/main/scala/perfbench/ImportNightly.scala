package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.time.{LocalDate, Period}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.jobs.RunImport
import graft.model.SampleTier
import graft.sources.CsvEventSource
import graft.store.DayPartitionedTable

/** The nightly cron: one landed day at a time through `RunImport.run`
  * (all four pipelines, all three sample tiers, the daily summaries and
  * compaction), then one `Trigger.AvailableNow` trigger of the streaming
  * sessionizer over the same day's flow events. One operation is that
  * night.
  *
  * Set-up generates the backlog, stages a few stream-only days so that
  * stream sessions close within a run, and runs one warm-up night. Each
  * operation first lands the next day's four files and stages its flow
  * events (untimed), then imports exactly that day and triggers the
  * stream. The 50 % tier keeps only the newest day, so its expiry fires
  * on every measured night; the 10 % and 100 % tiers keep every
  * imported day for the reads.
  */
final class ImportNightly(ctx: Ctx) extends Workload {
  import ImportNightly._
  import Workload.median

  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private val land = new FxaLanding(ctx.seed, Start, RowsPerDay,
    i => if (i < StreamOnlyDays + WarmDays) RowsPerDay / 10 else RowsPerDay)
  private val stream = new FlowStream(ctx, land)
  private val generated = new File(ctx.path("generated"))
  private val landing = ctx.path("landing")
  private val warehouse = ctx.path("warehouse")
  val job = new RunImport(warehouse, landing, Tiers, countsBegin = Start)
  private val firstImported = day(StreamOnlyDays)

  private var landed = StreamOnlyDays
  private var setupBatches = 0
  private val dayInputBytes = mutable.Map.empty[LocalDate, Long]
  private val dayLines = mutable.Map.empty[LocalDate, Long]
  private val storeRatio = mutable.ArrayBuffer.empty[Double]
  private val written = mutable.ArrayBuffer.empty[(Double, Double, Double)]
  private val pairsPerDay = mutable.ArrayBuffer.empty[Double]
  private val readDay = mutable.ArrayBuffer.empty[Double]
  private val writeDay = mutable.ArrayBuffer.empty[Double]
  private var linesIn = 0L
  private var linesKept = 0L
  private var opStartMs = 0L
  private var current: LocalDate = Start

  def day(i: Int): LocalDate = Start.plusDays(i.toLong)

  def capacity: Int = MaxDays

  def nominalOpSeconds: Double = 15.0

  def setUp(ops: Int): Unit = {
    land.writeDays(generated, StreamOnlyDays + WarmDays + ops)
    stream.stage((0 until StreamOnlyDays).map(day))
    (0 until WarmDays).foreach { _ =>
      val d = landNext()
      stream.stage(Seq(d))
      job.run(spark, dayUntil = Some(d))
      stream.trigger()
    }
    setupBatches = stream.progress.size
  }

  /** Move the next generated day's four files into the landing tree. */
  private def landNext(): LocalDate = {
    val d = day(landed)
    Seq(s"activity/activity-$d.csv", s"flow/flow-$d.csv", s"email/email-events-$d.csv",
        s"counts/fxa-basic-metrics-$d.txt").foreach { rel =>
      val src = new File(generated, rel)
      val dst = new File(landing, rel)
      dst.getParentFile.mkdirs()
      dayInputBytes(d) = dayInputBytes.getOrElse(d, 0L) + src.length
      dayLines(d) = dayLines.getOrElse(d, 0L) + Files.readAllLines(src.toPath).size
      Files.move(src.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
    }
    landed += 1
    d
  }

  override def before(i: Int): Unit = {
    current = landNext()
    stream.stage(Seq(current))
    opStartMs = System.currentTimeMillis()
  }

  def op(i: Int): OpResult = {
    job.run(spark, dayUntil = Some(current))
    stream.trigger()
    OpResult(dayLines(current))
  }

  def tracedOp(i: Int): OpResult = {
    val d = current
    def dir(p: String) = s"$landing/$p"
    tracer.span("op") {
      val a = tracer.span("jobs.import.activity")(
        job.activity.run(spark, dir("activity"), "activity", None, Some(d)))
      val f = tracer.span("jobs.import.flow")(
        job.flow.run(spark, dir("flow"), "flow", None, Some(d)))
      val e = tracer.span("jobs.import.email")(
        job.email.run(spark, dir("email"), "email-events", None, Some(d)))
      val c = tracer.span("jobs.import.counts")(
        job.counts.run(spark, dir("counts"), "fxa-basic-metrics"))
      tracer.span("jobs.import.summaries")(
        if (job.activity.maxExtantDay(spark).isDefined) job.summaries.summarize(spark))
      tracer.span("jobs.import.compact")(
        job.compact(spark, Map("activity" -> a, "flow" -> f, "email" -> e, "counts" -> c)))
      tracer.span("streaming.trigger")(stream.trigger())
    }
    OpResult(dayLines(current))
  }

  /** Partition directories of one day, across every warehouse table. */
  private def dayPartitions(d: LocalDate): Seq[File] =
    Option(new File(warehouse).listFiles).toSeq.flatten.flatMap { t =>
      Seq(new File(t, s"day=$d"), new File(t, s"export_date=$d")).filter(_.isDirectory)
    }

  override def after(i: Int): Unit = {
    val d = current
    storeRatio += dayPartitions(d).map(Workload.bytesUnder).sum.toDouble / dayInputBytes(d)
    if (tracer.enabled) {
      val fresh = Workload.dataFiles(new File(warehouse)).filter(_.lastModified >= opStartMs)
      written += ((fresh.size.toDouble, fresh.map(_.length).sum.toDouble,
        fresh.map(_.getParentFile).distinct.size.toDouble))
      pairsPerDay += job.summaries.multiDeviceTable(Tiers.last).read(spark)
        .filter(col("day") === lit(d.toString).cast("date")).count().toDouble
      traceSources(d)
      traceStoreWrite(d)
    }
  }

  /** Direct `readDay` of each family's file, MAXERROR count included. */
  private def traceSources(d: LocalDate): Unit =
    Seq((graft.model.Schemas.activity, s"activity/activity-$d.csv"),
        (graft.model.Schemas.flow, s"flow/flow-$d.csv"),
        (graft.model.Schemas.email, s"email/email-events-$d.csv")).foreach { case (family, rel) =>
      val file = s"$landing/$rel"
      val t0 = System.nanoTime()
      val staged = tracer.span("sources.read_day")(CsvEventSource.readDay(spark, file, family))
      readDay += (System.nanoTime() - t0) / 1e9
      linesKept += staged.count()
      linesIn += Files.readAllLines(new File(file).toPath).size
      staged.unpersist()
    }

  /** Direct `writeDays` of the day's 100 % activity slice to a scratch table. */
  private def traceStoreWrite(d: LocalDate): Unit = {
    val slice = job.activity.table(Tiers.last).read(spark)
      .filter(col("day") === lit(d.toString).cast("date")).cache()
    slice.count()
    val scratch = new DayPartitionedTable(ctx.path("scratch"), "activity_write", sortCol = Some("ts"))
    val t0 = System.nanoTime()
    tracer.span("store.write_day")(scratch.writeDays(slice))
    writeDay += (System.nanoTime() - t0) / 1e9
    slice.unpersist()
  }

  def storeBytesPerInputByte: Double = median(storeRatio.toSeq)

  // ---- output checks -------------------------------------------------

  private def countsByDay(t: DayPartitionedTable): Map[LocalDate, Long] =
    if (!t.exists(spark)) Map.empty
    else t.read(spark).groupBy(col(t.dayCol).cast("string")).count().collect()
      .map(r => LocalDate.parse(r.getString(0)) -> r.getLong(1)).toMap

  def checks(): Seq[Check] = {
    val last = day(landed - 1)
    val imported = (StreamOnlyDays until landed).map(day)
    val tierChecks = Tiers.flatMap { tier =>
      val keep = imported.filter(d => !d.isBefore(last.minus(tier.retention)))
      Seq(("activity", job.activity.table(tier)), ("flow", job.flow.importer.table(tier)),
          ("email", job.email.table(tier))).map { case (family, table) =>
        val got = countsByDay(table)
        val want = keep.map(d => d -> land.expectedRows(family, d, tier.percent)).toMap
        Check(s"rows.$family${tier.suffix}", got == want.filter(_._2 > 0),
          s"got $got want $want")
      } :+ {
        val got = countsByDay(job.summaries.multiDeviceTable(tier))
        val want = keep.map { d =>
          val floor = Seq(firstImported, d.minusDays(7), d.minus(tier.retention).minusDays(1)).max
          d -> land.expectedMultiDevice(d, tier.percent, floor)
        }.toMap.filter(_._2 > 0)
        Check(s"multi_device${tier.suffix}", got == want, s"got $got want $want")
      }
    }
    tierChecks ++ Seq(nesting(last), flowSessions(last), countsTable(imported)) ++ stream.checks()
  }

  /** Tier nesting 10 ⊂ 50 ⊂ 100 on the last day's activity rows. */
  private def nesting(d: LocalDate): Check = {
    def rows(t: SampleTier): DataFrame = job.activity.table(t).read(spark)
      .filter(col("day") === lit(d.toString).cast("date"))
    val stray = Tiers.sliding(2).map { case Seq(small, big) =>
      rows(small).exceptAll(rows(big)).count()
    }.sum
    Check("tier_nesting", stray == 0, s"$stray rows of a smaller tier missing from a larger one")
  }

  /** Flow metadata of the 100 % tier against the generated flows, for
    * days whose next day is imported too (their late events are in). */
  private def flowSessions(last: LocalDate): Check = {
    val tier = Tiers.last
    val meta = job.flow.metadataTable(tier)
    val got = meta.read(spark).filter(col("export_date") < lit(last.toString).cast("date"))
      .select(col("flow_id"), (col("begin_time").cast("double") * 1000).cast("long"),
        col("duration"), col("completed"), col("new_account"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3), r.getBoolean(4)))
      .toMap
    val metaDays = meta.days(spark).toSet
    val want = land.flows.values
      .filter(f => f.cohort < tier.percent && metaDays.contains(f.day) && f.day.isBefore(last))
      .map(f => f.id -> (f.beginMs, f.duration, f.completed, f.newAccount)).toMap
    val bad = (got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))
    Check(s"flow_metadata${tier.suffix}", bad == 0 && want.nonEmpty, s"$bad of ${want.size} flows differ")
  }

  private def countsTable(imported: Seq[LocalDate]): Check = {
    val got = job.counts.table.read(spark).select(col("day").cast("string"), col("accounts"),
      col("verified_accounts")).collect().map(r => LocalDate.parse(r.getString(0)) -> (r.getLong(1), r.getLong(2))).toMap
    val want = imported.map(d => d -> land.counts(d)).toMap
    Check("counts", got == want, s"got ${got.size} days want ${want.size}")
  }

  // ---- per-layer metrics --------------------------------------------

  def layerMetrics(): Seq[(String, Double)] = {
    val ops = tracer.named("op")
    def self(name: String): Double = median(ops.map { o =>
      tracer.named(name).filter(_.parent == o.id).map(tracer.selfSeconds).sum
    })
    def jobsIn(name: String): Double =
      median(tracer.named(name).map(s => tracer.inclusive(s).jobs.toDouble))
    val pipelines = Seq("activity", "flow", "email", "counts", "summaries", "compact")
    val importJobs = median(ops.map { o =>
      pipelines.flatMap(p => tracer.named(s"jobs.import.$p")).filter(_.parent == o.id)
        .map(s => tracer.inclusive(s).jobs.toDouble).sum
    })
    pipelines.map(p => s"jobs.import.${p}_s" -> self(s"jobs.import.$p")) ++ Seq(
      "sources.read_day_s" -> median(readDay.toSeq),
      "sources.lines_kept_frac" -> (if (linesIn == 0) 0.0 else linesKept.toDouble / linesIn),
      "operators.import.jobs_per_day" -> importJobs,
      "operators.flow.jobs_per_day" -> jobsIn("jobs.import.flow"),
      "operators.summaries.pairs_per_day" -> median(pairsPerDay.toSeq),
      "store.files_written_per_day" -> median(written.map(_._1).toSeq),
      "store.bytes_written_per_day" -> median(written.map(_._2).toSeq),
      "store.partitions_written_per_day" -> median(written.map(_._3).toSeq),
      "store.write_day_s" -> median(writeDay.toSeq)) ++
      stream.layerMetrics(stream.progress.drop(setupBatches).toSeq) ++
      DashboardReads.run(ctx, job, Tiers, (StreamOnlyDays until landed).map(day))
  }
}

object ImportNightly {
  val Start: LocalDate = LocalDate.parse("2024-03-01")
  /** Activity lines per measured day (flow and email derive their counts
    * from it). The stream-only and warm-up days carry a tenth of that:
    * they warm the same code paths, and set-up stays short. */
  val RowsPerDay = 20000
  /** Days only the stream sees before the first import, so that stream
    * sessions close (their 25-hour lateness window passes) in a run. */
  val StreamOnlyDays = 3
  val WarmDays = 1
  val MaxDays = 8
  /** Day-granular retention. The 10 % and 100 % tiers keep every day a
    * run imports, so the reads compare the two tiers over the same
    * multi-day window; the 50 % tier keeps only the newest day, so its
    * expiry drops a day on every measured night. */
  val Tiers: Seq[SampleTier] = Seq(
    SampleTier(10, Period.ofDays(14), "_sampled_10"),
    SampleTier(50, Period.ofDays(0), "_sampled_50"),
    SampleTier(100, Period.ofDays(7), ""))
}
