package perfbench

import java.sql.Timestamp
import java.time.{LocalDate, ZoneOffset}

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.streaming.StreamingSessionizer

/** The streaming form of the flow cascade, run the way a nightly
  * deployment runs it: `StreamingSessionizer.sessionize` over a file
  * stream of a day-partitioned flow-events table, one day file per
  * micro-batch, triggered with `Trigger.AvailableNow` from a persistent
  * checkpoint into a parquet sink, so each trigger processes only the
  * days landed since the last one and keeps its state in between.
  *
  * The input table holds the generated flow events of each day, begin
  * events included (the engine's permanent flow tables absorb those);
  * it is written by plain Spark outside any timed region.
  */
final class FlowStream(ctx: Ctx, land: FxaLanding) {
  import FlowStream._

  private val spark = ctx.spark
  private val table = ctx.path("flow_stream")
  private val sink = ctx.path("sessions")
  private val checkpoint = ctx.path("sessions-checkpoint")
  val progress: mutable.ArrayBuffer[StreamingQueryProgress] = mutable.ArrayBuffer.empty
  private var lastStaged: Option[LocalDate] = None

  /** Append the generated flow events of `days` to the input table. */
  def stage(days: Seq[LocalDate]): Unit = {
    import spark.implicits._
    val set = days.toSet
    land.flowRows.toSeq
      .filter(r => set(LocalDate.ofEpochDay(Math.floorDiv(r.ts, 86400L))))
      .map(r => (new Timestamp(r.ts * 1000), r.tpe, r.flowId, r.flowTime, r.ctx.locale, r.uid))
      .toDF("ts", "type", "flow_id", "flow_time", "locale", "uid")
      .withColumn("day", to_date(col("ts")))
      .repartition(col("day"))
      .write.mode("append").partitionBy("day").parquet(table)
    lastStaged = Some(days.max)
  }

  /** One trigger: every day staged since the previous one. */
  def trigger(): Seq[StreamingQueryProgress] = {
    val q = StreamingSessionizer
      .sessionize(StreamingSessionizer.fileStream(spark, table, maxFilesPerTrigger = Some(1)))
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val ps = q.recentProgress.toSeq
    progress ++= ps
    ps
  }

  /** Every emitted session equals its generated flow, and every flow
    * whose lateness window closed well before the last staged day was
    * emitted. The batch `flow_metadata` check holds the batch cascade to
    * the same generated flows, so the two forms agree on closed flows. */
  def checks(): Seq[Check] = {
    val got = spark.read.parquet(sink)
      .select(col("flow_id"), (col("begin_time").cast("double") * 1000).cast("long"),
        col("duration"), col("completed"), col("new_account"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3), r.getBoolean(4)))
    val gotMap = got.toMap
    val endMs = lastStaged.get.plusDays(1).atStartOfDay(ZoneOffset.UTC).toEpochSecond * 1000
    val mustClose = land.flows.values
      .filter(f => f.lastEventMs + 3 * LatenessMs < endMs).map(_.id).toSet
    val wrong = gotMap.count { case (id, v) =>
      !land.flows.get(id).exists(f => (f.beginMs, f.duration, f.completed, f.newAccount) == v)
    }
    Seq(
      Check("stream_sessions_match", wrong == 0 && got.length == gotMap.size,
        s"$wrong of ${got.length} sessions differ"),
      Check("stream_sessions_closed", mustClose.nonEmpty && mustClose.subsetOf(gotMap.keySet),
        s"${(mustClose -- gotMap.keySet).size} of ${mustClose.size} closed flows missing"))
  }

  /** Per-batch phase durations and state size over `batches`. */
  def layerMetrics(batches: Seq[StreamingQueryProgress]): Seq[(String, Double)] = {
    def phase(k: String): Double = Workload.median(batches.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    val last = batches.lastOption
    Seq("addBatch", "getBatch", "walCommit", "commitOffsets").map(k => s"streaming.${k}_ms" -> phase(k)) ++
      Seq(
        "streaming.batch_s" -> Workload.median(batches.map(_.batchDuration / 1000.0)),
        "streaming.state_rows" -> last.fold(0.0)(_.stateOperators.map(_.numRowsTotal).sum.toDouble),
        "streaming.state_bytes" -> last.fold(0.0)(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble))
  }
}

object FlowStream {
  /** The sessionizer's watermark lateness (25 hours). */
  val LatenessMs: Long = 25L * 3600 * 1000
}
