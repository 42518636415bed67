package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

/** One benchmark run in one JVM and one Spark session:
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --cores <n> [--trace-out <file>]
  * }}}
  * Set-up (JVM start to the end of the workload's warm-up) is `setup_s`.
  * Then whole operations run, closed-loop, as many as fill `--seconds` at
  * the workload's nominal operation time (at least one). The output
  * checks run last. The final stdout line is one JSON object with the raw
  * metric values; `perfbench/run.py` adds the units.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val cores = opts("cores").toInt
    val work = new File(opts("work"))
    val load1Start = loadAverage()

    val spark = graft.GraftSession.builder(s"perfbench-$workload", cores)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getPath)
      .config("spark.sql.streaming.checkpointLocation", new File(work, "checkpoints").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftExtensions.register(spark)
    val tracer = new Tracer(trace, spark.sparkContext)
    val ctx = new Ctx(spark, work, seed, tracer)
    val wl = Workload(workload, ctx)

    val ops = math.min(wl.capacity, math.max(1, math.floor(seconds / wl.nominalOpSeconds).toInt))
    wl.setUp(ops)
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    log(f"$workload seed $seed: set-up $setupS%.2f s")

    val latencies = mutable.ArrayBuffer.empty[Double]
    var rows = 0L
    var wall = 0.0
    var attempted = 0
    var failed = 0
    var heapPeak = postGcHeapMb()
    var i = 0
    while (failed == 0 && i < ops) {
      wl.before(i)
      val t0 = System.nanoTime()
      val r =
        try Some(if (trace) wl.tracedOp(i) else wl.op(i))
        catch { case NonFatal(e) => e.printStackTrace(); None }
      val last = (System.nanoTime() - t0) / 1e9
      wall += last
      attempted += 1
      r match {
        case Some(res) =>
          rows += res.rows
          latencies += last
          wl.after(i)
        case None => failed += 1
      }
      heapPeak = math.max(heapPeak, postGcHeapMb())
      log(f"$workload op $i: $last%.3f s")
      i += 1
    }

    val checksStart = System.nanoTime()
    val checks =
      try wl.checks()
      catch { case NonFatal(e) => e.printStackTrace(); Seq(Check("checks", ok = false, e.toString)) }
    checks.filterNot(_.ok).foreach(c => log(s"CHECK FAILED ${c.name}: ${c.detail}"))
    checks.foreach(c => log(s"check ${c.name}: ${c.detail}"))
    log(f"$workload checks: ${(System.nanoTime() - checksStart) / 1e9}%.2f s")
    attempted += checks.size
    failed += checks.count(!_.ok)

    val metrics: Seq[(String, Double)] =
      if (!trace) Seq(
        "setup_s" -> setupS,
        "op_s_p50" -> Workload.median(latencies.toSeq),
        "rows_per_s" -> rows / wall,
        "heap_peak_mb" -> heapPeak,
        "store_bytes_per_input_byte" -> wl.storeBytesPerInputByte)
      else wl.layerMetrics() ++ schedulerMetrics(tracer, cores)

    val env = Json.obj(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "cores" -> spark.sparkContext.defaultParallelism,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "load1_start" -> load1Start, "load1_end" -> loadAverage(),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "source_sha1" -> sys.env.getOrElse("PERFBENCH_SOURCE", ""),
      "git_commit" -> sys.env.get("PERFBENCH_GIT").filter(_.nonEmpty),
      "ops" -> (attempted - checks.size), "samples" -> latencies.size,
      "checks" -> checks.map(c => Json.obj("name" -> c.name, "ok" -> c.ok)))
    opts.get("trace-out").foreach(f => tracer.writeTo(new File(f)))
    spark.stop()
    println(s"""{"env":${env.json}}""")
    println(Json.render(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.toMap))
  }

  /** Scheduler counts per operation, from the listener, over the "op" spans. */
  private def schedulerMetrics(t: Tracer, cores: Int): Seq[(String, Double)] = {
    val ops = t.named("op")
    val n = math.max(1, ops.size).toDouble
    val c = ops.map(t.inclusive).foldLeft(Counts())(_ + _)
    val opSeconds = ops.map(_.seconds).sum
    Seq(
      "trace.op_s_p50" -> Workload.median(ops.map(_.seconds)),
      "spark.jobs" -> c.jobs / n,
      "spark.stages" -> c.stages / n,
      "spark.tasks" -> c.tasks / n,
      "spark.one_task_stage_frac" -> (if (c.stages == 0) 0.0 else c.oneTaskStages.toDouble / c.stages),
      "spark.task_run_s" -> c.taskRunMs / 1e3 / n,
      "spark.task_cpu_s" -> c.taskCpuNs / 1e9 / n,
      "spark.gc_s" -> c.gcMs / 1e3 / n,
      "spark.shuffle_read_bytes" -> c.shuffleReadBytes / n,
      "spark.shuffle_write_bytes" -> c.shuffleWriteBytes / n,
      "spark.spill_bytes" -> c.spillBytes / n,
      "spark.busy_frac" -> (if (opSeconds == 0) 0.0 else c.taskRunMs / 1e3 / (opSeconds * cores)))
  }

  /** Heap in use after a full collection: what the run keeps live. The
    * first collection queues Spark's unreferenced blocks for its context
    * cleaner; the second, after the cleaner has run, reclaims them. */
  private def postGcHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private def loadAverage(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")
}
