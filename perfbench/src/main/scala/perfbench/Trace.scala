package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Scheduler counts of one set of jobs. */
final case class Counts(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, oneTaskStages: Long = 0,
    taskRunMs: Long = 0, taskCpuNs: Long = 0, gcMs: Long = 0,
    shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
    inputBytes: Long = 0) {
  def +(o: Counts): Counts = Counts(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    oneTaskStages + o.oneTaskStages, taskRunMs + o.taskRunMs, taskCpuNs + o.taskCpuNs,
    gcMs + o.gcMs, shuffleReadBytes + o.shuffleReadBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes, inputBytes + o.inputBytes)
}

/** Listener registered by the benchmark: per job, its submission time
  * and the summed metrics of its stages' tasks. */
final class JobCounter extends SparkListener {
  private final class Stage(var tasks: Long = 0, var c: Counts = Counts())
  private val stageOf = mutable.Map.empty[Int, Stage]
  private val jobStages = mutable.Map.empty[Int, Seq[Int]]
  private val jobTime = mutable.Map.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStages(e.jobId) = e.stageIds
    jobTime(e.jobId) = e.time
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stageOf.getOrElseUpdate(e.stageId, new Stage())
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null)
      s.c = s.c + Counts(
        taskRunMs = m.executorRunTime, taskCpuNs = m.executorCpuTime, gcMs = m.jvmGCTime,
        shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.diskBytesSpilled + m.memoryBytesSpilled,
        inputBytes = m.inputMetrics.bytesRead)
  }

  /** (submission time ms, counts) per job. Stages skipped because their
    * output was reused ran no task and count for nothing. */
  def jobs: Seq[(Long, Counts)] = synchronized {
    jobStages.toSeq.sortBy(_._1).map { case (id, stages) =>
      val ran = stages.flatMap(stageOf.get)
      jobTime(id) -> ran.foldLeft(Counts(jobs = 1)) { (acc, s) =>
        acc + s.c + Counts(stages = 1, tasks = s.tasks, oneTaskStages = if (s.tasks == 1) 1 else 0)
      }
    }
  }
}

/** Outside-in tracer: a span around each call the benchmark makes into
  * a layer's public function, kept in memory and written at exit.
  *
  * Spans nest through a stack on the calling thread; the benchmark
  * calls layers one at a time, so a Spark job belongs to the innermost
  * span that was open when the job was submitted. When disabled, `span`
  * only runs its body and no listener is registered.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  final class Span(val id: Int, val name: String, val parent: Int, val startMs: Long,
      val startNs: Long) {
    var endNs: Long = 0L
    var endMs: Long = 0L
    var counts: Counts = Counts()
    def seconds: Double = (endNs - startNs) / 1e9
  }

  private val counter = new JobCounter
  if (enabled) sc.addSparkListener(counter)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  /** (spans, jobs) when jobs were last given to spans. */
  private var attributedAt = (-1, -1)

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, stack.headOption.fold(-1)(_.id),
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack.push(s)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack.pop()
      }
    }

  /** Drain the listener bus and give every job to its span, again
    * whenever spans or jobs were added since the last time. */
  private def attribute(): Unit = if (enabled) {
    org.apache.spark.PerfbenchBus.drain(sc)
    val jobs = counter.jobs
    if (attributedAt != ((spans.size, jobs.size))) {
      spans.foreach(_.counts = Counts())
      jobs.foreach { case (t, c) =>
        val open = spans.filter(s => s.startMs <= t && t <= s.endMs)
        if (open.nonEmpty) {
          val inner = open.maxBy(_.id) // later-opened spans nest inside earlier ones
          inner.counts = inner.counts + c
        }
      }
      attributedAt = (spans.size, jobs.size)
    }
  }

  def named(name: String): Seq[Span] = { attribute(); spans.filter(_.name == name).toSeq }

  /** Wall time of a span minus the part its children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  /** Counts of a span including its descendants. */
  def inclusive(s: Span): Counts = {
    attribute()
    spans.filter(_.parent == s.id).foldLeft(s.counts)((acc, ch) => acc + inclusive(ch))
  }

  /** Write every span as one JSON line. */
  def writeTo(f: File): Unit = if (enabled) {
    attribute()
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f)
    spans.foreach { s =>
      val c = s.counts
      w.println(Json.render(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "self_s" -> selfSeconds(s),
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "task_run_ms" -> c.taskRunMs, "task_cpu_ms" -> c.taskCpuNs / 1000000,
        "gc_ms" -> c.gcMs, "shuffle_read_bytes" -> c.shuffleReadBytes,
        "shuffle_write_bytes" -> c.shuffleWriteBytes, "spill_bytes" -> c.spillBytes,
        "input_metrics_bytes" -> c.inputBytes))
    }
    w.close()
  }
}

/** Minimal JSON rendering for the result lines and the span file. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').result()
  }

  /** Text that is already JSON. */
  final case class Raw(json: String)

  def value(v: Any): String = v match {
    case Raw(j) => j
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): Raw = Raw(render(kv: _*))

  def render(kv: (String, Any)*): String = kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
