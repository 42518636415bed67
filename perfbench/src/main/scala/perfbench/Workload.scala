package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** What a workload's operations and checks run against. */
final class Ctx(val spark: SparkSession, val work: File, val seed: Long, val tracer: Tracer) {
  def path(name: String): String = new File(work, name).getPath
}

/** Input rows one timed operation consumed. */
final case class OpResult(rows: Long)

/** One output check; a failed check counts as a failed operation. */
final case class Check(name: String, ok: Boolean, detail: String = "")

/** A benchmark workload. `Main` calls `setUp` once, then for each
  * operation `before` (untimed), `op` or `tracedOp` (timed) and `after`
  * (untimed), then `checks`, then `layerMetrics` in a traced run.
  */
trait Workload {
  /** Input generation for `ops` operations and warm-up; counted in `setup_s`. */
  def setUp(ops: Int): Unit

  /** Operations the generated input supports. */
  def capacity: Int

  /** Wall time of one operation on a quiet 4-core box. A run of `s`
    * seconds measures `max(1, floor(s / nominalOpSeconds))` operations:
    * the count follows `--seconds` but not the speed of the run, so
    * every run of a workload does the same work and keeps the same state. */
  def nominalOpSeconds: Double

  def before(i: Int): Unit = ()

  /** One operation through the engine's public entry points. */
  def op(i: Int): OpResult

  /** The same operation, calling each layer's public functions from the
    * benchmark under tracer spans; the root span is named "op". */
  def tracedOp(i: Int): OpResult

  def after(i: Int): Unit = ()

  /** Bytes the engine keeps on disk per byte of input it consumed. */
  def storeBytesPerInputByte: Double

  def checks(): Seq[Check]

  /** Per-layer metrics of a traced run, named as in BENCHMARK.json. */
  def layerMetrics(): Seq[(String, Double)]
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "import_nightly" => new ImportNightly(ctx)
    case "curation_nightly" => new CurationNightly(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Data files (not markers or checksums) under `dir`, recursively. */
  def dataFiles(dir: File): Seq[File] =
    if (!dir.exists) Nil
    else if (dir.isFile) Seq(dir).filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
    else Option(dir.listFiles).toSeq.flatten.flatMap(dataFiles)

  def bytesUnder(dir: File): Long = dataFiles(dir).map(_.length).sum
}
