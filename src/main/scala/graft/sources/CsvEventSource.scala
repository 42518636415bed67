package graft.sources

import java.time.LocalDate

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.storage.StorageLevel

import graft.model.EventFamily

/** CSV ingestion layer — SURVEY.md §2 rows A1/A2/A6/A7.
  *
  * Reproduces, in one distributed pass, what the reference spreads over
  * two manual shell tools and Redshift COPY:
  *
  *  - A6 blocklist sanitizer (clean-flow-data.sh:20-45): drop raw lines
  *    containing injection-looking content — quotes, backticks,
  *    semicolons, angle brackets, backslash, "./", case-insensitive
  *    "select " / "declare ", "burpcollab", "nslookup", "file:".
  *  - A7 field-count policy: `Strict` keeps only lines with exactly the
  *    declared field count (clean-flow-data.sh:48); `Pad` right-pads
  *    short lines with empty fields (pad-flow-data.sh:19 — awk `$18=$18`
  *    pads but never truncates, so over-long lines survive to fail
  *    typing, exactly like the reference).
  *  - A1 COPY … MAXERROR n (import_events.py:95): rows whose declared
  *    BIGINT columns fail to parse are error rows; if a day file yields
  *    more than `maxError` of them the whole load aborts.
  *  - A1 TRUNCATECOLUMNS (import_events.py:96): string columns are
  *    silently truncated to their declared VARCHAR width.
  *  - The ''-vs-null policy (SURVEY §7.4 #1): like Redshift COPY, empty
  *    CSV fields land as empty STRINGS, never null — every downstream
  *    `= ''` / `!= ''` / CASE-on-'' site depends on this.
  */
object CsvEventSource {

  sealed trait FieldCountPolicy
  /** Drop lines whose field count differs (clean-flow-data.sh:48). */
  case object Strict extends FieldCountPolicy
  /** Pad short lines with '' fields (pad-flow-data.sh:19). */
  case object Pad extends FieldCountPolicy

  /** A load that exceeded MAXERROR. */
  final class MaxErrorExceeded(val errors: Long, val maxError: Int)
    extends RuntimeException(
      s"CSV load produced $errors error rows (MAXERROR $maxError)")

  /** One regex pass over the raw line = the 13 grep -v filters. The
    * `(?i:...)` groups SCOPE the case-insensitivity to the two SQL
    * keywords (clean-flow-data.sh greps `-i` for those alone); an
    * unscoped `(?i)` would leak to everything after it and drop e.g.
    * 'NSLookup' lines the reference keeps. */
  val blocklistPattern: String =
    """["'`;><\\]|\./|(?i:select )|(?i:declare )|burpcollab|nslookup|file:"""

  def blocklisted(line: Column): Column = line.rlike(blocklistPattern)

  /** Read one day file into a typed staging frame.
    *
    * Single text-scan lineage: sanitize → field-count policy → split →
    * type → truncate. Error accounting forces one aggregate job over the
    * cleaned lines (the COPY analog does the same work server-side);
    * the frame under the result is persisted because the import and
    * the flow cascade each read it.
    */
  def readDay(
      spark: SparkSession,
      file: String,
      family: EventFamily,
      policy: FieldCountPolicy = Strict,
      maxError: Int = 100,
      persist: Boolean = true): DataFrame =
    kept(flaggedDay(spark, file, family, policy, maxError, persist).flagged)

  /** The staging rows of a [[flaggedDay]] frame: its error rows dropped. */
  def kept(flagged: DataFrame): DataFrame =
    flagged.filter(!col("_error")).drop("_error")

  /** A day file past the MAXERROR gate: every typed line with its
    * `_error` flag — the frame that was persisted, so a caller that
    * holds it can release exactly that cache — and the kept lines'
    * MIN/MAX(timestamp), null when no line is kept. */
  final case class GatedDay(flagged: DataFrame, minTs: java.lang.Long, maxTs: java.lang.Long)

  /** [[readDay]] before [[kept]]. */
  private[sources] def flaggedDay(
      spark: SparkSession,
      file: String,
      family: EventFamily,
      policy: FieldCountPolicy,
      maxError: Int,
      persist: Boolean): GatedDay = {
    val n = 1 + family.columns.size // timestamp + declared columns
    val raw = spark.read.text(file)
    val clean = raw.filter(!blocklisted(col("value"))) // A6
    val fields = split(col("value"), ",", -1)
    val withFields = policy match {
      case Strict => clean.filter(size(fields) === n).select(fields.as("f"))
      case Pad =>
        // awk pads to n fields but never truncates over-long lines
        clean.select(
          when(size(fields) < n,
            concat(fields, array_repeat(lit(""), lit(n) - size(fields))))
            .otherwise(fields).as("f"))
    }
    // Typing: ts is a required BIGINT; per-family BIGINT columns too.
    // Spark 4 runs ANSI mode by default, where a plain cast on garbage
    // throws — regex-guard the numeric casts so bad rows become nulls
    // that the MAXERROR accounting can count instead of crashing the job.
    def tryLong(c: Column): Column =
      when(c.rlike("^-?[0-9]+$"), c.cast(LongType))
    val tsCol = tryLong(element_at(col("f"), 1))
    val typedCols = family.columns.zipWithIndex.map { case (c, i) =>
      val rawCol = element_at(col("f"), i + 2)
      val typed = c.dataType match {
        case LongType => tryLong(rawCol)
        case StringType if c.width > 0 => substring(rawCol, 1, c.width) // TRUNCATECOLUMNS
        case _ => rawCol
      }
      typed.as(c.name)
    }
    val parsed = withFields.select(
      (col("f") +: tsCol.as("timestamp") +: typedCols): _*)
    val isError = family.columns.foldLeft(
      col("timestamp").isNull || size(col("f")) =!= n) { (acc, c) =>
      if (c.dataType == LongType && c.notNull) acc || col(c.name).isNull else acc
    }
    gate(parsed.withColumn("_error", isError).drop("f"), maxError, persist)
  }

  /** Persist `flagged` (when asked), then one aggregate: its error
    * rows, and the MIN/MAX timestamp of the others. Over `maxError`
    * errors, release it and throw [[MaxErrorExceeded]]. */
  private[sources] def gate(
      flagged: DataFrame, maxError: Int, persist: Boolean): GatedDay = {
    if (persist) flagged.persist(StorageLevel.MEMORY_AND_DISK)
    val keptTs = when(!col("_error"), col("timestamp"))
    val r = flagged.agg(count(when(col("_error"), 1)), min(keptTs), max(keptTs)).head()
    val errors = r.getLong(0)
    if (errors > maxError) { // MAXERROR gate
      flagged.unpersist()
      throw new MaxErrorExceeded(errors, maxError)
    }
    GatedDay(flagged, r.getAs[java.lang.Long](1), r.getAs[java.lang.Long](2))
  }

  /** A2 — enumerate day files under a landing dir: `{prefix}-YYYY-MM-DD
    * .csv`, day parsed as the last three hyphen-split parts of the
    * basename minus ".csv" (import_events.py:181-183). */
  def listDays(spark: SparkSession, dir: String, prefix: String,
      ext: String = ".csv"): Seq[(LocalDate, String)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else
      fs.listStatus(p).toSeq
        .map(_.getPath)
        .filter { f =>
          f.getName.startsWith(s"$prefix-") && f.getName.endsWith(ext)
        }
        .flatMap { f =>
          val day = f.getName.dropRight(ext.length).split("-").takeRight(3).mkString("-")
          scala.util.Try(LocalDate.parse(day)).toOption.map(_ -> f.toString)
        }
        .sortBy(_._1)
  }

  /** Test/fixture helper: write `df` (a staging-shaped frame plus a
    * `day` column) as one `{prefix}-YYYY-MM-DD.csv` file per day — the
    * landing layout the reference reads from S3. Values must not
    * contain commas/quotes (the sanitizer would reject them anyway);
    * empty strings are written as empty fields, not `""`. */
  def writeLanding(
      spark: SparkSession,
      df: DataFrame,
      dir: String,
      prefix: String,
      dayCol: String = "day"): Seq[LocalDate] = {
    val days = df.select(col(dayCol).cast("string")).distinct()
      .collect().map(r => LocalDate.parse(r.getString(0))).toSeq.sorted
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(dir))
    graft.util.Par.foreach(days) { day =>
      val tmp = s"$dir/.tmp-$day"
      df.filter(col(dayCol) === lit(day.toString).cast(df.schema(dayCol).dataType))
        .drop(dayCol)
        .coalesce(1)
        .write.mode("overwrite")
        .option("emptyValue", "").option("nullValue", "")
        .csv(tmp)
      val part = fs.listStatus(new Path(tmp))
        .map(_.getPath).find(_.getName.startsWith("part-")).get
      val dest = new Path(s"$dir/$prefix-$day.csv")
      fs.delete(dest, false) // rename silently no-ops onto an existing file
      require(fs.rename(part, dest), s"rename failed: $part -> $dest")
      fs.delete(new Path(tmp), true)
    }
    days
  }

  /** Append raw text lines to a landing file (fixture corruption). */
  def appendLines(spark: SparkSession, file: String, lines: Seq[String]): Unit = {
    val p = new Path(file)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existing = if (fs.exists(p)) {
      val in = fs.open(p)
      val bytes = org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
      in.close()
      new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    } else ""
    val out = fs.create(p, true)
    out.write((existing + lines.mkString("", "\n", "\n"))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
  }
}
