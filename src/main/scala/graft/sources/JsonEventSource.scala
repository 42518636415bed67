package graft.sources

import java.time.LocalDate

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.model.EventFamily

/** JSON-lines ingestion — the same ingest CONTRACT as
  * [[CsvEventSource]] (SURVEY §2 A1/A2/A7 semantics) over a second
  * wire format, sharing the [[EventFamily]] schema metadata:
  *
  *  - MAXERROR n: a line that is not valid JSON, or whose required
  *    BIGINT fields fail to parse, is an error row; a day file with
  *    more than `maxError` of them aborts the load (COPY parity,
  *    import_events.py:95).
  *  - TRUNCATECOLUMNS: string fields truncate to declared VARCHAR
  *    width (import_events.py:96).
  *  - ''-vs-null: missing/null string fields land as empty STRINGS —
  *    the policy every downstream `= ''` site depends on (SURVEY §7.4
  *    #1). JSON makes "field absent" expressible where CSV cannot, so
  *    the normalization is load-bearing here, not cosmetic.
  *
  * The A6 blocklist sanitizer is deliberately NOT applied: it is the
  * reference's CSV-era injection heuristic (quotes/semicolons in raw
  * lines), and every JSON line would trip it. Field-count policy is
  * likewise meaningless for a self-describing format — extra keys are
  * ignored, missing keys are ''.
  *
  * Scale shape: one text scan per day file, all parsing/typing in one
  * codegen'd projection (from_json + casts), one aggregate job for the
  * MAXERROR gate — identical to the CSV path.
  */
object JsonEventSource {

  /** Read one `{prefix}-YYYY-MM-DD.json` day file into the same typed
    * staging frame [[CsvEventSource.readDay]] produces. */
  def readDay(
      spark: SparkSession,
      file: String,
      family: EventFamily,
      maxError: Int = 100,
      persist: Boolean = true): DataFrame =
    CsvEventSource.kept(flaggedDay(spark, file, family, maxError, persist).flagged)

  /** [[readDay]] before [[CsvEventSource.kept]], as
    * [[CsvEventSource.flaggedDay]]. */
  private[sources] def flaggedDay(
      spark: SparkSession,
      file: String,
      family: EventFamily,
      maxError: Int,
      persist: Boolean): CsvEventSource.GatedDay = {
    // Parse everything as STRING first, then apply the shared typing
    // rules — identical error semantics to the CSV path (a JSON number
    // token coerces to its string form, so 123 and "123" both type).
    val jsonSchema = StructType(
      StructField("timestamp", StringType) +:
        family.columns.map(c => StructField(c.name, StringType)) :+
        StructField("_corrupt", StringType))
    val raw = spark.read.text(file)
    val parsed0 = raw.select(from_json(col("value"), jsonSchema,
      Map("mode" -> "PERMISSIVE",
        "columnNameOfCorruptRecord" -> "_corrupt")).as("j"))
    def tryLong(c: Column): Column =
      when(c.rlike("^-?[0-9]+$"), c.cast(LongType))
    val tsCol = tryLong(col("j.timestamp"))
    val typedCols = family.columns.map { c =>
      val rawCol = col(s"j.${c.name}")
      val typed = c.dataType match {
        case LongType => tryLong(rawCol)
        // '' policy + TRUNCATECOLUMNS in one expression
        case StringType if c.width > 0 =>
          substring(coalesce(rawCol, lit("")), 1, c.width)
        case _ => coalesce(rawCol, lit(""))
      }
      typed.as(c.name)
    }
    val parsed = parsed0.select(
      (col("j._corrupt").as("_corrupt") +: tsCol.as("timestamp") +: typedCols): _*)
    // _corrupt marks every malformed line (from_json PERMISSIVE), so the
    // error predicate is: corrupt JSON, or any required BIGINT that
    // failed to type — the same MAXERROR accounting as the CSV path
    val flagged = parsed
      .withColumn("_error",
        family.columns.foldLeft(
          col("_corrupt").isNotNull || col("timestamp").isNull) { (acc, c) =>
          if (c.dataType == LongType && c.notNull) acc || col(c.name).isNull else acc
        })
      .drop("_corrupt")
    CsvEventSource.gate(flagged, maxError, persist)
  }

  /** A2 — day discovery, shared listing logic, `.json` extension. */
  def listDays(spark: SparkSession, dir: String, prefix: String): Seq[(LocalDate, String)] =
    CsvEventSource.listDays(spark, dir, prefix, ext = ".json")

  /** Fixture helper: write a staging-shaped frame (plus `day`) as one
    * JSON-lines `{prefix}-YYYY-MM-DD.json` per day. */
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
        .json(tmp)
      val part = fs.listStatus(new Path(tmp))
        .map(_.getPath).find(_.getName.startsWith("part-")).get
      val dest = new Path(s"$dir/$prefix-$day.json")
      fs.delete(dest, false)
      require(fs.rename(part, dest), s"rename failed: $part -> $dest")
      fs.delete(new Path(tmp), true)
    }
    days
  }
}
