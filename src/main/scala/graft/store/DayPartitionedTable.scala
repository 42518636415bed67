package graft.store

import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDate, Period}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DateType, IntegerType, StructField, StructType}

/** Day-partitioned zstd-parquet table — the engine's storage layer.
  *
  * Reproduces the reference's operational protocol (SURVEY.md §2 D-rows)
  * on top of Spark-native partitioned parquet:
  *
  *  - D1 clear-day-then-insert (import_events.py:102-127) → dynamic
  *    partition overwrite: only the day partitions present in the written
  *    DataFrame are replaced, atomically per partition, so re-running a
  *    day is an idempotent rebuild (I5).
  *  - D2 retention expiry (import_events.py:133-136) → O(partitions)
  *    metadata deletes of `day=<d>` directories, no data scan.
  *  - D4 VACUUM (import_events.py:138-142) → write-time compaction:
  *    rows are shuffled into `filesPerDay` buckets per day before the
  *    write, so file counts stay bounded regardless of input parallelism.
  *  - G1 sort-on-write (calculate_daily_summary.py:64) → an optional
  *    within-partition sort column keeps parquet row-group min/max stats
  *    tight for range-restricted scans (the SORTKEY analog).
  *  - B9 existence probe (import_events.py:72-78) → `hasDay` is an O(1)
  *    partition-directory check, cheaper than the reference's LIMIT 1 scan.
  *  - A2/I4 day discovery + high-water mark → directory listing, driver-side.
  *
  * Predicates on `day` prune partitions at scan time (Catalyst
  * PruneFileSourcePartitions), which is what makes per-day rollups
  * near-free at 100 TB — the property the reference's `timestamp::DATE`
  * predicates could never give Redshift (SURVEY §4.2).
  *
  * A BANDED table (`bandCol` set) is laid out `day=<d>/<bandCol>=<u>`:
  * the nested sample tiers of one event family stored once, each row in
  * the one band that bounds its cohort, and each tier read back through
  * [[view]]. Every day operation above acts on all of a day's bands.
  *
  * [[writeDays]] records the written schema in `_schema.json` at the
  * table root, and [[read]] declares it, so a read starts no parquet
  * footer job; a table without the file is read by inference.
  */
sealed class DayPartitionedTable(
    val root: String,
    val name: String,
    val dayCol: String = "day",
    val sortCol: Option[String] = None,
    val filesPerDay: Int = 1,
    val bandCol: Option[String] = None) {

  val path: String = s"$root/$name"

  private def partitionCols: Seq[String] = dayCol +: bandCol.toSeq

  private def fs(spark: SparkSession): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession): Boolean = fs(spark).exists(new Path(path))

  /** B9 — is this day already loaded? O(1) directory-metadata probe. */
  def hasDay(spark: SparkSession, day: LocalDate): Boolean =
    fs(spark).exists(new Path(s"$path/$dayCol=$day"))

  /** A2/I4 — the loaded days, from partition-directory names. */
  def days(spark: SparkSession): Seq[LocalDate] = {
    val p = new Path(path)
    val f = fs(spark)
    if (!f.exists(p)) Seq.empty
    else
      f.listStatus(p).toSeq
        .map(_.getPath.getName)
        .filter(_.startsWith(s"$dayCol="))
        .map(n => LocalDate.parse(n.stripPrefix(s"$dayCol=")))
        .sorted
  }

  /** I4 — high-water mark (MAX day), from metadata only. */
  def maxDay(spark: SparkSession): Option[LocalDate] = days(spark).lastOption
  def minDay(spark: SparkSession): Option[LocalDate] = days(spark).headOption

  /** The `(day, band)` of every band directory of a banded table. */
  private def bands(spark: SparkSession): Seq[(LocalDate, Int)] = {
    val b = bandCol.getOrElse(throw new IllegalStateException(s"$name is not banded"))
    Option(fs(spark).globStatus(new Path(s"$path/$dayCol=*/$b=*"))).toSeq.flatten.map { st =>
      (LocalDate.parse(st.getPath.getParent.getName.stripPrefix(s"$dayCol=")),
        st.getPath.getName.stripPrefix(s"$b=").toInt)
    }
  }

  /** D1 — write `df`'s day partitions, replacing exactly those days
    * (those (day, band) pairs, when banded).
    *
    * `df` must carry `dayCol` (DateType), and `bandCol` (IntegerType)
    * when banded: the types partition inference reads back.
    * Rows are repartitioned by (day, band, bucket) so each partition
    * lands in `filesPerDay` files (D4), and sorted within partitions on
    * `sortCol` (G1) for stats-tight scans.
    */
  def writeDays(df: DataFrame): Unit = {
    val types = partitionCols.map(df.schema(_).dataType)
    require(types.head == DateType && types.tail.forall(_ == IntegerType),
      s"$name: partition columns ${partitionCols.mkString(", ")} must be DATE, INT; got " +
        types.map(_.sql).mkString(", "))
    val bucket: Column =
      if (filesPerDay <= 1) lit(0)
      else pmod(hash(col(sortCol.getOrElse(df.columns.head))), lit(filesPerDay))
    val parts = partitionCols.map(col)
    val shaped = df.repartition((parts :+ bucket): _*)
    shaped.sortWithinPartitions((parts ++ sortCol.map(col)): _*)
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)
    recordSchema(df.sparkSession, df.schema)
  }

  private def schemaFile: Path = new Path(s"$path/_schema.json")

  /** Record the schema parquet inference returns for what `written`
    * wrote: data columns in write order, then the partition columns,
    * all nullable (partition types are inferred from directory names:
    * date days, integer bands). Replaced by a rename, and only when it
    * changes. */
  private def recordSchema(spark: SparkSession, written: StructType): Unit = {
    val f = fs(spark)
    val json = StructType(
      written.filterNot(c => partitionCols.contains(c.name)).map(_.copy(nullable = true)) ++
        partitionCols.map(c => StructField(c, written(c).dataType))).json
    if (!declaredJson(f).contains(json)) {
      val tmp = new Path(s"$path/_schema.json.tmp")
      val out = f.create(tmp, true)
      try out.write(json.getBytes(UTF_8)) finally out.close()
      if (!f.rename(tmp, schemaFile)) { // a store whose rename will not replace
        f.delete(schemaFile, false)
        f.rename(tmp, schemaFile)
      }
    }
  }

  private def declaredJson(f: FileSystem): Option[String] =
    try {
      val in = f.open(schemaFile)
      try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** D1's DELETE half, standalone: drop one day partition. Needed when a
    * rebuild may legitimately produce ZERO rows for the day (the
    * reference's Q_CLEAR_DAY runs unconditionally; dynamic overwrite
    * alone would leave the stale partition in place). */
  def clearDay(spark: SparkSession, day: LocalDate): Unit = {
    fs(spark).delete(new Path(s"$path/$dayCol=$day"), true): Unit
  }

  /** D4 — post-hoc compaction of one day partition (the VACUUM FULL
    * analog for partitions accreted by many small incremental jobs):
    * rewrite the partition's files into `filesPerDay` sorted files via
    * a sibling temp dir and a directory swap — fully distributed, one
    * partition of IO, and never reads the path it overwrites. A banded
    * table compacts each band directory of the day this way.
    *
    * The swap keeps [[graft.util.StateDirs.promote]]'s order — park
    * the live day under a hidden (leading-`.`) name, rename the copy
    * in, reap the parked one — so the day is always fully old or fully
    * new; a day found only parked is restored first.
    *
    * Already-shaped partitions are SKIPPED on a pure file-count
    * listing — no Spark job, no rewrite. Redshift's VACUUM does the
    * same (unsorted-region-only); rewriting every touched day made
    * RunImport.compact ~half of the whole import's job count (the
    * q41 profile: ~1k of 1986 driver-scheduled jobs) for runs whose
    * partitions writeDays had ALREADY shaped. A skipped partition
    * keeps its writer's internal order — sortkey parity (G1) lives in
    * the writeDays rebuild path, and compaction re-establishes it
    * exactly when accretion is present (file count past the target). */
  def compactDay(spark: SparkSession, day: LocalDate): Unit = bandCol match {
    case None => compactDir(spark, new Path(path), s"$dayCol=$day", day.toString)
    case Some(b) =>
      val dayDir = new Path(s"$path/$dayCol=$day")
      val f = fs(spark)
      if (f.exists(dayDir))
        f.listStatus(dayDir).map(_.getPath.getName)
          .collect { case n if n.startsWith(s"$b=") || n.startsWith(s".parked-$b=") =>
            n.stripPrefix(".parked-") }
          .distinct
          .foreach(n => compactDir(spark, dayDir, n, n))
  }

  /** [[compactDay]]'s swap of the partition directory `parent/name`;
    * its hidden siblings are `.parked-<tag>` and `.compacting-<tag>`. */
  private def compactDir(spark: SparkSession, parent: Path, name: String, tag: String): Unit = {
    val f = fs(spark)
    val src = new Path(parent, name)
    val parked = new Path(parent, s".parked-$tag")
    if (!f.exists(src)) {
      if (!f.exists(parked)) return
      rename(f, parked, src)
    }
    val dataFiles = f.listStatus(src)
      .count(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
    if (dataFiles <= math.max(filesPerDay, 1)) return
    val tmp = new Path(parent, s".compacting-$tag")
    f.delete(tmp, true)
    val rows = spark.read.parquet(src.toString)
    val shaped = rows.repartition(math.max(filesPerDay, 1))
    val sorted = sortCol.fold(shaped)(c => shaped.sortWithinPartitions(col(c)))
    sorted.write.mode("overwrite").parquet(tmp.toString)
    f.delete(parked, true) // a stale copy from a swap that crashed after its rename-in
    rename(f, src, parked)
    rename(f, tmp, src)
    f.delete(parked, true): Unit
  }

  private def rename(f: FileSystem, from: Path, to: Path): Unit =
    if (!f.rename(from, to))
      throw new java.io.IOException(s"compactDay: rename $from -> $to failed")

  /** D2 — drop day partitions strictly before `cutoff`. Metadata-only. */
  def expireBefore(spark: SparkSession, cutoff: LocalDate): Unit = {
    val f = fs(spark)
    days(spark).filter(_.isBefore(cutoff)).foreach { d =>
      f.delete(new Path(s"$path/$dayCol=$d"), true)
    }
  }

  /** D2 for a banded table: drop each day's band `u` directory when the
    * day is before `cutoff(u)`, and a day directory left empty.
    * Metadata-only. */
  def expireBands(spark: SparkSession, cutoff: Int => LocalDate): Unit = {
    val f = fs(spark)
    bands(spark).filter { case (d, u) => d.isBefore(cutoff(u)) }.foreach { case (d, u) =>
      val dayDir = new Path(s"$path/$dayCol=$d")
      f.delete(new Path(dayDir, s"${bandCol.get}=$u"), true)
      if (f.listStatus(dayDir).isEmpty) f.delete(dayDir, true)
    }
  }

  /** Read the table; `basePath` keeps the partition column visible. */
  def read(spark: SparkSession): DataFrame = {
    val reader = spark.read.option("basePath", path)
    declaredJson(fs(spark))
      .fold(reader)(j => reader.schema(DataType.fromJson(j).asInstanceOf[StructType]))
      .parquet(path)
  }

  /** Partition-pruned read of `[from, until]` (B3 date-range). */
  def readRange(spark: SparkSession, from: LocalDate, until: LocalDate): DataFrame =
    read(spark).filter(
      col(dayCol) >= lit(from.toString).cast("date") &&
      col(dayCol) <= lit(until.toString).cast("date"))

  /** Drop the whole table (test hygiene / DROP TABLE analog, A5). */
  def drop(spark: SparkSession): Unit = fs(spark).delete(new Path(path), true)

  /** One sample tier of a banded table, read as a table of its own: the
    * rows of bands `<= maxBand` on days no older than `retention` before
    * the table's newest day, without the band column. Read-only. */
  def view(maxBand: Int, retention: Period): DayPartitionedTable =
    new DayPartitionedTable.BandView(this, maxBand, retention)
}

object DayPartitionedTable {

  private final class BandView(base: DayPartitionedTable, maxBand: Int, retention: Period)
      extends DayPartitionedTable(base.root, base.name, base.dayCol, base.sortCol,
        base.filesPerDay) {

    private val band = base.bandCol.getOrElse(
      throw new IllegalArgumentException(s"${base.name} is not banded"))

    /** The view's days: those of its bands on or after the floor. */
    override def days(spark: SparkSession): Seq[LocalDate] = {
      val all = base.bands(spark)
      floor(all).fold(Seq.empty[LocalDate]) { f =>
        all.collect { case (d, u) if u <= maxBand && !d.isBefore(f) => d }.distinct.sorted
      }
    }

    private def floor(all: Seq[(LocalDate, Int)]): Option[LocalDate] =
      all.map(_._1).maxOption.map(_.minus(retention))

    override def exists(spark: SparkSession): Boolean = days(spark).nonEmpty

    override def hasDay(spark: SparkSession, day: LocalDate): Boolean =
      days(spark).contains(day)

    override def read(spark: SparkSession): DataFrame = {
      val kept = floor(base.bands(spark)).fold(lit(false)) { f =>
        col(band) <= maxBand && col(dayCol) >= lit(f.toString).cast("date")
      }
      base.read(spark).filter(kept).drop(band)
    }

    private def readOnly: Nothing =
      throw new UnsupportedOperationException(s"a view of ${base.name} is read-only")
    override def writeDays(df: DataFrame): Unit = readOnly
    override def clearDay(spark: SparkSession, day: LocalDate): Unit = readOnly
    override def compactDay(spark: SparkSession, day: LocalDate): Unit = readOnly
    override def expireBefore(spark: SparkSession, cutoff: LocalDate): Unit = readOnly
    override def drop(spark: SparkSession): Unit = readOnly
  }
}
