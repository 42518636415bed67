package graft.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The persisted-state protocol of every nightly state dir, through
  * the Hadoop FileSystem API — valid on any Spark-writable scheme
  * (local, HDFS, S3A), not just `java.io.File` paths, which is what
  * the nightly jobs' state dirs actually are on a cluster.
  *
  * A state dir holds one parquet relation, or named parts each in its
  * own subdirectory. [[save]] counts the rows of each part as it
  * writes it and materializes EVERYTHING under `<dir>.tmp`
  * first (the previous state stays readable throughout — the next
  * state's plans read the previous files), then [[promote]] flips via
  * two whole-directory renames: `<dir>` → `<dir>.old`, then `<dir>.tmp`
  * → `<dir>`, then reap `.old`. Each rename is atomic on HDFS and
  * local (S3A's rename is a copy, but each flip point is still
  * single), and the previous state is never deleted before the new
  * one is live — a crash or failed write at ANY point leaves the old
  * state intact (in `<dir>` or `<dir>.old`) plus possibly a staged
  * copy in `<dir>.tmp`; re-running the producing job (which re-stages
  * and calls promote again) always converges. No file-by-file walk,
  * so no window where a reader sees a mix of parts. [[load]] reads a
  * state only when every part is present, and first restores a state
  * that a crash between the two renames left parked at `<dir>.old`. */
object StateDirs {

  /** Stage each named part under `<dir>.tmp/<name>`, then [[promote]].
    * Returns each part's row count, in order, observed as it is
    * written. */
  def save(dir: String, parts: Seq[(String, DataFrame)]): Seq[Long] = {
    val rows = parts.map { case (name, df) => write(df, s"$dir.tmp/$name") }
    promote(parts.head._2.sparkSession.sparkContext.hadoopConfiguration, dir)
    rows
  }

  /** One-relation state: stage `df` as `<dir>.tmp`, then [[promote]].
    * Returns its row count. */
  def save(dir: String, df: DataFrame): Long = {
    val rows = write(df, s"$dir.tmp")
    promote(df.sparkSession.sparkContext.hadoopConfiguration, dir)
    rows
  }

  /** Write `df` as parquet at `path` and return the rows written,
    * counted by an `Observation` on the write itself (no second job).
    * Unnamed, so families saving concurrently never share a name. */
  private def write(df: DataFrame, path: String): Long = {
    val seen = Observation()
    df.observe(seen, count(lit(1)).as("rows"))
      .write.mode("overwrite").parquet(path)
    seen.get("rows").asInstanceOf[Long]
  }

  /** The scheme-aware filesystem of `dir` when `dir` holds a state,
    * once a state that a crash between [[promote]]'s two renames left
    * at `<dir>.old` is renamed back. */
  private def live(spark: SparkSession, dir: String): Option[FileSystem] = {
    val dst = new Path(dir)
    val old = new Path(dir + ".old")
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dst) && fs.exists(old) && !fs.rename(old, dst))
      throw new java.io.IOException(s"load: rename $old -> $dst failed")
    Some(fs).filter(_.exists(dst))
  }

  /** The named parts in order, or None unless every one exists. */
  def load(spark: SparkSession, dir: String,
      names: Seq[String]): Option[Seq[DataFrame]] =
    live(spark, dir)
      .filter(fs => names.forall(n => fs.exists(new Path(s"$dir/$n"))))
      .map(_ => names.map(n => spark.read.parquet(s"$dir/$n")))

  /** One-relation state, or None when `dir` does not exist. */
  def load(spark: SparkSession, dir: String): Option[DataFrame] =
    live(spark, dir).map(_ => spark.read.parquet(dir))

  /** Promote `<dir>.tmp` to `<dir>` without ever destroying the last
    * live state before the new one is in place: park the destination
    * at `<dir>.old`, rename the staged dir in, then reap `.old`. The
    * staged dir must already hold every part. A stale `.old` left by
    * a crashed earlier promote is reaped first. */
  def promote(conf: Configuration, dir: String): Unit = {
    val dst = new Path(dir)
    val tmp = new Path(dir + ".tmp")
    val old = new Path(dir + ".old")
    val fs = dst.getFileSystem(conf)
    require(fs.exists(tmp), s"promote: staged dir $tmp missing")
    if (fs.exists(old) && !fs.delete(old, true))
      throw new java.io.IOException(s"promote: could not reap stale $old")
    if (fs.exists(dst) && !fs.rename(dst, old))
      throw new java.io.IOException(s"promote: rename $dst -> $old failed")
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"promote: rename $tmp -> $dst failed")
    if (fs.exists(old)) fs.delete(old, true) // best-effort reap; stale .old is cleared next promote
  }
}
