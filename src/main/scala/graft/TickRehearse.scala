package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-rehearsal driver for the MAINTENANCE ticks (round-12 asks
  * #4/#8): times bootstrap and one old→new tick separately over any
  * documents corpus (the driver tables or a [[ScaleFixture]] series),
  * so the O(changed) claims carry measured triples + exponents in
  * BASELINE.md instead of arguments.
  *
  * Snapshot shape = the q242/q141 card fixture: old = docs with
  * id%10≠3, new = docs with id%10≠7 and id%10=5 text-patched — the
  * changed+added+removed delta is ~30% of N, so a tick that is truly
  * O(changed) scales ~N^1 on this series.
  *
  * Modes:
  *  - `tok`      — [[graft.jobs.TokenizerMaintenance]] rebuild + tick
  *  - `unigram`  — [[graft.jobs.UnigramMaintenance]] rebuild + tick
  *  - `nightly`  — one full [[graft.jobs.RunNightly.tick]]; reads
  *                 `embeddings.parquet` beside the docs table
  *
  * Usage: `TickRehearse <mode> <dir> [<label>]` where <dir> holds
  * `documents.parquet` (+ `embeddings.parquet` for `nightly`).
  * Prints one JSON line: mode, label, n_docs, bootstrap_sec/tick_sec
  * (tok/unigram) or tick_sec (nightly: bootstrap+tick inside one call
  * against a fresh state dir, matching what q157 measures). */
object TickRehearse {

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def snaps(docs: DataFrame): (DataFrame, DataFrame) = {
    val o = docs.filter(col("doc_id") % 10 =!= 3)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val n = docs.filter(col("doc_id") % 10 =!= 7)
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 5, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"),
        col("lang"), col("source"))
    (o, n)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: TickRehearse <mode> <dir> [<label>]")
    val (mode, dir) = (args(0), args(1))
    val label = if (args.length >= 3) args(2) else dir
    val spark = GraftSession.forMain(s"graft-tick-rehearse-$mode")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val nDocs = docs.count()
    val (o, n) = snaps(docs)
    val stateDir = s"target/tickrehearse_${mode}_${System.nanoTime()}"
    graft.util.TmpDirs.deleteRecursively(stateDir)
    val line = mode match {
      case "tok" =>
        import graft.jobs.TokenizerMaintenance._
        val (_, boot) = time { save(rebuild(o, "doc_id", "text"), stateDir) }
        val (_, tick) = time {
          save(nightly(load(spark, stateDir).get, o, n, "doc_id", "text"),
            stateDir)
        }
        f"""{"mode":"tok","label":"$label","n_docs":$nDocs,""" +
          f""""bootstrap_sec":$boot%.3f,"tick_sec":$tick%.3f}"""
      case "unigram" =>
        import graft.jobs.UnigramMaintenance._
        val (_, boot) = time { save(rebuild(o, "doc_id", "text"), stateDir) }
        val (_, tick) = time {
          save(nightly(load(spark, stateDir).get, o, n, "doc_id", "text"),
            stateDir)
        }
        f"""{"mode":"unigram","label":"$label","n_docs":$nDocs,""" +
          f""""bootstrap_sec":$boot%.3f,"tick_sec":$tick%.3f}"""
      case "nightly" =>
        val e = spark.read.parquet(s"$dir/embeddings.parquet")
        val oldVecs = e.filter(col("vec_id") % 10 =!= 3)
          .select(col("vec_id"), col("embedding"))
        val newVecs = e.filter(col("vec_id") % 10 =!= 7)
          .select(col("vec_id"),
            when(col("vec_id") % 10 === 5, transform(col("embedding"), x => -x))
              .otherwise(col("embedding")).as("embedding"))
        val (_, tick) = time {
          graft.jobs.RunNightly.tick(spark, stateDir, o, n, oldVecs, newVecs)
        }
        f"""{"mode":"nightly","label":"$label","n_docs":$nDocs,""" +
          f""""tick_sec":$tick%.3f}"""
      case other => sys.error(s"unknown mode: $other")
    }
    println(line)
    graft.util.TmpDirs.deleteRecursively(stateDir)
    spark.stop()
  }
}
