package graft

import org.apache.spark.sql.functions._

import graft.operators.TextDedup

/** Adversarial-scale rehearsal for the round-12 guards (the K207
  * measurement discipline applied to K211/K212/K214): on a fixture
  * where the guard SHOULD fire, prove it dies in seconds with the
  * estimate in the error — never a multi-hour join — and on the same
  * fixture prove the stated repair path completes.
  *
  * Modes (over a [[ScaleFixture]] dir):
  *  - `simhash <dir>`   — [[TextDedup.simHashCandidatePairs]] at the
  *    default budget on the docs table: reports fired/est/seconds,
  *    plus the audit's bucket census (the q245 shape at scale).
  *  - `edit <dir>`      — [[TextDedup.editDistanceJoin]] with ALL
  *    defaults on customers vs the q183-mutated copy (fires on the
  *    sequential-id key space), then the df-cap-48 repair end to end
  *    (candidate count + seconds).
  *  - `health <dir>`    — [[TextDedup.guardHealth]] at production
  *    settings over the docs table: the nothing-binds certificate's
  *    cost at scale (rows + seconds).
  * Prints one JSON line per step. */
object GuardRehearse {

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: GuardRehearse <mode> <dir> [<label>]")
    val (mode, dir) = (args(0), args(1))
    val label = if (args.length >= 3) args(2) else dir
    val spark = GraftSession.forMain(s"graft-guard-rehearse-$mode")
    mode match {
      case "simhash" =>
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val n = docs.count()
        val (sim, simSec) = time {
          TextDedup.simHash(docs, "doc_id", "text").localCheckpoint()
        }
        val (audit, aSec) = time {
          TextDedup.simHashPairAudit(sim).collect().head
        }
        println(f"""{"mode":"simhash-audit","label":"$label","n_docs":$n,""" +
          f""""n_buckets":${audit.getLong(0)},"max_bucket":${audit.getLong(1)},""" +
          f""""pairs_est":${audit.getLong(2)},"sketch_sec":$simSec%.3f,""" +
          f""""audit_sec":$aSec%.3f}""")
        val (fired, gSec) = time {
          try { TextDedup.simHashCandidatePairs(sim).count(); None }
          catch { case e: IllegalArgumentException =>
            Some(e.getMessage.takeWhile(_ != '\n').take(160)) }
        }
        println(f"""{"mode":"simhash-guard","label":"$label","n_docs":$n,""" +
          f""""fired":${fired.nonEmpty},"sec":$gSec%.3f,""" +
          s""""msg":${fired.map(graft.util.Json.str).getOrElse("null")}}""")
      case "edit" =>
        val c = spark.read.parquet(s"$dir/customer.parquet")
        val n = c.count()
        val left = c.select(col("c_custkey").as("id"), col("c_name").as("name"))
        val right = c.select(col("c_custkey").as("id"),
          when(col("c_custkey") % 7 === 3, concat(col("c_name"), lit("x")))
            .otherwise(col("c_name")).as("name"))
        val (fired, gSec) = time {
          try { TextDedup.editDistanceJoin(left, right, "id", "name")
            .count(); None }
          catch { case e: IllegalArgumentException =>
            Some(e.getMessage.takeWhile(_ != '\n').take(160)) }
        }
        println(f"""{"mode":"edit-guard","label":"$label","n_cust":$n,""" +
          f""""fired":${fired.nonEmpty},"sec":$gSec%.3f,""" +
          s""""msg":${fired.map(graft.util.Json.str).getOrElse("null")}}""")
        val (pairs, rSec) = time {
          TextDedup.editDistanceJoin(left, right, "id", "name",
            variantDfCap = 48).count()
        }
        println(f"""{"mode":"edit-repair-cap48","label":"$label","n_cust":$n,""" +
          f""""pairs":$pairs,"sec":$rSec%.3f}""")
      case "health" =>
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val n = docs.count()
        val (rows, hSec) = time {
          TextDedup.guardHealth(docs, "doc_id", "text").collect()
        }
        println(f"""{"mode":"health","label":"$label","n_docs":$n,""" +
          f""""binding_rows":${rows.length},"sec":$hSec%.3f,""" +
          s""""rows":${rows.map(r => "\"" + r.getString(0) + ":" + r.getLong(2) + "\"")
            .mkString("[", ",", "]")}}""")
      case other => sys.error(s"unknown mode: $other")
    }
    spark.stop()
  }
}
