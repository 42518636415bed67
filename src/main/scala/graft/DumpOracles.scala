package graft

import java.nio.file.{Files, Paths}

import graft.util.Json

/** Write SparkEntry.oracleSql as oracle_sql.json WITHOUT running any
  * query — lets the DuckDB compare be iterated against an existing
  * Verify output dir after oracle-only edits (e.g. CTE MATERIALIZED
  * hints, which change the oracle's runtime but not its result). */
object DumpOracles {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    new java.io.File(outDir).mkdirs()
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    println(s"[dump] ${SparkEntry.oracleSql.size} oracle entries written")
  }
}
