package graft

/** Write SparkEntry.oracleSql as oracle_sql.json WITHOUT running any
  * query — lets the DuckDB compare be iterated against an existing
  * Verify output dir after oracle-only edits (e.g. CTE MATERIALIZED
  * hints, which change the oracle's runtime but not its result). */
object DumpOracles {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    new java.io.File(outDir).mkdirs()
    val n = Verify.writeOracles(outDir, None)
    println(s"[dump] $n oracle entries written")
  }
}
