package graft.sources

import java.time.LocalDate

import org.apache.spark.sql.SparkSession

import graft.model.EventFamily

/** Landing WIRE FORMAT — which on-disk day-file encoding a pipeline
  * ingests. Both formats produce the same typed staging frame and the
  * same ingest contract (MAXERROR gate, TRUNCATECOLUMNS, the ''-vs-null
  * policy), so everything downstream of `readDay` — tier sampling, the
  * flow cascade, summaries, compaction — is format-blind; only day-file
  * discovery (extension) and the parse lineage differ.
  *
  * The reference is CSV-only (import_events.py:84-97 COPY ... CSV);
  * JSON-lines is this engine's second wire format, held to the same
  * semantics (see [[JsonEventSource]] for the A6/A7 differences that a
  * self-describing format makes deliberate non-ops).
  */
sealed trait LandingFormat {
  def listDays(
      spark: SparkSession, dir: String, prefix: String): Seq[(LocalDate, String)]
  /** One day file past the MAXERROR gate; [[CsvEventSource.kept]] of
    * its persisted `flagged` frame is the staging frame, and the caller
    * unpersists that frame when the day is done. */
  def readDay(
      spark: SparkSession, file: String, family: EventFamily, maxError: Int
  ): CsvEventSource.GatedDay
}

object LandingFormat {

  /** A1 CSV: blocklist sanitizer (A6) + the `Strict` field-count
    * policy (A7, clean-flow-data.sh:48) apply. */
  case object Csv extends LandingFormat {
    override def listDays(
        spark: SparkSession, dir: String, prefix: String): Seq[(LocalDate, String)] =
      CsvEventSource.listDays(spark, dir, prefix)
    override def readDay(
        spark: SparkSession, file: String, family: EventFamily, maxError: Int
    ): CsvEventSource.GatedDay =
      CsvEventSource.flaggedDay(
        spark, file, family, CsvEventSource.Strict, maxError, persist = true)
  }

  /** JSON-lines: self-describing, so there is no field-count policy
    * (extra keys drop, missing keys land as ''). */
  case object Json extends LandingFormat {
    override def listDays(
        spark: SparkSession, dir: String, prefix: String): Seq[(LocalDate, String)] =
      JsonEventSource.listDays(spark, dir, prefix)
    override def readDay(
        spark: SparkSession, file: String, family: EventFamily, maxError: Int
    ): CsvEventSource.GatedDay =
      JsonEventSource.flaggedDay(spark, file, family, maxError, persist = true)
  }

  /** Parse a CLI/config name. */
  def apply(name: String): LandingFormat = name.toLowerCase match {
    case "csv" => Csv
    case "json" => Json
    case other => throw new IllegalArgumentException(
      s"unknown landing format '$other' (expected csv or json)")
  }
}
