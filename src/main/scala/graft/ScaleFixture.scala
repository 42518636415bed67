package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column

import graft.operators.TextDedup

/** Synthetic corpus generator — documents/embeddings relations with
  * the SAME observable statistics as the sf fixture tables (measured at
  * sf0.1: 31-word vocabulary, uniform 10–100-word doc lengths, ~0.32%
  * of docs in exact-dup pairs, 5 langs at ~41/15/15/15/15%, 20 sources,
  * 64-dim unit-norm embeddings in 10 clusters) at ANY row count. q235
  * gates these statistics against a DuckDB re-derivation of the same
  * hash definitions.
  *
  * Everything is hash-derived (md5 of tagged ids — the repo's no-RNG
  * determinism rule): same args → byte-identical corpus, any
  * partitioning. NOT the driver's exact generator — equivalent
  * statistics.
  */
object ScaleFixture {

  private[graft] val vocab = Seq(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")

  private def h(c: Column): Column = TextDedup.md5Hash60(c)
  private def tag(t: String, c: Column): Column =
    h(concat(lit(t + ":"), c.cast("string")))

  /** The documents relation at any row count. */
  def documents(spark: org.apache.spark.sql.SparkSession,
      nDocs: Long): org.apache.spark.sql.DataFrame = {
    val vocabCol = array(vocab.map(lit): _*)
    // exact-dup planting at the measured sf0.1 rate: every 625th doc
    // copies its predecessor's text (8 pairs per 5,000 docs)
    val eid = when(col("doc_id") % 625 === 624, col("doc_id") - 1)
      .otherwise(col("doc_id"))
    spark.range(nDocs).select(col("id").as("doc_id"))
      .withColumn("_eid", eid)
      .withColumn("_len", (pmod(tag("len", col("_eid")), lit(91L)) + 10).cast("int"))
      .withColumn("text", array_join(
        transform(sequence(lit(1), col("_len")), i =>
          element_at(vocabCol,
            (pmod(tag("w", concat(col("_eid"), lit("_"), i)),
              lit(vocab.size.toLong)) + 1)
              .cast("int"))), " "))
      .withColumn("_lh", pmod(tag("lang", col("doc_id")), lit(1000L)))
      .withColumn("lang",
        when(col("_lh") < 412, "en").when(col("_lh") < 559, "de")
          .when(col("_lh") < 706, "es").when(col("_lh") < 853, "fr")
          .otherwise("zh"))
      .withColumn("source",
        concat(lit("src"), pmod(tag("src", col("doc_id")), lit(20L))))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** The embeddings relation at any row count (see [[documents]]). */
  def embeddings(spark: org.apache.spark.sql.SparkSession,
      nVecs: Long): org.apache.spark.sql.DataFrame = {
    // 10 cluster centers on the unit sphere (hash-uniform components,
    // normalized), each vector = unit-norm(center + 0.35 * noise)
    def u(c: Column): Column = // hash-uniform in [-1, 1]
      (pmod(c, lit(2001L)) - 1000L).cast("double") / 1000.0
    val centers = spark.range(10).select(col("id").cast("int").as("label"))
      .withColumn("_raw", transform(sequence(lit(0), lit(63)), d =>
        u(tag("c", concat(col("label"), lit("_"), d)))))
      .withColumn("_nrm", sqrt(aggregate(col("_raw"), lit(0.0d),
        (acc, x) => acc + x * x)))
      .select(col("label"), transform(col("_raw"), x => x / col("_nrm")).as("cvec"))
    spark.range(nVecs).select(col("id").as("vec_id"))
      .withColumn("label", pmod(tag("lbl", col("vec_id")), lit(10L)).cast("int"))
      .join(broadcast(centers), Seq("label"))
      .withColumn("_raw", zip_with(col("cvec"),
        transform(sequence(lit(0), lit(63)), d =>
          u(tag("n", concat(col("vec_id"), lit("_"), d))) * 0.35),
        (c, n) => c + n))
      .withColumn("_nrm", sqrt(aggregate(col("_raw"), lit(0.0d),
        (acc, x) => acc + x * x)))
      .select(col("vec_id"),
        transform(col("_raw"), x => (x / col("_nrm")).cast("float"))
          .as("embedding"),
        col("label"))
  }
}
