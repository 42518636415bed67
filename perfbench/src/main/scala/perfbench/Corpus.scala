package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded documents/embeddings corpus with the observable statistics of
  * the engine's scale fixture: a 31-word vocabulary (times
  * `vocabScale`), uniform 10–100-word documents, every 625th document
  * an exact copy of its predecessor, five languages at 41/15/15/15/15 %,
  * 20 sources, and 64-dimensional unit-norm embeddings around ten
  * cluster centres with 0.35 noise.
  *
  * On top of that, near duplicates are planted at fixed ids: in every
  * block of 25 documents, documents 1–3 each change one word of their
  * predecessor. Accidental near duplicates of a small vocabulary would
  * make the connected-components depth, and with it the number of Spark
  * jobs, depend on the seed; planted chains fix the deepest component
  * while the seed still draws every word.
  *
  * The corpus is generated once per seed. Nightly snapshots are views
  * over it: snapshot `k` drops one id class modulo 10 and appends a
  * version tag to another, so consecutive snapshots differ in about
  * 30 % of documents, which is what one nightly tick has to absorb.
  */
final class Corpus(val seed: Long, val nDocs: Int, val vocabScale: Int) {
  import Corpus._

  private val vocab: IndexedSeq[String] =
    (1 to vocabScale).flatMap(k => if (k == 1) baseVocab else baseVocab.map(w => s"$w$k"))

  val texts: Array[String] = {
    val rng = new SplittableRandom(seed ^ 0x5eedc0deL)
    val out = new Array[String](nDocs)
    (0 until nDocs).foreach { i =>
      out(i) =
        if (i % 625 == 624) out(i - 1)
        else if (i % FamilyStride != 0 && i % FamilyStride < FamilySize) {
          val w = out(i - 1).split(" ")
          w(rng.nextInt(w.length)) = vocab(rng.nextInt(vocab.size))
          w.mkString(" ")
        } else Array.fill(10 + rng.nextInt(91))(vocab(rng.nextInt(vocab.size))).mkString(" ")
    }
    out
  }

  private val langs: Array[String] = {
    val rng = new SplittableRandom(seed ^ 0x1a4eL)
    Array.fill(nDocs) {
      val h = rng.nextInt(1000)
      if (h < 412) "en" else if (h < 559) "de" else if (h < 706) "es" else if (h < 853) "fr" else "zh"
    }
  }

  private val sources: Array[String] = {
    val rng = new SplittableRandom(seed ^ 0x50c3L)
    Array.fill(nDocs)(s"src${rng.nextInt(20)}")
  }

  val vectors: Array[Array[Float]] = {
    val rng = new SplittableRandom(seed ^ 0xfec7L)
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val centers = Array.fill(10)(unit(Array.fill(Dims)(rng.nextDouble(-1.0, 1.0))))
    Array.fill(nDocs) {
      val c = centers(rng.nextInt(10))
      unit(c.map(x => x + 0.35 * rng.nextDouble(-1.0, 1.0))).map(_.toFloat)
    }
  }

  /** Write the base corpus as parquet under `dir`. */
  def write(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    (0 until nDocs).map(i => (i.toLong, texts(i), langs(i), sources(i))).toDF("doc_id", "text", "lang", "source")
      .repartition(4).write.mode("overwrite").parquet(s"$dir/documents")
    (0 until nDocs).map(i => (i.toLong, vectors(i))).toDF("vec_id", "embedding")
      .repartition(4).write.mode("overwrite").parquet(s"$dir/embeddings")
  }

  /** Ids present in snapshot `k`. */
  def present(k: Int, id: Int): Boolean = id % 10 != removedClass(k)

  /** Text of document `id` in snapshot `k`. */
  def textAt(k: Int, id: Int): String =
    if (id % 10 == patchedClass(k)) s"${texts(id)} v$k" else texts(id)

  /** Distinct normalized texts in snapshot `k`: what the maintained
    * exact-hash index must count. */
  def distinctTexts(k: Int): Int =
    (0 until nDocs).iterator.filter(present(k, _)).map(textAt(k, _).trim.toLowerCase).toSet.size

  def docsIn(k: Int): Int = (0 until nDocs).count(present(k, _))

  /** Planted near pairs (predecessor, successor) of snapshot `k` whose
    * texts differ but whose normalized word sets have a Jaccard
    * similarity of at least `minJaccard`. */
  def nearPairs(k: Int, minJaccard: Double): Seq[(Int, Int)] = {
    def norm(id: Int): String = textAt(k, id).trim.toLowerCase
    (0 until nDocs).filter(i => i % FamilyStride != 0 && i % FamilyStride < FamilySize &&
        present(k, i) && present(k, i - 1) && norm(i) != norm(i - 1))
      .map(i => (i - 1, i))
      .filter { case (a, b) =>
        val (wa, wb) = (norm(a).split(" ").toSet, norm(b).split(" ").toSet)
        (wa & wb).size.toDouble / (wa | wb).size >= minJaccard
      }
  }
}

object Corpus {
  val Dims = 64
  val FamilyStride = 25
  val FamilySize = 4

  val baseVocab: IndexedSeq[String] = IndexedSeq(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")

  def removedClass(k: Int): Int = (3 + 4 * k) % 10
  def patchedClass(k: Int): Int = (5 + k) % 10 match {
    case c if c == removedClass(k) => (c + 1) % 10
    case c => c
  }

  /** Snapshot `k` of the documents table, as the engine's nightly
    * operators take it: (doc_id, text, lang, source). */
  def docs(spark: SparkSession, dir: String, k: Int): DataFrame =
    spark.read.parquet(s"$dir/documents")
      .filter(pmod(col("doc_id"), lit(10)) =!= removedClass(k))
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(10)) === patchedClass(k), concat(col("text"), lit(s" v$k")))
          .otherwise(col("text")).as("text"),
        col("lang"), col("source"))

  /** Snapshot `k` of the embeddings: the patched class is negated. */
  def vecs(spark: SparkSession, dir: String, k: Int): DataFrame =
    spark.read.parquet(s"$dir/embeddings")
      .filter(pmod(col("vec_id"), lit(10)) =!= removedClass(k))
      .select(col("vec_id"),
        when(pmod(col("vec_id"), lit(10)) === patchedClass(k), transform(col("embedding"), x => -x))
          .otherwise(col("embedding")).as("embedding"))
}
