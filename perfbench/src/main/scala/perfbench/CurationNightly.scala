package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.jobs.{CardMaintenance, IndexMaintenance, RunNightly, TokenizerMaintenance}
import graft.operators.{Similarity, TextDedup}
import graft.util.StateDirs

/** The LLM-data curation night: one steady `RunNightly.tick` from
  * snapshot k to k+1 (five maintenance families under `Par`, state
  * promoted through `StateDirs`), then `TextDedup.nearDupDedup` of the
  * new snapshot to a noop sink. One operation is that pair.
  *
  * Set-up generates the corpus and bootstraps the nightly state with the
  * tick from snapshot 0 to 1.
  */
final class CurationNightly(ctx: Ctx) extends Workload {
  import CurationNightly._
  import Workload.median

  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private val corpus = new Corpus(ctx.seed, Docs, VocabScale)
  private val dir = ctx.path("corpus")
  private val state = ctx.path("nightly")
  private var lastK = 1
  /** The last operation's dedup output, for the idempotence check. */
  private var lastOut: DataFrame = _
  /** The traced operation's candidate and verified pairs, counted after it. */
  private var stagePairs: Option[(DataFrame, DataFrame)] = None
  private val stageCounts = mutable.ArrayBuffer.empty[(Double, Double)]
  private var composedTick = 0.0

  private def docs(k: Int): DataFrame = Corpus.docs(spark, dir, k)
  private def vecs(k: Int): DataFrame = Corpus.vecs(spark, dir, k)

  def capacity: Int = 50

  def nominalOpSeconds: Double = 18.0

  def setUp(ops: Int): Unit = {
    corpus.write(spark, dir)
    RunNightly.tick(spark, state, docs(0), docs(1), vecs(0), vecs(1))
    if (tracer.enabled) { // the composed tick's wall, for util.par.overlap
      val t0 = System.nanoTime()
      tick(1)
      composedTick = (System.nanoTime() - t0) / 1e9
      lastK = 2
    }
  }

  private def tick(k: Int): Unit =
    RunNightly.tick(spark, state, docs(k), docs(k + 1), vecs(k), vecs(k + 1)): Unit

  private def dedup(df: DataFrame): Unit = {
    lastOut = TextDedup.nearDupDedup(df, "doc_id", "text")
    lastOut.write.format("noop").mode("overwrite").save()
  }

  def op(i: Int): OpResult = {
    val k = lastK
    val t0 = System.nanoTime()
    tick(k)
    val t1 = System.nanoTime()
    dedup(docs(k + 1))
    System.err.println(f"[perfbench] tick ${(t1 - t0) / 1e9}%.3f s, dedup ${(System.nanoTime() - t1) / 1e9}%.3f s")
    lastK = k + 1
    OpResult(corpus.docsIn(k + 1).toLong)
  }

  def tracedOp(i: Int): OpResult = {
    val k = lastK
    tracer.span("op") {
      tracer.span("jobs.nightly")(tickByFamily(k))
      tracer.span("operators.dedup")(dedupByStage(docs(k + 1)))
    }
    lastK = k + 1
    OpResult(corpus.docsIn(k + 1).toLong)
  }

  /** `RunNightly.tick`'s five families, one after another, each under
    * its own span: load, nightly, save. */
  private def tickByFamily(k: Int): Unit = {
    val (od, nd, ov, nv) = (docs(k), docs(k + 1), vecs(k), vecs(k + 1))
    val conf = spark.sparkContext.hadoopConfiguration
    tracer.span("jobs.nightly.index") {
      val s = IndexMaintenance.load(spark, s"$state/index").get
      IndexMaintenance.save(IndexMaintenance.nightly(s, od, nd, "doc_id", "text"), s"$state/index")
    }
    tracer.span("jobs.nightly.card") {
      val s = CardMaintenance.load(spark, s"$state/card").get
      CardMaintenance.save(CardMaintenance.nightly(s, od, nd, "doc_id", "text"), s"$state/card")
    }
    tracer.span("jobs.nightly.vecindex") {
      val model = RunNightly.loadModel(spark, s"$state/model").get
      def v(df: DataFrame) = df.select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.ivfSqIndexMaintain(spark.read.parquet(s"$state/vecindex"), v(ov), v(nv),
          "id", "vec", model.centroids, model.scales)
        .write.mode("overwrite").parquet(s"$state/vecindex.tmp")
      StateDirs.promote(conf, s"$state/vecindex")
    }
    tracer.span("jobs.nightly.cov") {
      Similarity.covarianceDelta(spark.read.parquet(s"$state/cov"), ov, nv, "vec_id", "embedding",
          Corpus.Dims)
        .write.mode("overwrite").parquet(s"$state/cov.tmp")
      StateDirs.promote(conf, s"$state/cov")
    }
    tracer.span("jobs.nightly.tokenizer") {
      val s = TokenizerMaintenance.load(spark, s"$state/tokenizer").get
      TokenizerMaintenance.save(TokenizerMaintenance.nightly(s, od, nd, "doc_id", "text"),
        s"$state/tokenizer")
    }
  }

  /** `nearDupDedup`'s cascade stage by stage: exact dedup (materialized
    * by one count so the next stage reads it from the cache), banded
    * LSH candidates with their eager budget estimate, Jaccard
    * verification, connected components, and the final write. */
  private def dedupByStage(df: DataFrame): Unit = {
    val survivors = tracer.span("operators.dedup.exact") {
      val s = TextDedup.exactDedup(df, "text", "doc_id").persist(StorageLevel.MEMORY_AND_DISK)
      s.count()
      s
    }
    val (cands, gated) = tracer.span("operators.dedup.lsh") {
      val c = TextDedup.lshCandidatePairs(survivors, "doc_id", "text")
      val ws = survivors.select(col("doc_id").as("wid"),
        transform(TextDedup.normWordSet(col("text")), w => TextDedup.md5Hash60(w)).as("ws"))
      val g = c.join(ws.select(col("wid").as("a"), col("ws").as("wa")), Seq("a"))
        .join(ws.select(col("wid").as("b"), col("ws").as("wb")), Seq("b"))
        .filter(round(TextDedup.jaccard(col("wa"), col("wb")), 6) >= 0.5)
        .select(col("a"), col("b"))
      (c, g)
    }
    val labels = tracer.span("operators.dedup.cc")(TextDedup.connectedComponents(gated))
    stagePairs = Some((cands, gated))
    survivors.unpersist()
    tracer.span("operators.dedup.write") {
      val losers = labels.filter(col("id") =!= col("label")).select(col("id").as("doc_id"))
      lastOut = TextDedup.exactDedup(df, "text", "doc_id").join(losers, Seq("doc_id"), "left_anti")
      lastOut.write.format("noop").mode("overwrite").save()
    }
  }

  override def after(i: Int): Unit = stagePairs.foreach { case (cands, gated) =>
    stageCounts += ((cands.count().toDouble, gated.count().toDouble))
    stagePairs = None
  }

  def storeBytesPerInputByte: Double =
    Workload.bytesUnder(new File(state)).toDouble / Workload.bytesUnder(new File(dir))

  // ---- output checks -------------------------------------------------

  private def rows(rel: String): Long = spark.read.parquet(s"$state/$rel").count()

  /** Dedup applied twice keeps what it kept once; no planted exact pair
    * survives whole; nearly every planted near pair of high Jaccard
    * similarity is merged, so a cascade that finds no near duplicates
    * fails; the maintained state counts what the snapshot has. */
  def checks(): Seq[Check] = {
    val k = lastK
    lastOut.cache()
    val onceIds = lastOut.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val twiceIds = TextDedup.nearDupDedup(lastOut, "doc_id", "text")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val exactPairs = (0 until Docs).filter(i => i % 625 == 624 && corpus.present(k, i) &&
      corpus.present(k, i - 1) && corpus.textAt(k, i) == corpus.textAt(k, i - 1))
    val bothKept = exactPairs.count(i => onceIds(i.toLong) && onceIds(i.toLong - 1))
    val nearPairs = corpus.nearPairs(k, NearJaccard)
    val nearMerged = nearPairs.count { case (a, b) => !(onceIds(a.toLong) && onceIds(b.toLong)) }
    val cardLangs = CardMaintenance.card(CardMaintenance.load(spark, s"$state/card").get).count()
    val (hashes, postings, pairs, fertility) =
      (rows("index/hash_index"), rows("vecindex"), rows("cov"), rows("tokenizer/fertility"))
    Seq(
      Check("dedup_idempotent", onceIds == twiceIds && onceIds.nonEmpty,
        s"${onceIds.size} ids once, ${twiceIds.size} twice"),
      Check("dedup_exact_pairs", bothKept == 0, s"$bothKept of ${exactPairs.size} planted pairs kept whole"),
      Check("dedup_near_pairs", nearPairs.nonEmpty && nearMerged >= MinNearMerged * nearPairs.size,
        s"$nearMerged of ${nearPairs.size} planted near pairs (Jaccard >= $NearJaccard) merged"),
      Check("nightly_hashes", hashes == corpus.distinctTexts(k),
        s"$hashes hashes, ${corpus.distinctTexts(k)} distinct texts"),
      Check("nightly_postings", postings == corpus.docsIn(k), s"$postings postings, ${corpus.docsIn(k)} vectors"),
      Check("nightly_cov_pairs", pairs == Corpus.Dims * (Corpus.Dims + 1) / 2, s"$pairs pairs"),
      Check("nightly_card_langs", cardLangs == Langs, s"$cardLangs languages in the card"),
      Check("nightly_tokenizer_langs", fertility == Langs, s"$fertility fertility rows"))
  }

  // ---- per-layer metrics --------------------------------------------

  def layerMetrics(): Seq[(String, Double)] = {
    def spanMedian(name: String): Double = median(tracer.named(name).map(tracer.selfSeconds))
    val families = Seq("index", "card", "vecindex", "cov", "tokenizer")
    val familySum = median(tracer.named("jobs.nightly").map(s => families.map { f =>
      tracer.named(s"jobs.nightly.$f").filter(_.parent == s.id).map(_.seconds).sum
    }.sum))
    val eager = median(tracer.named("operators.dedup").map { d =>
      Seq("exact", "lsh", "cc").flatMap(st => tracer.named(s"operators.dedup.$st").filter(_.parent == d.id))
        .map(s => tracer.inclusive(s).jobs.toDouble).sum
    })
    families.map(f => s"jobs.nightly.${f}_s" -> spanMedian(s"jobs.nightly.$f")) ++ Seq(
      "util.par.overlap" -> (if (composedTick == 0) 0.0 else familySum / composedTick),
      "operators.dedup.exact_s" -> spanMedian("operators.dedup.exact"),
      "operators.dedup.lsh_s" -> spanMedian("operators.dedup.lsh"),
      "operators.dedup.cc_s" -> spanMedian("operators.dedup.cc"),
      "operators.dedup.eager_jobs" -> eager,
      "operators.dedup.candidate_pairs" -> median(stageCounts.map(_._1).toSeq),
      "operators.dedup.verified_frac" -> median(stageCounts.map { case (c, v) =>
        if (c == 0) 0.0 else v / c }.toSeq))
  }
}

object CurationNightly {
  /** Documents in the corpus. Five thousand cost about as much per run
    * as two thousand; ten thousand add 12 s to a run, more than the
    * benchmark's time budget leaves (see the README). */
  val Docs = 5000
  val VocabScale = 4
  val Langs = 5
  /** Word-set Jaccard similarity above which a planted near pair must be
    * merged, and the share of such pairs that must be: the cascade's
    * LSH (64 hashes in 4 bands of 16) makes a pair at 0.95 a candidate
    * with probability 0.9, and chains merge more pairs transitively
    * (99–100 % of them are merged on the engine as it is). */
  val NearJaccard = 0.95
  val MinNearMerged = 0.9
}
