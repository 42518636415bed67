package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Curation, UnigramLm}

/** The K209 persist-and-PIN lifecycle extended to the OTHER tokenizer
  * family (round-12 ask #5): the unigram-LM piece table
  * ([[UnigramLm.train]], SentencePiece-style) gets exactly the BPE
  * merge table's discipline — trained once on the bootstrap snapshot,
  * persisted as `(piece, cnt, cost_micro)`, loaded UNCHANGED on every
  * tick — and its per-language fertility counters advance by encoding
  * ONLY the changed documents with signed counters.
  *
  * The pinning argument is the same as K209's but sharper here: a
  * unigram retrain moves PROBABILITIES, not just a merge list, so the
  * Viterbi segmentation of an UNCHANGED document can change under a
  * retrained table — signed counters would not cancel and every
  * downstream token budget, packing boundary and fertility read would
  * silently re-price. Pinning is what makes O(changed) maintenance
  * sound for this family at all.
  *
  * State layout mirrors [[TokenizerMaintenance]] (`pieces` +
  * `fertility` under one stage-then-promote dir); the card is the
  * same q178 sheet, so the two tokenizer families are directly
  * comparable language by language.
  */
object UnigramMaintenance {

  /** Persisted state: the pinned piece table + per-lang counters. */
  final case class UniState(
      pieces: DataFrame, // (piece, cnt, cost_micro)
      fertility: DataFrame) // (lang, n_docs, n_chars, n_ws_tokens, n_tokens)

  /** Model-sized piece-table extraction: bounded by the trainer's own
    * seed limits (≤ 4096 single chars + seedMulti pieces — the
    * boundedCollect discipline), restored in the trainer's
    * (count DESC, piece ASC) order. */
  def piecesOf(state: UniState): Seq[(String, Long, Long)] = {
    val rows = state.pieces
      .select(col("piece"), col("cnt"), col("cost_micro"))
      .limit(8193).collect()
    require(rows.length <= 8192,
      s"unigram piece table exceeds 8192 pieces (${rows.length}+) — not a " +
        "trained-model relation")
    rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      .sortBy { case (p, c, _) => (-c, p) }
  }

  /** Per-lang fertility counters for a doc slice under a FIXED piece
    * table: one distinct-words Viterbi encode, one lang-sized rollup
    * (the [[TokenizerMaintenance]] counters shape). */
  private def counters(
      slice: DataFrame, idCol: String, textCol: String,
      table: Seq[(String, Long, Long)], sign: Int): DataFrame = {
    val enc = UnigramLm.encode(slice, idCol, textCol, table)
      .select(col("doc_id"), col("n_ws_tokens"), col("n_tokens"))
    slice.select(col(idCol).as("doc_id"), col("lang"),
        length(col(textCol)).cast("long").as("nch"))
      .join(enc, Seq("doc_id"))
      .groupBy(col("lang"))
      .agg((count(lit(1)) * sign).as("n_docs"),
        (sum(col("nch")) * sign).as("n_chars"),
        (sum(col("n_ws_tokens")) * sign).as("n_ws_tokens"),
        (sum(col("n_tokens")) * sign).as("n_tokens"))
  }

  /** Bootstrap: train on the snapshot, build counters by encoding it
    * once under the just-trained table. */
  def rebuild(
      snap: DataFrame, idCol: String, textCol: String): UniState = {
    val spark = snap.sparkSession
    import spark.implicits._
    val learned = UnigramLm.train(snap, textCol)
    val pieces = learned.toDF("piece", "cnt", "cost_micro")
    UniState(pieces, counters(snap, idCol, textCol, learned, 1))
  }

  /** Counters rebuilt from scratch under a GIVEN pinned piece table —
    * the tick≡rebuild equivalence baseline (q246 gates it through
    * [[card]]). */
  def rebuildCountersUnder(
      snap: DataFrame, idCol: String, textCol: String,
      table: Seq[(String, Long, Long)]): DataFrame =
    counters(snap, idCol, textCol, table, 1)

  /** One tick: pieces PINNED from `state`, counters advanced by the
    * changed docs only (leaving docs subtract, arriving docs add —
    * abelian signed counters, sound BECAUSE the table is pinned). */
  def nightly(
      state: UniState,
      oldSnap: DataFrame,
      newSnap: DataFrame,
      idCol: String,
      textCol: String): UniState = {
    val table = piecesOf(state)
    // DISK_ONLY, corpus-ID-sized — the TokenizerMaintenance rationale
    val diff = Curation.snapshotDiff(
        TokenizerMaintenance.withTokContent(oldSnap, textCol),
        TokenizerMaintenance.withTokContent(newSnap, textCol),
        idCol, "_tok")
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
    def ids(statuses: String*) =
      diff.filter(col("status").isin(statuses: _*)).select(col(idCol))
    val leaving = oldSnap.join(ids("removed", "changed"), Seq(idCol))
    val arriving = newSnap.join(ids("added", "changed"), Seq(idCol))
    val next = state.fertility
      .unionByName(counters(leaving, idCol, textCol, table, -1))
      .unionByName(counters(arriving, idCol, textCol, table, 1))
      .groupBy(col("lang"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        sum(col("n_ws_tokens")).as("n_ws_tokens"),
        sum(col("n_tokens")).as("n_tokens"))
      .filter(col("n_docs") > 0)
    UniState(state.pieces, next)
  }

  /** The q178-shaped fertility card from the maintained counters —
    * same sheet as the BPE family's, so the two tokenizers compare
    * directly. */
  def card(state: UniState): DataFrame =
    TokenizerMaintenance.fertilityCard(state.fertility)

  private val Parts = Seq("pieces", "fertility")

  def load(spark: SparkSession, stateDir: String): Option[UniState] =
    graft.util.StateDirs.load(spark, stateDir, Parts)
      .map { case Seq(p, f) => UniState(p, f) }

  /** Persist through [[graft.util.StateDirs.save]]; returns the rows
    * written per part: pieces, fertility. */
  def save(state: UniState, stateDir: String): Seq[Long] =
    graft.util.StateDirs.save(stateDir, Parts.zip(Seq(state.pieces, state.fertility)))

  /** CLI — `UnigramMaintenance <stateDir> <oldSnap> <newSnap>`:
    * bootstrap-train on the old snapshot when no state exists, tick to
    * the new one, persist, print the fertility card. */
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: UnigramMaintenance <stateDir> <oldSnap> <newSnap>")
    val Array(stateDir, oldPath, newPath) = args.take(3)
    val spark = graft.GraftSession.forMain("graft-unigram-maintenance")
    val cols = Seq(col("doc_id"), col("text"), col("lang"), col("source"))
    val oldSnap = spark.read.parquet(oldPath).select(cols: _*)
    val newSnap = spark.read.parquet(newPath).select(cols: _*)
    val state = load(spark, stateDir).getOrElse(rebuild(oldSnap, "doc_id", "text"))
    val next = nightly(state, oldSnap, newSnap, "doc_id", "text")
    save(next, stateDir)
    card(load(spark, stateDir).get).orderBy(col("lang")).show(100, false)
    spark.stop()
  }
}
