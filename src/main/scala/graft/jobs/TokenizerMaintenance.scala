package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Curation, TextAnalysis}

/** Persist-and-PIN lifecycle for the trained tokenizer, plus
  * delta-maintained fertility counters — the quantizer discipline
  * ([[RunNightly]] model/) applied to the merge table, closing the
  * round-10 gap "tokenizers are retrained inside each query": a real
  * pipeline pins its tokenizer HARDER than its quantizer, because a
  * changed segmentation silently re-prices every token budget, packing
  * boundary and fertility read downstream.
  *
  * Lifecycle:
  *  - BOOTSTRAP (no state): BPE merges are TRAINED on the bootstrap
  *    snapshot ([[TextAnalysis.bpeTrain]], model-sized driver fold),
  *    persisted as `(mrank, l, r)`, and the per-language fertility
  *    counters are built by encoding the snapshot ONCE under them.
  *  - TICK: the merges load UNCHANGED (pinned — a scheduled retrain is
  *    deleting the state dir, exactly the quantizer contract), and the
  *    counters advance by encoding ONLY the changed documents: leaving
  *    docs subtract, arriving docs add. O(changed), abelian counters,
  *    the [[CardMaintenance]] langSums argument — valid precisely
  *    BECAUSE the tokenizer is pinned (under a retrained tokenizer the
  *    old encodings would not cancel, so pinning is what makes the
  *    fertility card maintainable at all).
  *
  * The card ([[card]]) is the q178 fertility sheet (chars/token,
  * tokens/word in exact ppm) read from the MAINTAINED counters — at
  * 100 TB a nightly fertility read costs one delta encode plus a
  * langs-sized rollup, never a corpus re-encode.
  */
object TokenizerMaintenance {

  /** Persisted state: the pinned merge table + per-lang counters. */
  final case class TokState(
      merges: DataFrame, // (mrank, l, r)
      fertility: DataFrame) // (lang, n_docs, n_chars, n_ws_tokens, n_tokens)

  /** The diff content for fertility maintenance: text ⊕ lang (chars,
    * token counts and the language bucket are all the card reads; a
    * re-tagged doc must count as changed — the CardMaintenance
    * argument). Each field hashes SEPARATELY with an explicit
    * null marker (round-12 ADVICE fix: concat_ws silently SKIPS
    * nulls, so a lang flip between NULL and '' — or any null/value
    * aliasing across the separator — produced an identical digest
    * and the fertility counters went silently stale). md5(field) is
    * fixed-width, so no separator ambiguity exists, and '-' can
    * never collide with a 32-hex-char digest (md5('') included). */
  private[jobs] def withTokContent(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("_tok",
      concat_ws(":",
        coalesce(md5(col(textCol)), lit("-")),
        coalesce(md5(col("lang")), lit("-"))))

  /** Model-sized merge-table extraction (10s of rows, the
    * RunNightly.loadModel pattern). Rank order restored exactly. */
  def mergesOf(state: TokState): Seq[(String, String)] =
    state.merges.select(col("mrank"), col("l"), col("r")).collect()
      .sortBy(_.getLong(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq

  /** Per-lang fertility counters for a doc slice under a FIXED merge
    * table: one map-only encode, one lang-sized rollup. */
  private def counters(
      slice: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)], sign: Int): DataFrame = {
    val enc = TextAnalysis.bpeEncode(slice, idCol, textCol, merges)
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
      snap: DataFrame, idCol: String, textCol: String,
      rounds: Int = 10): TokState = {
    val spark = snap.sparkSession
    import spark.implicits._
    val learned = TextAnalysis.bpeTrain(snap, textCol, rounds)
      .zipWithIndex.map { case ((l, r, _), i) => (i + 1L, l, r) }
    val merges = learned.toDF("mrank", "l", "r")
    TokState(merges,
      counters(snap, idCol, textCol, learned.map(m => (m._2, m._3)), 1))
  }

  /** Counters rebuilt from scratch under a GIVEN pinned merge table —
    * the equivalence baseline every maintained state must match (the
    * spec and q242 enforce it through [[card]]). */
  def rebuildCountersUnder(
      snap: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    counters(snap, idCol, textCol, merges, 1)

  /** One tick: merges PINNED from `state`, counters advanced by the
    * changed docs only. Output counters equal [[rebuild]](newSnap)
    * under the SAME pinned merges (q242 gates this through [[card]]). */
  def nightly(
      state: TokState,
      oldSnap: DataFrame,
      newSnap: DataFrame,
      idCol: String,
      textCol: String): TokState = {
    val merges = mergesOf(state)
    // DISK_ONLY: the diff relation is corpus-ID-sized (one row per id
    // in EITHER snapshot, not changed-docs-sized) — memory-resident
    // checkpoint blocks squat on the unified pool's storage half, the
    // exact AGGREGATE_OUT_OF_MEMORY shape the h100 rehearsal measured
    // in guardPairBudget (round-12 ADVICE fix).
    val diff = Curation.snapshotDiff(
        withTokContent(oldSnap, textCol), withTokContent(newSnap, textCol),
        idCol, "_tok")
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
    def ids(statuses: String*) =
      diff.filter(col("status").isin(statuses: _*)).select(col(idCol))
    val leaving = oldSnap.join(ids("removed", "changed"), Seq(idCol))
    val arriving = newSnap.join(ids("added", "changed"), Seq(idCol))
    val next = state.fertility
      .unionByName(counters(leaving, idCol, textCol, merges, -1))
      .unionByName(counters(arriving, idCol, textCol, merges, 1))
      .groupBy(col("lang"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        sum(col("n_ws_tokens")).as("n_ws_tokens"),
        sum(col("n_tokens")).as("n_tokens"))
      .filter(col("n_docs") > 0)
    TokState(state.merges, next)
  }

  /** The q178-shaped fertility card from the maintained counters. */
  def card(state: TokState): DataFrame = fertilityCard(state.fertility)

  /** The card projection over ANY maintained fertility relation —
    * shared with [[UnigramMaintenance]] (both tokenizer families
    * publish the same sheet). */
  private[jobs] def fertilityCard(fertility: DataFrame): DataFrame =
    fertility.select(col("lang"), col("n_docs"), col("n_chars"),
      col("n_ws_tokens"), col("n_tokens"),
      when(col("n_tokens") > 0,
        expr("n_chars * 1000000 div n_tokens")).otherwise(lit(0L))
        .as("chars_per_token_ppm"),
      when(col("n_ws_tokens") > 0,
        expr("n_tokens * 1000000 div n_ws_tokens")).otherwise(lit(0L))
        .as("fertility_ppm"))

  private val Parts = Seq("merges", "fertility")

  def load(spark: SparkSession, stateDir: String): Option[TokState] =
    graft.util.StateDirs.load(spark, stateDir, Parts)
      .map { case Seq(m, f) => TokState(m, f) }

  /** Persist through [[graft.util.StateDirs.save]]; returns the rows
    * written per part: merges, fertility. The merge table is written
    * last: Spark's shared listener thread keeps the last query it saw
    * end, with its plan's broadcast relations, until its next event,
    * and the merge table's plan has none, where the counters' joins
    * hold about 16 MB. */
  def save(state: TokState, stateDir: String): Seq[Long] =
    graft.util.StateDirs.save(stateDir, Parts.zip(Seq(state.merges, state.fertility)).reverse)
      .reverse
}
