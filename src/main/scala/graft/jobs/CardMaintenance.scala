package graft.jobs

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.operators.{Curation, TextDedup}

/** Delta-maintained per-language data card — incremental VIEW
  * maintenance for the release card (the q97 summary): the nightly
  * tick that keeps doc counts, exact-dup counts, source counts, token
  * totals, and distinct-word counts current at O(changed) cost, the
  * way [[IndexMaintenance]] keeps the dedup indexes current.
  *
  * The trick is picking state that makes every card column abelian:
  *  - `langSums (lang, n_docs, total_tokens)` — plain counters;
  *    deltas add, removals subtract.
  *  - `textIndex (lang, h, cnt)` — COUNTED normalized-text hashes:
  *    `n_distinct_texts` = keys with cnt > 0, and a text leaves only
  *    when its last carrier does (the [[IndexMaintenance]] hashIndex
  *    argument, per language).
  *  - `sourceIndex (lang, source, cnt)` — counted sources, same rule.
  *  - `wordIndex (lang, w, cnt)` — counted word OCCURRENCES on 8-byte
  *    md5-60 token hashes; `distinct_words` = keys with cnt > 0.
  *    This is the relation that makes naive "recompute distincts"
  *    maintenance O(corpus): here a tick re-tokenizes ONLY the docs
  *    that changed.
  *
  * The diff digests text ⊕ lang ⊕ source (every card-relevant field),
  * so a reclassified document — same text, new language tag — is
  * 'changed', not silently 'unchanged' with a stale card.
  *
  * Scale shape: the diff is digest-only (bodies never shuffle);
  * leaving/arriving docs join on the 8-byte id; every merge is
  * union + re-aggregate on (lang, key) with map-side partials; the
  * card itself derives from per-lang rollups of the state relations.
  */
object CardMaintenance {

  /** The four persisted relations as one value. */
  final case class CardState(
      langSums: DataFrame,
      textIndex: DataFrame,
      sourceIndex: DataFrame,
      wordIndex: DataFrame)

  private def tokens(text: Column): Column = TextDedup.words(text)

  /** Diff content column: all card-relevant fields joined on a
    * control char no document contains (an empty separator would
    * alias fields across boundaries). */
  private def withCardContent(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("_card",
      concat_ws("\u0001", col(textCol), col("lang"), col("source")))

  /** Full rebuild from a snapshot — initial state construction, and
    * the equivalence baseline every maintained state must match. */
  def rebuild(snap: DataFrame, idCol: String, textCol: String): CardState = {
    val langSums = snap.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col(textCol))).cast("long")).as("total_tokens"))
    val textIndex = snap
      .select(col("lang"),
        TextDedup.md5Hash60(TextDedup.norm(col(textCol))).as("h"))
      .groupBy(col("lang"), col("h")).agg(count(lit(1)).as("cnt"))
    val sourceIndex = snap.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("cnt"))
    val wordIndex = snap
      .select(col("lang"), explode(tokens(col(textCol))).as("t"))
      .filter(col("t") =!= "")
      .select(col("lang"), TextDedup.md5Hash60(col("t")).as("w"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("cnt"))
    CardState(langSums, textIndex, sourceIndex, wordIndex)
  }

  /** One nightly tick: bring `state` (built over `oldSnap`) to the
    * content of `newSnap`. Every output relation equals the
    * corresponding [[rebuild]](newSnap) relation (the spec and q141
    * enforce this through [[card]]), at O(changed) cost. */
  def nightly(
      state: CardState,
      oldSnap: DataFrame,
      newSnap: DataFrame,
      idCol: String,
      textCol: String): CardState = {
    val diff = Curation.snapshotDiff(
        withCardContent(oldSnap, textCol), withCardContent(newSnap, textCol),
        idCol, "_card")
      .localCheckpoint()
    def ids(statuses: String*) =
      diff.filter(col("status").isin(statuses: _*)).select(col(idCol))
    val leaving = oldSnap.join(ids("removed", "changed"), Seq(idCol))
    val arriving = newSnap.join(ids("added", "changed"), Seq(idCol))

    def counted(proj: DataFrame => DataFrame, keys: String*): DataFrame => DataFrame = {
      val delta = proj(leaving)
        .groupBy(keys.map(col): _*).agg((-count(lit(1))).as("cnt"))
        .unionByName(
          proj(arriving).groupBy(keys.map(col): _*).agg(count(lit(1)).as("cnt")))
      prev => prev.unionByName(delta)
        .groupBy(keys.map(col): _*).agg(sum(col("cnt")).as("cnt"))
        .filter(col("cnt") > 0)
    }
    val textProj = (d: DataFrame) => d.select(col("lang"),
      TextDedup.md5Hash60(TextDedup.norm(col(textCol))).as("h"))
    val sourceProj = (d: DataFrame) => d.select(col("lang"), col("source"))
    val wordProj = (d: DataFrame) => d
      .select(col("lang"), explode(tokens(col(textCol))).as("t"))
      .filter(col("t") =!= "")
      .select(col("lang"), TextDedup.md5Hash60(col("t")).as("w"))

    def sums(d: DataFrame, sign: Int) = d.groupBy(col("lang"))
      .agg((count(lit(1)) * sign).as("n_docs"),
        (sum(size(tokens(col(textCol))).cast("long")) * sign).as("total_tokens"))
    val newLangSums = state.langSums
      .unionByName(sums(leaving, -1)).unionByName(sums(arriving, 1))
      .groupBy(col("lang"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("total_tokens")).as("total_tokens"))
      .filter(col("n_docs") > 0)

    CardState(
      newLangSums,
      counted(textProj, "lang", "h")(state.textIndex),
      counted(sourceProj, "lang", "source")(state.sourceIndex),
      counted(wordProj, "lang", "w")(state.wordIndex))
  }

  /** The q97-shaped card, derived from the maintained state: per-lang
    * rollups of the counted indexes joined onto the counters. */
  def card(state: CardState): DataFrame = {
    def distincts(df: DataFrame, as: String) =
      df.filter(col("cnt") > 0).groupBy(col("lang"))
        .agg(count(lit(1)).as(as))
    state.langSums
      .join(distincts(state.textIndex, "n_distinct_texts"), Seq("lang"))
      .join(distincts(state.sourceIndex, "n_sources"), Seq("lang"))
      .join(distincts(state.wordIndex, "distinct_words"), Seq("lang"))
      .select(col("lang"), col("n_docs"),
        (col("n_docs") - col("n_distinct_texts")).as("n_exact_dups"),
        col("n_sources"), col("total_tokens"),
        expr("total_tokens * 1000 div n_docs").as("mean_tokens_milli"),
        col("distinct_words"))
  }

  /** Persisted-state layout under one state dir. */
  private val Parts = Seq("lang_sums", "text_index", "source_index", "word_index")

  def load(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): Option[CardState] =
    graft.util.StateDirs.load(spark, stateDir, Parts)
      .map { case Seq(l, t, s, w) => CardState(l, t, s, w) }

  /** Persist through [[graft.util.StateDirs.save]]; returns the rows
    * of [[card]]: the languages with a row in every part (its inner
    * joins), each part's languages observed as it is written. */
  def save(state: CardState, stateDir: String): Long = {
    val live = col("cnt") > 0
    val parts = Seq(state.langSums -> lit(true), state.textIndex -> live,
      state.sourceIndex -> live, state.wordIndex -> live)
    val seen = parts.map(_ => Observation())
    graft.util.StateDirs.save(stateDir, Parts.zip(parts.zip(seen).map {
      case ((df, kept), o) => df.observe(o, collect_set(when(kept, col("lang"))).as("langs"))
    }))
    seen.map(_.get("langs").asInstanceOf[scala.collection.Seq[String]].toSet)
      .reduce(_ intersect _).size.toLong
  }
}
