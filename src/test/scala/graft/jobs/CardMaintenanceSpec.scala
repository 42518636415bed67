package graft.jobs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** CardMaintenance: the maintained card must equal a full rebuild
  * after any churn — including the metadata-only edit a text-digest
  * diff would miss — and ticks must chain. */
class CardMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def df(rows: Seq[(Long, String, String, String)]): DataFrame =
    rows.toDF("doc_id", "text", "lang", "source")

  private val base = Seq(
    (1L, "alpha beta gamma", "en", "web"),
    (2L, "alpha beta", "en", "web"),
    (3L, "alpha beta gamma", "en", "books"), // exact dup of 1
    (4L, "uno dos tres", "es", "web"),
    (5L, "uno dos", "es", "wiki"))

  private def cardOf(s: CardMaintenance.CardState) =
    CardMaintenance.card(s).orderBy("lang")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq

  test("tick == rebuild under add / remove / text edit / metadata-only edit") {
    val oldSnap = df(base)
    val newRows = Seq(
      (1L, "alpha beta gamma", "en", "web"),
      // 2: text edit — drops the only carrier of nothing, adds 'delta'
      (2L, "alpha beta delta", "en", "web"),
      // 3 removed: its exact-dup status and 'books' source must leave
      // 4: metadata-only edit — same text, source web -> curated
      (4L, "uno dos tres", "es", "curated"),
      (5L, "uno dos", "es", "wiki"),
      // 6 added: new language
      (6L, "ein zwei", "de", "web"))
    val newSnap = df(newRows)
    val st = CardMaintenance.rebuild(oldSnap, "doc_id", "text")
    val ticked = CardMaintenance.nightly(st, oldSnap, newSnap, "doc_id", "text")
    cardOf(ticked) shouldBe cardOf(CardMaintenance.rebuild(newSnap, "doc_id", "text"))
    // and the card content is right where it's hand-checkable:
    val en = cardOf(ticked).find(_._1 == "en").get
    en._2 shouldBe 2L // n_docs
    en._3 shouldBe 0L // the exact dup left with doc 3
    en._4 shouldBe 1L // 'books' left with doc 3
    val es = cardOf(ticked).find(_._1 == "es").get
    es._4 shouldBe 2L // wiki + curated — the metadata-only edit counted
  }

  test("metadata-only edit is NOT a no-op (text-digest diff would miss it)") {
    val oldSnap = df(base)
    val newSnap = df(base.map { case r @ (id, t, l, s) =>
      if (id == 4L) (id, t, l, "curated") else r })
    val st = CardMaintenance.rebuild(oldSnap, "doc_id", "text")
    val ticked = CardMaintenance.nightly(st, oldSnap, newSnap, "doc_id", "text")
    val es = cardOf(ticked).find(_._1 == "es").get
    es._4 shouldBe 2L // wiki + curated
    cardOf(st).find(_._1 == "es").get._4 shouldBe 2L // web + wiki before
  }

  test("last carrier leaving removes its words and its language row") {
    val oldSnap = df(base)
    val newSnap = df(base.filterNot(r => r._3 == "es")) // drop all Spanish
    val st = CardMaintenance.rebuild(oldSnap, "doc_id", "text")
    val ticked = CardMaintenance.nightly(st, oldSnap, newSnap, "doc_id", "text")
    cardOf(ticked).map(_._1) shouldBe Seq("en")
    ticked.wordIndex.filter(col("lang") === "es").count() shouldBe 0L
  }

  test("save returns the card's rows, a language with no word and a null language left out") {
    val snap = df(base ++ Seq((7L, "", "xx", "web"), (8L, "solo", null, "web")))
    val st = CardMaintenance.rebuild(snap, "doc_id", "text")
    st.langSums.count() shouldBe 4L // en, es, xx, null
    val dir = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "card").toString
    CardMaintenance.save(st, dir) shouldBe 2L
    CardMaintenance.card(CardMaintenance.load(spark, dir).get).count() shouldBe 2L
  }

  test("ticks chain: two nightly ticks equal one rebuild of the final snapshot") {
    val s0 = df(base)
    val s1 = df(base :+ ((6L, "ein zwei", "de", "web")))
    val s2 = df((base :+ ((6L, "ein zwei drei", "de", "web"))).filterNot(_._1 == 1L))
    val st0 = CardMaintenance.rebuild(s0, "doc_id", "text")
    val st1 = CardMaintenance.nightly(st0, s0, s1, "doc_id", "text")
    // materialize the intermediate state the way a real nightly would
    val st1m = CardMaintenance.CardState(
      st1.langSums.localCheckpoint(), st1.textIndex.localCheckpoint(),
      st1.sourceIndex.localCheckpoint(), st1.wordIndex.localCheckpoint())
    val st2 = CardMaintenance.nightly(st1m, s1, s2, "doc_id", "text")
    cardOf(st2) shouldBe cardOf(CardMaintenance.rebuild(s2, "doc_id", "text"))
  }
}
