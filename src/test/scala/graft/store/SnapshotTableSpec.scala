package graft.store

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.util.TmpDirs

/** The manifest-pointer commit protocol: snapshot isolation across a
  * MULTI-day overwrite, the crash window between data-write and
  * publish, carry-forward by reference, optimistic concurrency, and
  * vacuum scope. */
class SnapshotTableSpec extends SparkSpec {
  import spark.implicits._

  private def mkTable(tag: String) =
    new SnapshotTable(TmpDirs.fresh(s"snaptab_$tag"))

  private def days(n: Int, mark: String) =
    (1 to n).flatMap(d => (1 to 3).map(i =>
      (f"2024-02-$d%02d", d.toLong * 10 + i, mark)))
      .toDF("day", "event_id", "mark")

  test("commit + read round trip; multi-day overwrite is all-or-nothing visible") {
    val t = mkTable("rt")
    t.commitDays(spark, days(4, "v1")) shouldBe 1
    t.read(spark).count() shouldBe 12
    // overwrite days 3-4 with a single-row-per-day v2
    val v2 = Seq(("2024-02-03", 999L, "v2"), ("2024-02-04", 998L, "v2"))
      .toDF("day", "event_id", "mark")
    t.commitDays(spark, v2) shouldBe 2
    val got = t.read(spark).groupBy(col("day")).agg(count(lit(1)).as("n"),
        max(col("mark")).as("m"))
      .orderBy(col("day")).as[(String, Long, String)].collect()
    got shouldBe Array(("2024-02-01", 3L, "v1"), ("2024-02-02", 3L, "v1"),
      ("2024-02-03", 1L, "v2"), ("2024-02-04", 1L, "v2"))
  }

  test("crash between data-write and publish: readers see the OLD state in full") {
    val t = mkTable("crash")
    t.commitDays(spark, days(3, "v1"))
    // the crash window: v2 files fully written, manifest never published
    val (v2, mapping) = t.stageDays(spark,
      Seq(("2024-02-02", 7L, "v2")).toDF("day", "event_id", "mark"))
    v2 shouldBe 2
    t.read(spark).filter(col("mark") === "v2").count() shouldBe 0
    t.current(spark).get._1 shouldBe 1
    // the producing job re-runs: re-stage + publish converges
    val (v2b, mapping2) = t.stageDays(spark,
      Seq(("2024-02-02", 7L, "v2")).toDF("day", "event_id", "mark"))
    v2b shouldBe 2
    t.publish(spark, v2b, mapping2)
    t.read(spark).filter(col("mark") === "v2").count() shouldBe 1
    mapping.keySet shouldBe mapping2.keySet
  }

  test("publishing the same version twice fails loudly (optimistic concurrency)") {
    val t = mkTable("race")
    t.commitDays(spark, days(1, "v1"))
    val (v, m) = t.stageDays(spark, days(1, "v2a"))
    t.publish(spark, v, m)
    intercept[java.io.IOException] {
      t.publish(spark, v, m)
    }.getMessage should include("lost the race")
  }

  test("racing commits stage into DISJOINT paths: the loser can never " +
      "clobber data the winner's manifest references") {
    val t = mkTable("race2")
    t.commitDays(spark, days(1, "v1"))
    // both writers compute vNew = 2 and fully stage BEFORE either
    // publishes — the exact interleaving the shared v<N> path corrupted
    val (vA, mA) = t.stageDays(spark, days(1, "winner"))
    val (vB, mB) = t.stageDays(spark, days(1, "loser"))
    vA shouldBe 2
    vB shouldBe 2
    // writer-unique staging: the two manifests reference different dirs
    mA("2024-02-01") should not be mB("2024-02-01")
    t.publish(spark, vA, mA)
    intercept[java.io.IOException] { t.publish(spark, vB, mB) }
    // the WINNER's data is intact even though the loser staged later
    t.read(spark).select(max(col("mark"))).as[String].head() shouldBe "winner"
    // the loser's orphaned staging dir is vacuumable garbage; the
    // default retention window keeps manifest v1 and its dirs
    t.vacuum(spark) shouldBe 1L // loser dir only
    t.read(spark).select(max(col("mark"))).as[String].head() shouldBe "winner"
    // a reader-free maintenance window collects the history too
    t.vacuum(spark, retainManifests = 1) shouldBe 2L // v1 dir + manifest 1
    t.read(spark).select(max(col("mark"))).as[String].head() shouldBe "winner"
  }

  test("vacuum retention window: a reader pinned to manifest v-1 " +
      "survives a concurrent vacuum; retainManifests=1 collects it") {
    val t = mkTable("vac")
    t.commitDays(spark, days(2, "v1"))
    // v2 overwrites EVERYTHING -> v1 dirs referenced only by manifest 1
    t.commitDays(spark, days(2, "v2"))
    // the pinned reader: resolved v1 BEFORE the vacuum ran
    val pinned = t.readAsOf(spark, 1)
    t.vacuum(spark) shouldBe 0L // window keeps m1 + m2 and both dirs
    // mid-scan after the vacuum: every v1 file is still there
    pinned.select(max(col("mark"))).as[String].head() shouldBe "v1"
    t.readAsOf(spark, 1).count() shouldBe 6
    t.read(spark).select(max(col("mark"))).as[String].head() shouldBe "v2"
    // the reader-free window: old manifest + its now-unreferenced dir go
    t.vacuum(spark, retainManifests = 1) shouldBe 2L
    intercept[IllegalStateException] {
      t.readAsOf(spark, 1)
    }.getMessage should include("not retained")
    t.read(spark).select(max(col("mark"))).as[String].head() shouldBe "v2"
    // partial overwrite keeps the still-referenced older version dir
    val t2 = mkTable("vac2")
    t2.commitDays(spark, days(2, "v1"))
    t2.commitDays(spark,
      Seq(("2024-02-02", 5L, "v2")).toDF("day", "event_id", "mark"))
    t2.vacuum(spark, retainManifests = 1) shouldBe 1L // only manifest 1
    t2.read(spark).count() shouldBe 4
  }

  test("vacuum never touches an in-flight writer's staging dirs " +
      "(version numbers above current)") {
    val t = mkTable("vac3")
    t.commitDays(spark, days(1, "v1"))
    // an in-flight commit: v2 fully staged, not yet published
    val (v2, m2) = t.stageDays(spark, days(1, "v2"))
    t.vacuum(spark, retainManifests = 1) shouldBe 0L
    // the stager completes AFTER the vacuum — nothing was deleted
    t.publish(spark, v2, m2)
    t.read(spark).select(max(col("mark"))).as[String].head() shouldBe "v2"
  }

  test("readDays prunes to the requested days' files via the manifest") {
    val t = mkTable("prune")
    t.commitDays(spark, days(4, "v1"))
    val one = t.readDays(spark, Seq("2024-02-02"))
    one.count() shouldBe 3
    // the scan touches ONLY that day's directory — metadata pruning,
    // not a filter over the full listing
    val files = one.inputFiles
    files should not be empty
    all(files) should include("day=2024-02-02")
    // unknown days are absent, empty result keeps the schema
    t.readDays(spark, Seq("2030-01-01")).count() shouldBe 0
  }

  test("day keys round-trip whatever their characters are (space, ':')") {
    val t = mkTable("escape")
    val odd = Seq(("2024-02-01 am", 1L, "v1"), ("2024-02-01T10:00", 2L, "v1"))
      .toDF("day", "event_id", "mark")
    t.commitDays(spark, odd) shouldBe 1
    // the manifest keys the raw day, not its Hive-escaped directory name
    t.current(spark).get._2.keySet shouldBe Set("2024-02-01 am", "2024-02-01T10:00")
    t.readDays(spark, Seq("2024-02-01T10:00")).select("event_id").as[Long]
      .collect() shouldBe Array(2L)
    t.readDays(spark, Seq("2024-02-01 am")).select("event_id").as[Long]
      .collect() shouldBe Array(1L)
    t.read(spark).count() shouldBe 2
  }

  test("a null day fails fast and stages nothing") {
    val dir = TmpDirs.fresh("snaptab_nullday")
    val t = new SnapshotTable(dir)
    t.commitDays(spark, days(1, "v1"))
    val bad = Seq(("2024-02-02", 7L, "v2"), (null: String, 8L, "v2"))
      .toDF("day", "event_id", "mark")
    intercept[IllegalArgumentException] {
      t.commitDays(spark, bad)
    }.getMessage should include("null day")
    t.current(spark).get._1 shouldBe 1
    new java.io.File(dir).list().count(_.startsWith("v")) shouldBe 1
  }

  test("empty commit fails fast") {
    val t = mkTable("empty")
    intercept[IllegalArgumentException] {
      t.commitDays(spark, days(1, "x").filter(col("event_id") < 0))
    }.getMessage should include("no rows")
  }
}
