package graft.jobs

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.util.{StateDirs, TmpDirs}

/** Crash-safety contract of the staged-directory promotion: the last
  * live state must survive EVERY crash window — promote may never
  * delete the old state before the new one is in place — plus the
  * save/load pair every nightly state dir goes through. */
class StateDirsSpec extends SparkSpec {
  import spark.implicits._

  private def conf = new Configuration()

  private def mkState(dir: String, marker: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, "part-0"), marker.getBytes("UTF-8"))
  }

  private def readState(dir: String): String =
    new String(Files.readAllBytes(Paths.get(dir, "part-0")), "UTF-8")

  test("promote flips tmp to live and reaps .old") {
    val root = Files.createTempDirectory("statedirs").toString
    val dir = s"$root/state"
    mkState(dir, "v1")
    mkState(dir + ".tmp", "v2")
    StateDirs.promote(conf, dir)
    readState(dir) shouldBe "v2"
    Files.exists(Paths.get(dir + ".tmp")) shouldBe false
    Files.exists(Paths.get(dir + ".old")) shouldBe false
  }

  test("a stale .old from a crashed promote is reaped, not promoted over") {
    val root = Files.createTempDirectory("statedirs").toString
    val dir = s"$root/state"
    // Simulate the crash window AFTER dst->old but BEFORE tmp->dst of a
    // previous promote: old state parked at .old, new state still in .tmp.
    mkState(dir + ".old", "v1")
    mkState(dir + ".tmp", "v2")
    // The re-run job re-stages and promotes again; dst absent is fine.
    StateDirs.promote(conf, dir)
    readState(dir) shouldBe "v2"
    Files.exists(Paths.get(dir + ".old")) shouldBe false
  }

  test("old state is never deleted before the new one is live") {
    val root = Files.createTempDirectory("statedirs").toString
    val dir = s"$root/state"
    mkState(dir, "v1")
    // Staged dir missing: promote must refuse AND leave v1 untouched
    // (the failure mode ADVICE r9 flagged was old-destroyed-new-staged).
    an[IllegalArgumentException] should be thrownBy StateDirs.promote(conf, dir)
    readState(dir) shouldBe "v1"
  }

  test("promote with no prior live state installs the staged dir") {
    val root = Files.createTempDirectory("statedirs").toString
    val dir = s"$root/state"
    mkState(dir + ".tmp", "v1")
    StateDirs.promote(conf, dir)
    readState(dir) shouldBe "v1"
  }

  private def freshDir(): String =
    s"${Files.createTempDirectory("statedirs")}/state"

  private def longs(dir: String, names: Seq[String]): Seq[Seq[Long]] =
    StateDirs.load(spark, dir, names).get.map(_.as[Long].collect().toSeq.sorted)

  test("load returns None unless every part exists") {
    val dir = freshDir()
    StateDirs.load(spark, dir, Seq("a", "b")) shouldBe None
    StateDirs.save(dir, Seq("a" -> Seq(1L).toDF("v"), "b" -> Seq(2L, 3L).toDF("v")))
    longs(dir, Seq("a", "b")) shouldBe Seq(Seq(1L), Seq(2L, 3L))
    StateDirs.load(spark, dir, Seq("a", "b", "c")) shouldBe None
    TmpDirs.deleteRecursively(s"$dir/b")
    StateDirs.load(spark, dir, Seq("a", "b")) shouldBe None
  }

  test("a save whose second part fails leaves the previous state; the next save converges") {
    val dir = freshDir()
    val names = Seq("a", "b")
    StateDirs.save(dir, names.map(_ -> Seq(1L).toDF("v")))
    val failing = Seq(2L).toDF("v")
      .select(when($"v" > 0, raise_error(lit("write fails"))).cast("long").as("v"))
    an[Exception] should be thrownBy
      StateDirs.save(dir, Seq("a" -> Seq(2L).toDF("v"), "b" -> failing))
    longs(dir, names) shouldBe Seq(Seq(1L), Seq(1L))
    StateDirs.save(dir, names.map(_ -> Seq(3L).toDF("v")))
    longs(dir, names) shouldBe Seq(Seq(3L), Seq(3L))
    Files.exists(Paths.get(dir + ".tmp")) shouldBe false
    Files.exists(Paths.get(dir + ".old")) shouldBe false
  }

  test("a one-relation save round-trips through load") {
    val dir = freshDir()
    StateDirs.load(spark, dir) shouldBe None
    StateDirs.save(dir, Seq(1L, 2L).toDF("v"))
    StateDirs.load(spark, dir).get.as[Long].collect().sorted shouldBe Array(1L, 2L)
    StateDirs.save(dir, Seq(3L).toDF("v"))
    StateDirs.load(spark, dir).get.as[Long].collect() shouldBe Array(3L)
  }

  test("save returns each part's row count, a zero-row part included") {
    val dir = freshDir()
    val names = Seq("a", "b", "c")
    StateDirs.save(dir, names.zip(Seq(
      spark.range(0, 7).toDF("v"), Seq.empty[Long].toDF("v"), Seq(1L, 2L).toDF("v")))) shouldBe
      Seq(7L, 0L, 2L)
    StateDirs.load(spark, dir, names).get.map(_.count()) shouldBe Seq(7L, 0L, 2L)
  }

  test("a one-relation save returns its row count, zero rows included") {
    val dir = freshDir()
    StateDirs.save(dir, spark.range(0, 5).toDF("v")) shouldBe 5L
    StateDirs.load(spark, dir).get.count() shouldBe 5L
    StateDirs.save(dir, spark.range(0, 0).toDF("v")) shouldBe 0L
    StateDirs.load(spark, dir).get.count() shouldBe 0L
  }

  // The crash window between promote's two renames: the live state is
  // parked at `<dir>.old`, `<dir>` is gone, the new copy sits in `.tmp`.
  private def parkLive(dir: String): Unit =
    Files.move(Paths.get(dir), Paths.get(dir + ".old"))

  test("load restores a multi-part state parked at .old by a crashed promote") {
    val dir = freshDir()
    val names = Seq("a", "b")
    StateDirs.save(dir, Seq("a" -> Seq(1L).toDF("v"), "b" -> Seq(2L, 3L).toDF("v")))
    parkLive(dir)
    longs(dir, names) shouldBe Seq(Seq(1L), Seq(2L, 3L))
    Files.exists(Paths.get(dir + ".old")) shouldBe false
  }

  test("load restores a one-relation state parked at .old by a crashed promote") {
    val dir = freshDir()
    StateDirs.save(dir, Seq(1L, 2L).toDF("v"))
    parkLive(dir)
    StateDirs.load(spark, dir).get.as[Long].collect().sorted shouldBe Array(1L, 2L)
    Files.exists(Paths.get(dir + ".old")) shouldBe false
  }

  test("one RunNightly tick leaves exactly the state layout its readers expect") {
    val dir = freshDir()
    val docs = graft.Tables.documents(spark, sfSmoke)
      .select($"doc_id", $"text", $"lang", $"source")
    val vecs = graft.Tables.embeddings(spark, sfSmoke).select($"vec_id", $"embedding")
    RunNightly.tick(spark, dir,
      docs.filter($"doc_id" % 10 =!= 3), docs.filter($"doc_id" % 10 =!= 7),
      vecs.filter($"vec_id" % 10 =!= 3), vecs.filter($"vec_id" % 10 =!= 7))
    // every directory holding parquet files, relative to the state dir
    val root = Paths.get(dir)
    val walk = Files.walk(root)
    val tree =
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(f => root.relativize(f.getParent).toString).toSet
      } finally walk.close()
    tree shouldBe Set(
      "index/band_index", "index/hash_index", "index/bloom_shards",
      "card/lang_sums", "card/text_index", "card/source_index", "card/word_index",
      "model/centroids", "model/scales",
      "vecindex", "cov",
      "tokenizer/merges", "tokenizer/fertility")
    root.getParent.toFile.list().toSeq shouldBe Seq("state") // no .tmp or .old beside it
  }
}
