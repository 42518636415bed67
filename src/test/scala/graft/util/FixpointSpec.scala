package graft.util

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.operators.{Analytics, TextDedup}

/** The iteration primitive and the four loops on it: convergence
  * failure, the self-pair node, connected components against a
  * driver-side union-find, a flat plan across rounds, and each loop's
  * job budget on one fixture. */
class FixpointSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents throws when maxIter rounds do not converge") {
    val pairs = spark.range(0, 999).select($"id".as("a"), ($"id" + 1L).as("b"))
    val e = the[IllegalStateException] thrownBy
      TextDedup.connectedComponents(pairs, maxIter = 3)
    e.getMessage should include("connectedComponents")
    e.getMessage should include("maxIter = 3")
  }

  test("connectedComponents keeps a node seen only in an (x, x) pair") {
    TextDedup.connectedComponents(Seq((5L, 5L)).toDF("a", "b"))
      .as[(Long, Long)].collect() shouldBe Array((5L, 5L))
  }

  test("connectedComponents reads each row of pairs once") {
    // 40 paths of 20 nodes; each path's first node comes as an (x, x) pair
    val rows = spark.sparkContext.longAccumulator("pairRows")
    val tap = udf { (a: Long) => rows.add(1L); a }
    val pairs = spark.range(0, 800)
      .select(tap($"id").as("a"), when($"id" % 20 === 0, $"id").otherwise($"id" - 1).as("b"))
    val labels = TextDedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    rows.value shouldBe 800L
    labels shouldBe (0L until 800L).map(i => i -> (i - i % 20)).toMap
  }

  /** Component label = the component's minimum id, by union-find. */
  private def unionFindLabels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  test("connectedComponents labels equal a union-find's minimum id per component") {
    val graphs = for {
      n <- Gen.choose(1, 60)
      m <- Gen.choose(0, 2 * n)
      edges <- Gen.listOfN(m, Gen.zip(Gen.choose(0L, n - 1L), Gen.choose(0L, n - 1L)))
    } yield edges
    val prop = Prop.forAll(graphs) { edges =>
      TextDedup.connectedComponents(edges.toDF("a", "b"))
        .as[(Long, Long)].collect().toMap == unionFindLabels(edges)
    }
    // a fixed seed, so every run draws the same 15 graphs
    val seed = 20261020L
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(15).withInitialSeed(Seed(seed)), prop)
    assert(result.passed, s"seed $seed: ${result.status}")
  }

  test("iterate keeps the plan flat when each round reads its state twice") {
    val init = spark.range(0, 40).select($"id", ($"id" % 7).as("v"))
    def step(s: DataFrame): DataFrame =
      s.join(s.groupBy($"v").agg(min($"id").as("m")), Seq("v"))
        .select($"id", (($"v" + $"m") % 7).as("v"))
    def planNodes(rounds: Int): Int =
      Fixpoint.iterate(init, rounds)(step).queryExecution.optimizedPlan
        .collect { case p => p }.size
    planNodes(12) shouldBe planNodes(2)
  }

  // One fixture for the job budgets: 40 components of 20 nodes, each a
  // random spanning tree plus three extra edges.
  private lazy val graph: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(7)
    (0 until 40).flatMap { c =>
      val base = c * 20L
      (1 until 20).map(i => (base + rnd.nextInt(i), base + i)) ++
        Seq.fill(3)((base + rnd.nextInt(20), base + rnd.nextInt(20)))
    }
  }
  private def edges = graph.toDF("a", "b")
  private def nodes = (0L until 800L).toDF("id")

  /** Spark jobs started while `body` runs. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val started = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.incrementAndGet(): Unit
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(counter)
    try { body; ListenerBusDrain(sc) } finally sc.removeSparkListener(counter)
    started.get
  }

  // Budgets: each loop's job count on this fixture when it still ran
  // its own checkpoint policy (on Fixpoint: 24, 30, 19 and 38).
  test("connectedComponents job budget") {
    jobsOf(TextDedup.connectedComponents(edges).collect(): Unit) should be <= 34
  }

  test("pageRank job budget") {
    jobsOf(Analytics.pageRank(edges, nodes, "id").collect(): Unit) should be <= 30
  }

  test("labelPropagation job budget") {
    val seeds = (0L until 800L by 20L).map(i => (i, s"l${i % 3}")).toDF("id", "label")
    jobsOf(Analytics.labelPropagation(edges, nodes, "id", seeds).collect(): Unit) should
      be <= 21
  }

  test("bradleyTerry job budget") {
    val rnd = new scala.util.Random(11)
    val matches = Seq.fill(3000) {
      val w = rnd.nextInt(60).toLong
      (w, (w + 1 + rnd.nextInt(59)) % 60)
    }.toDF("w", "l")
    jobsOf(Analytics.bradleyTerry(matches, "w", "l").collect(): Unit) should be <= 40
  }
}
