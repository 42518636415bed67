package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.util.Json

/** Where does a query's wall time actually go? Runs ONE SparkEntry
  * query with a listener counting jobs / stages / tasks and summing
  * task time, then prints the split between cluster work and
  * driver-side orchestration (job count x scheduling latency, commit
  * protocol, planning). `wall >> task_time/cores` with a large job
  * count means the bottleneck is the DRIVER, and no executor tuning
  * will move it. A stage's wall time goes to the first `graft.` frame
  * of the call stack that started its SQL execution, else to the
  * stage name (a JDK frame for broadcast and async stages). Usage: ProfileQuery <sfDir> <queryName>. */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val (sfDir, name) = (args(0), args(1))
    val spark = GraftSession.forMain("graft-profile")
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskMs = new AtomicLong
    val byCallSite =
      new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
    // one bus thread, in posting order: executions start before their stages
    val execSite = scala.collection.mutable.Map.empty[Long, String]
    val stageSite = scala.collection.mutable.Map.empty[Int, String]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          x.details.linesIterator.find(_.startsWith("graft."))
            .foreach(execSite(x.executionId) = _)
        case _ =>
      }
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        Option(s.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => execSite.get(id.toLong))
          .foreach(stageSite(s.stageInfo.stageId) = _)
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val name = stageSite.getOrElse(s.stageInfo.stageId,
          s.stageInfo.name.takeWhile(_ != ':'))
        byCallSite.computeIfAbsent(name, _ => new AtomicLong)
          .addAndGet(
            s.stageInfo.completionTime.getOrElse(0L) -
              s.stageInfo.submissionTime.getOrElse(0L))
        stages.incrementAndGet(): Unit
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        taskMs.addAndGet(t.taskInfo.duration): Unit
      }
    })
    val fn = SparkEntry.queries(name)
    val t0 = System.nanoTime()
    val n = fn(spark, sfDir).count()
    val wallSec = (System.nanoTime() - t0) / 1e9
    // listener bus is async; every event posted so far reaches the counters
    ListenerBusDrain(spark.sparkContext)
    println(f"""{"q":${Json.str(name)},"rows":$n,"wall_sec":$wallSec%.1f,""" +
      s""""jobs":${jobs.get},"stages":${stages.get},"tasks":${tasks.get},""" +
      f""""task_time_sec":${taskMs.get / 1e3}%.1f,""" +
      f""""ms_per_job":${if (jobs.get == 0) 0 else wallSec * 1000 / jobs.get}%.1f}""")
    import scala.jdk.CollectionConverters._
    byCallSite.asScala.toSeq.sortBy(-_._2.get).take(25).foreach {
      case (cs, ms) => println(f"[profile] ${ms.get / 1000.0}%8.1f s  $cs")
    }
    spark.stop()
    System.exit(0)
  }
}
