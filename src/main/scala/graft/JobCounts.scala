package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ListenerBusDrain
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

/** What Spark ran for one piece of driver code: each job by the name of
  * the stage it was submitted for, the stages completed, the tasks ended
  * and their summed executor run time, the ids of the shuffle-map stages,
  * and the body's wall time in seconds. */
final case class JobCounts(jobs: Seq[String], stages: Int, tasks: Int,
    taskMs: Long, shuffleStages: Set[Int], wallS: Double)

object JobCounts {
  /** `body`'s result and what Spark ran for it. The listener bus is
    * drained before the count starts and before it is read, so the counts
    * hold every event of `body`'s jobs and none of earlier or later work. */
  def of[T](spark: SparkSession)(body: => T): (T, JobCounts) = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[String]()
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskMs = new AtomicLong
    val shuffleStages = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.add(j.stageInfos.maxByOption(_.stageId).fold("")(_.name)); ()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); ()
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        Option(t.taskMetrics).foreach(m => taskMs.addAndGet(m.executorRunTime))
        if (t.taskType == "ShuffleMapTask") shuffleStages.add(t.stageId)
        ()
      }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val t0 = System.nanoTime()
    val (out, wallS) = try {
      val out = body
      (out, (System.nanoTime() - t0) / 1e9)
    } finally {
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    (out, JobCounts(jobs.asScala.toSeq, stages.get, tasks.get, taskMs.get,
      shuffleStages.asScala.toSet, wallS))
  }
}
