package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev benchmark for the optimization rounds (guide §1): per-query NOOP-sink
  * isolation with STRUCTURAL metrics alongside wall time — Spark job count,
  * stage count, task count, and summed executor task time. Wall clock on
  * this shared VM swings ±25% between windows; job/stage/task counts are
  * deterministic and summed task time is far less noisy, so before/after
  * comparisons of a plan change are made on these. Does not touch the
  * frozen graft.Bench contract.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *   SPARK_GRAFT_ONLY=q37,x55 SPARK_GRAFT_EXTRA_ROUNDS=2 \
  *   sbt "runMain graft.BenchExtra"
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val rounds = sys.env.getOrElse("SPARK_GRAFT_EXTRA_ROUNDS", "2").toInt
    val only = sys.env.get("SPARK_GRAFT_ONLY")
    val spark = LocalSpark.builder("graft-benchextra", cpus).getOrCreate()

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        Option(t.taskMetrics).foreach(m => taskMs.addAndGet(m.executorRunTime))
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.split(',').exists(n.contains)) }
    println(f"${"query"}%-28s round  jobs stages  tasks  task_s  wall_s")
    (1 to rounds).foreach { round =>
      names.foreach { case (name, fn) =>
        Thread.sleep(150) // let the listener bus drain between queries
        jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0L)
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable => System.err.println(s"[extra] $name: $e"); false }
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(150) // let the listener bus drain between queries
        if (ok) println(f"$name%-28s $round%5d ${jobs.get}%5d ${stages.get}%6d " +
          f"${tasks.get}%6d ${taskMs.get / 1000.0}%7.2f $wall%7.3f")
      }
    }
    spark.stop()
  }
}
