package graft

/** Dev benchmark for the optimization rounds (guide §1): per-query NOOP-sink
  * isolation with STRUCTURAL metrics alongside wall time — Spark job count,
  * stage count, task count, and summed executor task time, over building
  * the plan and running it. Wall clock on this shared VM swings ±25%
  * between windows; job/stage/task counts are deterministic and summed
  * task time is far less noisy, so before/after comparisons of a plan
  * change are made on these. `build_s` and `build_jobs` are the part of
  * `wall_s` and `jobs` spent building the plan (the query's function
  * call), before the noop write runs it. Does not touch the frozen
  * graft.Bench contract.
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
    val spark = LocalSpark.builder("graft-benchextra", cpus).getOrCreate()
    println(f"${"query"}%-28s round  jobs stages  tasks  task_s  wall_s build_s build_jobs")
    (1 to rounds).foreach { round =>
      SparkEntry.selected.foreach { q =>
        try {
          val (df, b) = JobCounts.of(spark)(q.plan(spark, sfDir))
          val (_, e) = JobCounts.of(spark)(df.write.format("noop").mode("overwrite").save())
          println(f"${q.name}%-28s $round%5d ${b.jobs.size + e.jobs.size}%5d " +
            f"${b.stages + e.stages}%6d ${b.tasks + e.tasks}%6d " +
            f"${(b.taskMs + e.taskMs) / 1000.0}%7.2f ${b.wallS + e.wallS}%7.3f " +
            f"${b.wallS}%7.3f ${b.jobs.size}%10d")
        } catch { case e: Throwable => System.err.println(s"[extra] ${q.name}: $e") }
      }
    }
    spark.stop()
  }
}
