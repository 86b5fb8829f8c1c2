package graft

/** Dev tool for the optimization rounds (guide §1.1/§7.2): dump
  * `.explain("formatted")` for declared queries to files, so plan shapes
  * (Exchange count, join strategy, PushedFilters/ReadSchema) can be
  * diffed before/after a change and committed as evidence under
  * plans/r06/. Not part of the measured bench contract.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *   SPARK_GRAFT_PLANS_OUT=/root/repo/plans/r06 \
  *   SPARK_GRAFT_PLANS_SUFFIX=before \
  *   SPARK_GRAFT_ONLY=q37,q53 sbt "runMain graft.PlanDump"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLANS_OUT", "/root/repo/plans/r06")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLANS_SUFFIX", "before")
    val only = sys.env.get("SPARK_GRAFT_ONLY")
    val spark = LocalSpark.builder("graft-plandump", cpus).getOrCreate()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.split(',').exists(n.contains)) }
    names.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
        println(s"[plandump] wrote $name ($suffix)")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: $e")
      }
    }
    spark.stop()
  }
}
