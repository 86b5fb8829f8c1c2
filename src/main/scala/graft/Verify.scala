package graft
import java.nio.file.{Files, Paths}
import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods
/** Driver-run correctness dump: each SparkEntry.selected result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = LocalSpark.builder("graft-verify", cpus).getOrCreate()
    new java.io.File(outDir).mkdirs()
    SparkEntry.selected.foreach { q =>
      try q.plan(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
    }
    val json = JsonMethods.compact(JsonMethods.render(
      JObject(SparkEntry.oracleSql.toList.map { case (k, v) => k -> JString(v) })))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
