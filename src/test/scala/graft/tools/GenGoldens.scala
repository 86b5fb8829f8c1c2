package graft.tools

/** Dev tool, not a test: prints fixture-query outputs as DuckDB VALUES
  * literals for hand-review and pasting into FixtureGoldens. Any fixture
  * or extraction change invalidates the goldens — regenerate with
  *
  *   sbt -batch 'Test/runMain graft.tools.GenGoldens x06 x07 ...'
  *
  * (no args = every x query that has a VALUES golden), then REVIEW each
  * row against the reference semantics before committing; the goldens are
  * the driver's correctness gate, not a rubber stamp.
  */
object GenGoldens {
  private def q(s: String): String =
    if (s == null) "NULL"
    else "'" + s.replace("'", "''").replace("\n", "' || chr(10) || '") + "'"

  private val valuesBacked = Seq(
    "x01_fixture_stats", "x02_fixture_corpus", "x03_fixture_pivot",
    "x05_fixture_spans", "x06_fixture_candidates", "x07_fixture_context",
    "x08_fixture_spanning", "x09_fixture_semantic", "x10_multimodal_meta",
    "x11_resume_counts", "x12_status_counts", "x14_fixture_tablefinder",
    "x17_boilerplate_blocks", "x18_main_spans")

  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSpark.builder("graft-gengoldens", 8).getOrCreate()
    val wanted =
      if (args.isEmpty) valuesBacked
      else valuesBacked.filter(n => args.exists(n.contains))
    wanted.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, "/root/testdata/sf0.001")
      val cols = df.columns
      println(s"===== $n  cols=${cols.mkString(",")}")
      val rows = df.collect().map { r =>
        cols.indices.map { i =>
          r.get(i) match {
            case null => "NULL"
            case s: String => q(s)
            case b: Boolean => if (b) "true" else "false"
            case x => x.toString
          }
        }.mkString("(", ", ", ")")
      }
      println(rows.sorted.mkString(",\n"))
    }
    spark.stop()
  }
}
