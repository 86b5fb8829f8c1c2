package graft.io

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.TestSpark

class XlsxSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("pivot sheet round-trips through the xlsx sink (S5 parity)") {
    import spark.implicits._
    val pivot = graft.queries.Fixture.result(spark).pivot
    val path = java.nio.file.Files.createTempDirectory("graft-xlsx")
      .resolve("pivot.xlsx").toString
    Xlsx.write(pivot, path)
    val (header, rows) = Xlsx.read(path)
    assert(header == pivot.columns.toVector)
    val expected = pivot.collect().map(r =>
      pivot.columns.indices.map(i => Option(r.get(i)).map(_.toString).orNull).toVector)
    assert(rows.length == expected.length)
    rows.zip(expected).foreach { case (got, want) =>
      // numbers come back via <v> text (e.g. "1"), strings verbatim; an
      // xlsx EMPTY inline string is "" while pandas-written NaN is an
      // absent cell (null) — the writer maps Spark null to absent
      assert(got == want, s"\ngot=$got\nwant=$want")
    }
  }

  test("empty string vs null survive the round trip distinctly") {
    import spark.implicits._
    val df = Seq(("a", "", null.asInstanceOf[String]), ("b", "x", "y"))
      .toDF("k", "empty", "maybe")
    val path = java.nio.file.Files.createTempDirectory("graft-xlsx")
      .resolve("nulls.xlsx").toString
    Xlsx.write(df, path)
    val (_, rows) = Xlsx.read(path)
    assert(rows(0) == Vector("a", "", null))
    assert(rows(1) == Vector("b", "x", "y"))
  }

  test("reader agrees with the committed pivot-differential extraction on the reference's own xlsx") {
    val ref = "/root/reference/data/terminal-evaluation-report_0.1.0_pivot.xlsx"
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(ref)),
      "reference checkout not present")
    val (header, rows) = Xlsx.read(ref)
    assert(header == Vector("No.", "FileName", "L1", "L2", "SummaryAssessment", "Rating"))
    assert(rows.length == 304)
    // provenance check: the committed TSV (reference_pivot_cases.tsv) was
    // extracted from this exact file — spot-verify the L1/L2 columns agree
    val in = getClass.getResourceAsStream("/reference_pivot_cases.tsv")
    val tsv = scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
    in.close()
    def unesc(s: String): String =
      if (s == "\\N") null
      else s.replace("\\n", "\n").replace("\\t", "\t")
        .replace("\\r", "\r").replace("\\\\", "\\")
    rows.zip(tsv).zipWithIndex.foreach { case ((x, line), i) =>
      val f = line.split("\t", -1).map(unesc)
      def n(s: String) = if (s == null) "" else s
      assert(n(x(2)) == n(f(5)), s"row $i L1") // xlsx L1 vs tsv l1
      assert(n(x(3)) == n(f(6)), s"row $i L2")
      assert(x(0).toDouble.toInt == f(0).toInt, s"row $i No.")
    }
  }
}
