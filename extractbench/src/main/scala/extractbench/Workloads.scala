package extractbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.ExtractMain
import graft.layout.{DocRow, FixtureCorpus}
import graft.pipeline.{Checkpointing, CorpusSheet, Extract, ExtractionPipeline,
  Merge, SaltedExtract}

/** Input sizes of one workload at one scale: `docs` documents already in
  * the input, `delta` new ones, `history` prior commits in the output
  * tables, and `sample` documents whose output is compared with the
  * in-driver reference. */
final case class Size(docs: Int, delta: Int, history: Int, sample: Int)

/** A workload's generated inputs and what the generator knows to be true of
  * them. `input` is the table the program reads. `probeInput` holds the
  * documents the run parses (the delta on `incremental`); `probeDocs` are
  * their generator indices. */
final case class Inputs(input: String, probeInput: String, probeDocs: Range,
    pristine: Option[Path], docs: Long, landed: Long, logEntries: Int,
    sample: Seq[DocRow])

/** Counts from the parse probe. */
final case class ParseCounts(docs: Long, chunks: Long, candidates: Long, hits: Long)

/** A benchmark workload: documents from `FixtureCorpus.scaledDoc` landed
  * through the production entrypoint `ExtractMain.run`. It owns seeded input
  * generation (cached per seed, outside every timed region), the timed
  * body, the traced replay of that body one call at a time, the layer
  * probes and the per-run correctness check. */
sealed abstract class Workload(val name: String) extends Serializable {
  /** The production entrypoint's default salt size. */
  val SaltPages = 64
  /** Files per generated input table, fixed so that the scan's parallelism
    * does not depend on the box. */
  val InputFiles = 8

  def size(scale: String): Size

  def doc(i: Int, seed: Long): DocRow = FixtureCorpus.scaledDoc(i, seed)

  /** Builds the inputs under `dir` unless a finished copy is there. */
  def prepare(spark: SparkSession, dir: Path, seed: Long, sz: Size): Inputs = {
    if (!Files.exists(dir.resolve("DONE"))) {
      Files.createDirectories(dir.getParent)
      val tmp = Files.createTempDirectory(dir.getParent, dir.getFileName.toString + ".tmp")
      generate(spark, tmp, seed, sz)
      Files.writeString(tmp.resolve("DONE"), "")
      FileTree.delete(dir)
      Files.move(tmp, dir)
    }
    truth(dir, seed, sz)
  }

  protected def generate(spark: SparkSession, dir: Path, seed: Long, sz: Size): Unit
  protected def truth(dir: Path, seed: Long, sz: Size): Inputs

  protected def docs(spark: SparkSession, from: Int, until: Int, seed: Long): Dataset[DocRow] = {
    import spark.implicits._
    val gen: Int => DocRow = doc(_, seed)
    spark.range(from.toLong, until.toLong, 1L, InputFiles).map(i => gen(i.toInt))
  }

  /** Seeded sample of document indices in [from, until). */
  protected def sampleIdx(seed: Long, from: Int, until: Int, n: Int): Seq[Int] =
    new scala.util.Random(seed ^ 0x5eedL).shuffle((from until until).toVector)
      .take(n).sorted

  /** Untimed: puts the output root in the state a run starts from. */
  def reset(in: Inputs, out: Path): Unit = {
    FileTree.delete(out)
    in.pristine.foreach(FileTree.copy(_, out))
  }

  /** The timed body; returns the documents committed. */
  def run(spark: SparkSession, in: Inputs, out: Path): Long =
    Console.withOut(FileTree.NullOut) {
      ExtractMain.run(spark, in.input, out.toString, SaltPages)._1
    }

  /** `ExtractMain.run`'s steps, in its order, one span per call. */
  def replay(spark: SparkSession, in: Inputs, out: Path, t: Tracer): Long = {
    import spark.implicits._
    val statsDir = s"$out/stats"
    val (pending, nothing) = t.span("resume") {
      val docs = spark.read.parquet(in.input).as[DocRow]
      val p = Checkpointing.resumeFilter(spark, docs, statsDir)
      (p, p.isEmpty)
    }
    val landed =
      if (nothing) 0L
      else {
        val runId = java.util.UUID.randomUUID().toString.take(8)
        val r = t.span("pipeline.build")(ExtractionPipeline.run(spark, pending,
          saltPages = Some(SaltPages), persistIntermediate = false))
        t.span("commit.spans")(
          Checkpointing.commit(r.outSpans.toDF(), s"$out/spans", runId))
        t.span("commit.stats")(
          Checkpointing.commit(r.stats.toDF(), statsDir, runId))
      }
    val snaps = t.span("log.snapshots")(Checkpointing.snapshots(statsDir))
    t.span("readat")(Checkpointing.readAt(spark, statsDir, snaps.last.seq).count())
    landed
  }

  /** Problems found in one run's output; empty when it is correct. */
  def check(spark: SparkSession, in: Inputs, out: Path, landed: Long): Seq[String] = {
    import spark.implicits._
    val problems = Seq.newBuilder[String]
    if (landed != in.landed) problems += s"committed $landed docs, expected ${in.landed}"
    val snaps = Checkpointing.snapshots(s"$out/stats")
    if (snaps.size != in.logEntries)
      problems += s"stats log has ${snaps.size} entries, expected ${in.logEntries}"
    val stats = Checkpointing.readAt(spark, s"$out/stats", snaps.last.seq)
      .select("doc_id", "status").as[(String, String)].collect()
    // every generated document has a criterion table and is under the span
    // budget, so every one must succeed
    val split = stats.groupBy(_._2).map { case (k, v) => k -> v.length.toLong }
    if (split != Map("success" -> in.docs))
      problems += s"status split $split, expected ${in.docs} success"
    val ids = stats.map(_._1).distinct.length
    if (ids != in.docs) problems += s"$ids distinct committed docs, expected ${in.docs}"
    val spansDir = s"$out/spans"
    val committed = Checkpointing
      .readAt(spark, spansDir, Checkpointing.snapshots(spansDir).last.seq)
      .filter(col("doc_id").isin(in.sample.map(_.doc_id): _*))
      .select($"doc_id", $"ord", $"kind", $"text", $"media_ref")
      .as[(String, Int, String, String, String)].collect()
      .groupBy(_._1).map { case (id, rows) =>
        id -> rows.toSeq.map(r => (r._2, r._3, r._4, r._5)).sortBy(_._1) }
    in.sample.foreach { d =>
      val want = Reference.spans(d)
      val got = committed.getOrElse(d.doc_id, Nil)
      if (got != want)
        problems += s"spans of ${d.doc_id}: ${got.size} rows differ from the reference's ${want.size}"
    }
    problems.result()
  }

  /** The layer probes over the documents the run parses: isolated jobs that
    * each add one layer to the previous one (scan, decode, parse, merge),
    * then the corpus sheet and the pivot, written under `out`. */
  def probes(spark: SparkSession, in: Inputs, out: Path, t: Tracer): ParseCounts = {
    import spark.implicits._
    def noop(ds: Dataset[_]): Unit = ds.write.format("noop").mode("overwrite").save()
    t.span("scan")(noop(spark.read.parquet(in.input)))
    if (in.probeInput != in.input)
      t.span("scan.probe")(noop(spark.read.parquet(in.probeInput)))
    val docs = t.span("decode") {
      val d = spark.read.parquet(in.probeInput).as[DocRow]
      d.foreach(_ => ())
      d
    }
    val salt = SaltPages
    val c = t.span("parse") {
      docs.map { d =>
        if (d.spans.length > Extract.SpanBudget) (1L, 0L, 0L, 0L)
        else {
          val chunks = SaltedExtract.chunkDoc(d, salt)
          val cands = chunks.map(ch => SaltedExtract.extractChunk(ch)._2.size.toLong).sum
          (1L, chunks.size.toLong, cands, if (cands > 0) 1L else 0L)
        }
      }.toDF("d", "c", "k", "h").agg(sum("d"), sum("c"), sum("k"), sum("h"))
        .as[(Long, Long, Long, Long)].head()
    }
    t.span("merge")(noop(ExtractionPipeline.run(spark, docs,
      saltPages = Some(salt), persistIntermediate = false).merged))
    val r = ExtractionPipeline.run(spark, docs, saltPages = Some(salt),
      persistIntermediate = true)
    try {
      t.span("sheet.corpus")(r.corpus.write.mode("overwrite").parquet(s"$out/corpus"))
      t.span("sheet.pivot")(r.pivot.write.mode("overwrite").parquet(s"$out/pivot"))
    } finally r.unpersist()
    ParseCounts(c._1, c._2, c._3, c._4)
  }

  /** Problems in the sheet the probes wrote: the pivot has one row per
    * corpus row of the reference, numbered 1..n, and the sampled
    * documents' corpus rows equal the reference's. */
  def checkSheet(spark: SparkSession, in: Inputs, out: Path, seed: Long): Seq[String] = {
    import spark.implicits._
    val problems = Seq.newBuilder[String]
    val probeDocs = in.probeDocs.map(doc(_, seed))
    val want = probeDocs.iterator.map(d => Reference.sheet(d).size.toLong).sum
    val (n, lo, hi, distinct) = spark.read.parquet(s"$out/pivot")
      .agg(count(lit(1)), min("`No.`").cast("long"), max("`No.`").cast("long"),
        countDistinct("`No.`"))
      .as[(Long, Long, Long, Long)].head()
    if (n != want) problems += s"pivot has $n rows, expected $want"
    if (n > 0 && (lo != 1 || hi != n || distinct != n))
      problems += s"No. is not 1..$n: min $lo, max $hi, $distinct distinct"
    val ids = probeDocs.map(_.doc_id).toSet
    val sample = in.sample.filter(d => ids(d.doc_id))
    val corpus = spark.read.parquet(s"$out/corpus")
    def colOrNull(c: String) =
      if (corpus.columns.contains(c)) col(c) else lit(null).cast("string")
    val got = corpus.filter(col("FileName").isin(sample.map(_.doc_id): _*))
      .select(col("FileName"), col("row_idx"), colOrNull("Criterion"),
        colOrNull("SummaryAssessment"), colOrNull("Rating"))
      .as[(String, Int, String, String, String)].collect()
      .groupBy(_._1).map { case (id, rows) =>
        id -> rows.toSeq.map(r => (r._2, r._3, r._4, r._5)).sortBy(_._1) }
    sample.foreach { d =>
      val w = Reference.sheet(d)
      val g = got.getOrElse(d.doc_id, Nil)
      if (g != w)
        problems += s"corpus rows of ${d.doc_id}: ${g.size} rows differ from the reference's ${w.size}"
    }
    problems.result()
  }
}

/** The in-driver reference: the program's per-document functions called
  * directly, outside Spark. */
object Reference {
  def merged(d: DocRow): Option[(graft.pipeline.MergedDoc, Extract.ExtractResult)] = {
    val r = Extract.extractDoc(d)
    if (r.candidates.isEmpty) None
    else Some((Merge.mergeDoc(d.doc_id, r.candidates.iterator), r))
  }

  /** (ord, kind, text, media_ref) of the document's output spans. */
  def spans(d: DocRow): Seq[(Int, String, String, String)] =
    merged(d).toSeq.flatMap { case (m, r) =>
      ExtractionPipeline.outputSpans(m, r.media)
        .map(s => (s.ord, s.kind, s.text, s.media_ref))
    }

  /** (row_idx, Criterion, SummaryAssessment, Rating) of the corpus rows. */
  def sheet(d: DocRow): Seq[(Int, String, String, String)] =
    merged(d).toSeq.flatMap { case (m, _) =>
      CorpusSheet.sheetRows(m).filter(_.row_idx >= 0).map { r =>
        def cell(k: String) = r.cells.getOrElse(k, null)
        (r.row_idx, cell("Criterion"), cell("SummaryAssessment"), cell("Rating"))
      }
    }
}

/** Documents landed in empty tables: every layer does full work, and the
  * snapshot log has one entry, so the log's read side does almost nothing. */
object Fresh extends Workload("fresh") {
  def size(scale: String): Size =
    if (scale == "tiny") Size(200, 0, 0, 8) else Size(3000, 0, 0, 48)

  protected def generate(spark: SparkSession, dir: Path, seed: Long, sz: Size): Unit =
    docs(spark, 0, sz.docs, seed).write.parquet(dir.resolve("input").toString)

  protected def truth(dir: Path, seed: Long, sz: Size): Inputs = {
    val input = dir.resolve("input").toString
    Inputs(input, input, 0 until sz.docs, None, sz.docs, sz.docs, 1,
      sampleIdx(seed, 0, sz.docs, sz.sample).map(doc(_, seed)))
  }
}

/** A small delta landed on tables that already hold a long history of small
  * commits; the input is everything committed plus the delta. The input
  * scan, the log's list/parse, the `readAt` union and the resume anti-join
  * dominate, and the run appends one commit to the long log. */
object Incremental extends Workload("incremental") {
  def size(scale: String): Size =
    if (scale == "tiny") Size(200, 20, 12, 8) else Size(3000, 60, 32, 48)

  protected def generate(spark: SparkSession, dir: Path, seed: Long, sz: Size): Unit = {
    docs(spark, 0, sz.docs + sz.delta, seed).write.parquet(dir.resolve("input").toString)
    docs(spark, sz.docs, sz.docs + sz.delta, seed).write.parquet(dir.resolve("delta").toString)
    // the prior history: the base documents' extraction, committed through
    // the public commit API in `history` small slices per table. The slices
    // are staged as one file each first, so that a commit reads only its own.
    val r = ExtractionPipeline.run(spark, docs(spark, 0, sz.docs, seed),
      saltPages = Some(SaltPages), persistIntermediate = false)
    val h = sz.history
    val staged = dir.resolve("slices")
    val tables = Seq("spans" -> r.outSpans.toDF(), "stats" -> r.stats.toDF()).map {
      case (table, df) =>
        df.withColumn("_slice", pmod(xxhash64(col("doc_id")), lit(h.toLong)))
          .repartition(col("_slice"))
          .write.partitionBy("_slice").parquet(staged.resolve(table).toString)
        (table, df.schema)
    }
    // the two tables' logs are independent, so they are written concurrently
    val writers = tables.map { case (table, schema) =>
      val w = new Thread(() => (0 until h).foreach { s =>
        Checkpointing.commit(
          spark.read.schema(schema).parquet(staged.resolve(s"$table/_slice=$s").toString),
          dir.resolve(s"pristine/$table").toString, f"hist$s%04d")
      })
      w.start()
      w
    }
    writers.foreach(_.join())
    FileTree.delete(staged)
  }

  protected def truth(dir: Path, seed: Long, sz: Size): Inputs = {
    val all = sz.docs + sz.delta
    val sample = sampleIdx(seed, sz.docs, all, sz.sample / 2) ++
      sampleIdx(seed, 0, sz.docs, sz.sample - sz.sample / 2)
    Inputs(dir.resolve("input").toString, dir.resolve("delta").toString,
      sz.docs until all, Some(dir.resolve("pristine")), all, sz.delta,
      sz.history + 1, sample.map(doc(_, seed)))
  }
}

object Workload {
  val all: Seq[Workload] = Seq(Fresh, Incremental)
  def byName(name: String): Option[Workload] = all.find(_.name == name)
}

/** File-tree helpers for the input and output roots. */
object FileTree {
  val NullOut = new java.io.PrintStream(java.io.OutputStream.nullOutputStream())

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(Files.delete)
      finally s.close()
    }

  def copy(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst)
    } finally s.close()
  }

  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}
