package extractbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.extractbench.ListenerBusDrain
import graft.layout.DocRow
import graft.pipeline.{Checkpointing, Extract, ExtractionPipeline, Merge}

/** The traced run behind the per-layer metrics, in three parts:
  *
  *  1. replays of the workload's timed body, one span per call into the
  *     program, under a root span `run` whose duration is the traced wall.
  *     Each replay follows one untraced run, so the two medians, and the
  *     tracing overhead between them, see the same warm-up;
  *  2. layer probes under a root span `probe`: isolated jobs that each add
  *     one layer to the previous (scan, decode, parse, merge), so a layer's
  *     time is its probe's time minus the previous probe's; then the corpus
  *     sheet and the pivot, whose output is checked like a run's;
  *  3. single-thread per-document timings of the parse, merge and assembly
  *     functions over a seeded sample.
  *
  * The listener attributes Spark counts to spans; all spans are written as
  * JSON under the work directory at the end.
  */
object Traced {
  private val MB = 1024.0 * 1024.0
  val MicroSample = 300
  val MicroPasses = 5

  /** What one replayed run left in its output root (read untimed). */
  final case class Output(spansOut: Long, commitFiles: Int, logEntries: Int)

  def run(wl: Workload, spark: SparkSession, in: Inputs, out: Path,
      a: Main.Args, tally: Main.Tally): Seq[(String, Double, String)] = {
    val listener = new SpanListener
    spark.sparkContext.addSparkListener(listener)
    val t = new Tracer(spark.sparkContext)
    val budget = a.seconds / 3

    val untraced = ArrayBuffer.empty[Main.Sample]
    val runs = ArrayBuffer.empty[(SpanRec, Output)]
    while (runs.map(_._1.seconds).sum < budget || runs.size < Main.MinRuns) {
      untraced += Main.measureOne(wl, spark, in, out, tally)
      Main.prepareRun(wl, in, out)
      val id = s"run-${runs.size}"
      val landed = try t.run(id, "run")(wl.replay(spark, in, out, t)) catch {
        case e: Exception => Main.log(s"replay failed: $e"); -1L
      }
      runs += (root(t, id) -> output(out))
      Main.checked(wl, spark, in, out, landed, tally)
    }

    val probes = ArrayBuffer.empty[(SpanRec, ParseCounts, Long)]
    while (probes.map(_._1.seconds).sum < budget || probes.size < Main.MinRuns) {
      wl.reset(in, out)
      val id = s"probe-${probes.size}"
      val pc = t.run(id, "probe")(wl.probes(spark, in, out, t))
      val sheetRows = spark.read.parquet(s"$out/pivot").count()
      Main.counted(wl, try wl.checkSheet(spark, in, out, a.seed) catch {
        case e: Exception => Seq(s"sheet check threw $e")
      }, tally)
      probes += ((root(t, id), pc, sheetRows))
    }

    val untracedRunS = Main.median(untraced.map(_.runS).toSeq)
    val micro = perDocMicros(
      new scala.util.Random(a.seed).shuffle(in.probeDocs.toVector).take(MicroSample)
        .map(wl.doc(_, a.seed)))

    ListenerBusDrain(spark.sparkContext)
    val traceFile = a.work.resolve("traces")
      .resolve(s"${wl.name}-${a.scale}-seed${a.seed}.json")
    Files.createDirectories(traceFile.getParent)
    Files.writeString(traceFile, t.json(listener, Seq(
      "workload" -> Json.str(wl.name), "scale" -> Json.str(a.scale),
      "seed" -> a.seed.toString, "untraced_run_s" -> Json.num(untracedRunS))))
    Main.log(s"spans written to $traceFile")

    def child(r: SpanRec, name: String): Double =
      t.children(r).filter(_.name == name).map(_.seconds).sum
    def overRuns(f: SpanRec => Double) = Main.median(runs.map(x => f(x._1)).toSeq)
    def overProbes(f: SpanRec => Double) = Main.median(probes.map(x => f(x._1)).toSeq)
    def counts(r: SpanRec) = t.subtreeCounts(r, listener)
    def lastOut = runs.last._2
    val (_, pc, sheetRows) = probes.last
    val scanBase = if (in.probeInput != in.input) "scan.probe" else "scan"

    Seq(
      ("scan.s", overProbes(child(_, "scan")), "s"),
      ("scan.input_mb", overProbes(p =>
        t.children(p).filter(_.name == "scan").map(s => listener.of(s.id).inputBytes).sum / MB), "MB"),
      ("scan.passes", overRuns(r => counts(r).inputRecords.toDouble / in.docs), "ratio"),
      ("decode.s", overProbes(p => child(p, "decode") - child(p, scanBase)), "s"),
      ("parse.s", overProbes(p => child(p, "parse") - child(p, "decode")), "s"),
      ("parse.us_per_doc", micro._1, "us/doc"),
      ("parse.chunks", pc.chunks.toDouble, "count"),
      ("parse.candidates", pc.candidates.toDouble, "count"),
      ("parse.hit_ratio", pc.hits.toDouble / math.max(1L, pc.docs), "ratio"),
      ("merge.s", overProbes(p => child(p, "merge") - child(p, "parse")), "s"),
      ("merge.us_per_doc", micro._2, "us/doc"),
      ("shuffle.write_mb", overRuns(counts(_).shuffleWrite / MB), "MB"),
      ("shuffle.read_mb", overRuns(counts(_).shuffleRead / MB), "MB"),
      ("assemble.us_per_doc", micro._3, "us/doc"),
      ("spans.out", lastOut.spansOut.toDouble, "count"),
      ("resume.s", overRuns(child(_, "resume")), "s"),
      ("log.snapshots_s", overRuns(child(_, "log.snapshots")), "s"),
      ("log.entries", lastOut.logEntries.toDouble, "count"),
      ("readat.s", overRuns(child(_, "readat")), "s"),
      ("commit.spans_s", overRuns(child(_, "commit.spans")), "s"),
      ("commit.stats_s", overRuns(child(_, "commit.stats")), "s"),
      ("commit.files", lastOut.commitFiles.toDouble, "count"),
      ("sheet.corpus_s", overProbes(child(_, "sheet.corpus")), "s"),
      ("sheet.pivot_s", overProbes(child(_, "sheet.pivot")), "s"),
      ("sheet.rows", sheetRows.toDouble, "count"),
      ("spark.jobs", overRuns(counts(_).jobs.toDouble), "count"),
      ("spark.stages", overRuns(counts(_).stages.toDouble), "count"),
      ("spark.tasks", overRuns(counts(_).tasks.toDouble), "count"),
      ("spark.task_s", overRuns(counts(_).taskMs / 1e3), "s"),
      ("spark.gc_s", overRuns(counts(_).gcMs / 1e3), "s"),
      ("spark.spill_mb", overRuns(counts(_).spillBytes / MB), "MB"),
      ("spark.peak_exec_mem_mb", overRuns(counts(_).peakExecMem / MB), "MB"),
      ("heap_peak_mb", Main.median(untraced.map(_.heapMb).toSeq), "MB"),
      ("trace.run_s", overRuns(_.seconds), "s"),
      ("trace.overhead_s", overRuns(_.seconds) - untracedRunS, "s"),
      ("trace.unaccounted_s", overRuns(t.selfSeconds), "s"))
  }

  private def root(t: Tracer, runId: String): SpanRec =
    t.spans.find(s => s.runId == runId && s.parent < 0).get

  private def output(out: Path): Output = {
    val spans = Checkpointing.snapshots(s"$out/spans")
    val stats = Checkpointing.snapshots(s"$out/stats")
    Output(spans.lastOption.map(_.rows).getOrElse(0L),
      spans.lastOption.map(_.files.size).getOrElse(0) +
        stats.lastOption.map(_.files.size).getOrElse(0),
      stats.size)
  }

  /** Single-thread microseconds per document of extraction, per document
    * with candidates of merge, and per merged document of span assembly;
    * each the median over [[MicroPasses]] passes over the sample. */
  def perDocMicros(docs: Seq[DocRow]): (Double, Double, Double) = {
    var sink = 0L
    val extracted = docs.map(d => d -> Extract.extractDoc(d))
    val withCands = extracted.filter(_._2.candidates.nonEmpty)
    val merged = withCands.map { case (d, r) =>
      (Merge.mergeDoc(d.doc_id, r.candidates.iterator), r.media) }
    def usPer(n: Int)(pass: => Unit): Double =
      if (n == 0) 0.0
      else Main.median((1 to MicroPasses).map { _ =>
        val t0 = System.nanoTime()
        pass
        (System.nanoTime() - t0) / 1e3 / n
      })
    val parse = usPer(docs.size)(docs.foreach(d => sink += Extract.extractDoc(d).stat.page_size))
    val merge = usPer(withCands.size)(withCands.foreach { case (d, r) =>
      sink += Merge.mergeDoc(d.doc_id, r.candidates.iterator).merged_rows_count })
    val assemble = usPer(merged.size)(merged.foreach { case (m, media) =>
      sink += ExtractionPipeline.outputSpans(m, media).size })
    if (sink == 42L) System.err.print("") // keeps the timed calls observable
    (parse, merge, assemble)
  }
}
