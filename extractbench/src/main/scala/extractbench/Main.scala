package extractbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** The extraction benchmark: one workload per process.
  *
  *   Main --workload fresh|incremental --seed N --seconds S --trace 0|1
  *        --work DIR [--scale full|tiny]
  *
  * Inputs are generated from the seed and cached under DIR/inputs. After
  * one untimed run, set-up (SparkSession start plus one warm-up run) is
  * done [[SetupRounds]] times, and one more untimed run settles the last
  * session. Then the workload
  * runs, each run reset and checked outside the timed region, until S
  * seconds of runs are measured. The last stdout line is
  * the result: end-to-end metrics with `--trace 0`, per-layer metrics with
  * `--trace 1`.
  */
object Main {
  val SetupRounds = 3
  val MinRuns = 3
  private val MB = 1024.0 * 1024.0

  final case class Args(workload: Workload, seed: Long, seconds: Double,
      trace: Boolean, work: Path, scale: String)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, usage(s"missing --$k"))
    val args = Args(
      Workload.byName(need("workload")).getOrElse(usage(s"unknown workload ${kv("workload")}")),
      need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, kv.getOrElse("scale", "full"))
    val line = run(args)
    log("done")
    println(line)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"extractbench: $msg\nusage: --workload " +
      Workload.all.map(_.name).mkString("|") +
      " --seed N --seconds S --trace 0|1 --work DIR [--scale full|tiny]")
    sys.exit(2)
  }

  def log(msg: String): Unit = System.err.println(
    f"[extractbench] ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s: $msg")

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("extractbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty)
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP).toSeq

  /** One measured run. */
  final case class Sample(runS: Double, docs: Long, writtenMb: Double, heapMb: Double)

  final class Tally {
    var attempted = 0
    var failed = 0
  }

  def run(a: Args): String = {
    val wl = a.workload
    val sz = wl.size(a.scale)
    val out = a.work.resolve("runs").resolve(s"pid-${ProcessHandle.current().pid()}")
    var spark = session(a.work)
    try {
      val t0 = System.nanoTime()
      val key = s"${wl.name}-${sz.docs}-${sz.delta}-${sz.history}-seed${a.seed}"
      val in = wl.prepare(spark, a.work.resolve("inputs").resolve(key), a.seed, sz)
      log(f"${wl.name}: inputs ready in ${secondsSince(t0)}%.1f s")
      val tally = new Tally

      // one untimed run first: the first run in a JVM pays class loading and
      // compilation, and how much of that later runs still carry otherwise
      // varies from process to process
      wl.reset(in, out)
      checked(wl, spark, in, out, wl.run(spark, in, out), tally)

      // set-up, repeated: a fresh SparkSession plus one warm-up run
      val setups = (1 to SetupRounds).map { _ =>
        spark.stop()
        val ts = System.nanoTime()
        spark = session(a.work)
        val startS = secondsSince(ts)
        wl.reset(in, out)
        val tw = System.nanoTime()
        val landed = wl.run(spark, in, out)
        val warmS = secondsSince(tw)
        checked(wl, spark, in, out, landed, tally)
        startS + warmS
      }
      log(s"${wl.name}: set-up rounds ${setups.map(s => f"$s%.2f").mkString(" ")} s")
      // the first runs in a new session are still slower than the ones
      // after them; one more keeps that trend out of the measured runs
      wl.reset(in, out)
      checked(wl, spark, in, out, wl.run(spark, in, out), tally)

      if (!a.trace) {
        val samples = measure(wl, spark, in, out, a.seconds, tally)
        log(s"${wl.name}: runs ${samples.map(s => f"${s.runS}%.3f").mkString(" ")} s")
        result(tally, Seq(
          ("run_s", median(samples.map(_.runS)), "s"),
          ("docs_per_s", median(samples.map(s => s.docs / s.runS)), "1/s"),
          ("setup_s", median(setups), "s"),
          ("written_mb", median(samples.map(_.writtenMb)), "MB")))
      } else {
        val metrics = Traced.run(wl, spark, in, out, a, tally)
        result(tally, metrics :+ ("error_rate", tally.failed.toDouble / tally.attempted, "ratio"))
      }
    } finally {
      spark.stop()
      FileTree.delete(out)
    }
  }

  /** Runs the workload until `seconds` of timed runs (and at least
    * [[MinRuns]]) are measured. */
  def measure(wl: Workload, spark: SparkSession, in: Inputs, out: Path,
      seconds: Double, tally: Tally): Seq[Sample] = {
    val samples = ArrayBuffer.empty[Sample]
    while (samples.map(_.runS).sum < seconds || samples.size < MinRuns)
      samples += measureOne(wl, spark, in, out, tally)
    samples.toSeq
  }

  /** Untimed, before every measured or traced run: resets the output root,
    * collects the heap and resets its peak. */
  def prepareRun(wl: Workload, in: Inputs, out: Path): Unit = {
    wl.reset(in, out)
    System.gc()
    heapPools.foreach(_.resetPeakUsage())
  }

  /** One timed run, checked outside the timed region. */
  def measureOne(wl: Workload, spark: SparkSession, in: Inputs, out: Path,
      tally: Tally): Sample = {
    prepareRun(wl, in, out)
    val before = FileTree.bytes(out)
    val t0 = System.nanoTime()
    val landed = try wl.run(spark, in, out) catch {
      case e: Exception => log(s"run failed: $e"); -1L
    }
    val runS = secondsSince(t0)
    val heapMb = heapPools.map(_.getPeakUsage.getUsed).sum / MB
    val sample = Sample(runS, landed, (FileTree.bytes(out) - before) / MB, heapMb)
    checked(wl, spark, in, out, landed, tally)
    log(f"run $runS%.2f s")
    sample
  }

  /** Checks one run's output and counts it; a run that threw (landed < 0)
    * counts as failed. */
  def checked(wl: Workload, spark: SparkSession, in: Inputs, out: Path,
      landed: Long, tally: Tally): Unit =
    counted(wl,
      if (landed < 0) Seq("run threw")
      else try wl.check(spark, in, out, landed) catch {
        case e: Exception => Seq(s"check threw $e")
      },
      tally)

  def counted(wl: Workload, problems: Seq[String], tally: Tally): Unit = {
    tally.attempted += 1
    if (problems.nonEmpty) {
      tally.failed += 1
      problems.take(5).foreach(p => log(s"${wl.name}: incorrect: $p"))
    }
  }

  def result(tally: Tally, metrics: Seq[(String, Double, String)]): String = {
    val m = metrics.map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }
    Json.obj(Seq(
      "correct" -> (tally.failed == 0).toString,
      "attempted" -> tally.attempted.toString,
      "failed" -> tally.failed.toString,
      "metrics" -> Json.obj(m)))
  }
}
