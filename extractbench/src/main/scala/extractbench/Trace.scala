package extractbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Spark work attributed to one span: counts of jobs, stages and tasks, and
  * task metrics summed over those tasks (peak execution memory is the
  * largest single task's). */
final class Counts {
  var jobs, stages, tasks = 0L
  var taskMs, gcMs, spillBytes, peakExecMem = 0L
  var shuffleWrite, shuffleRead, inputBytes, inputRecords = 0L

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskMs += o.taskMs; gcMs += o.gcMs; spillBytes += o.spillBytes
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
  }

  def json: String = Json.obj(Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_ms" -> taskMs, "gc_ms" -> gcMs, "spill_bytes" -> spillBytes,
    "peak_exec_mem_bytes" -> peakExecMem,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "input_bytes" -> inputBytes, "input_records" -> inputRecords)
    .map { case (k, v) => k -> v.toString })
}

/** Attributes each Spark job, and its stages and tasks, to the span whose
  * job group was set on the submitting thread. Spark copies the job group
  * into the threads it starts for a query (broadcasts, subqueries), so
  * their jobs land on the same span. */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val bySpan = mutable.Map.empty[Int, Counts]

  private def counts(span: Int): Counts = bySpan.getOrElseUpdate(span, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Tracer.GroupPrefix))
      .foreach { g =>
        val span = g.stripPrefix(Tracer.GroupPrefix).toInt
        counts(span).jobs += 1
        e.stageIds.foreach(stageSpan(_) = span)
      }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(counts(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (span <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = counts(span)
      c.tasks += 1
      c.taskMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.spillBytes += m.diskBytesSpilled
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRecords += m.inputMetrics.recordsRead
    }
  }

  /** The counts of one span's own jobs; call after draining the bus. */
  def of(span: Int): Counts = synchronized {
    val c = new Counts
    bySpan.get(span).foreach(c.add)
    c
  }
}

/** One finished span. Times are nanoseconds on the JVM's monotonic clock. */
final case class SpanRec(id: Int, name: String, parent: Int, runId: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans around the benchmark's calls into the program. Spans are
  * kept in memory; nested spans name their parent, and every span of one
  * replayed run carries that run's id. */
final class Tracer(sc: SparkContext) {
  private val done = mutable.ArrayBuffer.empty[SpanRec]
  private var open = List.empty[(Int, String)]
  private var nextId = 0
  private var runId = ""
  val originNs: Long = System.nanoTime()

  /** Runs `body` as the root span of a run with the given id. */
  def run[T](id: String, name: String)(body: => T): T = {
    require(open.isEmpty, "a run span cannot nest")
    runId = id
    span(name)(body)
  }

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open = (id, name) :: open
    sc.setJobGroup(Tracer.GroupPrefix + id, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open = open.tail
      open.headOption match {
        case Some((p, pname)) => sc.setJobGroup(Tracer.GroupPrefix + p, pname)
        case None => sc.clearJobGroup()
      }
      done += SpanRec(id, name, parent, runId, t0, t1)
    }
  }

  def spans: Seq[SpanRec] = done.toSeq.sortBy(_.id)

  def children(s: SpanRec): Seq[SpanRec] = done.filter(_.parent == s.id).toSeq

  /** Duration minus the time covered by the children, which run one after
    * another inside their parent. */
  def selfSeconds(s: SpanRec): Double = s.seconds - children(s).map(_.seconds).sum

  /** Counts of a span and everything below it. */
  def subtreeCounts(s: SpanRec, listener: SpanListener): Counts = {
    val c = listener.of(s.id)
    children(s).foreach(ch => c.add(subtreeCounts(ch, listener)))
    c
  }

  def json(listener: SpanListener, header: Seq[(String, String)]): String = {
    val items = spans.map { s =>
      Json.obj(Seq(
        "id" -> s.id.toString, "name" -> Json.str(s.name),
        "parent" -> s.parent.toString, "run" -> Json.str(s.runId),
        "start_s" -> Json.num((s.startNs - originNs) / 1e9),
        "end_s" -> Json.num((s.endNs - originNs) / 1e9),
        "self_s" -> Json.num(selfSeconds(s)),
        "counts" -> listener.of(s.id).json))
    }
    Json.obj(header :+ ("spans" -> items.mkString("[\n", ",\n", "\n]")))
  }
}

object Tracer {
  val GroupPrefix = "extractbench-span-"
}

/** The few JSON shapes the benchmark prints; values are pre-rendered. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"not a JSON number: $d")
    java.lang.Double.toString(d)
  }

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
