package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import graft.pipeline.TestSpark
import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

class ReplaySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Run `body` and return the input row counts of every micro-batch the
    * streaming queries it starts run, in order — no-data batches included
    * (as 0). Waits for each started query's termination event, which the
    * listener bus delivers after all of that query's progress events. */
  private def microBatches[A](s: SparkSession)(body: => A): (A, Seq[Long]) = {
    val started = new ConcurrentLinkedQueue[UUID]()
    val ended = new ConcurrentLinkedQueue[UUID]()
    val progress = new ConcurrentLinkedQueue[(UUID, Long, Long)]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = { started.add(e.id); () }
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        progress.add((e.progress.id, e.progress.batchId, e.progress.numInputRows)); ()
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = { ended.add(e.id); () }
    }
    s.streams.addListener(listener)
    try {
      val out = body
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!started.asScala.forall(ended.contains) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(started.asScala.forall(ended.contains), "a replay query never terminated")
      val ids = started.asScala.toSet
      (out, progress.asScala.toSeq.filter(p => ids(p._1)).sortBy(_._2).map(_._3))
    } finally s.streams.removeListener(listener)
  }

  test("a 3-batch replay runs exactly 3 micro-batches with input, in feed order") {
    val batches = Seq(Seq(1L, 2L), Seq(3L, 4L, 5L), Seq(6L, 7L, 8L, 9L))
    val seen = new ConcurrentLinkedQueue[(Long, Seq[Long])]()
    val (_, inputs) = microBatches(spark) {
      Replay.replay(spark, batches)(_.writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Long], id: Long) =>
          seen.add(id -> b.collect().toSeq.sorted); ()
        }
        .start())
    }
    assert(inputs.filter(_ > 0) == Seq(2L, 3L, 4L))
    assert(seen.asScala.toSeq.sortBy(_._1).map(_._2).filter(_.nonEmpty) == batches)
  }

  test("a replay restores spark.sql.shuffle.partitions, and pins it inside") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    var inside = ""
    Replay.replayToMemory(spark, Seq(Seq(1L)), "append") { in =>
      inside = spark.conf.get("spark.sql.shuffle.partitions"); in.toDF()
    }
    assert(inside == "4")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
  }

  test("a replay refuses an empty batch list and an empty batch") {
    val none = intercept[IllegalArgumentException](
      Replay.replayToMemory(spark, Seq.empty[Seq[Long]], "append")(_.toDF()))
    assert(none.getMessage.contains("at least one batch"))
    intercept[IllegalArgumentException](
      Replay.replayToMemory(spark, Seq(Seq(1L), Seq.empty[Long]), "append")(_.toDF()))
  }

  test("slices cut rows into at most n consecutive batches of ceil(|rows| / n)") {
    assert(Replay.slices(1 to 7, 3) == Seq(1 to 3, 4 to 6, 7 to 7))
    assert(Replay.slices(Seq(1), 2) == Seq(Seq(1)))
    assert(Replay.slices(Seq.empty[Int], 2).isEmpty)
    intercept[IllegalArgumentException](Replay.slices(Seq(1), 0))
  }

  test("a versioned table lists its versions in order and reads their union and the latest") {
    val root = graft.io.Scratch.dir("graft-replayspec").toString + "/t"
    val t = Replay.Versioned(root)
    assert(t.versions.isEmpty && t.union(spark).isEmpty && t.latest(spark).isEmpty)
    Seq(10L, 2L, 1L).foreach(v => t.write(Seq(v).toDF("v"), v))
    t.write(Seq(20L).toDF("v"), 10L) // a replayed batch id overwrites its version
    assert(t.versions == Seq(1L, 2L, 10L))
    assert(t.union(spark).get.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 20L))
    assert(t.latest(spark).get.as[Long].collect().toSeq == Seq(20L))
  }

  test("replayAttribution runs exactly one micro-batch with input, call after call") {
    def ts(str: String) = java.sql.Timestamp.valueOf(str)
    val events = Seq(
      Events.Event(1L, ts("2024-01-01 10:00:00"), 1L, "click", 1.0, ""),
      Events.Event(2L, ts("2024-01-01 11:30:00"), 1L, "click", 1.0, ""),
      Events.Event(3L, ts("2024-01-01 11:59:00"), 2L, "click", 1.0, ""),
      Events.Event(4L, ts("2024-01-01 12:00:00"), 1L, "purchase", 9.0, ""),
      Events.Event(5L, ts("2024-01-01 12:00:00"), 2L, "purchase", 9.0, "")).toDS()
    (1 to 5).foreach { i =>
      val (pairs, inputs) = microBatches(spark) {
        Events.replayAttribution(spark, events).as[(Long, Long)].collect().sorted.toSeq
      }
      assert(inputs.count(_ > 0) == 1, s"call $i ran micro-batches with input $inputs")
      assert(pairs == Seq((4L, 1L), (4L, 2L), (5L, 3L)), s"call $i")
    }
  }
}
