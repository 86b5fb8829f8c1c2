package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.TestSpark

class StreamHeavyHittersSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // "hot" is 1/8 of all tokens (> 1/400); "warm" crosses the threshold
  // only once BOTH batches are counted — the cross-batch case; the
  // filler tokens are all unique
  private def corpus: Seq[StreamNearDup.Doc] = (0L until 100L).map { i =>
    val filler = (0 until 6).map(j => s"u${i}x$j").mkString(" ")
    StreamNearDup.Doc(i, s"hot $filler warm")
  }

  test("streaming sketch + exact recount == batch frequentTokens == truth") {
    val docs = corpus
    val got = StreamHeavyHitters.replayFrequentTokens(spark, docs,
        thresholdDen = 400L, sketchK = 600L.toInt)
      .as[(String, Long)].collect().toMap
    val batch = graft.ops.HeavyHitters.frequentTokens(
        spark.createDataset(docs).toDF(), "text", thresholdDen = 400L,
        sketchK = 600)
      .as[(String, Long)].collect().toMap
    assert(got == batch)
    assert(got == Map("hot" -> 100L, "warm" -> 100L))
  }

  test("per-shard state stays bounded at <= 2k counters under a flood " +
      "of distinct tokens") {
    val k = 5
    var maxState = 0
    // drive the state core directly: 200 distinct tokens + one dominant
    // token into ONE shard across two folds
    val mg = Map.empty[String, Long]
    val s1 = (0 until 100).map(i => StreamHeavyHitters.Tok(0, s"a$i")) ++
      Seq.fill(60)(StreamHeavyHitters.Tok(0, "dom"))
    val s2 = (100 until 200).map(i => StreamHeavyHitters.Tok(0, s"b$i")) ++
      Seq.fill(60)(StreamHeavyHitters.Tok(0, "dom"))
    val state = new TestGroupState(mg)
    StreamHeavyHitters.updateSketch(k)(0, s1.iterator, state).size
    maxState = math.max(maxState, state.value.size)
    StreamHeavyHitters.updateSketch(k)(0, s2.iterator, state).size
    maxState = math.max(maxState, state.value.size)
    assert(maxState <= 2 * k, s"state grew to $maxState")
    // the dominant token (120 of 320 >> n/(k+1)=53) must survive
    assert(state.value.contains("dom"))
  }

  /** Minimal GroupState stub for driving the state core off-stream. */
  private final class TestGroupState[S](var value: S)
      extends org.apache.spark.sql.streaming.GroupState[S] {
    override def exists: Boolean = true
    override def get: S = value
    override def getOption: Option[S] = Some(value)
    override def update(s: S): Unit = value = s
    override def remove(): Unit = ()
    override def hasTimedOut: Boolean = false
    override def setTimeoutDuration(d: Long): Unit = ()
    override def setTimeoutDuration(d: String): Unit = ()
    override def setTimeoutTimestamp(t: Long): Unit = ()
    override def setTimeoutTimestamp(t: Long, a: String): Unit = ()
    override def setTimeoutTimestamp(t: java.sql.Date): Unit = ()
    override def setTimeoutTimestamp(t: java.sql.Date, a: String): Unit = ()
    override def getCurrentWatermarkMs(): Long = 0L
    override def getCurrentProcessingTimeMs(): Long = 0L
  }
}
