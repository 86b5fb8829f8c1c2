package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import graft.pipeline.TestSpark
import graft.ops.Dedup

class StreamNearDupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // near-dup families straddling the replay's mid-corpus split: doc i and
  // doc i+50 share a long common prefix (one token edited), everything
  // else is unique filler
  private def corpus: Seq[StreamNearDup.Doc] = (0L until 100L).map { i =>
    val fam = i % 50
    val base = s"alpha bravo charlie delta echo foxtrot golf hotel india " +
      s"juliet kilo lima mike november oscar papa family$fam"
    val text =
      if (i < 50) base
      else base.replace("echo", "edited")
    StreamNearDup.Doc(i, text)
  }

  test("streaming near-dup union == batch minhashLshPairs on the same corpus") {
    val docs = corpus
    val got = StreamNearDup.replayNearDupPairs(spark, docs,
        minJaccardBp = 2000L)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val want = Dedup.minhashLshPairs(
        spark.createDataset(docs).toDF(), minJaccardBp = 2000L)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(got == want && want.nonEmpty)
    // the family pairs really straddle the split
    assert(want.exists { case (a, b, _) => a < 50 && b >= 50 })
  }

  test("each pair surfaces in the batch its LATER doc arrives (incremental " +
      "property), state holds ids only") {
    val docs = corpus
    val (first, second) = docs.splitAt(docs.length / 2)
    val input =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[StreamNearDup.Doc](spark)
    val params = Dedup.hashParams(32)
    val qname = "neardup_incr_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val q = input.toDS()
      .flatMap { d =>
        Dedup.minhashBuckets(d.text, 3, params, 8, 4).iterator.zipWithIndex
          .map { case (b, band) => StreamNearDup.BucketRow(band, b, d.doc_id) }
      }
      .groupByKey(r => (r.band, r.bucket))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        StreamNearDup.emitPairs(StreamNearDup.DefaultMaxBucketDocs))
      .toDF()
      .writeStream.format("memory").queryName(qname).outputMode("append")
      .start()
    try {
      input.addData(first)
      q.processAllAvailable()
      val afterB1 = spark.table(qname).distinct()
        .as[(Long, Long)].collect().toSet
      // batch 1 emitted only pairs wholly inside batch 1
      assert(afterB1.nonEmpty)
      assert(afterB1.forall { case (a, b) => a < 50 && b < 50 })
      input.addData(second)
      q.processAllAvailable()
      val all = spark.table(qname).distinct().as[(Long, Long)].collect().toSet
      val batch2 = all -- afterB1
      // the cross-split family pairs surface in batch 2, exactly once each
      assert(batch2.exists { case (a, b) => a < 50 && b >= 50 })
      val raw = spark.table(qname).as[(Long, Long)].collect().toSeq
      val crossDupes = raw.groupBy(identity).collect {
        case (p, occ) if occ.size > 1 => p
      }
      // a pair may repeat across BANDS (same batch); never across batches
      val perBatchDistinct = afterB1.size + batch2.size
      assert(spark.table(qname).distinct().count() == perBatchDistinct)
      assert(crossDupes.forall { case (a, b) => // band repeats allowed
        all.contains((a, b))
      })
    } finally q.stop()
  }

  test("hot bucket: state capped, overflow emits one representative edge, " +
      "cluster stays connected") {
    // one viral duplicate: 30 identical docs — every band's bucket is the
    // same hot bucket, the unbounded-state adversary from round 3
    val hot = (0L until 30L).map(i =>
      StreamNearDup.Doc(i, "alpha bravo charlie delta echo foxtrot golf " +
        "hotel india juliet kilo lima"))
    val cap = 4
    val verified = StreamNearDup.replayNearDupPairs(spark, hot,
        minJaccardBp = 2000L, maxBucketDocs = cap)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // uncapped this is C(30,2)=435 pairs; capped: C(4,2) intra-bucket +
    // one representative edge per overflow doc = 6 + 26
    assert(verified.size == 6 + 26, s"got ${verified.size}")
    // overflow arrivals pair ONLY with the first-seen representative (0)
    verified.filter { case (a, b) => b >= cap }
      .foreach { case (a, b) => assert(a == 0L, s"($a,$b)") }
    // connectivity preserved: union-find over the emitted edges yields ONE
    // component containing all 30 docs — downstream dupClusters output is
    // unchanged by the cap
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r
    }
    verified.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    assert((0L until 30L).map(find).toSet == Set(0L))
  }

  test("live cluster manifest == batch closure over the full pair graph; " +
      "one manifest version per micro-batch") {
    val docs = corpus
    val dir = java.nio.file.Files.createTempDirectory("graft-x55-spec-")
    val got = StreamNearDup.replayLiveClusters(spark, docs, dir.toString,
        minJaccardBp = 2000L)
      .as[(Long, Long)].collect().toMap
    val want = graft.ops.Components.connectedComponentsStar(
        Dedup.minhashLshPairs(spark.createDataset(docs).toDF(),
          minJaccardBp = 2000L), "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(got == want && want.nonEmpty)
    // cross-split families merged: batch-2 docs labeled by batch-1 minima
    assert(got.exists { case (id, c) => id >= 50 && c < 50 })
    // versioned manifest: one dir per micro-batch, latest is current
    val versions = new java.io.File(dir.toString).list().toSeq.sorted
    assert(versions == Seq("v0", "v1"), versions.toString)
    // FIVE batches: four successive folds over the standing manifest must
    // still land on the identical closure (fold associativity end to end)
    val dir5 = java.nio.file.Files.createTempDirectory("graft-x55-spec5-")
    val got5 = StreamNearDup.replayLiveClusters(spark, docs, dir5.toString,
        minJaccardBp = 2000L, nBatches = 5)
      .as[(Long, Long)].collect().toMap
    assert(got5 == want)
    assert(new java.io.File(dir5.toString).list().toSeq.sorted.size == 5)
  }

  test("live cluster replay releases what each micro-batch persists") {
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft-x55-spec-cached-")
    val before = sc.getPersistentRDDs.keySet
    StreamNearDup.replayLiveClusters(spark, corpus, dir.toString,
        minJaccardBp = 2000L, nBatches = 5)
      .collect()
    // a batch's local checkpoints are weakly held and go once collected;
    // a cached frame nobody released stays for the life of the session
    eventually(timeout(30.seconds), interval(1.second)) {
      System.gc()
      val left = sc.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }
      assert(left.isEmpty, left.values.map(r => s"${r.id} ${r.name}").mkString("; "))
    }
  }
}
