package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.TestSpark

/** The spark-submit entrypoint end to end: fresh run commits everything,
  * re-run is a no-op, a GROWN input table is consumed incrementally, and
  * the committed output carries the snapshot log. */
class ExtractMainSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("fresh run -> full commit; re-run -> no-op; grown input -> delta only") {
    val base = java.nio.file.Files.createTempDirectory("graft-emain").toString
    val input = s"$base/in"
    val out = s"$base/out"
    val docs = graft.layout.FixtureCorpus.fixtureDocs
    spark.createDataset(docs.take(10)).write.parquet(input)

    val (c1, t1) = ExtractMain.run(spark, input, out, saltPages = 16)
    assert(c1 == 10 && t1 == 10)
    // idempotent: nothing pending on re-launch
    val (c2, t2) = ExtractMain.run(spark, input, out, saltPages = 16)
    assert(c2 == 0 && t2 == 10)

    // the input table GROWS (a new crawl lands 6 more docs): only the
    // delta is processed, and it arrives as its own snapshot
    spark.createDataset(docs.drop(10)).write.mode("append").parquet(input)
    val (c3, t3) = ExtractMain.run(spark, input, out, saltPages = 16)
    assert(c3 == 6 && t3 == 16)
    val snaps = graft.pipeline.Checkpointing.snapshots(s"$out/stats")
    assert(snaps.map(_.rows) == Seq(10, 6))
    val delta = graft.pipeline.Checkpointing
      .changesBetween(spark, s"$out/stats", 1, 2)
      .select("doc_id").as[String].collect().toSet
    assert(delta == docs.drop(10).map(_.doc_id).toSet)

    // output spans match the straight-through batch pipeline (salted ==
    // unsalted, committed across two runs == one run)
    val got = spark.read.parquet(s"$out/spans")
      .as[(String, Int, String, String, String)].collect().sorted.toSeq
    val want = graft.pipeline.ExtractionPipeline
      .run(spark, spark.createDataset(docs), persistIntermediate = false)
      .outSpans.map(o => (o.doc_id, o.ord, o.kind, o.text, o.media_ref))
      .collect().sorted.toSeq
    assert(got == want && want.nonEmpty)

    // maintenance cycle on BOTH committed tables: takedown -> the doc's
    // stats AND extracted text are gone at scan time; compact ->
    // tombstones materialized, files bounded; a re-launch after the
    // takedown re-extracts the doc exactly once (documented resumeFilter
    // semantics; for a permanent takedown remove it from the input too)
    import org.apache.spark.sql.functions.col
    val victim = docs.head.doc_id
    def latestOf(t: String) = {
      val d = s"$out/$t"
      val s = graft.pipeline.Checkpointing.snapshots(d)
      graft.pipeline.Checkpointing.readAt(spark, d, s.last.seq)
    }
    ExtractMain.maintain(spark, out, Array("delete", victim))
    assert(latestOf("stats").count() == 15)
    assert(latestOf("spans").filter(col("doc_id") === victim).count() == 0)
    ExtractMain.maintain(spark, out, Array("compact", "1"))
    assert(latestOf("stats").count() == 15)
    assert(!new java.io.File(s"$out/stats_deletes").exists())
    assert(!new java.io.File(s"$out/spans_deletes").exists())
    // re-extraction: the doc's spans come back, exactly once
    val (c4, t4) = ExtractMain.run(spark, input, out, saltPages = 16)
    assert(c4 == 1 && t4 == 16)
    val wantVictim = want.count(_._1 == victim)
    assert(wantVictim > 0)
    assert(latestOf("spans").filter(col("doc_id") === victim).count()
      == wantVictim)
    // vacuum is observable: a clean table loses nothing
    val liveStats = latestOf("stats").count()
    val liveSpans = latestOf("spans").count()
    ExtractMain.maintain(spark, out, Array("vacuum"))
    assert(latestOf("stats").count() == liveStats)
    assert(latestOf("spans").count() == liveSpans)
    intercept[IllegalArgumentException](
      ExtractMain.maintain(spark, out, Array("defrag")))
  }

  test("a saltPages below 1 is refused before any table is touched") {
    val base = java.nio.file.Files.createTempDirectory("graft-emain-salt").toString
    val input = s"$base/in"
    val out = s"$base/out"
    spark.createDataset(graft.layout.FixtureCorpus.fixtureDocs.take(2))
      .write.parquet(input)
    Seq(0, -3).foreach { bad =>
      val e = intercept[IllegalArgumentException](
        ExtractMain.run(spark, input, out, saltPages = bad))
      assert(e.getMessage.contains(s"saltPages must be at least 1, got $bad"))
      assert(e.getMessage.contains("usage: ExtractMain"))
      assert(!new java.io.File(out).exists(), s"$out created for saltPages=$bad")
    }
  }

  test("an input without spans is refused before any table is touched") {
    val base = java.nio.file.Files.createTempDirectory("graft-emain-nospans").toString
    val (input, out) = (s"$base/in", s"$base/out")
    Seq(("1.a.pdf", 1L)).toDF("doc_id", "doc_ord").write.parquet(input)
    val e = intercept[org.apache.spark.sql.AnalysisException](
      ExtractMain.run(spark, input, out, saltPages = 16))
    assert(e.getMessage.contains("spans"), e.getMessage)
    assert(!new java.io.File(out).exists())
  }

  test("the run's counters equal what it committed") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    import graft.pipeline.Checkpointing
    val base = java.nio.file.Files.createTempDirectory("graft-emcount").toString
    val (input, out) = (s"$base/in", s"$base/out")
    val docs = graft.layout.FixtureCorpus.fixtureDocs
    def counted(): Map[String, BigInt] = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(buf)(ExtractMain.run(spark, input, out, saltPages = 16))
      JsonMethods.parse(buf.toString("UTF-8")).asInstanceOf[JObject].obj
        .collect { case (k, JInt(v)) => k -> v }.toMap
    }
    /** The counters the stats and spans that run `seq` added give, with
      * the chunks its `batch` of documents parses into and the files of
      * its stats commit. */
    def committed(seq: Int, batch: Seq[graft.layout.DocRow]): Map[String, BigInt] = {
      def added(t: String) =
        Checkpointing.changesBetween(spark, s"$out/$t", seq - 1, seq)
      val split = added("stats").groupBy("status").count().as[(String, Long)]
        .collect().toMap
      val candidates = added("stats")
        .agg(org.apache.spark.sql.functions.sum("criterion_tables_count"))
        .as[Long].head()
      Map("docs_in" -> BigInt(added("stats").count()),
        "chunks" -> BigInt(batch.map(graft.pipeline.SaltedExtract.chunkDoc(_, 16).size).sum),
        "candidates" -> BigInt(candidates),
        "spans_out" -> BigInt(added("spans").count()),
        "files" -> BigInt(Checkpointing.snapshots(s"$out/stats")
          .find(_.seq == seq).get.files.size)) ++
        Seq("success", "not_found", "oversized_skip")
          .map(k => k -> BigInt(split.getOrElse(k, 0L)))
    }
    val keys = Set("docs_in", "success", "not_found", "oversized_skip", "chunks",
      "candidates", "spans_out", "files")
    spark.createDataset(docs.take(9)).write.parquet(input)
    val first = counted().filter(c => keys(c._1))
    spark.createDataset(docs.drop(9)).write.mode("append").parquet(input)
    val second = counted().filter(c => keys(c._1))
    assert(first == committed(1, docs.take(9)) && first("docs_in") == 9)
    assert(second == committed(2, docs.drop(9)) && second("docs_in") == docs.size - 9)
    assert(Seq(first, second).map(c => c("success") + c("not_found")).forall(_ > 0))
    // F14 parses as 13 chunks; the first batch holds criterion tables
    assert(second("chunks") > second("docs_in") && first("candidates") > 0)
    assert(Seq(first, second).forall(_("files") == 1))
    // nothing pending: nothing counted
    assert(counted().filter(c => keys(c._1)).values.toSet == Set(BigInt(0)))
  }

  test("stdout of run and maintain snapshots: one JSON object per line, " +
      "keys in order, three-decimal seconds") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val base = java.nio.file.Files.createTempDirectory("graft-emout").toString
    val input = s"$base/in"
    val out = s"$base/out"
    spark.createDataset(graft.layout.FixtureCorpus.fixtureDocs.take(4))
      .write.parquet(input)
    def stdout(body: => Unit): Seq[JObject] = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(buf)(body)
      buf.toString("UTF-8").linesIterator.toSeq.map { l =>
        // the scaling script sed-parses "seconds" as digits.3-digits
        if (l.contains("\"seconds\""))
          assert(l.matches(""".*"seconds":\d+\.\d{3}[,}].*"""), l)
        JsonMethods.parse(l).asInstanceOf[JObject]
      }
    }
    val ran = stdout(ExtractMain.run(spark, input, out, saltPages = 16))
    assert(ran.map(_.obj.map(_._1)) == Seq(List("run", "docs_committed",
      "total_committed", "snapshots", "docs_in", "success", "not_found",
      "oversized_skip", "chunks", "candidates", "spans_out", "files", "seconds")))
    assert(ran.head \ "docs_committed" == JInt(4))
    val snaps = stdout(ExtractMain.maintain(spark, out, Array("snapshots")))
    assert(snaps.map(_ \ "table") == Seq(JString("stats"), JString("spans")))
    snaps.foreach { j =>
      assert(j.obj.map(_._1) == List("table", "seq", "run", "rows", "full",
        "files", "delete_sets"))
      assert(j \ "run" == ran.head \ "run")
    }
  }
}

/** One run lands in both tables, or in neither: a landing that stops
  * part-way is settled by the next launch, and no document is landed twice. */
class ExtractMainLandingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.pipeline.{Checkpointing, ExtractionPipeline}

  private val docs = graft.layout.FixtureCorpus.fixtureDocs

  /** A fresh output root whose input holds the first 8 fixture docs,
    * landed by one run, and then grows by the rest. */
  private def grownAfterOneRun(name: String): (String, String) = {
    val base = java.nio.file.Files.createTempDirectory(name).toString
    val (input, out) = (s"$base/in", s"$base/out")
    spark.createDataset(docs.take(8)).write.parquet(input)
    ExtractMain.run(spark, input, out, saltPages = 16)
    spark.createDataset(docs.drop(8)).write.mode("append").parquet(input)
    (input, out)
  }

  private def head(dir: String) =
    Checkpointing.readAt(spark, dir, Checkpointing.snapshots(dir).last.seq)

  private def markers(out: String): Seq[String] = Seq("spans", "stats")
    .flatMap(t => Option(new java.io.File(s"$out/${t}_manifest").list())
      .getOrElse(Array.empty[String]).filter(_.startsWith("staged-")))

  /** Every input doc has one stats row, and the spans equal the
    * straight-through pipeline's: none missing, none twice. */
  private def assertLandedOnce(out: String): Unit = {
    val ids = head(s"$out/stats").select("doc_id").as[String].collect().toSeq
    assert(ids.sorted == docs.map(_.doc_id).sorted)
    val rows = head(s"$out/spans")
      .select("doc_id", "ord", "kind", "text", "media_ref")
      .as[(String, Int, String, String, String)].collect().toSeq
    val keys = rows.map(r => (r._1, r._2))
    val dups = keys.size - keys.distinct.size
    assert(dups == 0, s"$dups duplicated (doc_id, ord) span rows")
    val want = ExtractionPipeline
      .run(spark, spark.createDataset(docs), persistIntermediate = false)
      .outSpans.map(o => (o.doc_id, o.ord, o.kind, o.text, o.media_ref))
      .collect().sorted.toSeq
    val got = rows.sorted
    assert(got == want && want.nonEmpty)
    assert(got.map(_._1).distinct.sorted ==
      head(s"$out/stats").filter($"status" === "success")
        .select("doc_id").as[String].collect().sorted.toSeq)
  }

  test("the stats landing fails after the spans data is written: " +
      "the rerun lands every doc once") {
    val (input, out) = grownAfterOneRun("graft-emfail")
    intercept[Exception](graft.ScopedConf(spark,
        "spark.sql.sources.commitProtocolClass" ->
          classOf[FailStatsCommit].getName) {
      ExtractMain.run(spark, input, out, saltPages = 16)
    })
    val afterFailure = (Checkpointing.snapshots(s"$out/spans").size,
      Checkpointing.snapshots(s"$out/stats").size, markers(out))
    val (n, total) = ExtractMain.run(spark, input, out, saltPages = 16)
    assertLandedOnce(out)
    assert((n, total) == ((docs.size - 8).toLong, docs.size.toLong))
    assert(afterFailure == ((1, 1, Nil)))
  }

  test("a run published in spans only is rolled forward; a run published " +
      "nowhere is abandoned") {
    /** Stages the pending docs of `out` as run `runId` in both tables. */
    def stageBoth(input: String, out: String, runId: String): Unit = {
      val pending = Checkpointing.resumeFilter(spark,
        spark.read.parquet(input).as[graft.layout.DocRow], s"$out/stats")
      val outs = ExtractionPipeline.docOuts(pending, Some(16))
      Checkpointing.stage(outs.flatMap(_.spans).toDF(), s"$out/spans", runId)
      Checkpointing.stage(outs.map(_.stat).toDF(), s"$out/stats", runId)
    }
    // published nowhere: abandoned, and the rerun lands the docs itself
    val (input, out) = grownAfterOneRun("graft-emlost")
    stageBoth(input, out, "lost")
    val (n1, t1) = ExtractMain.run(spark, input, out, saltPages = 16)
    assert((n1, t1) == ((docs.size - 8).toLong, docs.size.toLong))
    assert(!Checkpointing.snapshots(s"$out/stats").exists(_.runId == "lost"))
    assertLandedOnce(out)
    assert(markers(out).isEmpty)

    // published in spans only: stats publish the same run, nothing is left
    // pending
    val (input2, out2) = grownAfterOneRun("graft-emhalf")
    stageBoth(input2, out2, "half")
    Checkpointing.publish(s"$out2/spans", "half")
    val (n2, t2) = ExtractMain.run(spark, input2, out2, saltPages = 16)
    assert((n2, t2) == ((0L, docs.size.toLong)))
    assert(Checkpointing.snapshots(s"$out2/stats").map(_.runId).last == "half")
    assert(Checkpointing.snapshots(s"$out2/spans").size == 2)
    assertLandedOnce(out2)
    assert(markers(out2).isEmpty)
  }

  test("a fresh run shuffles nothing and releases what it materializes") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val base = java.nio.file.Files.createTempDirectory("graft-emonce").toString
    spark.createDataset(docs).write.parquet(s"$base/in")
    val sc = spark.sparkContext
    val cacheWasEmpty = spark.sharedState.cacheManager.isEmpty
    val before = sc.getPersistentRDDs.keySet
    val shuffleStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskType == "ShuffleMapTask") { shuffleStages.add(t.stageId); () }
    }
    org.apache.spark.graft.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try ExtractMain.run(spark, s"$base/in", s"$base/out", saltPages = 16)
    finally {
      org.apache.spark.graft.ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    // each document is finished in the task that parses it: no stage of
    // the run writes shuffle output
    assert(shuffleStages.isEmpty, shuffleStages)
    val left = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(left.isEmpty, left.values.map(r => s"${r.id} ${r.name}").mkString("; "))
    assert(!cacheWasEmpty || spark.sharedState.cacheManager.isEmpty)
  }
}

/** A run starts only the jobs that do work: the extraction's checkpoint,
  * one write per table, and on a resumed run the broadcast of the
  * committed doc_ids. */
class ExtractMainJobsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("a fresh run starts 3 jobs and a resumed run 4, none a shuffle") {
    val docs = graft.layout.FixtureCorpus.fixtureDocs
    val base = java.nio.file.Files.createTempDirectory("graft-emjobs").toString
    val (input, out) = (s"$base/in", s"$base/out")
    def jobsOfRun() =
      TestSpark.jobsOf(ExtractMain.run(spark, input, out, saltPages = 16))
    spark.createDataset(docs.take(8)).write.parquet(input)
    val (_, fresh, freshShuffles) = jobsOfRun()
    spark.createDataset(docs.drop(8)).write.mode("append").parquet(input)
    val (_, resumed, resumedShuffles) = jobsOfRun()
    Seq(fresh -> 3, resumed -> 4).foreach { case (jobs, n) =>
      assert(jobs.size == n, jobs)
      // the two table writes are the only parquet jobs: no schema inference
      assert(jobs.count(_.startsWith("parquet at")) == 2, jobs)
      assert(jobs.filter(_.startsWith("parquet at"))
        .forall(_.startsWith("parquet at Checkpointing")), jobs)
      // and no emptiness probe
      assert(!jobs.exists(_.contains("isEmpty")), jobs)
    }
    assert(freshShuffles.isEmpty && resumedShuffles.isEmpty,
      (freshShuffles, resumedShuffles))
  }

  test("one part file per table; a smaller advisory size splits the writes") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    import graft.pipeline.Checkpointing
    val docs = graft.layout.FixtureCorpus.fixtureDocs
    val base = java.nio.file.Files.createTempDirectory("graft-emfiles").toString
    val input = s"$base/in"
    spark.createDataset(docs).repartition(4).write.parquet(input)
    val inputPartitions = spark.read.parquet(input).rdd.getNumPartitions
    assert(inputPartitions > 1, inputPartitions)
    /** Lands the input in a fresh root: the run's `files` and, per table,
      * the part files written and the committed rows. */
    def land(out: String) = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(buf)(ExtractMain.run(spark, input, out, saltPages = 16))
      val files = JsonMethods.parse(buf.toString("UTF-8")) \ "files"
      files -> Seq("spans", "stats").map { t =>
        val parts = new java.io.File(s"$out/$t").list().count(_.startsWith("part-"))
        val rows = Checkpointing.readAt(spark, s"$out/$t", 1).collect()
          .map(_.toString).sorted.toSeq
        (t, parts, rows)
      }
    }
    val (files, plain) = land(s"$base/plain")
    assert(files == JInt(1) && plain.forall(_._2 == 1), plain.map(_._2))
    val (splitFiles, split) = graft.ScopedConf(spark,
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k") {
      land(s"$base/split")
    }
    val statsFiles = split.find(_._1 == "stats").get._2
    assert(splitFiles == JInt(statsFiles) && statsFiles > 1, split.map(_._2))
    assert(split.forall(_._2 <= inputPartitions), (split.map(_._2), inputPartitions))
    assert(split.map(t => (t._1, t._3)) == plain.map(t => (t._1, t._3)))
    assert(plain.forall(_._3.nonEmpty))
  }
}

/** Fails the job commit of every write into a directory named `stats`:
  * its tasks have written their files, which the abort then removes. */
class FailStatsCommit(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol(
      jobId, path, dynamicPartitionOverwrite) {
  override def commitJob(job: org.apache.hadoop.mapreduce.JobContext,
      commits: Seq[org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage]): Unit =
    if (path.endsWith("/stats")) throw new java.io.IOException(s"commit of $path refused")
    else super.commitJob(job, commits)
}

/** The audited (write-audit-publish) launch mode. */
class ExtractMainAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("maintain expire: metadata retention reachable from the ops surface") {
    val base = java.nio.file.Files.createTempDirectory("graft-emexp").toString
    val input = s"$base/in"
    val out = s"$base/out"
    val docs = graft.layout.FixtureCorpus.fixtureDocs
    spark.createDataset(docs.take(8)).write.parquet(input)
    ExtractMain.run(spark, input, out, saltPages = 16)
    spark.createDataset(docs.slice(8, 12)).write.mode("append").parquet(input)
    ExtractMain.run(spark, input, out, saltPages = 16)
    // compact = the full rebase that makes the two deltas expirable
    ExtractMain.maintain(spark, out, Array("compact", "2"))
    ExtractMain.maintain(spark, out, Array("expire", "1"))
    val snaps = graft.pipeline.Checkpointing.snapshots(s"$out/stats")
    assert(snaps.size == 1 && snaps.head.full, snaps.toString)
    // current state intact; expired version refuses at the metadata level
    assert(graft.pipeline.Checkpointing
      .readAt(spark, s"$out/stats", snaps.head.seq).count() == 12)
    val e = intercept[IllegalArgumentException](
      graft.pipeline.Checkpointing.readAt(spark, s"$out/stats", 1))
    assert(e.getMessage.contains("expired"))
  }

  test("maintain rollback: the bad-deploy undo reachable from the ops surface") {
    val base = java.nio.file.Files.createTempDirectory("graft-emrb").toString
    val input = s"$base/in"
    val out = s"$base/out"
    val docs = graft.layout.FixtureCorpus.fixtureDocs
    spark.createDataset(docs.take(8)).write.parquet(input)
    ExtractMain.run(spark, input, out, saltPages = 16)
    spark.createDataset(docs.slice(8, 12)).write.mode("append").parquet(input)
    ExtractMain.run(spark, input, out, saltPages = 16) // v2: 12 docs
    ExtractMain.maintain(spark, out, Array("rollback", "1"))
    val stats = s"$out/stats"
    val cur = graft.pipeline.Checkpointing.snapshots(stats).last.seq
    assert(graft.pipeline.Checkpointing.readAt(spark, stats, cur).count() == 8)
    // resume semantics after the rollback: the 4 rolled-away docs are
    // uncommitted again and the next run re-lands exactly them
    val (n, total) = ExtractMain.run(spark, input, out, saltPages = 16)
    assert(n == 4 && total == 12, s"($n, $total)")
  }

  test("maintain branch ops: create, list, fast-forward from the ops surface") {
    val base = java.nio.file.Files.createTempDirectory("graft-embr").toString
    val input = s"$base/in"
    val out = s"$base/out"
    val docs = graft.layout.FixtureCorpus.fixtureDocs
    spark.createDataset(docs.take(8)).write.parquet(input)
    ExtractMain.run(spark, input, out, saltPages = 16)
    val stats = s"$out/stats"
    val v = graft.pipeline.Checkpointing.snapshots(stats).last.seq
    ExtractMain.maintain(spark, out, Array("branch", "audit", v.toString))
    assert(graft.pipeline.Checkpointing.branches(stats).contains("audit"))
    ExtractMain.maintain(spark, out, Array("branches"))
    // one audit commit per table, then the fast-forward lands both
    val frame = spark.range(1).select(
      org.apache.spark.sql.functions.lit(99990L).as("doc_ord"),
      org.apache.spark.sql.functions.lit("x99990").as("doc_id"))
    Seq(stats, s"$out/spans").foreach { dir =>
      graft.pipeline.Checkpointing.commitToBranch(frame, dir, "audit", "b1")
    }
    ExtractMain.maintain(spark, out, Array("fast-forward", "audit"))
    assert(graft.pipeline.Checkpointing.branches(stats).isEmpty)
    assert(graft.pipeline.Checkpointing.snapshots(stats).last.seq == v + 1)
    // drop-branch on a missing branch fails loudly
    intercept[IllegalArgumentException](
      ExtractMain.maintain(spark, out, Array("drop-branch", "audit")))
  }

  test("audited run: staged, audited, published — same result as plain; " +
      "re-run no-op") {
    val base = java.nio.file.Files.createTempDirectory("graft-eaudit").toString
    val input = s"$base/in"; val out = s"$base/out"
    val docs = graft.layout.FixtureCorpus.fixtureDocs
    spark.createDataset(docs).write.parquet(input)

    val (c1, t1) = ExtractMain.run(spark, input, out, saltPages = 16,
      audit = true)
    assert(c1 == docs.size && t1 == docs.size)
    // both tables published under the same runId, nothing left staged
    for (t <- Seq("stats", "spans")) {
      assert(graft.pipeline.Checkpointing.staged(s"$out/$t").isEmpty)
      assert(graft.pipeline.Checkpointing.snapshots(s"$out/$t").size == 1)
    }
    // published spans equal the plain pipeline's
    val got = spark.read.parquet(s"$out/spans")
      .as[(String, Int, String, String, String)].collect().sorted.toSeq
    val want = graft.pipeline.ExtractionPipeline
      .run(spark, spark.createDataset(docs), persistIntermediate = false)
      .outSpans.map(o => (o.doc_id, o.ord, o.kind, o.text, o.media_ref))
      .collect().sorted.toSeq
    assert(got == want && want.nonEmpty)
    // audited re-run: nothing pending, no new snapshots
    val (c2, t2) = ExtractMain.run(spark, input, out, saltPages = 16,
      audit = true)
    assert(c2 == 0 && t2 == docs.size)
    assert(graft.pipeline.Checkpointing.snapshots(s"$out/stats").size == 1)
  }

  test("failed audit abandons both tables: nothing committed, no debris") {
    val base = java.nio.file.Files.createTempDirectory("graft-eaudit2").toString
    val input = s"$base/in"; val out = s"$base/out"
    val docs = graft.layout.FixtureCorpus.fixtureDocs
    spark.createDataset(docs.take(4)).write.parquet(input)
    ExtractMain.run(spark, input, out, saltPages = 16, audit = true)
    // poison the committed set so the next batch COLLIDES: delete the
    // snapshot-truth of doc 1 via a raw re-stage of already-committed docs
    // (simulates a resume filter bypassed by an operator error)
    val statsDir = s"$out/stats"
    val redo = graft.pipeline.Checkpointing.readAt(spark, statsDir, 1)
    graft.pipeline.Checkpointing.stage(redo, statsDir, "collide")
    val audited = graft.pipeline.Checkpointing
      .readStaged(spark, statsDir, "collide")
    assert(audited.groupBy("doc_id").count()
      .filter(org.apache.spark.sql.functions.col("count") > 1).count() == 4)
    graft.pipeline.Checkpointing.abandon(statsDir, "collide")
    assert(graft.pipeline.Checkpointing.vacuum(statsDir).isEmpty)
    assert(graft.pipeline.Checkpointing.readAt(spark, statsDir, 1).count() == 4)
  }

  test("bench probe: count mode commits nothing, sink mode one table per rep") {
    val base = java.nio.file.Files.createTempDirectory("graft-ebench").toString
    val input = s"$base/in"
    spark.createDataset(graft.layout.FixtureCorpus.fixtureDocs.take(6))
      .write.parquet(input)
    ExtractMain.bench(spark, input, saltPages = 16, reps = 2)
    assert(!new java.io.File(s"$base/out").exists())
    ExtractMain.bench(spark, input, saltPages = 16, reps = 2,
      sinkDir = Some(s"$base/out"))
    (1 to 2).foreach { rep =>
      assert(graft.pipeline.Checkpointing
        .snapshots(s"$base/out/rep$rep/spans").size == 1)
      assert(spark.read.parquet(s"$base/out/rep$rep/stats").count() == 6)
    }
  }
}
