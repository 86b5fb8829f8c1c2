package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

/** Model-based randomized exercise of the snapshot machinery: a seeded
  * sequence of commit / compact / upsert / delete / re-add / merge /
  * vacuum operations runs against both the real Checkpointing table and a
  * trivial in-memory model (per-snapshot add/delete id sets folded in
  * sequence order — the fold IS Iceberg's sequence-number rule: deletes
  * apply to OLDER snapshots only, so within one snapshot the fold removes
  * dels BEFORE applying adds — the order merge depends on, since an
  * updated id sits in both sets of the same snapshot). After
  * every step the real table must agree with the model on: latest
  * content, every live version's content AND row count (the count check
  * is what catches row duplication, which an id-set compare cannot see),
  * incremental deltas, and expiry/refusal behavior. This is the
  * adversarial companion to ResumeSpec's scripted scenarios.
  */
class SnapshotModelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def df(ids: Seq[Long]) = ids.toDF("doc_ord")
    .selectExpr("CAST(doc_ord AS STRING) AS doc_id", "doc_ord")
    .coalesce(1)

  private def idsOf(d: org.apache.spark.sql.DataFrame): Set[Long] =
    d.select("doc_ord").as[Long].collect().toSet

  test("random commit/compact/upsert/delete/merge/vacuum sequences agree with the in-memory model") {
    var mergeRuns = 0
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-snapmodel$seed").toString + "/t"
      assert(Checkpointing.headRows(spark, dir) == ((0, 0L)),
        "headRows of a table with no commits")
      // model: snapshot seq i+1 ADDS adds(i) and DELETES dels(i);
      // visible state at version v = fold of (s ++ adds) -- dels over 1..v
      var adds = Vector.empty[Set[Long]]
      var dels = Vector.empty[Set[Long]]
      def visible(v: Int): Set[Long] =
        (0 until v).foldLeft(Set.empty[Long])((s, i) => (s -- dels(i)) ++ adds(i))
      // rebaseAt = seq of the latest full snapshot (0 = none); compact
      // deletes pre-rebase files immediately, upsert leaves them until a
      // vacuum — so "is rebaseAt-1 expired?" depends on which
      var rebaseAt = 0
      var rebaseKind = ""
      var vacuumedSinceRebase = false
      var nextId = 0L

      Checkpointing.commit(df(0L to 2L), dir, "seed") // non-empty start
      adds :+= (0L to 2L).toSet; dels :+= Set.empty
      nextId = 3

      for (step <- 1 to 8) {
        val nLive = visible(adds.length).size
        rnd.nextInt(8) match {
          case 0 => // commit a fresh batch
            val n = 1 + rnd.nextInt(4)
            val ids = (nextId until nextId + n)
            nextId += n
            Checkpointing.commit(df(ids), dir, s"s$seed-r$step")
            adds :+= ids.toSet; dels :+= Set.empty
          case 1 => // compact: content unchanged, history rebased
            Checkpointing.compact(spark, dir, partitions = 1, s"s$seed-c$step")
            adds :+= Set.empty; dels :+= Set.empty
            rebaseAt = adds.length
            rebaseKind = "compact"; vacuumedSinceRebase = false
          case 2 => // upsert: replace/revive an arbitrary past id + add a fresh one
            val existing = (0L until nextId)(rnd.nextInt(nextId.toInt))
            val fresh = nextId
            nextId += 1
            Checkpointing.upsert(df(Seq(existing, fresh)), dir, s"s$seed-u$step")
            adds :+= Set(existing, fresh); dels :+= Set.empty
            rebaseAt = adds.length
            rebaseKind = "upsert"; vacuumedSinceRebase = false
          case 3 if nLive > 0 => // merge-on-read delete of a live id
            val victim = visible(adds.length).toSeq.sorted.apply(rnd.nextInt(nLive))
            val n = Checkpointing.deleteWhere(df(Seq(victim)), dir, s"s$seed-d$step")
            assert(n == 1)
            adds :+= Set.empty; dels :+= Set(victim)
          case 4 if (adds.length > visible(adds.length).size) &&
              dels.flatten.exists(d => !visible(adds.length).contains(d)) =>
            // re-add a currently-deleted id via a plain commit: the fresh
            // row must survive the older delete set (sequence rule)
            val gone = dels.flatten.toSet -- visible(adds.length)
            val back = gone.toSeq.sorted.apply(rnd.nextInt(gone.size))
            Checkpointing.commit(df(Seq(back)), dir, s"s$seed-b$step")
            adds :+= Set(back); dels :+= Set.empty
          case 5 if math.max(rebaseAt, 1) < adds.length =>
            // rollback to a random LIVE earlier version: metadata-only;
            // model = state reset to visible(target)
            val target = math.max(rebaseAt, 1) +
              rnd.nextInt(adds.length - math.max(rebaseAt, 1))
            val seq = Checkpointing.rollback(dir, target, s"s$seed-rb$step")
            assert(seq == adds.length + 1)
            val restored = visible(target)
            val cur = visible(adds.length)
            adds :+= restored; dels :+= (cur -- restored)
            rebaseAt = adds.length
            rebaseKind = "rollback"; vacuumedSinceRebase = false
          case 6 if nLive > 0 => // MERGE: update + optional delete + insert,
            // all three verbs in ONE snapshot; the updated id lands in BOTH
            // the snapshot's delete set and its adds — the case the
            // dels-then-adds fold order exists for
            val live = visible(adds.length).toSeq.sorted
            val upd = live(rnd.nextInt(live.size))
            val others = live.filterNot(_ == upd)
            val del =
              if (others.nonEmpty && rnd.nextBoolean())
                Some(others(rnd.nextInt(others.size)))
              else None
            val fresh = nextId
            nextId += 1
            val when = del match {
              case Some(d) => org.apache.spark.sql.functions.col("doc_ord") === d
              case None => org.apache.spark.sql.functions.lit(false)
            }
            val (nU, nD, nI) = Checkpointing.merge(
              df(Seq(upd, fresh) ++ del.toSeq), dir, s"s$seed-m$step",
              deleteWhen = when)
            assert((nU, nD, nI) == ((1L, del.size.toLong, 1L)),
              s"seed=$seed step=$step merge verbs")
            adds :+= Set(upd, fresh); dels :+= (Set(upd) ++ del)
            mergeRuns += 1
          case _ => // crash debris, then vacuum it away
            val orphan = new java.io.File(dir, s"part-orphan-$step.snappy.parquet")
            java.nio.file.Files.write(orphan.toPath, Array[Byte](9, 9))
            val removed = Checkpointing.vacuum(dir)
            assert(removed.contains(orphan.getName) && !orphan.exists())
            vacuumedSinceRebase = true
        }

        // invariant 1: latest version = the model fold, in ids AND count
        val snaps = Checkpointing.snapshots(dir)
        assert(snaps.length == adds.length, s"seed=$seed step=$step")
        assert(Checkpointing.headRows(spark, dir) ==
          ((adds.length, visible(adds.length).size.toLong)),
          s"seed=$seed step=$step headRows")

        // invariant 2: every LIVE version v = fold over 1..v; count check
        // catches duplication (e.g. compacting an un-vacuumed upsert's raw
        // dir would double rows while leaving the id set intact)
        val firstLive = math.max(rebaseAt, 1)
        for (v <- firstLive to adds.length) {
          val want = visible(v)
          val got = Checkpointing.readAt(spark, dir, v)
          assert(idsOf(got) == want, s"seed=$seed step=$step version=$v")
          assert(got.count() == want.size,
            s"seed=$seed step=$step version=$v duplicated rows")
        }
        // history below the rebase: compact (or a vacuum after an upsert)
        // expires it — readAt refuses; an un-vacuumed upsert preserves it.
        // A rollback preserves it too, but after a vacuum the rolled-away
        // version may or may not survive (its files can be shared with the
        // live delegated stack) — whichever, it must never be WRONG.
        if (rebaseAt > 1) {
          if (rebaseKind == "rollback" && vacuumedSinceRebase)
            try assert(idsOf(Checkpointing.readAt(spark, dir, rebaseAt - 1))
              == visible(rebaseAt - 1),
              s"seed=$seed step=$step post-vacuum rolled-away history")
            catch { case _: IllegalArgumentException => () } // expired: fine
          else if (rebaseKind == "compact" || vacuumedSinceRebase)
            intercept[IllegalArgumentException](
              Checkpointing.readAt(spark, dir, rebaseAt - 1))
          else
            assert(idsOf(Checkpointing.readAt(spark, dir, rebaseAt - 1))
              == visible(rebaseAt - 1),
              s"seed=$seed step=$step pre-rebase history")
        }

        // invariant 3: deltas reproduce the adds when not crossing the
        // rebase; a delete snapshot refuses (append-only contract)
        for (v <- firstLive until adds.length) {
          if (dels(v).nonEmpty)
            intercept[IllegalArgumentException](
              Checkpointing.changesBetween(spark, dir, v, v + 1))
          else
            assert(idsOf(Checkpointing.changesBetween(spark, dir, v, v + 1))
              == adds(v), s"seed=$seed step=$step delta=($v,${v + 1}]")
        }
        if (rebaseAt > 1)
          intercept[IllegalArgumentException](
            Checkpointing.changesBetween(spark, dir, rebaseAt - 2, rebaseAt))
      }
    }
    assert(mergeRuns >= 1, "no seed exercised the merge op — re-seed the mix")
  }

  test("headRows sums the logged rows without a job, and counts the head " +
      "where they do not add up") {
    val C = Checkpointing
    val dir = java.nio.file.Files
      .createTempDirectory("graft-headrows").toString + "/t"
    /** headRows of `dir` and the Spark jobs it ran. */
    def headRows(): ((Int, Long), Int) = {
      val (rows, counts) = graft.JobCounts.of(spark)(C.headRows(spark, dir))
      (rows, counts.jobs.size)
    }
    C.commit(df(1L to 3L), dir, "c1")
    assert(headRows() == (((1, 3L), 0)))
    C.commit(df(4L to 5L), dir, "c2")
    assert(headRows() == (((2, 5L), 0)))
    C.deleteWhere(df(Seq(2L)), dir, "d1") // rows = keys: counted
    val (deleted, deleteJobs) = headRows()
    assert(deleted == ((3, 4L)) && deleteJobs > 0)
    C.compact(spark, dir, partitions = 1, "k1") // rebase: summed again
    assert(headRows() == (((4, 4L), 0)))
    C.upsert(df(Seq(1L, 6L)), dir, "u1")
    assert(headRows() == (((5, 5L), 0)))
    C.rollback(dir, 4, "rb1") // delegates to version 4's stack
    assert(headRows() == (((6, 4L), 0)))
    C.commit(df(Seq(7L)), dir, "c3")
    assert(headRows() == (((7, 5L), 0)))
    // a stack listing one file twice reads it once: counted, not summed
    val twice = java.nio.file.Files.createTempDirectory("graft-headrows2")
      .toString + "/t"
    C.commit(df(1L to 3L), twice, "c1")
    val m = java.nio.file.Paths.get(twice + "_manifest")
    val first = C.snapshots(twice).head
    java.nio.file.Files.writeString(m.resolve("snapshot-00002-c2.json"),
      C.LogCodec.snapshot(first.copy(seq = 2, runId = "c2")))
    assert(C.headRows(spark, twice) == ((2, 3L)))
  }

  test("branches: MoR base, seq ordering across the branch, expiry protection") {
    val C = Checkpointing
    val dir = java.nio.file.Files
      .createTempDirectory("graft-branchspec").toString + "/t"
    C.commit(df(1L to 10L), dir, "c1")
    C.deleteWhere(df(Seq(3L, 7L)).select("doc_id"), dir, "d1") // v2: MoR delete
    C.createBranch(dir, "b", 2)
    // branch base sees the delete applied
    assert(idsOf(C.readBranch(spark, dir, "b")) == (1L to 10L).toSet -- Set(3L, 7L))
    // a branch commit RE-ADDING a deleted id is visible: its snapshot seq
    // (base+1=3) is ABOVE the delete's (2), the Iceberg sequence rule
    C.commitToBranch(df(Seq(3L, 11L)), dir, "b", "b1")
    assert(idsOf(C.readBranch(spark, dir, "b")) ==
      ((1L to 11L).toSet - 7L))
    // main remains blind to branch commits
    assert(idsOf(C.readAt(spark, dir, 2)) == (1L to 10L).toSet -- Set(3L, 7L))
    // main rebases past the branch point: expiry must NOT expire the
    // branch's base stack, and the branch must stay readable
    C.upsert(df(12L to 15L), dir, "u1") // v3 on main: full rebase
    assert(C.expireSnapshots(dir, keepLast = 1).isEmpty)
    C.vacuum(dir)
    assert(idsOf(C.readBranch(spark, dir, "b")) == ((1L to 11L).toSet - 7L))
    // diverged: fast-forward refuses, content still intact
    intercept[IllegalArgumentException](C.fastForward(dir, "b"))
    // after dropping, expiry may reclaim the pre-rebase metadata
    C.dropBranch(dir, "b")
    intercept[IllegalArgumentException](C.readBranch(spark, dir, "b"))
    assert(C.expireSnapshots(dir, keepLast = 1).nonEmpty)
    // guards: duplicate name, unknown base, bad name
    C.commit(df(Seq(16L)), dir, "c2")
    C.createBranch(dir, "x", 4)
    intercept[IllegalArgumentException](C.createBranch(dir, "x", 4))
    intercept[IllegalArgumentException](C.createBranch(dir, "y", 99))
    intercept[IllegalArgumentException](C.createBranch(dir, "bad/name", 4))
    // fast-forward with head == base lands the branch atomically
    C.commitToBranch(df(Seq(17L)), dir, "x", "x1")
    val head = C.fastForward(dir, "x")
    // v3 upsert state = (1..10 minus the deletes) ++ 12..15; +16 (c2) +17 (x1)
    assert(idsOf(C.readAt(spark, dir, head)) ==
      ((1L to 10L).toSet -- Set(3L, 7L)) ++ (12L to 17L).toSet)
    assert(C.branches(dir).isEmpty)
  }

  test("upsertToBranch: branch-side MoR rebase; fast-forward carries the deletes") {
    val C = Checkpointing
    val dir = java.nio.file.Files
      .createTempDirectory("graft-brupsert").toString + "/t"
    C.commit(df(1L to 6L), dir, "c1")
    C.createBranch(dir, "rev", 1)
    // the revision REPLACES docs 2 and 4 (same ids, branch-side rebase)
    C.upsertToBranch(df(Seq(2L, 4L)), dir, "rev", "v2")
    assert(idsOf(C.readBranch(spark, dir, "rev")) == (1L to 6L).toSet)
    // no duplicates: the tombstone must have removed the base copies
    assert(C.readBranch(spark, dir, "rev").count() == 6)
    // main is blind until the landing, then sees the rebase exactly
    assert(C.readAt(spark, dir, 1).count() == 6)
    val head = C.fastForward(dir, "rev")
    assert(idsOf(C.readAt(spark, dir, head)) == (1L to 6L).toSet)
    assert(C.readAt(spark, dir, head).count() == 6)
  }
}
