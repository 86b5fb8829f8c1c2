package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession, SaveMode}
import org.apache.spark.sql.functions._
import graft.layout.DocRow
import java.nio.file.{Files, Paths, StandardOpenOption}
import graft.io.Parquet

/** Checkpoint/resume semantics — the Spark analog of the reference's
  * per-paper incremental commits and status-column scans
  * (step_1_pages_local2db.py:15-26 resume probe; the `WHERE x IS NULL`
  * incremental filters in step_2:53, step_3:36-38, step_6:54).
  *
  * Write side: append the batch to a committed parquet directory and record
  * a lineage manifest (one JSON line per written partition with row counts
  * and min/max doc ords — the "per-partition lineage + metrics" of the
  * north rule; Iceberg-shaped, parquet-backed since this sandbox ships no
  * Iceberg runtime).
  *
  * Read side: resume = left-anti join of the input docs against the
  * committed doc_ids, so a re-run after a kill reprocesses only uncommitted
  * documents (S3/S4 semantics). The anti-join build side is just doc_ids —
  * broadcastable at any realistic committed-batch size.
  */
object Checkpointing {

  // ------------------------------------------------------------ snapshots
  /** Iceberg-shaped snapshot log: every commit() also writes
    * `snapshot-<seq>-<runId>.json` into the manifest dir listing exactly
    * the data files that commit ADDED. A table version is then the union
    * of files across snapshots 1..v — [[readAt]] reconstructs any
    * historical version without touching files written later (time
    * travel). Compaction rewrites the data files and logs a fresh
    * snapshot of the compacted state; older versions become EXPIRED (their
    * files are gone) and readAt fails loudly for them, which is Iceberg's
    * expire-snapshots contract.
    *
    * `full` = the file list is the COMPLETE table state (a compaction
    * rebase), not a delta on top of earlier snapshots. `deletes` = names
    * of equality-delete sets (under `<dir>_deletes/<name>`) this snapshot
    * ADDED — merge-on-read row-level deletes, applied at scan time to rows
    * committed by EARLIER snapshots only (Iceberg's sequence-number rule),
    * so a doc re-extracted after its takedown is visible again.
    *
    * `stats` = per-FILE (min, max) ranges on this snapshot's `spec`
    * column for the files it added, when known — the Iceberg manifest
    * column-stats analog that [[readRange]] prunes with. Files without an
    * entry (no spec column, legacy adoption) are conservatively never
    * pruned.
    *
    * `spec` = WHICH column the ranges describe (default doc_ord —
    * snapshots written before spec evolution carry no key and parse as
    * doc_ord). Different snapshots of one table may use different spec
    * columns — Iceberg's partition-spec evolution: each file prunes under
    * the spec it was WRITTEN with, and a predicate on a column some
    * snapshot never tracked keeps that snapshot's files conservatively
    * ([[pruneInfo]]). Old data is never rewritten when the spec
    * changes.
    *
    * `rollbackOf` = Some(v) marks a ROLLBACK snapshot (Iceberg's
    * rollback_to_snapshot): a metadata-only commit whose table state IS
    * version v's — readAt resolves it by substituting v's effective stack,
    * so no data file is copied or rewritten. It is `full` (it rebases the
    * stack: nothing between v and it contributes), and later deltas stack
    * on top of the restored state. */
  final case class Snapshot(seq: Int, runId: String, files: Seq[String],
      rows: Long, full: Boolean = false, deletes: Seq[String] = Nil,
      stats: Map[String, (Long, Long)] = Map.empty,
      spec: String = "doc_ord", rollbackOf: Option[Int] = None)

  private def parquetNames(dir: String): Set[String] =
    Option(new java.io.File(dir).listFiles())
      .map(_.collect { case f if f.getName.endsWith(".parquet") => f.getName }.toSet)
      .getOrElse(Set.empty)

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
    ()
  }

  private def manifestDir(dir: String) = new java.io.File(dir + "_manifest")

  /** The one listing of a log dir (the manifest dir or a branch log): its
    * entries named `<prefix><key><suffix>`, by name, as (key, file). */
  private def logEntries(logDir: java.io.File, prefix: String,
      suffix: String = ".json"): Seq[(String, java.io.File)] =
    Option(logDir.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
      .filter(f => f.getName.startsWith(prefix) && f.getName.endsWith(suffix))
      .sortBy(_.getName)
      .map(f => f.getName.stripPrefix(prefix).stripSuffix(suffix) -> f)

  /** A log dir's snapshot files, oldest first, with the seq each name
    * carries (`snapshot-<seq>-<runId>.json`) — names only, no JSON read. */
  private def snapshotFiles(logDir: java.io.File): Seq[(Int, java.io.File)] =
    logEntries(logDir, "snapshot-").map { case (key, f) =>
      key.takeWhile(_.isDigit).toInt -> f
    }

  /** The runId in a snapshot entry's key (`<seq>-<runId>`). */
  private def runOf(key: String): String = key.dropWhile(_.isDigit).drop(1)

  /** The runIds a log dir's snapshot names carry — names only, no JSON
    * read. */
  private def loggedRuns(logDir: java.io.File): Set[String] =
    logEntries(logDir, "snapshot-").map(e => runOf(e._1)).toSet

  private def parseLog(files: Seq[(Int, java.io.File)]): Seq[Snapshot] =
    files.map { case (_, f) => LogCodec.readSnapshot(Files.readString(f.toPath)) }

  /** The seq the next snapshot of `logDir` takes: one past the last one
    * listed. */
  private def nextSeq(logDir: java.io.File): Int =
    snapshotFiles(logDir).lastOption.fold(0)(_._1) + 1

  /** The one snapshot writer, for the main log and branch logs: `s` is
    * logged under the seq it carries (a branch log numbers its snapshots
    * CONTINUING from the branch base, so merge-on-read seq ordering stays
    * global). */
  private def writeSnapshot(logDir: java.io.File, s: Snapshot): Unit = {
    Files.createDirectories(logDir.toPath)
    Files.writeString(
      logDir.toPath.resolve(f"snapshot-${s.seq}%05d-${s.runId}.json"),
      LogCodec.snapshot(s.copy(files = s.files.sorted, deletes = s.deletes.sorted)))
    ()
  }

  /** The snapshot log, oldest first (empty when the dir has no commits). */
  def snapshots(dir: String): Seq[Snapshot] =
    parseLog(snapshotFiles(manifestDir(dir)))

  /** [[snapshots]] of a table that must have committed. */
  private def committedLog(dir: String): Seq[Snapshot] = {
    val snaps = snapshots(dir)
    require(snaps.nonEmpty, s"no snapshots under ${dir}_manifest")
    snaps
  }

  /** Read the table as of snapshot `version` (1-based commit sequence).
    * Fails loudly when the version never existed or its files were
    * rewritten away by a later compaction (expired), never returning a
    * silently-partial frame.
    *
    * Merge-on-read: when the effective snapshot range carries equality
    * delete sets, each commit's files are tagged with their commit seq and
    * anti-joined against the (broadcast) delete keys with `del_seq >
    * commit_seq` — a delete removes only rows committed BEFORE it, so a
    * doc re-committed after its takedown is visible again (Iceberg's
    * sequence-number rule). Delete sets are doc_id lists, tiny next to the
    * data, so the apply is a broadcast hash anti-join: the 100 TB of data
    * files are never rewritten or shuffled. With no live deletes the plan
    * collapses to the plain multi-file parquet scan. */
  def readAt(spark: SparkSession, dir: String, version: Int): DataFrame =
    readLogAt(spark, dir, committedLog(dir), version)

  /** The snapshot count and the head's row count, from one parse of the
    * log and no Spark job: the sum of `rows` over the head's effective
    * stack. Where those logged rows do not add up to the table — the
    * stack carries a delete set, or lists a file twice — the head is
    * counted instead. (0, 0) before the first commit. */
  def headRows(spark: SparkSession, dir: String): (Int, Long) = {
    val snaps = snapshots(dir)
    snaps.lastOption.fold((0, 0L)) { head =>
      val stack = effectiveSnaps(snaps, head.seq)
      val files = stack.flatMap(_.files)
      val rows =
        if (stack.exists(_.deletes.nonEmpty) || files.distinct.size != files.size)
          assemble(spark, dir, head.seq, stack).count()
        else stack.map(_.rows).sum
      (snaps.size, rows)
    }
  }

  /** [[readAt]] over a log the caller has already parsed. */
  private def readLogAt(spark: SparkSession, dir: String,
      snaps: Seq[Snapshot], version: Int): DataFrame =
    assemble(spark, dir, version, effectiveSnaps(snaps, version))

  /** The snapshot stack of the parsed log `snaps` that defines table state
    * at `version`: everything from the most recent full (compaction/upsert)
    * rebase at or before it, plus the deltas on top. */
  private def effectiveSnaps(snaps: Seq[Snapshot], version: Int)
      : Seq[Snapshot] = {
    val head = snaps.lastOption.fold(0)(_.seq)
    require(version >= 1 && version <= head,
      s"version $version out of range 1..$head")
    val upTo = snaps.filter(_.seq <= version)
    require(upTo.lastOption.exists(_.seq == version),
      s"snapshot $version is expired (metadata removed by expireSnapshots)")
    // a full (compaction) snapshot rebases the file list; deltas stack on
    // top of the most recent one
    val baseIdx = upTo.lastIndexWhere(_.full)
    val eff = if (baseIdx >= 0) upTo.drop(baseIdx) else upTo
    // the stack must be gapless: a missing mid-stack snapshot (expired out
    // of order, or hand-deleted metadata) would otherwise assemble a
    // silently-partial frame — the one thing readAt promises never to do
    require(eff.zip(eff.tail).forall { case (a, b) => b.seq == a.seq + 1 },
      s"snapshot stack for version $version has gaps: seqs ${eff.map(_.seq)}")
    // a ROLLBACK head delegates to its target's stack: the restored state
    // plus whatever deltas stacked on top after the rollback. Recursion
    // terminates because rollback() requires target < rollback seq. The
    // target stack keeps its ORIGINAL seqs, so merge-on-read delete
    // ordering (del_seq > commit_seq) stays exact across the restore —
    // a post-rollback delete still removes resurrected rows, and a delete
    // in the rolled-back-away range is correctly gone.
    eff.head.rollbackOf match {
      case Some(target) => effectiveSnaps(snaps, target) ++ eff.tail
      case None => eff
    }
  }

  /** Build the DataFrame for an effective snapshot stack whose per-snapshot
    * file lists may have been pruned (merge-on-read deletes still applied;
    * pruning a data file only ever removes rows the caller's own residual
    * filter would drop, so the anti-join result for surviving rows is
    * unchanged). */
  private def assemble(spark: SparkSession, dir: String, version: Int,
      effective: Seq[Snapshot]): DataFrame = {
    val files = effective.flatMap(_.files).distinct.map(n => s"$dir/$n")
    val missing = files.filterNot(f => Files.exists(Paths.get(f)))
    require(missing.isEmpty,
      s"snapshot $version is expired (files rewritten by compaction): " +
        missing.take(3).mkString(", "))
    val delSets = effective.flatMap(s => s.deletes.map(d => (s.seq, d)))
    if (delSets.isEmpty) Parquet.read(spark, files: _*)
    else {
      val missingDels = delSets.map(_._2)
        .filterNot(d => Files.exists(Paths.get(s"${dir}_deletes/$d")))
      require(missingDels.isEmpty, s"snapshot $version is expired (delete " +
        s"sets removed by vacuum/compaction): ${missingDels.mkString(", ")}")
      val dataLegs = effective.filter(_.files.nonEmpty)
        .map(s => Parquet.read(spark, s.files.map(n => s"$dir/$n"): _*)
          .withColumn("_commit_seq", lit(s.seq)))
      require(dataLegs.nonEmpty, s"snapshot $version has delete sets but no " +
        "data files — nothing to apply them to (table schema unknown)")
      val data = dataLegs.reduce(_ unionByName _)
      val dels = delSets
        .map { case (seq, d) => readDeleteSet(spark, dir, d)
          .select(col("doc_id").as("_del_id"), lit(seq).as("_del_seq")) }
        .reduce(_ unionByName _)
      data.join(broadcast(dels),
          data("doc_id") === dels("_del_id") &&
            dels("_del_seq") > data("_commit_seq"), "left_anti")
        .drop("_commit_seq")
    }
  }

  /** A delete set is named after the runId that wrote it; Hadoop would
    * read glob characters in that name as a pattern, so they are escaped. */
  private def readDeleteSet(spark: SparkSession, dir: String,
      name: String): DataFrame =
    Parquet.read(spark, s"${dir}_deletes/" +
      name.replaceAll("""([\\{}\[\]*?])""", """\\$1"""))

  /** The manifest-stats file-skipping decision for a `spec`-column range
    * scan of version `version`: (kept, skipped) file names. A file is
    * skipped ONLY when the snapshot that WROTE it recorded a range on
    * `spec` and that range cannot intersect [lo, hi] — files without stats
    * and files written under another spec column are conservatively kept
    * (Iceberg's cross-spec scan: evolving the spec never rewrites old
    * data). Exposed so specs and queries can pin that planning-time
    * skipping happened (the poison-file proof: a skipped file can be
    * garbage on disk and the range read must still succeed). */
  def pruneInfo(dir: String, version: Int, lo: Long, hi: Long,
      spec: String = "doc_ord"): (Seq[String], Seq[String]) =
    prune(effectiveSnaps(committedLog(dir), version), spec, lo, hi)

  private def prune(effective: Seq[Snapshot], spec: String, lo: Long,
      hi: Long): (Seq[String], Seq[String]) = {
    require(lo <= hi, s"empty $spec range [$lo, $hi]")
    val kept = Seq.newBuilder[String]
    val skipped = Seq.newBuilder[String]
    val seen = scala.collection.mutable.Set[String]()
    effective.foreach { s =>
      s.files.foreach { f =>
        if (seen.add(f)) {
          val keep =
            if (s.spec != spec) true
            else s.stats.get(f) match {
              case Some((mn, mx)) => mx >= lo && mn <= hi
              case None => true
            }
          if (keep) kept += f else skipped += f
        }
      }
    }
    (kept.result(), skipped.result())
  }

  /** Range scan with Iceberg-style manifest pruning: read version `version`
    * restricted to `spec BETWEEN lo AND hi`, planning the scan over ONLY
    * the files whose recorded range intersects ([[pruneInfo]]) — at 100 TB
    * the driver skips whole files from the listing, so a narrow range
    * costs the matching files, not a table scan + filter. The residual
    * exact filter still applies (file ranges are coarse); merge-on-read
    * deletes still apply (see [[assemble]]). */
  def readRange(spark: SparkSession, dir: String, version: Int,
      lo: Long, hi: Long, spec: String = "doc_ord"): DataFrame = {
    val effective = effectiveSnaps(committedLog(dir), version)
    val kept = prune(effective, spec, lo, hi)._1.toSet
    assemble(spark, dir, version,
        effective.map(s => s.copy(files = s.files.filter(kept))))
      .filter(col(spec).between(lo, hi))
  }

  /** Snapshots `fromExclusive+1 .. toInclusive` of the parsed log, the
    * range check of [[changesBetween]] and [[cdcBetween]]: every seq in it
    * must still have metadata (an expired one would silently drop its
    * delta), and none may be a full rebase (no per-commit identity). */
  private def deltaRange(snaps: Seq[Snapshot], fromExclusive: Int,
      toInclusive: Int): Seq[Snapshot] = {
    val head = snaps.last.seq
    require(fromExclusive >= 0 && toInclusive > fromExclusive &&
      toInclusive <= head,
      s"bad range ($fromExclusive, $toInclusive] over 1..$head")
    val range = snaps.filter(s => s.seq > fromExclusive && s.seq <= toInclusive)
    require(range.size == toInclusive - fromExclusive,
      s"range ($fromExclusive, $toInclusive] has expired snapshots — " +
        s"present seqs: ${range.map(_.seq).mkString(",")}")
    require(!range.exists(_.full),
      s"range ($fromExclusive, $toInclusive] crosses a full rebase " +
        "(compact/upsert/rollback) — per-commit change identity is gone; " +
        "resume from the rebase snapshot")
    range
  }

  /** Incremental read: the rows ADDED by snapshots `fromExclusive+1 ..
    * toInclusive` — Iceberg's incremental-scan contract for an append-only
    * table. A downstream consumer processes each commit's delta without
    * ever rescanning the table: the file set IS the change set, so the
    * scan reads exactly the new files and nothing else. Fails loudly if
    * the range crosses a compaction rebase (the per-commit file identity
    * is gone there — resume from the rebase instead). */
  def changesBetween(spark: SparkSession, dir: String,
      fromExclusive: Int, toInclusive: Int): DataFrame = {
    val range = deltaRange(committedLog(dir), fromExclusive, toInclusive)
    // a delete snapshot is a retraction, not an append — an append-only
    // delta consumer would silently keep rows the table no longer has;
    // consume `<dir>_deletes/<runId>` explicitly instead
    require(!range.exists(_.deletes.nonEmpty),
      s"range ($fromExclusive, $toInclusive] contains row-level deletes " +
        s"(${range.filter(_.deletes.nonEmpty).map(_.runId).mkString(", ")}) " +
        "— incremental read is append-only; consume the delete sets explicitly")
    val files = range.flatMap(_.files).distinct.map(n => s"$dir/$n")
    val missing = files.filterNot(f => Files.exists(Paths.get(f)))
    require(missing.isEmpty, s"delta files rewritten by a later compaction: " +
      missing.take(3).mkString(", "))
    Parquet.read(spark, files: _*)
  }

  /** Iceberg DESCRIBE HISTORY: the snapshot log as a DataFrame — the
    * audit surface an operator consults before time travel, rollback, or
    * incremental consumption (which version did the bad parser land? what
    * did the takedown remove?). Metadata-only: one manifest-dir listing,
    * no data file touched; [[expireSnapshots]] is what keeps this listing
    * bounded at one-commit-per-micro-batch cadence. `rows` carries each
    * snapshot's own semantics (commit/upsert = rows written, delete =
    * tombstone keys, rollback = 0 by design). */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    snapshots(dir)
      .map(s => (s.seq, s.runId, s.rows, s.full, s.files.size,
        s.deletes.size, s.rollbackOf))
      .toDF("seq", "run_id", "rows", "is_full", "n_files",
        "n_delete_sets", "rollback_of")
  }

  /** CDC changelog read (Iceberg's create_changelog_view): the row-level
    * changes of snapshots `fromExclusive+1 .. toInclusive` as
    * (_change_type insert|delete, _commit_seq, row...). Where
    * [[changesBetween]] REFUSES a range containing row-level deletes
    * (its contract is append-only), cdcBetween makes them consumable: a
    * downstream mirror applies inserts and deletes in _commit_seq order
    * and lands exactly at the upstream state — the takedown propagation
    * path. Costs: an insert leg reads exactly the commit's files (O(delta),
    * the change set IS the file set); a delete leg materializes the
    * deleted rows' CONTENT by scanning the pre-state version filtered to
    * the (broadcast) delete keys — the honest price of row content; a
    * consumer that only needs KEYS should read `<dir>_deletes/<runId>`
    * directly and skip that scan. Still refuses crossing a FULL rebase
    * (compact/upsert/rollback): per-row change identity is not recorded
    * there — resume from the rebase. */
  def cdcBetween(spark: SparkSession, dir: String,
      fromExclusive: Int, toInclusive: Int): DataFrame = {
    val snaps = committedLog(dir)
    val range = deltaRange(snaps, fromExclusive, toInclusive)
    val legs = range.flatMap { s =>
      val ins =
        if (s.files.isEmpty) Nil
        else Seq(Parquet.read(spark, s.files.map(n => s"$dir/$n"): _*)
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_seq", lit(s.seq)))
      val del =
        if (s.deletes.isEmpty || s.seq <= 1) Nil
        else {
          // no distinct: each set is distinct on disk, and a semi-join is
          // insensitive to duplicate build-side keys — skipping it keeps
          // the whole leg exchange-free (plan-pinned)
          val keys = s.deletes
            .map(d => readDeleteSet(spark, dir, d))
            .reduce(_ unionByName _).select("doc_id")
          // pre-state rows are all committed before this snapshot, so the
          // sequence rule (delete only earlier commits) is the semi-join
          Seq(readLogAt(spark, dir, snaps, s.seq - 1)
            .join(broadcast(keys), Seq("doc_id"), "left_semi")
            .withColumn("_change_type", lit("delete"))
            .withColumn("_commit_seq", lit(s.seq)))
        }
      ins ++ del
    }
    require(legs.nonEmpty,
      s"range ($fromExclusive, $toInclusive] contains no row changes")
    legs.reduce(_ unionByName _)
  }

  /** Copy-on-write upsert — the "re-extract after a parser fix" path:
    * incoming rows REPLACE committed rows with the same doc_id, all other
    * rows carry over, and the result is logged as a FULL (rebase)
    * snapshot listing only the rewritten files. Old data files are left
    * on disk so earlier versions stay time-travelable until a vacuum (or
    * the next compaction) expires them — whereas compact() deletes them
    * immediately; upsert is the gentler rebase. One shuffle-free plan:
    * current-state scan anti-joined against the (broadcast) incoming ids,
    * unioned with the incoming rows. Returns rows in the new state. */
  def upsert(df: DataFrame, dir: String, runId: String): Long = {
    val spark = df.sparkSession
    val snaps = snapshots(dir)
    require(snaps.nonEmpty, s"upsert needs an existing committed table at $dir")
    // incoming must be one row per doc: only the anti-join side is
    // distinct'd, so a duplicated incoming id would otherwise land twice
    // in the rebase and silently break the one-row-per-doc invariant
    val nDups = df.groupBy("doc_id").count()
      .filter(col("count") > 1).count()
    require(nDups == 0,
      s"upsert input has $nDups doc_ids with multiple rows — dedupe first")
    val cur = readLogAt(spark, dir, snaps, snaps.last.seq)
    val kept = cur.join(broadcast(df.select("doc_id").distinct()),
      Seq("doc_id"), "left_anti")
    // instrumented write: rows + per-file ord stats come from the write
    // job's own accumulator instead of a separate read-back scan of the
    // freshly-written files (one job + one shuffle fewer per upsert)
    val (rows, added, stats) = writeInstrumented(
      kept.unionByName(df.select(cur.columns.toSeq.map(col): _*)), dir, runId)
    val m = manifestDir(dir)
    writeSnapshot(m, Snapshot(nextSeq(m), runId, added, rows, full = true,
      stats = stats))
    rows
  }

  /** Merge-on-read equality delete — the takedown / right-to-be-forgotten
    * path. At 100 TB a handful of removals must not rewrite data files
    * (that is what upsert/compact cost); instead the distinct doc_ids land
    * as a tiny delete set under `<dir>_deletes/<runId>` and a DELTA
    * snapshot records it. Every subsequent [[readAt]] applies the set as a
    * broadcast anti-join against rows committed before it; [[compact]]
    * materializes the deletes into rewritten files and drops the sets;
    * [[vacuum]] removes sets no live snapshot references. A doc_id
    * re-committed AFTER the delete is visible again (sequence rule), which
    * is exactly the delete-then-re-extract flow. Snapshot.rows for a
    * delete snapshot = number of delete keys. Returns that count.
    *
    * Note [[resumeFilter]] reads the latest version, so a deleted doc
    * still present in the input is treated as uncommitted and will be
    * re-extracted by the next run — for a permanent takedown, remove the
    * doc from the input corpus too. */
  def deleteWhere(ids: DataFrame, dir: String, runId: String): Long = {
    val m = manifestDir(dir)
    require(snapshotFiles(m).nonEmpty,
      s"deleteWhere needs a committed table at $dir")
    val n = writeDeleteSet(ids.select("doc_id").distinct(), dir, runId)
    writeSnapshot(m, Snapshot(nextSeq(m), runId, Nil, n, deletes = Seq(runId)))
    n
  }

  /** Write `keys` (distinct doc_ids) as the new delete set `runId` in ONE
    * job: the key count comes from the written file's footer, not from a
    * second count() job. An empty set is removed and refused, so no empty
    * delete snapshot is ever logged. Returns the key count. */
  private def writeDeleteSet(keys: DataFrame, dir: String,
      runId: String): Long = {
    val delDir = s"${dir}_deletes/$runId"
    require(!Files.exists(Paths.get(delDir)),
      s"delete set $runId already exists at $delDir")
    keys.coalesce(1).write.parquet(delDir)
    val n = parquetNames(delDir).toSeq
      .map(f => Parquet.footerStats(keys.sparkSession, s"$delDir/$f", "doc_id")._1).sum
    if (n == 0) {
      deleteRecursively(new java.io.File(delDir))
      require(n > 0, s"delete set $runId matched no doc_ids — refusing to " +
        "log an empty delete snapshot")
    }
    n
  }

  /** MERGE — the Iceberg/Delta `MERGE INTO` analog, the three DML verbs as
    * ONE ATOMIC SNAPSHOT (a CDC consumer or an auditor never observes the
    * half-applied states a deleteWhere-then-commit sequence exposes):
    *
    *  - source rows whose doc_id is committed and match `deleteWhen`
    *    → DELETED (WHEN MATCHED AND cond THEN DELETE);
    *  - other matched source rows → UPDATED, i.e. replace the committed
    *    row (WHEN MATCHED THEN UPDATE SET *);
    *  - unmatched source rows (not delete-flagged) → INSERTED
    *    (WHEN NOT MATCHED THEN INSERT *); unmatched delete-flagged rows
    *    are ignored (nothing to delete).
    *
    * Merge-on-read mechanics: all matched doc_ids land as one tombstone
    * set (updates must mask their old rows too) and the updated + inserted
    * rows land as appended data files — BOTH recorded by a single delta
    * snapshot. Within that snapshot the strict `del_seq > commit_seq`
    * sequence rule means the tombstones hit only OLDER commits, so the
    * snapshot's own appends carry the new row versions. No committed data
    * file is rewritten at any table size; [[compact]] materializes the
    * merge later, [[cdcBetween]] reads it as delete(old) + insert(new) —
    * the standard changelog spelling of an update.
    *
    * Scale shape: matched ids are found by streaming the current state
    * once against the BROADCAST source ids (map-side semi join); every
    * other join broadcasts source-derived frames. Returns
    * (updated, deleted, inserted) counts; refuses an all-no-op merge. */
  def merge(source: DataFrame, dir: String, runId: String,
      deleteWhen: Column = lit(false)): (Long, Long, Long) = {
    val spark = source.sparkSession
    val snaps = snapshots(dir)
    require(snaps.nonEmpty, s"merge needs an existing committed table at $dir")
    val nDups = source.groupBy("doc_id").count()
      .filter(col("count") > 1).count()
    require(nDups == 0,
      s"merge source has $nDups doc_ids with multiple rows — dedupe first")
    val cur = readLogAt(spark, dir, snaps, snaps.last.seq)
    // one pass over the current state, source ids broadcast; the result is
    // at most source-sized, persisted so the consumers below don't
    // re-scan the table per leg
    val matchedIds = cur.select("doc_id")
      .join(broadcast(source.select("doc_id")), Seq("doc_id"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE aggregation job computes all three verb counts (previously
      // three separate count() actions over the same joined frame — two
      // redundant passes; guide §1.2: fewer passes first)
      val verbRow = source
        .join(broadcast(matchedIds.withColumn("__m", lit(true))),
          Seq("doc_id"), "left")
        .select(coalesce(col("__m"), lit(false)).as("__m"),
          deleteWhen.as("__del"))
        .agg(
          sum(when(col("__m") && !col("__del"), 1L).otherwise(0L)).as("u"),
          sum(when(col("__m") && col("__del"), 1L).otherwise(0L)).as("d"),
          sum(when(!col("__m") && !col("__del"), 1L).otherwise(0L)).as("i"))
        .head()
      def cnt(i: Int): Long =
        if (verbRow.isNullAt(i)) 0L else verbRow.getLong(i) // empty source
      val (nUpd, nDel, nIns) = (cnt(0), cnt(1), cnt(2))
      require(nUpd + nDel + nIns > 0,
        "merge matched nothing and inserts nothing — refusing an empty snapshot")
      // the tombstones land before the appends, so a clashing delete set
      // is refused before any data file is written
      val deletes =
        if (nUpd + nDel > 0) {
          writeDeleteSet(matchedIds, dir, runId)
          Seq(runId)
        } else Nil
      val matched = source.join(broadcast(matchedIds), Seq("doc_id"), "left_semi")
      val updates = matched.filter(!deleteWhen)
      val inserts = source
        .join(broadcast(matchedIds), Seq("doc_id"), "left_anti")
        .filter(!deleteWhen)
      val outCols = cur.columns.map(col).toSeq
      val appends = updates.select(outCols: _*)
        .unionByName(inserts.select(outCols: _*))
      // instrumented append: rows + per-file ord stats gathered inside the
      // write job itself — the separate read-back stats scan (one extra
      // job + shuffle per merge) is gone
      val (nApp, added, stats) = writeInstrumented(appends, dir, runId)
      val m = manifestDir(dir)
      writeSnapshot(m, Snapshot(nextSeq(m), runId, added, nApp,
        deletes = deletes, stats = stats))
      (nUpd, nDel, nIns)
    } finally {
      matchedIds.unpersist(blocking = false)
      ()
    }
  }

  /** Orphan-file cleanup (Iceberg's remove_orphan_files): delete parquet
    * files in the data dir that NO live snapshot references — the debris
    * of a run that crashed after writing data files but before logging
    * its snapshot. Committed data is untouched (the live file set is the
    * union of every snapshot's files from the latest full rebase onward,
    * i.e. exactly what readAt(latest) would read). Returns the deleted
    * file names. Single-writer maintenance op, like compact(). */
  def vacuum(dir: String): Seq[String] = {
    val snaps = snapshots(dir)
    // a table with data but NO snapshot log is not ours to clean — without
    // the log every file would look orphaned and vacuum would empty it
    require(snaps.nonEmpty, s"vacuum needs a snapshot log under ${dir}_manifest")
    // the live stack resolves a rollback head to its target's stack — a
    // rollback snapshot itself lists no files, but the state it restores
    // is live and its files must not be vacuumed as orphans; tagged
    // versions stay readable until their tag is dropped, and live branches
    // keep their own commits AND their base stacks readable, so those
    // stacks' files (and delete sets, below) are live too
    val liveSnaps = effectiveSnaps(snaps, snaps.last.seq) ++
      refStacks(dir, snaps)
    // staged (write-audit-publish) batches are live-until-decided: their
    // files are referenced by staged markers, not snapshots — vacuum must
    // not destroy a batch an auditor is still looking at. (A stale marker
    // left by a crashed publish is not a staged batch, so ITS files are
    // protected via the snapshot.)
    val published = snaps.map(_.runId).toSet
    val stagedLive = stagedIn(dir, published).flatMap(_.files).toSet
    val live = liveSnaps.flatMap(_.files).toSet ++ stagedLive
    val orphans = (parquetNames(dir) -- live).toSeq.sorted
    orphans.foreach(n => Files.deleteIfExists(Paths.get(s"$dir/$n")))
    // delete sets referenced by no live snapshot (expired by a rebase, or
    // debris of a crashed deleteWhere) go the same way
    val liveDels = liveSnaps.flatMap(_.deletes).toSet
    val delRoot = new java.io.File(s"${dir}_deletes")
    val delOrphans = Option(delRoot.listFiles()).getOrElse(Array.empty)
      .collect { case f if !liveDels.contains(f.getName) => f.getName }
      .toSeq.sorted
    delOrphans.foreach(n => deleteRecursively(new java.io.File(delRoot, n)))
    // stale staged markers (publish crashed after its snapshot write)
    // are metadata debris — the snapshot owns the files now
    val staleMarkers = logEntries(manifestDir(dir), "staged-")
      .collect { case (run, f) if published(run) => f }
    staleMarkers.foreach(f => Files.deleteIfExists(f.toPath))
    orphans ++ delOrphans.map(n => s"_deletes/$n") ++
      staleMarkers.map(f => s"_manifest/${f.getName}")
  }

  // ------------------------------------------------------------ tags
  /** Iceberg-style named refs (tags): a durable anchor to a table version
    * — "the corpus exactly as trained on" for audit/reproduction. A tag is
    * one metadata file (`tag-<name>.json` beside the snapshots); it pins
    * nothing by copying — it PROTECTS: [[expireSnapshots]] never expires a
    * tagged version's effective stack, and [[vacuum]] keeps that stack's
    * data files and delete sets alive. [[compact]] — the eager space
    * reclaimer that deletes superseded files outright — refuses while any
    * tag exists (drop or re-point tags first; [[upsert]] is the
    * tag-friendly rebase, it leaves old files for vacuum to judge). */
  def tag(dir: String, name: String, version: Int): Unit = {
    require(name.matches("[A-Za-z0-9._-]+"), s"bad tag name: '$name'")
    val snaps = snapshots(dir)
    require(snaps.exists(_.seq == version),
      s"cannot tag version $version: unknown or expired " +
        s"(present: ${snaps.map(_.seq).mkString(",")})")
    val p = Paths.get(s"${dir}_manifest/tag-$name.json")
    require(!Files.exists(p), s"tag '$name' already exists — dropTag first")
    Files.writeString(p, LogCodec.tag(name, version))
    ()
  }

  /** All tags: name -> pinned version. */
  def tags(dir: String): Map[String, Int] =
    logEntries(manifestDir(dir), "tag-")
      .map { case (_, f) => LogCodec.readTag(Files.readString(f.toPath)) }.toMap

  def dropTag(dir: String, name: String): Unit = {
    val p = Paths.get(s"${dir}_manifest/tag-$name.json")
    require(Files.exists(p), s"no such tag: '$name'")
    Files.delete(p)
  }

  /** Read the table as of a tag — readAt with the name resolved. */
  def readTag(spark: SparkSession, dir: String, name: String): DataFrame = {
    val t = tags(dir)
    require(t.contains(name), s"no such tag: '$name' (have: ${t.keys.mkString(",")})")
    readAt(spark, dir, t(name))
  }

  /** The snapshots (and through them, files + delete sets) that refs keep
    * alive in the parsed log `snaps`: the effective stack of every tagged
    * version, and of every live branch its base version's effective stack
    * plus its own commits. */
  private def refStacks(dir: String, snaps: Seq[Snapshot]): Seq[Snapshot] =
    // same resolution as the read path — a tag on (or above) a rollback
    // protects the delegated target stack too
    tags(dir).values.toSeq.distinct.flatMap(effectiveSnaps(snaps, _)) ++
      branchDirs(dir).flatMap { case (name, b) =>
        effectiveSnaps(snaps, branchBase(dir, name)) ++
          parseLog(snapshotFiles(b))
      }

  // ------------------------------------------------------------ branches
  /** Iceberg-style BRANCHES: a writable named ref. Where a tag ([[tag]])
    * pins a version read-only, a branch accepts its own commits — staged
    * work (an audit corpus, a re-extraction experiment) accumulates on the
    * branch while `main` stays untouched, then lands atomically via
    * [[fastForward]] or is discarded via [[dropBranch]]. This generalizes
    * the single-batch write-audit-publish flow ([[stage]]/[[publish]]) to
    * MULTI-commit audits.
    *
    * Mechanics: a branch is a sub-log under the main manifest dir
    * (`<dir>_manifest/branch-<name>/`) holding a base pointer + its own
    * snapshot files; branch DATA files live in the table dir like any
    * other commit but are referenced only by the branch log, so main
    * readers never see them. Branch snapshots number CONTINUING from the
    * base seq, which keeps merge-on-read delete ordering global and makes
    * fast-forward a pure metadata copy. Branch commits are APPENDS
    * ([[commitToBranch]]); rebases (upsert/compact) stay main-only.
    * [[vacuum]] / [[expireSnapshots]] protect branch logs and their base
    * stacks; [[compact]] refuses while branches exist (same contract as
    * tags). */
  def createBranch(dir: String, name: String, version: Int): Unit = {
    require(name.matches("[A-Za-z0-9._-]+"), s"bad branch name: '$name'")
    val snaps = snapshots(dir)
    require(snaps.exists(_.seq == version),
      s"cannot branch at version $version: unknown or expired " +
        s"(present: ${snaps.map(_.seq).mkString(",")})")
    effectiveSnaps(snaps, version) // base must be readable NOW — fail here
    val d = branchDir(dir, name).toPath
    require(!Files.exists(d), s"branch '$name' already exists — dropBranch first")
    Files.createDirectories(d)
    Files.writeString(d.resolve("base.json"), LogCodec.branchBase(name, version))
    ()
  }

  private def branchDir(dir: String, name: String) =
    new java.io.File(manifestDir(dir), s"branch-$name")

  /** Live branch logs: (name, log dir). */
  private def branchDirs(dir: String): Seq[(String, java.io.File)] =
    logEntries(manifestDir(dir), "branch-", suffix = "").filter {
      case (_, f) => f.isDirectory && new java.io.File(f, "base.json").exists
    }

  /** Live branches: name → (base version, number of branch commits). */
  def branches(dir: String): Map[String, (Int, Int)] =
    branchDirs(dir).map { case (name, b) =>
      name -> (branchBase(dir, name), snapshotFiles(b).size)
    }.toMap

  private def branchBase(dir: String, name: String): Int = {
    val p = branchDir(dir, name).toPath.resolve("base.json")
    require(Files.exists(p), s"no such branch: '$name'")
    LogCodec.readBranchBase(Files.readString(p))
  }

  private def branchSnaps(dir: String, name: String): Seq[Snapshot] =
    parseLog(snapshotFiles(branchDir(dir, name)))

  /** Append a batch to the branch: data files land in the table dir, the
    * snapshot lands in the branch log only — invisible to main readers. */
  def commitToBranch(df: DataFrame, dir: String, name: String,
      runId: String): Long = {
    val base = branchBase(dir, name)
    val (rows, added, stats) = writeInstrumented(df, dir, runId)
    val b = branchDir(dir, name)
    writeSnapshot(b, Snapshot(math.max(base + 1, nextSeq(b)), runId, added,
      rows, stats = stats))
    rows
  }

  /** Doc-keyed REBASE on the branch — the branch-side analog of [[upsert]],
    * expressed merge-on-read (no data rewrite): a branch delete snapshot
    * tombstones df's doc_ids, then the new rows append. Seq ordering makes
    * it exact: base rows (seq ≤ base) fall to the delete (seq base+k), the
    * re-added rows (seq base+k+1) ride above it — so a candidate parser
    * revision can REPLACE docs on the branch while main readers see
    * nothing. [[fastForward]] carries the delete snapshot over verbatim. */
  def upsertToBranch(df: DataFrame, dir: String, name: String,
      runId: String): Long = {
    val base = branchBase(dir, name)
    val n = writeDeleteSet(df.select("doc_id").distinct(), dir, runId)
    val b = branchDir(dir, name)
    writeSnapshot(b, Snapshot(math.max(base + 1, nextSeq(b)), s"$runId-del",
      Nil, n, deletes = Seq(runId)))
    commitToBranch(df, dir, name, runId)
  }

  /** Read the branch head: the base version's effective stack plus every
    * branch commit on top. */
  def readBranch(spark: SparkSession, dir: String, name: String): DataFrame = {
    val base = branchBase(dir, name)
    val stack = effectiveSnaps(snapshots(dir), base) ++ branchSnaps(dir, name)
    assemble(spark, dir, base, stack)
  }

  /** Land the branch on main — Iceberg's `fast_forward`: legal only while
    * main's head still IS the branch base (a diverged main means the
    * audit's premise is stale — re-branch and re-validate instead of
    * silently merging). Pure metadata: each branch snapshot is re-logged
    * onto main with the SAME seq it already carried (head == base makes
    * main's next seq the branch's first), then the branch is dropped.
    * Returns main's new head version. */
  def fastForward(dir: String, name: String): Int = {
    val base = branchBase(dir, name)
    val m = manifestDir(dir)
    val head = nextSeq(m) - 1
    require(head == base,
      s"cannot fast-forward '$name': main advanced to $head past the " +
        s"branch base $base — drop the branch and re-stage the audit")
    val bs = branchSnaps(dir, name)
    require(bs.nonEmpty, s"branch '$name' has no commits to land")
    bs.foreach(writeSnapshot(m, _))
    dropBranch(dir, name)
    bs.last.seq
  }

  /** Discard the branch: its log disappears; its data files become
    * orphans for the next [[vacuum]] to reclaim. */
  def dropBranch(dir: String, name: String): Unit = {
    val d = branchDir(dir, name)
    require(d.isDirectory, s"no such branch: '$name'")
    deleteRecursively(d)
  }

  /** Iceberg `rollback_to_snapshot` — restore the table to an earlier
    * version as a NEW commit, metadata-only. One snapshot file is written;
    * no data file is copied, rewritten, or even listed — at 100 TB the
    * "undo the bad parser deploy" path costs exactly one JSON write. The
    * rollback snapshot delegates to the target's effective stack at read
    * time (original seqs preserved, so merge-on-read delete ordering is
    * exact), history stays intact (the rolled-back-away versions remain
    * time-travelable until expiry), and later commits/upserts/deletes
    * stack on top of the restored state normally. `Snapshot.rows` is 0 for
    * a rollback: recording the restored row count would take a table scan,
    * defeating metadata-only. Returns the new snapshot's seq. */
  def rollback(dir: String, toVersion: Int, runId: String): Int = {
    val snaps = committedLog(dir)
    require(toVersion < snaps.last.seq,
      s"rollback target $toVersion is not an earlier version " +
        s"(current: ${snaps.last.seq})")
    // the target must be readable NOW — fail at rollback time with the
    // real reason (expired metadata, gapped stack), not at first read
    effectiveSnaps(snaps, toVersion)
    val m = manifestDir(dir)
    val seq = nextSeq(m)
    writeSnapshot(m, Snapshot(seq, runId, Nil, rows = 0L, full = true,
      rollbackOf = Some(toVersion)))
    seq
  }

  /** Iceberg `expire_snapshots` — retention for the snapshot LOG itself.
    * [[vacuum]] reclaims DATA files the live stack no longer references;
    * what still grows without bound at one-snapshot-per-micro-batch
    * cadence is the METADATA: a 10^12-doc table commits millions of
    * snapshots and every snapshots() listing pays for all of them.
    * expireSnapshots deletes the metadata of snapshots that are
    * (a) STRICTLY BELOW the latest FULL rebase — the live read path never
    * consults them (effectiveSnaps stacks from that rebase up), and
    * (b) older than the `keepLast` most recent snapshots (the audit
    * retention window — Iceberg's retain_last).
    * Time travel to an expired version then fails loudly at the metadata
    * level; the CURRENT state is untouched by construction (nothing at or
    * above the rebase ever expires). Data files referenced only by
    * expired snapshots are already vacuum's business. Returns expired
    * runIds — empty when no full rebase exists yet: every delta is live
    * state and nothing may expire. */
  def expireSnapshots(dir: String, keepLast: Int = 1): Seq[String] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val files = snapshotFiles(manifestDir(dir))
    val snaps = parseLog(files)
    require(snaps.nonEmpty, s"no snapshots under ${dir}_manifest")
    val baseIdx = snaps.lastIndexWhere(_.full)
    if (baseIdx < 0) return Nil
    val baseSeq = snaps(baseIdx).seq
    val keepFromSeq = snaps(math.max(0, snaps.size - keepLast)).seq
    // tags protect their whole effective stack (protecting the tagged seq
    // alone could leave it unreadable — its deltas-below would be gone);
    // branches protect their base stacks the same way
    val tagProtected = refStacks(dir, snaps).map(_.seq).toSet
    // the LIVE stack is protected too: when the latest rebase is a
    // rollback, the state it restores lives in snapshots BELOW baseSeq —
    // expiring them would break every future read of the current table
    val liveProtected = effectiveSnaps(snaps, snaps.last.seq).map(_.seq).toSet
    val expired = files.zip(snaps).collect {
      case ((_, f), s) if s.seq < baseSeq && s.seq < keepFromSeq &&
          !tagProtected(s.seq) && !liveProtected(s.seq) => f -> s.runId
    }
    expired.foreach { case (f, _) => Files.deleteIfExists(f.toPath) }
    expired.map(_._2)
  }

  /** Docs not yet present in the committed output. "Committed" is defined
    * by the SNAPSHOT LOG when one exists (readAt(latest)) — a run that
    * crashed after writing data files but before logging its snapshot did
    * NOT commit, and its docs must be reprocessed, not silently skipped
    * because debris parquet happens to contain their ids (vacuum() removes
    * that debris). Falls back to the raw directory for pre-snapshot dirs. */
  def resumeFilter(spark: SparkSession, docs: Dataset[DocRow],
      committedDir: String): Dataset[DocRow] = {
    import spark.implicits._
    val snaps = snapshots(committedDir)
    val committed =
      if (snaps.nonEmpty)
        Some(readLogAt(spark, committedDir, snaps, snaps.last.seq))
      // a dir whose ONLY content is staged (unpublished) batches has no
      // committed rows — the raw-dir legacy fallback must not count them
      else if (stagedIn(committedDir, Set.empty).nonEmpty) None
      else if (Files.exists(Paths.get(committedDir)))
        Some(Parquet.read(spark, committedDir))
      else None
    // a broadcast anti-join gives the same rows whether or not the build
    // side repeats a key, so the committed ids are not de-duplicated (a
    // distinct would add a shuffle and two jobs)
    committed match {
      case None => docs
      case Some(df) =>
        docs.join(broadcast(df.select("doc_id")), Seq("doc_id"), "left_anti")
          .as[DocRow]
    }
  }

  /** Rewrite a committed directory's many small files into `partitions`
    * large ones — the small-files compaction every incremental sink needs
    * (each resumed run appends its own files; a year of hourly commits is
    * thousands of parquet footers per scan task otherwise). The rewrite
    * goes to a fresh `<dir>_compact-<runId>` directory and is only then
    * atomically swapped in (rename), so a crash mid-compact leaves the
    * original intact; the lineage manifests are superseded by a single
    * compaction manifest recording the rewrite.
    *
    * Returns (filesBefore, filesAfter, rows). */
  def compact(spark: SparkSession, dir: String, partitions: Int,
      runId: String): (Int, Int, Long) = {
    require(partitions > 0)
    val snaps = snapshots(dir)
    // the rewrite swaps the whole data dir — an undecided staged batch
    // (write-audit-publish) lives in that dir outside any snapshot and
    // would be silently destroyed; decide the audit first
    val pending = stagedIn(dir, snaps.map(_.runId).toSet)
    require(pending.isEmpty, "compact with undecided staged batches " +
      s"(${pending.map(_.runId).mkString(", ")}) — publish or abandon first")
    // compact deletes superseded files OUTRIGHT — it would destroy the
    // data a tag promises to keep readable; drop or re-point tags first
    // (upsert is the tag-friendly rebase: it leaves old files for vacuum,
    // and vacuum respects tags)
    val pinned = tags(dir)
    require(pinned.isEmpty, "compact would delete files tagged versions " +
      s"need (tags: ${pinned.keys.mkString(", ")}) — dropTag first")
    // a branch references both its own commits and its base stack —
    // the dir swap would destroy them; land or drop branches first
    val live = branches(dir)
    require(live.isEmpty, "compact would delete files live branches need " +
      s"(branches: ${live.keys.mkString(", ")}) — fastForward or dropBranch first")
    val before = parquetNames(dir).size
    // compact the COMMITTED state, not the raw directory: after an
    // un-vacuumed upsert the dir still holds pre-rebase files (raw scan
    // would duplicate rows), and live delete sets must be materialized
    // into the rewrite — readAt(latest) is both, by definition
    val df = if (snaps.nonEmpty) readLogAt(spark, dir, snaps, snaps.last.seq)
             else Parquet.read(spark, dir)
    val tmp = s"${dir}_compact-$runId"
    // the rewrite CLUSTERS by doc_ord when the column exists (Iceberg's
    // rewrite_data_files with a sort order): range partitioning gives the
    // compacted files disjoint ord ranges, so readRange over a compacted
    // table prunes to exactly the overlapping files — without it a rewrite
    // would mix ords and degrade every stats range to the full span
    val clustered =
      if (df.columns.contains("doc_ord"))
        df.repartitionByRange(partitions, col("doc_ord"))
          .sortWithinPartitions("doc_ord")
      else df.coalesce(partitions)
    // instrumented rewrite: rows + per-file ord stats from the write job's
    // accumulator (mapPartitions preserves the sorted row order), instead
    // of a second full read of the freshly-compacted files
    deleteRecursively(new java.io.File(tmp)) // debris of a crashed attempt
    val (rows, _, tmpStats) = writeInstrumented(clustered, tmp, runId,
      writeManifest = false)
    // swap: old dir aside, compacted in, old removed
    val old = new java.io.File(dir)
    val aside = new java.io.File(s"${dir}_pre-$runId")
    require(old.renameTo(aside), s"rename $dir -> $aside failed")
    require(new java.io.File(tmp).renameTo(old), s"rename $tmp -> $dir failed")
    deleteRecursively(aside)
    val after = parquetNames(dir)
    val m = manifestDir(dir)
    Files.createDirectories(m.toPath)
    Files.writeString(m.toPath.resolve(s"compaction-$runId.json"),
      LogCodec.compaction(runId, before, after.size, rows))
    // the compacted state is a NEW snapshot (full file listing); earlier
    // versions are now expired — readAt tells the caller so. File names
    // survive the directory rename, so the tmp-scan stats carry over.
    writeSnapshot(m, Snapshot(nextSeq(m), s"compact-$runId", after.toSeq,
      rows, full = true, stats = tmpStats))
    // the rewrite materialized every live delete; no snapshot references
    // the sets any more (compact expires aggressively, unlike upsert)
    deleteRecursively(new java.io.File(s"${dir}_deletes"))
    (before, after.size, rows)
  }

  /** Append a batch and write its lineage manifest. Returns rows written.
    *
    * The per-file metrics (row counts, statsCol min/max) are read from the
    * freshly-written PARQUET FOOTERS — pure metadata, no second execution
    * of the plan and no extra Spark job (a read-back stats scan was one
    * extra job + shuffle per commit, and the earlier accumulator variant
    * forced the whole write through a row-encoder boundary that defeats
    * the columnar write path). The footers describe exactly the rows the
    * write committed, by construction.
    *
    * Frames without a `doc_ord` column (e.g. span tables keyed only by
    * doc_id) commit fine — their manifests carry null ord ranges.
    *
    * Legacy adoption: the FIRST commit into a directory that already holds
    * parquet files but no snapshot log (a pre-snapshot-era table, which
    * resumeFilter's raw-dir fallback treats as committed) adopts those
    * files as a baseline snapshot first — otherwise readAt(latest) would
    * under-report the table and vacuum would destroy the legacy files as
    * orphans. */
  def commit(df: DataFrame, dir: String, runId: String): Long = {
    val (rows, added, stats) = writeInstrumented(df, dir, runId)
    val m = manifestDir(dir)
    writeSnapshot(m, Snapshot(nextSeq(m), runId, added, rows, stats = stats))
    rows
  }

  /** [[commit]] under an EVOLVED partition spec: per-file stats are
    * captured on `specCol` instead of doc_ord and the snapshot records
    * which spec its files prune under. Earlier commits keep their own
    * spec — nothing is rewritten; [[readRange]] prunes each file under
    * the spec it was written with. */
  def commitWithSpec(df: DataFrame, dir: String, runId: String,
      specCol: String): Long = {
    require(df.schema.fieldNames.contains(specCol),
      s"spec column $specCol absent from commit schema " +
        df.schema.fieldNames.mkString("[", ",", "]"))
    require(df.schema(specCol).dataType ==
      org.apache.spark.sql.types.LongType,
      s"spec column $specCol must be BIGINT (stats are long ranges), got " +
        df.schema(specCol).dataType.simpleString)
    val (rows, added, stats) = writeInstrumented(df, dir, runId, specCol)
    val m = manifestDir(dir)
    writeSnapshot(m, Snapshot(nextSeq(m), runId, added, rows, stats = stats,
      spec = specCol))
    rows
  }

  /** The shared write half of [[commit]] and [[stage]]: instrumented append
    * + lineage manifest + legacy adoption. Returns (rows, addedFiles,
    * perFileStats) for the caller to log as a snapshot or a staged batch. */
  private def writeInstrumented(df: DataFrame, dir: String, runId: String,
      statsCol: String = "doc_ord", writeManifest: Boolean = true)
      : (Long, Seq[String], Map[String, (Long, Long)]) = {
    val spark = df.sparkSession
    val filesBefore = parquetNames(dir)
    val m = manifestDir(dir)
    if (snapshotFiles(m).isEmpty && filesBefore.nonEmpty) {
      val legacyRows = filesBefore.toSeq
        .map(n => Parquet.footerStats(spark, s"$dir/$n", statsCol)._1).sum
      writeSnapshot(m, Snapshot(1, "legacy-adopt", filesBefore.toSeq,
        legacyRows))
    }
    df.write.mode(SaveMode.Append).parquet(dir)
    val added = (parquetNames(dir) -- filesBefore).toSeq.sorted
    // per-file rows + statsCol ranges from the footers (metadata-only)
    val perFile = added.map(n => n -> Parquet.footerStats(spark, s"$dir/$n", statsCol))
    if (writeManifest) {
      Files.createDirectories(m.toPath)
      val lines = perFile.map { case (name, (rows, range)) =>
        val part = """part-(\d+)-""".r.findFirstMatchIn(name)
          .map(_.group(1).toInt).getOrElse(-1)
        LogCodec.manifestLine(runId, part, rows, range)
      }
      Files.write(m.toPath.resolve(s"manifest-$runId.jsonl"),
        lines.mkString("\n").getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    }
    val rows = perFile.map(_._2._1).sum
    val stats = perFile.collect {
      case (n, (_, Some((mn, mx)))) => n -> (mn, mx)
    }.toMap
    (rows, added, stats)
  }

  // --------------------------------------------------- write-audit-publish
  /** A staged (unpublished) batch: data files on disk, no snapshot — the
    * Iceberg WAP pattern's audit branch. Invisible to every reader
    * ([[readAt]], [[resumeFilter]], [[snapshots]]) until [[publish]]. */
  final case class Staged(runId: String, files: Seq[String], rows: Long,
      stats: Map[String, (Long, Long)])

  private def stagedPath(dir: String, runId: String) =
    Paths.get(s"${dir}_manifest/staged-$runId.json")

  /** Write-audit-publish, step 1: land the batch's data files and a
    * `staged-<runId>.json` marker instead of a snapshot. The table's
    * readers cannot see the rows; [[readStaged]] gives the auditor the
    * would-be table; [[publish]] promotes, [[abandon]] discards. At 100 TB
    * this is how a risky backfill is validated without exposing partial or
    * wrong data to consumers — the data is written exactly once either
    * way. */
  def stage(df: DataFrame, dir: String, runId: String): Long = {
    require(!Files.exists(stagedPath(dir, runId)) &&
      !loggedRuns(manifestDir(dir))(runId),
      s"run $runId already staged or published at $dir")
    val (rows, added, stats) = writeInstrumented(df, dir, runId)
    Files.writeString(stagedPath(dir, runId),
      LogCodec.staged(Staged(runId, added.sorted, rows, stats)))
    rows
  }

  /** Staged batches awaiting audit. A staged marker whose runId already
    * has a snapshot is the debris of a publish that crashed between
    * snapshot write and marker cleanup — filtered out here (the publish
    * DID happen; the next publish/abandon call or vacuum clears it). */
  def staged(dir: String): Seq[Staged] =
    stagedIn(dir, loggedRuns(manifestDir(dir)))

  /** The staged markers of `dir` whose runId is not in `published`. */
  private def stagedIn(dir: String, published: Set[String]): Seq[Staged] =
    logEntries(manifestDir(dir), "staged-").collect {
      case (run, f) if !published(run) =>
        LogCodec.readStaged(Files.readString(f.toPath))
    }

  /** The unpublished staged batch `runId` of `dir`: its marker alone is
    * read, the log only listed. */
  private def stagedBatch(dir: String, runId: String): Staged = {
    val p = stagedPath(dir, runId)
    if (!Files.exists(p) || loggedRuns(manifestDir(dir))(runId))
      throw new IllegalArgumentException(s"no staged batch $runId at $dir")
    LogCodec.readStaged(Files.readString(p))
  }

  /** The auditor's view: the current committed table PLUS the staged
    * batch — what the table WOULD be after publish. Audit invariants
    * (row counts, no duplicate doc_ids, quality gates) run here before
    * any reader can see the rows. */
  def readStaged(spark: SparkSession, dir: String, runId: String): DataFrame = {
    val st = stagedBatch(dir, runId)
    val snaps = snapshots(dir)
    val batch = Parquet.read(spark, st.files.map(n => s"$dir/$n"): _*)
    if (snaps.isEmpty) batch
    else readLogAt(spark, dir, snaps, snaps.last.seq).unionByName(batch)
  }

  /** Write-audit-publish, step 3a: promote the staged batch to a real
    * snapshot — one metadata write; the data files don't move, and the
    * log is only listed. Idempotent against the crash window: if the
    * runId is already published, only the stale marker is cleaned up. */
  def publish(dir: String, runId: String): Long = {
    val m = manifestDir(dir)
    val rows = logEntries(m, "snapshot-").find(e => runOf(e._1) == runId) match {
      case Some((_, f)) => // only the marker is left
        LogCodec.readSnapshot(Files.readString(f.toPath)).rows
      case None =>
        val st = stagedBatch(dir, runId)
        writeSnapshot(m, Snapshot(nextSeq(m), runId, st.files, st.rows,
          stats = st.stats))
        st.rows
    }
    Files.deleteIfExists(stagedPath(dir, runId))
    rows
  }

  /** Write-audit-publish, step 3b: the audit failed — drop the marker and
    * the batch's data files. The committed table never saw the rows.
    * Returns the removed file names. */
  def abandon(dir: String, runId: String): Seq[String] = {
    val st = stagedBatch(dir, runId)
    Files.deleteIfExists(stagedPath(dir, runId))
    st.files.foreach(n => Files.deleteIfExists(Paths.get(s"$dir/$n")))
    st.files
  }

  /** Settles the runs a landing into several tables (`dirs`) left half
    * done. A run lands by staging in every table and then publishing in
    * each, so a runId still staged somewhere is decided by the others:
    * published in any table, it is published wherever it is still staged
    * (roll forward); published nowhere, it is abandoned everywhere.
    * Only names are listed while nothing is staged; a settled run's
    * markers are read, the logs never parsed. */
  def settle(dirs: Seq[String]): Unit = {
    val marked = dirs.map(d => d -> logEntries(manifestDir(d), "staged-").map(_._1))
    val runs = marked.flatMap(_._2).distinct
    if (runs.nonEmpty) {
      val published = dirs.map(d => loggedRuns(manifestDir(d)))
      runs.foreach { run =>
        val forward = published.exists(_(run))
        marked.foreach { case (d, ms) =>
          if (ms.contains(run)) { if (forward) publish(d, run) else abandon(d, run) }
        }
      }
    }
  }

  // ------------------------------------------------------------ log codec
  /** The log's file format, in one place: every record the log writes —
    * snapshots, staged markers, tags, branch bases, compaction records and
    * manifest lines — is rendered and parsed here with json4s. Records are
    * compact JSON with a fixed key order. Readers ignore unknown keys, and
    * a key that older writers did not emit decodes to its default. */
  private[pipeline] object LogCodec {
    import org.json4s._
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods

    private def render(j: JValue): String =
      JsonMethods.compact(JsonMethods.render(j))

    private def statsJson(stats: Map[String, (Long, Long)]): JValue =
      JObject(stats.toList.sortBy(_._1).map { case (f, (mn, mx)) =>
        f -> JArray(List(JLong(mn), JLong(mx)))
      })

    def snapshot(s: Snapshot): String = render(
      ("seq" -> s.seq) ~ ("run" -> s.runId) ~ ("rows" -> s.rows) ~
        ("full" -> s.full) ~ ("rollback_of" -> s.rollbackOf) ~
        ("spec" -> s.spec) ~ ("deletes" -> s.deletes) ~
        ("files" -> s.files) ~ ("stats" -> statsJson(s.stats)))

    def staged(s: Staged): String = render(
      ("run" -> s.runId) ~ ("rows" -> s.rows) ~ ("files" -> s.files) ~
        ("stats" -> statsJson(s.stats)))

    def tag(name: String, seq: Int): String =
      render(("name" -> name) ~ ("seq" -> seq))

    def branchBase(name: String, baseSeq: Int): String =
      render(("name" -> name) ~ ("base_seq" -> baseSeq))

    def compaction(runId: String, filesBefore: Int, filesAfter: Int,
        rows: Long): String =
      render(("run" -> runId) ~ ("files_before" -> filesBefore) ~
        ("files_after" -> filesAfter) ~ ("rows" -> rows))

    /** Frames without the stats column get `null` ord bounds. */
    def manifestLine(runId: String, partition: Int, rows: Long,
        range: Option[(Long, Long)]): String = {
      def bound(f: ((Long, Long)) => Long): JValue =
        range.fold[JValue](JNull)(r => JLong(f(r)))
      render(("run" -> runId) ~ ("partition" -> partition) ~ ("rows" -> rows) ~
        ("min_doc_ord" -> bound(_._1)) ~ ("max_doc_ord" -> bound(_._2)))
    }

    private def long(v: JValue): Option[Long] = v match {
      case JInt(n) => Some(n.toLong)
      case JLong(n) => Some(n)
      case _ => None
    }
    private def num(j: JValue, k: String): Option[Long] = long(j \ k)
    private def str(j: JValue, k: String): Option[String] = j \ k match {
      case JString(v) => Some(v)
      case _ => None
    }
    private def strs(j: JValue, k: String): Option[Seq[String]] = j \ k match {
      case JArray(vs) => Some(vs.collect { case JString(v) => v })
      case _ => None
    }
    private def need[T](k: String, v: Option[T]): T = v.getOrElse(
      throw new IllegalArgumentException(s"log record has no \"$k\" key"))

    /** The keys snapshots and staged markers share; files as written. */
    private def batch(j: JValue): Staged = {
      val stats = j \ "stats" match {
        case JObject(fs) => fs.flatMap {
          case (f, JArray(List(mn, mx))) =>
            for (lo <- long(mn); hi <- long(mx)) yield f -> (lo, hi)
          case _ => None
        }.toMap
        case _ => Map.empty[String, (Long, Long)]
      }
      Staged(need("run", str(j, "run")), need("files", strs(j, "files")),
        need("rows", num(j, "rows")), stats)
    }

    def readSnapshot(text: String): Snapshot = {
      val j = JsonMethods.parse(text)
      val b = batch(j)
      Snapshot(need("seq", num(j, "seq")).toInt, b.runId, b.files, b.rows,
        full = j \ "full" == JBool(true),
        deletes = strs(j, "deletes").getOrElse(Nil),
        stats = b.stats,
        // snapshots from before spec evolution tracked doc_ord
        spec = str(j, "spec").getOrElse("doc_ord"),
        rollbackOf = num(j, "rollback_of").map(_.toInt))
    }

    def readStaged(text: String): Staged = {
      val b = batch(JsonMethods.parse(text))
      b.copy(files = b.files.sorted)
    }

    def readTag(text: String): (String, Int) = {
      val j = JsonMethods.parse(text)
      need("name", str(j, "name")) -> need("seq", num(j, "seq")).toInt
    }

    def readBranchBase(text: String): Int =
      need("base_seq", num(JsonMethods.parse(text), "base_seq")).toInt
  }
}
