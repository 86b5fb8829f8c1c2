package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col

/** The table verbs and the driver-table reads learn a frame's schema from
  * one parquet footer, so building a frame runs no Spark job, and the
  * schema is the one Spark's own inference gives. */
class FooterReadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toString + "/t"

  private def inferred(dir: String, files: Seq[String]) =
    spark.read.parquet(files.map(n => s"$dir/$n"): _*).schema

  test("building readAt, readStaged and readRange frames runs no job; their " +
      "schemas are Spark's inferred ones") {
    // a spec-evolved table: a second spec column from the second commit on
    val evolved = freshDir("footer-spec")
    def frame(lo: Long, hi: Long, off: Long) =
      spark.range(lo, hi + 1).select(col("id").as("doc_ord"),
        (col("id") + off).as("temp"), col("id").cast("string").as("doc_id"))
        .repartitionByRange(2, col("doc_ord"))
    Checkpointing.commit(frame(1, 50, 0), evolved, "old")
    Checkpointing.commitWithSpec(frame(51, 100, 1000), evolved, "new", "temp")
    Checkpointing.stage(frame(101, 120, 2000), evolved, "staged")
    // a table whose head carries a delete set
    val deleted = freshDir("footer-del")
    Checkpointing.commit(frame(1, 30, 0), deleted, "c1")
    Checkpointing.commit(frame(31, 60, 0), deleted, "c2")
    Checkpointing.deleteWhere(Seq("3", "40").toDF("doc_id"), deleted, "d3")
    // a staged batch on a table with no commits
    val stageOnly = freshDir("footer-stage-only")
    Checkpointing.stage(frame(1, 5, 0), stageOnly, "s1")

    val (frames, jobs, _) = TestSpark.jobsOf(Seq(
      "readAt evolved" -> Checkpointing.readAt(spark, evolved, 2),
      "readRange evolved" ->
        Checkpointing.readRange(spark, evolved, 2, 1051L, 1070L, spec = "temp"),
      "readStaged evolved" -> Checkpointing.readStaged(spark, evolved, "staged"),
      "readAt deleted" -> Checkpointing.readAt(spark, deleted, 3),
      "readRange deleted" -> Checkpointing.readRange(spark, deleted, 3, 1L, 20L),
      "readStaged nothing committed" ->
        Checkpointing.readStaged(spark, stageOnly, "s1")).toMap)
    assert(jobs.isEmpty, jobs)

    val snaps = Checkpointing.snapshots(evolved)
    val evolvedFiles = snaps.flatMap(_.files)
    val stagedFiles = Checkpointing.staged(evolved).flatMap(_.files)
    val deletedFiles = Checkpointing.snapshots(deleted).flatMap(_.files)
    val kept = Checkpointing.pruneInfo(evolved, 2, 1051L, 1070L, spec = "temp")._1
    val keptDeleted = Checkpointing.pruneInfo(deleted, 3, 1L, 20L)._1
    Seq(
      "readAt evolved" -> inferred(evolved, evolvedFiles),
      "readRange evolved" -> inferred(evolved, kept),
      "readStaged evolved" -> inferred(evolved, evolvedFiles ++ stagedFiles),
      "readAt deleted" -> inferred(deleted, deletedFiles),
      "readRange deleted" -> inferred(deleted, keptDeleted),
      "readStaged nothing committed" -> inferred(stageOnly,
        Checkpointing.staged(stageOnly).flatMap(_.files))
    ).foreach { case (name, want) =>
      assert(frames(name).schema == want, name)
    }
    assert(frames("readAt deleted").count() == 58)
    assert(frames("readRange evolved").count() == 20)
    assert(frames("readStaged nothing committed").count() == 5)
  }

  test("every driver table reads under Spark's inferred schema, with no job") {
    val tables = new java.io.File(TestSpark.sfDir).list().filter(_.endsWith(".parquet"))
      .sorted.map(n => s"${TestSpark.sfDir}/$n").toSeq
    assert(tables.nonEmpty)
    val (frames, jobs, _) = TestSpark.jobsOf(tables.map(graft.io.Parquet.read(spark, _)))
    assert(jobs.isEmpty, jobs)
    tables.zip(frames).foreach { case (path, df) =>
      assert(df.schema == spark.read.parquet(path).schema, path)
    }
  }

  test("a footer read goes through the session's Hadoop settings") {
    val hc = spark.sparkContext.hadoopConfiguration
    val dir = freshDir("footer-conf")
    OpenCountingFileSystem.opened.clear()
    hc.set("fs.file.impl", classOf[OpenCountingFileSystem].getName)
    hc.setBoolean("fs.file.impl.disable.cache", true)
    val rows = try Checkpointing.commit(
        spark.range(0, 40, 1, 2).select(col("id").as("doc_ord"),
          col("id").cast("string").as("doc_id")), dir, "c1")
      finally {
        hc.unset("fs.file.impl")
        hc.unset("fs.file.impl.disable.cache")
      }
    // the write only creates files: each added file is opened by the
    // footer read that takes its row count and ord range
    val files = Checkpointing.snapshots(dir).head.files
    assert(rows == 40 && files.size == 2)
    import scala.jdk.CollectionConverters._
    val opened = OpenCountingFileSystem.opened.asScala.toSeq
      .map(p => new java.io.File(p).getName).filter(files.contains)
    assert(opened.sorted == files.sorted)
  }

  test("a footer read takes its read options from the session's Hadoop " +
      "settings") {
    val hc = spark.sparkContext.hadoopConfiguration
    val dir = freshDir("footer-options")
    spark.range(0, 10, 1, 1).write.parquet(dir)
    val file = new java.io.File(dir).list().filter(_.endsWith(".parquet")).head
    RecordingDecryptionFactory.asked.clear()
    hc.set("parquet.crypto.factory.class",
      classOf[RecordingDecryptionFactory].getName)
    // the frame is built from the footer alone: no job reads the file
    val df = try graft.io.Parquet.read(spark, dir)
      finally hc.unset("parquet.crypto.factory.class")
    import scala.jdk.CollectionConverters._
    assert(RecordingDecryptionFactory.asked.asScala.toSeq
      .map(p => new java.io.File(p).getName) == Seq(file))
    assert(df.count() == 10)
  }
}

/** A decryption-properties factory that records the files it is asked
  * about and leaves them plaintext. */
class RecordingDecryptionFactory
    extends org.apache.parquet.crypto.DecryptionPropertiesFactory {
  override def getFileDecryptionProperties(
      conf: org.apache.hadoop.conf.Configuration,
      path: org.apache.hadoop.fs.Path)
      : org.apache.parquet.crypto.FileDecryptionProperties = {
    RecordingDecryptionFactory.asked.add(path.toUri.getPath)
    null
  }
}

object RecordingDecryptionFactory {
  val asked = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** The local file system, recording the paths it opens. */
class OpenCountingFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    OpenCountingFileSystem.opened.add(f.toUri.getPath)
    super.open(f, bufferSize)
  }
}

object OpenCountingFileSystem {
  val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
