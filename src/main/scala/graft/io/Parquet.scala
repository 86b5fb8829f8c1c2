package graft.io

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet footers read on the driver, and the one plain parquet read of
  * the library built on them: a table's schema is metadata, so planning a
  * read of it never scans the data. */
object Parquet {

  /** The one plain parquet read: `paths` (files, or directories of files)
    * read under the schema Spark's own inference gives, learnt from one
    * footer ([[footerSchema]]), so the frame is the same but building it
    * runs no inference job. It is Spark's inferring read where that schema
    * is not at hand: schema merging is on, or a directory holds
    * subdirectories or summary files. Reads with options, partition
    * discovery and timed scans use Spark's reader directly. */
  private[graft] def read(spark: SparkSession, paths: String*): DataFrame =
    footerSchema(spark, paths) match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  /** The schema Spark infers for `paths` when it does not merge schemas,
    * taken from the footer Spark's inference reads: that of the first data
    * file in path order. It is the Spark schema the writer stored in the
    * footer, or, in a file another writer wrote, the conversion of the
    * file's parquet schema under the session's settings. None where Spark
    * would read more than that footer, or where the footer cannot be read. */
  private def footerSchema(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    val merging = spark.conf.get("spark.sql.parquet.mergeSchema", "false").toBoolean
    if (paths.isEmpty || merging) None
    else scala.util.Try {
      val root = new HPath(paths.min)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // a glob (an escaped name, too) resolves as Spark resolves it
      val first = Option(fs.globStatus(root)).flatMap(_.headOption).flatMap { st =>
        if (!st.isDirectory) Some(st.getPath)
        else {
          val children = fs.listStatus(st.getPath).toSeq
          if (children.exists(c => c.isDirectory ||
              Set("_metadata", "_common_metadata")(c.getPath.getName))) None
          else children.map(_.getPath).filter { p =>
            !p.getName.startsWith("_") && !p.getName.startsWith(".")
          }.minByOption(_.toString)
        }
      }
      first.map { f =>
        withFooter(spark, f)(footer => ParquetFileFormat.readSchemaFromFooter(
          new Footer(f, footer), new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
      }
    }.toOption.flatten
  }

  /** Footer metadata of one parquet file: (rowCount, Option(min, max) of
    * `statsCol` across its row groups). Metadata-only — no Spark job, no
    * data pages read. Stats are absent (conservative: the file is never
    * pruned) when the column is missing, non-long, or has no non-null
    * values. */
  private[graft] def footerStats(spark: SparkSession, path: String, statsCol: String)
      : (Long, Option[(Long, Long)]) = {
    import scala.jdk.CollectionConverters._
    withFooter(spark, new HPath(path)) { footer =>
      val blocks = footer.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val ranges = blocks.flatMap { b =>
        b.getColumns.asScala
          .find(_.getPath.toDotString == statsCol)
          .flatMap { c =>
            val s = c.getStatistics
            if (s == null || !s.hasNonNullValue) None
            else (s.genericGetMin, s.genericGetMax) match {
              case (mn: java.lang.Long, mx: java.lang.Long) =>
                Some((mn.longValue, mx.longValue))
              case _ => None
            }
          }
      }
      val range =
        if (ranges.isEmpty) None
        else Some((ranges.map(_._1).min, ranges.map(_._2).max))
      (rows, range)
    }
  }

  /** The footer of one parquet file, read on the driver with the session's
    * Hadoop settings (what `spark.hadoop.*` sets, such as object-store
    * credentials) — the settings Spark's own reads and writes use. The
    * read options come from the same settings: the one-argument `open`
    * builds them from a new `Configuration`, which parses the Hadoop
    * default resources again on every footer read. */
  private def withFooter[T](spark: SparkSession, path: HPath)(f: ParquetMetadata => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf, path).build())
    try f(r.getFooter) finally r.close()
  }
}
