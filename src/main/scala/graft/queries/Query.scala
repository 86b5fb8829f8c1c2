package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: its name, its Spark plan over the driver's tables in
  * a directory, and the DuckDB SQL the driver checks the plan's output
  * against on the same tables. */
final case class Query(name: String, plan: (SparkSession, String) => DataFrame,
    oracleSql: String)

object Query {
  /** The union of `families`, in order. A name declared twice is refused:
    * either declaration would silently shadow the other. */
  def catalogue(families: Seq[Query]*): Seq[Query] = {
    val all = families.flatten
    val twice = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(twice.isEmpty, s"queries declared twice: ${twice.toSeq.sorted.mkString(", ")}")
    all
  }
}
