package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Strings

/** Source-layer shims (SURVEY.md §2.1 S1/S4, §2.2 P2, §2.7 F13, and the
  * `Partitioning` dimension→path model).
  */
object Sources {

  /** S4 — pluggable-format load (the reference's new-pipeline shim reads
    * `format` from config). Reference: utils/DatasetShim.scala:40. */
  def load(spark: SparkSession, format: String, path: String,
           options: Map[String, String] = Map.empty): DataFrame =
    spark.read.format(format).options(options).load(path)

  /** P2 — fold attribute equalities into one predicate Column.
    * Reference: utils/DatasetShim.scala:52-57. */
  def dimensionPredicate(dims: Map[String, String]): Column =
    dims.foldLeft(lit(true)) { case (acc, (k, v)) => acc && col(k) === v }

  /** S1-equivalent scan: partitioned source + dimension predicates; the
    * reference prunes S3 prefixes driver-side, Catalyst prunes partition
    * directories here (same effect, no custom source needed). */
  def dimensionedScan(spark: SparkSession, path: String,
                      dims: Map[String, String]): DataFrame =
    spark.read.parquet(path).where(dimensionPredicate(dims))
}

/** Dimension→partition-path model (reference:
  * src/main/scala/com/mozilla/telemetry/Partitioning.scala:9-38): camelCase
  * dimension names map to `snake_case` (+ suffix) path keys, producing
  * Hive-style partition paths. */
case class PartitionDimensions(dims: Seq[(String, String)], suffix: String = "_s3") {
  /** `submissionDate=20180607` → `submission_date_s3=20180607` path segment. */
  def pathFor(): String =
    dims.map { case (k, v) => s"${Strings.snakify(k)}$suffix=$v" }.mkString("/")

  def columns: Seq[String] = dims.map { case (k, _) => s"${Strings.snakify(k)}$suffix" }
}

object PartitionDimensions {
  /** Parse a `k1=v1/k2=v2` spec (the reference parses an equivalent JSON
    * dimension spec). */
  def parse(spec: String, suffix: String = "_s3"): PartitionDimensions =
    PartitionDimensions(
      spec.split("/").toSeq.filter(_.nonEmpty).map { seg =>
        val Array(k, v) = seg.split("=", 2)
        (k, v)
      }, suffix)
}
