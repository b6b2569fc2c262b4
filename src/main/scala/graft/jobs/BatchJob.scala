package graft.jobs

import java.time.Clock

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.BatchView
import graft.time.TimeNorm

/** Runnable batch-view job surface (reference: views/BatchJobBase.scala:29-54
  * + each view's `main`, e.g. SyncView.scala:40-108).
  *
  * The reference's views are `main()`s that parse `--from/--to` (defaulting
  * to yesterday), loop over the day range, and for each day compose
  * read → transform → day-partition overwrite-write. This trait reproduces
  * that contract over [[BatchView]]'s dynamic-partition-overwrite writer —
  * a failed backfill re-run stays idempotent per day, and each day is an
  * independent Spark job (the reference's operational model).
  *
  * Flag parsing is hand-rolled (`--from 20240101` or `--from=20240101`):
  * the reference uses Scallop, which is not on this build's classpath, and
  * four flags don't justify a dependency.
  */
trait BatchJob {

  def jobName: String
  def viewVersion: Int = 1

  /** Day-partition column added by the runner (reference partitions views
    * on `submission_date_s3`, SyncView.scala:96-100). */
  def dayColumn: String = "submission_date_s3"

  /** One day's rows, WITHOUT the day column (the runner appends it). */
  def transform(spark: SparkSession, inputDir: String, day: String): DataFrame

  /** Injectable for tests (reference does the same, BatchJobBaseTest). */
  def clock: Clock = Clock.systemUTC()

  final case class Args(from: String, to: Option[String],
                        input: String, output: String)

  /** `--from yyyyMMdd [--to yyyyMMdd] --input dir --output dir`;
    * `from` defaults to yesterday, like the reference's BaseOpts. */
  final def parseArgs(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap ++ argv.collect {
      case a if a.startsWith("--") && a.contains("=") =>
        val Array(k, v) = a.stripPrefix("--").split("=", 2); k -> v
    }.toMap
    Args(
      from = kv.getOrElse("from", TimeNorm.yesterdayAsYYYYMMDD(clock)),
      to = kv.get("to"),
      input = kv.getOrElse("input", sys.error("missing --input")),
      output = kv.getOrElse("output", sys.error("missing --output")))
  }

  /** Per-day loop: transform, stamp the day column, overwrite that day's
    * partition only. */
  final def run(spark: SparkSession, args: Args): Unit =
    for (day <- TimeNorm.datesBetween(args.from, args.to, clock)) {
      val rows = transform(spark, args.input, day)
        .withColumn(dayColumn, org.apache.spark.sql.functions.lit(day))
      BatchView.write(rows, args.output, jobName, viewVersion, Seq(dayColumn))
    }

  def main(argv: Array[String]): Unit = {
    val spark = graft.GraftSession.cluster(jobName)
    try run(spark, parseArgs(argv)) finally spark.stop()
  }
}
