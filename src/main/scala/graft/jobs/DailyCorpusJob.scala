package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.BatchView
import graft.text.Corpus

/** The daily corpus-ingest topology, end to end — the operational shape
  * the incremental operators exist for (reference's operational model:
  * per-day idempotent view jobs, BatchJobBase.scala:29-54 + the
  * Pioneer dedupe job's history pattern, PioneerOnlineNewsDedupe
  * .scala:114-117 — re-expressed over this library's incremental clean):
  *
  *   1. read the day's raw docs;
  *   2. `Corpus.cleanIncremental` against the ALREADY-CLEAN history —
  *      quality gate, exact dedup (in-day + vs history), near-dup
  *      clusters (in-day + vs history); history streams once, is never
  *      self-joined, never re-cleaned;
  *   3. append the day's survivors to the day-partitioned history view
  *      with a parquet BLOOM FILTER on the fingerprint column — the next
  *      day's point probes skip row groups ([[BatchView.write]]).
  *
  * Each day is one idempotent job: dynamic partition overwrite means a
  * failed run re-executes without duplicating survivors, and the history
  * read always reflects exactly the days that committed. At corpus scale
  * swap step 2 for `cleanIncrementalPrebuilt` over a persisted
  * [[Corpus.HistoryIndex]] (bucketed by shingle hash — exchange-free
  * history joins) refreshed on its own cadence; the job shape is
  * unchanged, which is the point of the shared `cleanIncrementalCore`.
  */
object DailyCorpusJob {

  val HistoryView = "corpus_history"

  /** History survivors from days strictly BEFORE `day` (empty frame
    * until a day has committed a partition, asked of the file system so
    * day one reads nothing and logs no failed query). The `day <`
    * predicate prunes partitions, and it is what makes a day re-run
    * idempotent: the re-run never sees its own previous output as
    * history. */
  def readHistory(spark: SparkSession, base: String, version: Int,
                  textCol: String, idCol: String, day: String): DataFrame = {
    val days = new org.apache.hadoop.fs.Path(
      BatchView.viewPath(base, HistoryView, version), "day=*")
    val fs = days.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (Option(fs.globStatus(days)).exists(_.nonEmpty))
      BatchView.read(spark, base, HistoryView, version)
        .where(col("day") < day)
        .select(col(idCol), col(textCol))
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(idCol,
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField(textCol,
            org.apache.spark.sql.types.StringType))))
  }

  /** Run one day: clean `dayDocs` against history, append survivors
    * (with their text, for future history passes) to the view's `day`
    * partition. Returns the day's verdict frame (every incoming doc with
    * its stage flags — the audit record). */
  def runDay(spark: SparkSession, dayDocs: DataFrame, day: String,
             base: String, version: Int, textCol: String, idCol: String,
             stopwords: Seq[String], n: Int = 3,
             threshold: Double = 0.5): DataFrame = {
    val history = readHistory(spark, base, version, textCol, idCol, day)
    val verdicts = Corpus.cleanIncremental(dayDocs, history, textCol, idCol,
      stopwords, n, threshold)
    val survivors = dayDocs
      .join(verdicts.where(col("keep")).select(col(idCol)), Seq(idCol))
      .select(col(idCol), col(textCol),
        graft.text.TextOps.fingerprint(col(textCol)).as("fp"),
        lit(day).as("day"))
    // bloom on the fingerprint: tomorrow's exact-dedup probe is a point
    // lookup on fp, and min/max stats are useless on a hash
    BatchView.write(survivors, base, HistoryView, version, Seq("day"),
      bloomFilterCols = Seq("fp"))
    verdicts
  }
}
