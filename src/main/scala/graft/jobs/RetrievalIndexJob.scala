package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.text.Retrieval

/** Daily BM25 index maintenance — the operational form of
  * [[Retrieval.bm25IndexMerge]], mirroring [[DailyCorpusJob]]'s shape
  * for the retrieval artifacts. ALL FOUR tables are day-partitioned and
  * written with DYNAMIC PARTITION OVERWRITE (the same idempotence
  * discipline as [[graft.ops.BatchView.write]]):
  *
  *   - postings `(token, doc_id, tf, day)` — bucketed by `token` WITHIN
  *     the day partitions, so every probe join still plans exchange-free
  *     on the corpus side (spec-verified);
  *   - dl `(doc_id, dl, day)` — doc sets are disjoint across days;
  *   - df `(token, df, day)` — the day's vocab-sized rollup; the global
  *     df is re-aggregated at read time (vocab-sized per day — cheap
  *     next to the postings join; roll old days into one base partition
  *     when the day count grows);
  *   - stats `(n, s, day)` — one row per day, summed at read.
  *
  * Re-run semantics: `runDay(day)` overwrites exactly that day's
  * partition in each table — a re-run of a failed or corrected day
  * REPLACES its rows instead of doubling tf/df/dl (spec-pinned: same
  * day twice scores identically). A crash between the four writes
  * leaves some tables missing the day; [[daysIngested]] makes the gap
  * detectable and re-running the day repairs all four — per-day
  * recovery is idempotent, no completion marker needed. [[score]]
  * `require`s day-set agreement so a partial ingest fails loudly
  * instead of silently mis-scaling idf/avgdl.
  */
object RetrievalIndexJob {

  val PostingsTable = "bm25_postings"
  val DfTable = "bm25_df"
  val DlTable = "bm25_dl"
  val StatsTable = "bm25_stats"

  private val AllTables = Seq(PostingsTable, DfTable, DlTable, StatsTable)

  /** Ingest one day's docs into the persisted index artifacts —
    * idempotent per day (dynamic partition overwrite). Postings bucket
    * 64 ways on `token`. */
  def runDay(spark: SparkSession, dayDocs: DataFrame, day: String,
             textCol: String, idCol: String): Unit = {
    val (post, dfreq, dl, stats) = Retrieval.bm25Index(dayDocs, textCol, idCol)
    // `insertInto` takes no per-write options, so dynamic overwrite must go
    // through the session conf — save and RESTORE it, or a later unrelated
    // INSERT OVERWRITE would silently keep stale partitions
    val overwriteModeKey = "spark.sql.sources.partitionOverwriteMode"
    val prevMode = spark.conf.getOption(overwriteModeKey)
    spark.conf.set(overwriteModeKey, "dynamic")
    def writeDay(df: DataFrame, table: String, bucketed: Boolean): Unit = {
      val withDay = df.withColumn("day", lit(day))
      if (!spark.catalog.tableExists(table)) {
        val w = withDay.write.format("parquet").partitionBy("day")
        (if (bucketed) w.bucketBy(64, "token").sortBy("token") else w)
          .saveAsTable(table)
      } else {
        // insertInto is position-based: data columns then the partition
        // column, exactly withDay's layout; mode=overwrite + dynamic
        // partitionOverwriteMode rewrites ONLY this day's partition and
        // keeps the catalog bucket spec on the written files
        withDay.write.mode("overwrite").insertInto(table)
      }
    }
    try {
      writeDay(post, PostingsTable, bucketed = true)
      writeDay(dl, DlTable, bucketed = false)
      writeDay(dfreq, DfTable, bucketed = false)
      writeDay(stats, StatsTable, bucketed = false)
    } finally prevMode match {
      case Some(v) => spark.conf.set(overwriteModeKey, v)
      case None    => spark.conf.unset(overwriteModeKey)
    }
  }

  /** Days present per table — the partial-ingest detector: a crash
    * between [[runDay]]'s four writes shows up as a day missing from
    * the later tables; re-running that day repairs it. */
  def daysIngested(spark: SparkSession): Map[String, Set[String]] =
    AllTables.map { t =>
      val days =
        if (!spark.catalog.tableExists(t)) Set.empty[String]
        else spark.sql(s"SHOW PARTITIONS $t").collect()
          .map(_.getString(0).stripPrefix("day=")).toSet
      t -> days
    }.toMap

  /** Score a query suite against the persisted artifacts — no raw-text
    * touch, exchange-free on the postings side. Fails loudly if the
    * tables disagree on ingested days (a partial [[runDay]]): scoring
    * against postings whose day is missing from df/stats silently
    * mis-scales every idf and avgdl. */
  def score(spark: SparkSession, queries: DataFrame,
            textCol: String, idCol: String): DataFrame = {
    val days = daysIngested(spark)
    require(days.values.toSet.size == 1,
      s"index tables disagree on ingested days ($days) — a prior runDay " +
        "crashed mid-write; re-run the missing day(s) to repair")
    Retrieval.bm25OddsScoresPrebuilt(
      Retrieval.queryTerms(queries, textCol, idCol),
      spark.table(PostingsTable).drop("day"),
      spark.table(DfTable).groupBy(col("token")).agg(sum(col("df")).as("df")),
      spark.table(DlTable).drop("day"),
      spark.table(StatsTable).agg(sum(col("n")).as("n"), sum(col("s")).as("s")))
  }
}
