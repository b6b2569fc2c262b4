package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.ops.BatchView

/** Bucketed catalog home for the GROW-FOREVER incremental-state
  * artifacts (the SURVEY §7 "history keeps growing" risk) that a reader
  * consumes: paragraph fingerprints and the containment
  * document-frequency index. The operators that consume these states
  * ([[Dedup.paragraphDedupeIncremental]], [[Dedup.containmentJoinPrebuilt]])
  * take them as plain DataFrames; this job gives them a 100-TB storage
  * discipline (reference operational model: per-day idempotent view
  * jobs, BatchJobBase.scala:29-54):
  *
  *  - Each ingest day APPENDS its own partials into a day-partitioned,
  *    hash-bucketed table ([[BatchView.writeDayBucketed]]). A re-run day
  *    overwrites only its own partition — idempotent, never
  *    double-counts.
  *  - The read-back merge (the `union + groupBy-sum` the consumers need)
  *    is ONE bucketed scan + aggregate: the scan delivers
  *    `HashPartitioning(bucket key)`, which satisfies the aggregate's
  *    clustering on the key — NO exchange, regardless of how many
  *    days accumulated. The "union" of days is the multi-file scan
  *    itself; a DataFrame union would discard the partitioning and
  *    re-shuffle the full history every run (plan-pinned in
  *    HistoryStateJobSpec).
  *
  * State sizes stay artifact-shaped: fingerprints one 32-hex row per
  * distinct paragraph, the df index one row per distinct shingle — tiny
  * next to the corpus, and each of them sum- or set-mergeable.
  *
  * Template-removal state ([[Dedup.templateState]]) has no stored home:
  * no reader merges it back, and [[Dedup.stripTemplatesIncremental]]
  * takes its history state from the caller.
  */
object HistoryStateJob {

  /** Retired table names: no longer written, kept so a caller can drop
    * them from a warehouse an older version filled. */
  val PresenceTable = "graft_template_presence"
  val SizesTable = "graft_template_sizes"
  val ParagraphFpTable = "graft_paragraph_fps"
  val ContainDfTable = "graft_containment_df"
  val ContainSizesTable = "graft_containment_sizes"

  /** Hash buckets of every state table. */
  private val Buckets = 32

  /** Compute one day's state partials from that day's raw docs and
    * append them (paragraph fps for paragraph dedup, shingle df + per-doc
    * sizes for containment, over word 3-gram shingles). Bucket keys are
    * each artifact's merge/probe key. `groupCol` is unused; it stays so
    * positional callers keep compiling. */
  def appendDay(spark: SparkSession, dayDocs: DataFrame, day: String,
                textCol: String, idCol: String, groupCol: String): Unit = {
    val tagged = (df: DataFrame) => df.withColumn("day", lit(day))
    BatchView.writeDayBucketed(tagged(Dedup.paragraphFps(dayDocs, textCol, idCol)),
      ParagraphFpTable, "day", Seq("fp"), Buckets)
    val rows = Dedup.shingleRows(dayDocs, textCol, idCol, Nil, 3)
      .localCheckpoint(eager = false) // two consumers below — shingle once
    val (df, sz) = Dedup.corpusContainmentIndex(rows, idCol)
    BatchView.writeDayBucketed(tagged(df), ContainDfTable, "day",
      Seq("g"), Buckets)
    BatchView.writeDayBucketed(tagged(sz), ContainSizesTable, "day",
      Seq(idCol), Buckets)
  }

  /** Distinct history paragraph fingerprints over every stored day — the
    * state [[Dedup.paragraphDedupeIncremental]] consumes. The distinct
    * is a groupBy on the bucket key: exchange-free. */
  def readParagraphFps(spark: SparkSession): DataFrame =
    spark.table(ParagraphFpTable).select(col("fp")).distinct()

  /** Containment index (per-shingle df, per-doc shingle counts) over
    * every stored day — the artifacts [[Dedup.containmentJoinPrebuilt]]
    * consumes. df partials sum-merge exchange-free on the bucketed `g`;
    * doc sizes never repeat across disjoint days, so the sum is a
    * pass-through that keeps the same merged shape. */
  def readContainmentIndex(spark: SparkSession, idCol: String): (DataFrame, DataFrame) =
    (spark.table(ContainDfTable).groupBy(col("g")).agg(sum(col("df")).as("df")),
     spark.table(ContainSizesTable).groupBy(col(idCol))
       .agg(sum(col("n_sh")).as("n_sh")))
}
