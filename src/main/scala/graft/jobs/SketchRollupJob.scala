package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.BatchView
import graft.udafs.Sketches

/** Daily SKETCH rollup — the operational capstone of the sketch-artifact
  * discipline ([[graft.ops.Timeseries]], [[graft.udafs.Sketches]],
  * [[graft.ops.Audience]]): one idempotent day-partitioned table whose
  * single row per day carries every mergeable summary a dashboard or
  * monitor replays WITHOUT rescanning raw events —
  *
  *   - `hll_users`  (binary) — DataSketches HLL of the user column:
  *     distinct actives over ANY day range via `hll_union_agg`;
  *   - `kll_value`  (binary) — KLL sketch of the value column: any
  *     quantile over any day range via `kll_merge_agg`;
  *   - `n_events`   (long)   — exact row count (sums are trivially
  *     mergeable; kept beside the sketches for rate denominators).
  *
  * The shape mirrors [[DailyCorpusJob]]/[[RetrievalIndexJob]]:
  * `runDay` writes exactly one day partition with dynamic partition
  * overwrite ([[BatchView.write]]), so a failed or corrected day re-runs
  * idempotently — sketches REPLACE, never double-merge. At 100 TB the
  * point is the asymmetry: the raw day is petabyte-scale and scanned
  * once; the artifact row is kilobytes forever after, and every
  * "actives last N days" / "p99 over the quarter" query is an
  * N-row merge. Readers take an inclusive day range and push the range
  * predicate into the partition pruning. */
object SketchRollupJob {

  val ViewName = "sketch_daily"

  /** View version, and the Misra–Gries size: the read-side merge must
    * use the size the write side summarized with. */
  private val Version = 1
  private val MgK = 64

  /** Ingest one day's events — idempotent per day. Round 11 widens the
    * row to the FULL mergeable-summary family: beside HLL (distinct)
    * and KLL (quantiles), `mg_keys` (Misra–Gries map — the heavy-key
    * CANDIDATES over any day range via `mgMergeAgg`) and `agms_keys`
    * (AGMS signed-counter sketch — join-size planning between any two
    * ranges via `JoinSize.estimate`, counter-wise exact merges). The
    * key stream pre-collapses to exact per-key counts first (codegen'd,
    * map-side combined), then both key summaries ride ONE aggregate. */
  def runDay(spark: SparkSession, dayEvents: DataFrame, day: String,
             base: String, userCol: String, valueCol: String): Unit = {
    val sketches = dayEvents.agg(
      Sketches.hllSketch(col(userCol)).as("hll_users"),
      kll_sketch_agg_double(col(valueCol).cast("double"), lit(200))
        .as("kll_value"),
      count(lit(1)).as("n_events"))
    val keyed = dayEvents
      .groupBy(col(userCol).cast("string").as("__k"))
      .agg(count(lit(1)).as("__n"))
      .agg(graft.udafs.FreqItems.mgAgg(col("__k"), col("__n"), MgK)
          .as("mg_keys"),
        graft.udafs.JoinSize.agmsAgg(col("__k"), col("__n"), 5, 64, 7)
          .as("agms_keys"))
    val row = sketches.crossJoin(broadcast(keyed))
      .withColumn("day", lit(day))
    BatchView.write(row, base, ViewName, Version, partitionCols = Seq("day"))
  }

  /** The artifact table, filtered to an inclusive day range
    * (partition-pruned — `day` is the partition column). */
  def read(spark: SparkSession, base: String, fromDay: String,
           toDay: String, version: Int = Version): DataFrame =
    BatchView.read(spark, base, ViewName, version)
      .where(col("day") >= fromDay && col("day") <= toDay)

  /** Distinct actives over the day range: an N-row HLL union. */
  def activeUsers(spark: SparkSession, base: String, fromDay: String,
                  toDay: String): DataFrame =
    read(spark, base, fromDay, toDay)
      .agg(Sketches.hllCardinality(Sketches.hllMerge(col("hll_users")))
          .as("active_users"),
        sum(col("n_events")).as("n_events"))

  /** Heavy-key candidates over the day range: an N-row Misra–Gries
    * merge — the "who dominated this week" question from kilobyte
    * artifacts, no watchlist needed, merged at the write side's k. */
  def heavyKeys(spark: SparkSession, base: String, fromDay: String,
                toDay: String): DataFrame =
    read(spark, base, fromDay, toDay)
      .agg(graft.udafs.FreqItems.mgMergeAgg(col("mg_keys"), MgK).as("__m"))
      .select(explode(col("__m")).as(Seq("key", "est")))

  /** The merged AGMS key sketch over a day range (counter-wise exact
    * by linearity) — feed two of these to `JoinSize.estimate` to size
    * a join between the ranges before running it. */
  def keySketch(spark: SparkSession, base: String, fromDay: String,
                toDay: String, version: Int = 1, agmsDepth: Int = 5,
                agmsWidth: Int = 64, agmsSeed: Int = 7): Array[Byte] =
    read(spark, base, fromDay, toDay, version)
      .agg(graft.udafs.JoinSize.agmsMergeAgg(col("agms_keys"),
        agmsDepth, agmsWidth, agmsSeed).as("__s"))
      .head().getAs[Array[Byte]]("__s")
}
