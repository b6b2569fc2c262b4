package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pre-flight skew diagnostics — the questions you ask BEFORE keying a
  * 100 TB shuffle: which values of a prospective join/group key are hot,
  * and how unbalanced is the current partitioning.
  *
  * Both are single-aggregate passes. Heavy-key counting is exact
  * (`groupBy(key).count` — map-side partials absorb the very hot keys
  * being hunted) with a TakeOrdered top-k, the same shape as the vocab
  * queries; swap in `approx_top_k` when the key is unbounded-cardinality
  * and ±error is acceptable. */
object Diagnostics {

  /** Top-`k` heaviest values per candidate key column, with counts and
    * corpus fraction: one row (column, value, n, frac) per heavy value,
    * heaviest first. Values are rendered as strings (one report covers
    * mixed-type columns); nulls report as the string "NULL" so they are
    * visible — a null-heavy key is the classic silent straggler. */
  def skewReport(df: DataFrame, keyCols: Seq[String], k: Int = 20): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    val total = df.count().toDouble
    keyCols.map { c =>
      df.groupBy(coalesce(col(c).cast("string"), lit("NULL")).as("value"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("value"))
        .limit(k)
        .select(lit(c).as("column"), col("value"), col("n"),
          (col("n") / lit(total)).as("frac"))
    }.reduce(_ unionByName _)
  }

  /** Rows per physical partition of the CURRENT distribution — run after
    * a repartition/join to see whether AQE left stragglers. One row per
    * non-empty partition: (partition, n). */
  def partitionStats(df: DataFrame): DataFrame =
    df.groupBy(spark_partition_id().as("partition"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc)

  /** One-row join-skew pre-flight — "will this key explode a shuffle"
    * answered BEFORE the join runs: per-key counts collapse first
    * (codegen'd, map-side combined), then ONE aggregate computes
    *
    *  - `n_rows`, `n_keys`, `max_count` — volume, cardinality, and the
    *    worst key's weight, all exact;
    *  - `top_keys` — the k = 32 Misra–Gries candidate map naming the skewed
    *    keys (every key above n_rows/(k+1) guaranteed present — this is
    *    what [[skewReport]]'s exact top-k gives up at unbounded key
    *    cardinality: MG state is ≤ k counters per task, no key-sorted
    *    pass);
    *  - `p999_est` — the typical-tail per-key count via KLL (context
    *    for the max);
    *  - `skew_ratio_permille` — max_count·1000 div (n_rows div n_keys),
    *    how many times the uniform share the worst key carries.
    *
    * A ratio in the thousands says salt the join
    * ([[Relational.saltedJoin]]) or pre-aggregate; the MG map says
    * WHICH keys to split. Cheap enough to leave in every run. */
  def keySkewReport(df: DataFrame, keyCol: String): DataFrame =
    df.where(col(keyCol).isNotNull)
      .groupBy(col(keyCol).cast("string").as("__k"))
      .agg(count(lit(1)).as("__n"))
      .agg(
        sum(col("__n")).as("n_rows"),
        count(lit(1)).as("n_keys"),
        max(col("__n")).as("max_count"),
        graft.udafs.FreqItems.mgAgg(col("__k"), col("__n"), 32)
          .as("top_keys"),
        kll_sketch_agg_double(col("__n").cast("double"), lit(200))
          .as("__kll"))
      .select(col("n_rows"), col("n_keys"), col("max_count"),
        col("top_keys"),
        kll_sketch_get_quantile_double(col("__kll"), lit(0.999))
          .cast("long").as("p999_est"),
        expr("max_count * 1000 div (n_rows div n_keys)")
          .as("skew_ratio_permille"))
}
