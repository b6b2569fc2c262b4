package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Data profiling — the ANALYZE-style one-pass table summary every
  * ingest pipeline runs before trusting a new source: per column, the
  * row count, null count, EXACT distinct count, and min/max (as
  * strings, for a uniform long schema). The HLL sketches
  * ([[graft.udafs.Sketches]]) own the approximate regime when exact
  * distincts are too hot.
  *
  * ONE scan: all columns' aggregates ride a single `agg` — Spark plans
  * the multiple DISTINCT aggregates through one Expand (the standard
  * multi-distinct strategy: the scan is read once and expanded
  * |columns| ways into partial aggregates, all map-side combined),
  * then one `stack` unpivots the single result row to long format —
  * a 1×k row, so the unpivot is free. At 100 TB the Expand factor is
  * the knob: profile the columns you need, not `*`. */
object Profile {

  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"no such column(s): ${missing.mkString(",")}")
    val aggs = count(lit(1)).as("__n") +: cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__null_$c"),
        countDistinct(col(c)).as(s"__dist_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    // size-guarded round-robin spread (r17): the multi-distinct Expand
    // multiplies the scan |columns|+1 ways BEFORE the partial aggregate —
    // on a few-split input that whole blow-up runs on 1-2 scan tasks.
    // Column pruning pushes through the repartition, so only the
    // profiled columns ship; no-op on a wide table.
    val row = graft.text.TextOps.spreadSmall(df.select(cols.map(col): _*))
      .agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map { c =>
      s"'$c', `__null_$c`, `__dist_$c`, `__min_$c`, `__max_$c`"
    }.mkString(", ")
    row.selectExpr("__n",
        s"stack(${cols.size}, $stackArgs) AS " +
          "(col_name, n_null, n_distinct, min_value, max_value)")
      .select(col("col_name"), col("__n").as("n"), col("n_null"),
        col("n_distinct"), col("min_value"), col("max_value"))
  }

  /** Profile DRIFT between two loads of the same table — "did
    * yesterday's ingest change shape" as a per-column report: both
    * sides run the one-pass [[profile]], join on column name, and emit
    * null-rate permilles, distinct counts, min/max equality, plus a
    * `drifted` verdict — null-rate moved more than 10 permille,
    * distinct count changed by more than 100 permille (relative), or an
    * extremum
    * changed. Both profile rows ride along so the report is
    * actionable without re-running anything. Cost: two one-pass
    * profiles + a columns-sized join — the always-on contract check
    * between a petabyte load and its predecessor reads two artifact
    * rows per column. */
  def drift(a: DataFrame, b: DataFrame, cols: Seq[String]): DataFrame = {
    val pa = profile(a, cols).select(col("col_name"),
      col("n").as("n_a"), col("n_null").as("null_a"),
      col("n_distinct").as("dist_a"), col("min_value").as("min_a"),
      col("max_value").as("max_a"))
    val pb = profile(b, cols).select(col("col_name"),
      col("n").as("n_b"), col("n_null").as("null_b"),
      col("n_distinct").as("dist_b"), col("min_value").as("min_b"),
      col("max_value").as("max_b"))
    pa.join(pb, Seq("col_name"))
      .withColumn("null_pm_a", expr("null_a * 1000 div n_a"))
      .withColumn("null_pm_b", expr("null_b * 1000 div n_b"))
      .withColumn("min_changed", !(col("min_a") <=> col("min_b")))
      .withColumn("max_changed", !(col("max_a") <=> col("max_b")))
      .withColumn("drifted",
        abs(col("null_pm_a") - col("null_pm_b")) > 10L ||
          expr("abs(dist_a - dist_b) * 1000") >
            lit(100L) * greatest(col("dist_a"), lit(1L)) ||
          col("min_changed") || col("max_changed"))
      .select(col("col_name"), col("n_a"), col("n_b"),
        col("null_pm_a"), col("null_pm_b"),
        col("dist_a"), col("dist_b"),
        col("min_changed"), col("max_changed"), col("drifted"))
  }

  /** Inclusion coefficient between two columns — the FK-DISCOVERY
    * primitive (Spider-style data cataloguing): what fraction of `a`'s
    * distinct values appear in `b`? 1000‰ says `a.colA` references
    * `b.colB`; a high-but-sub-1000 value says a broken or partial
    * reference (the q178 referential check names the violating ROWS;
    * this names the column-pair RELATIONSHIP). Exact: two distinct
    * passes + one semi-join on the distinct sets (value-cardinality
    * sized, not row sized). Nulls are excluded on both sides — a null
    * references nothing. At 100 TB across MANY column pairs, persist
    * per-column theta sketches instead and read the matrix from
    * artifacts ([[graft.ops.Audience]]); this exact form is the
    * single-pair auditor. */
  def inclusion(a: DataFrame, colA: String, b: DataFrame,
                colB: String): DataFrame = {
    val da = a.select(col(colA).cast("string").as("__v"))
      .where(col("__v").isNotNull).distinct()
    val db = b.select(col(colB).cast("string").as("__v"))
      .where(col("__v").isNotNull).distinct()
    val shared = da.join(db, Seq("__v"), "left_semi")
    da.agg(count(lit(1)).as("n_a"))
      .crossJoin(broadcast(shared.agg(count(lit(1)).as("n_shared"))))
      .select(col("n_a"), col("n_shared"),
        expr("if(n_a = 0, 0L, n_shared * 1000 div n_a)")
          .as("inclusion_permille"))
  }

  /** EQUI-DEPTH histogram over an integral column: `k` buckets holding
    * ~equal row counts, cut at the exact ORDER STATISTICS
    * `rank ⌈i·n/k⌉` (1-based, ascending — never an interpolation, the
    * [[graft.text.NgramLm.TertileCut]] discipline generalized to any
    * k). Returns one row per NON-EMPTY bucket:
    * `(bucket, lo, hi, n_rows)` with `bucket ∈ 1..k`; a value equal to
    * a boundary belongs to the boundary's bucket, so duplicate runs
    * never split (bucket counts are therefore ~n/k, exactly n/k only
    * when values are distinct — the standard equi-depth caveat). The
    * histogram the optimizer-statistics layer wants next to
    * [[profile]]: selectivity estimation under skew, where equi-WIDTH
    * buckets put 99 % of rows in one bar.
    *
    * This EXACT form collects the sorted value list in one aggregate —
    * O(rows) driver-side-free but single-task state; oracle/fixture
    * scale, same wall as `TertileCut.Exact`. Bucket ASSIGN
    * is a comparison against the broadcast 1-row boundary frame — no
    * global rank window ever. Null values are excluded (they have no
    * rank); integral input enforced loudly ([[Checks.madOutliers]]'
    * cast-divergence argument). */
  def equiDepthHistogram(df: DataFrame, valCol: String, k: Int): DataFrame = {
    val bounds = boundsFrame(df, valCol, k,
      s"""transform(sequence(1, ${k - 1}),
            i -> element_at(__s, cast((i * size(__s) + $k - 1) div $k as int)))""",
      s"sort_array(collect_list(__v))")
    assignAndCount(df, valCol, bounds)
  }

  private def boundsFrame(df: DataFrame, valCol: String, k: Int,
                          boundExpr: String, aggExpr: String): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val inType = df.schema(valCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(inType),
      s"value column `$valCol` must be integral, got $inType — scale " +
        "decimals upstream (cast semantics diverge across engines)")
    val v = df.select(col(valCol).cast("long").as("__v"))
      .where(col("__v").isNotNull)
    require(!v.isEmpty,
      s"`$valCol` has no non-null values — a histogram of nothing has " +
        "no boundaries")
    v.agg(expr(s"$aggExpr").as("__s"))
      .select(expr(boundExpr).as("__b"))
  }

  private def assignAndCount(df: DataFrame, valCol: String,
                             bounds: DataFrame): DataFrame =
    df.select(col(valCol).cast("long").as("__v"))
      .where(col("__v").isNotNull)
      .crossJoin(broadcast(bounds))
      .select(col("__v"),
        (expr("size(filter(__b, b -> b < __v))") + lit(1))
          .cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(min(col("__v")).as("lo"), max(col("__v")).as("hi"),
        count(lit(1)).as("n_rows"))
}
