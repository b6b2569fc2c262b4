package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Relational
import OracleSql.{componentCtes, toks}

/** Relational-core query surface: scans, filters, projections, joins,
  * aggregation, window dedupe, anti-join dedupe, set ops.
  * Covers SURVEY.md §2 items S2, P1-P8, J1-J3, A1-A4, W1, O3-O4.
  *
  * Oracle-parity conventions (see Verify.scala / the driver's DuckDB gate):
  *  - money aggregates are summed as DECIMAL(18,2) (exact, order-independent)
  *    and cast back to DOUBLE on both sides — double-sum round-off would
  *    otherwise be nondeterministic across engines;
  *  - integer sums are CAST(... AS BIGINT) in the oracle (DuckDB widens to
  *    HUGEINT, Spark stays LongType);
  *  - every query orders by a tie-free key so row order matches.
  */
object RelationalQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Exact money sum: double → decimal(18,2) per row, exact decimal sum,
    * final cast to double. Bit-identical across engines. Only safe on RAW
    * 2-decimal columns (shortest-repr double→decimal agrees across engines);
    * computed doubles must use decimal-first arithmetic (`discounted`). */
  private def moneySum(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** Exact `price * (1 - discount)`: cast raw columns to decimal FIRST, then
    * multiply in decimal (exact, scale 4) — double-product→decimal rounding
    * differs between Spark and DuckDB on shortest-repr boundaries. */
  private def discounted(price: org.apache.spark.sql.Column, disc: org.apache.spark.sql.Column) =
    price.cast("decimal(18,2)") * (lit(1).cast("decimal(18,2)") - disc.cast("decimal(18,2)"))

  val queries: Map[String, Q] = Map(
    // ───── A-series: aggregation over lineitem (TPC-H Q1 shape) ─────
    "q01_pricing_summary" -> ((s, d) => {
      Tables.lineitem(s, d)
        .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("sum_base_price"),
          sum(discounted(col("l_extendedprice"), col("l_discount"))).cast("double").as("sum_disc_price"),
          avg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // ───── P-series: filter + projection, pushdown-friendly ─────
    "q02_filter_project" -> ((s, d) => {
      Tables.lineitem(s, d)
        .where(col("l_quantity") > 45 &&
          col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // ───── J-series: multi-way join + agg; dims broadcast ─────
    "q03_join_revenue" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val o  = Tables.orders(s, d)
      val c  = Tables.customer(s, d)
      val n  = broadcast(Tables.nation(s, d))
      val r  = broadcast(Tables.region(s, d))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          sum(discounted(col("l_extendedprice"), col("l_discount"))).cast("double").as("revenue"),
          countDistinct(col("o_orderkey")).as("n_orders"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    // ───── W1: latest row per key (AddonRecommender dedupe pattern) ─────
    "q04_latest_per_key" -> ((s, d) => {
      Relational.latestPerKey(Tables.events(s, d), Seq("user_id"),
        Seq(col("ts").desc, col("event_id").desc))
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
        .orderBy(col("user_id"))
    }),

    // ───── J1: left-anti join (incremental dedupe core) ─────
    "q05_anti_join" -> ((s, d) => {
      val e = Tables.events(s, d)
      val viewers = e.where(col("event_type") === "view").select(col("user_id"))
      Relational.antiJoinDedupe(e, viewers, Seq("user_id"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          moneySum(col("value")).as("sum_value"))
        .orderBy(col("user_id"))
    }),

    // ───── O4/J2: EXCEPT set difference ─────
    "q06_except" -> ((s, d) => {
      val e = Tables.events(s, d)
      val clickers   = e.where(col("event_type") === "click").select(col("user_id"))
      val purchasers = e.where(col("event_type") === "purchase").select(col("user_id"))
      clickers.except(purchasers).orderBy(col("user_id"))
    }),

    // ───── O3/J3: union + downstream agg ─────
    "q07_union_groups" -> ((s, d) => {
      val e = Tables.events(s, d)
      e.where(col("event_type") === "click")
        .unionAll(e.where(col("event_type") === "error"))
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("user_id"), col("event_type"))
    }),

    // ───── A4: distinct ─────
    "q08_distinct" -> ((s, d) => {
      Tables.customer(s, d)
        .select(col("c_mktsegment"), col("c_nationkey"))
        .distinct()
        .orderBy(col("c_mktsegment"), col("c_nationkey"))
    }),

    // ───── A1: group-reduce argmin (Pioneer earliest-per-key) ─────
    "q09_argmin" -> ((s, d) => {
      Relational.argminPerKey(Tables.events(s, d),
          Seq("user_id", "event_type"), col("ts"), Seq("event_id", "value"))
        .withColumnRenamed("event_id", "first_event_id")
        .withColumnRenamed("value", "first_value")
        .orderBy(col("user_id"), col("event_type"))
    }),

    // ───── A3: one-pass per-column null counts (DatasetComparator) ─────
    "q10_null_counts" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val aggs = o.columns.toSeq.map(c =>
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"))
      o.agg(aggs.head, aggs.tail: _*)
    }),

    // ───── A2/J2: dataset-diff row counts (single-pass tag-union) ─────
    "q11_diff_counts" -> ((s, d) => {
      val s_ = s; import s_.implicits._
      val left  = Tables.lineitem(s, d)
      val right = left.where(col("l_quantity") <= 45)
      val (lc, rc, onlyLeft, onlyRight, _) = graft.ops.Comparator.diffCounts(left, right)
      Seq((lc, rc, onlyLeft, onlyRight))
        .toDF("left_count", "right_count", "only_left", "only_right")
    }),

    // ───── conditional pivot-sum (AggSearchCounts SQL shape) ─────
    "q12_pivot_counts" -> ((s, d) => {
      val e = Tables.events(s, d)
      def n(t: String) = sum(when(col("event_type") === t, 1L).otherwise(0L))
      e.groupBy(col("user_id"))
        .agg(n("click").as("n_click"), n("view").as("n_view"),
          n("purchase").as("n_purchase"), count(lit(1)).as("n_all"))
        .orderBy(col("user_id"))
    }),

    // ───── deterministic stratified sample: n per stratum by hash order ─────
    "q45_stratified_sample" -> ((s, d) => {
      graft.ops.Sampling.stratifiedSample(
          Tables.events(s, d).select(col("event_id"), col("event_type"),
            col("user_id"), col("value")),
          Seq("event_type"), n = 10, idCol = "event_id")
        .orderBy(col("event_type"), col("event_id"))
    }),

    // ───── deterministic weighted corpus mixture: downsample the dominant
    // language, keep the rest whole ─────
    "q46_weighted_mix" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"))
      graft.ops.Sampling.weightedMixture(Seq(
          (docs.where(col("lang") === "en"), 0.5),
          (docs.where(col("lang") =!= "en"), 1.0)), "doc_id")
        .orderBy(col("doc_id"))
    }),

    // ───── batch sessionization: 30-min-gap sessions per user, one
    // shuffle+sort (ts normalized to nanos-long via Tables.tsNanos — the
    // physical type has flipped between TIMESTAMP(NANOS) and
    // timestamp[us] across testdata regenerations) ─────
    "q52_sessionize" -> ((s, d) => {
      val gapNanos = 30L * 60L * 1000000000L
      val e = Tables.events(s, d)
      Relational.sessionize(
          e.select(col("user_id"), Tables.tsNanos(e).as("ts"), col("value")),
          Seq("user_id"), "ts", gapNanos)
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"),
          // `div`, not `/`: long / long routes through DOUBLE, whose
          // 53-bit mantissa cannot hold nanosecond epochs (~1.7e18)
          expr("min(ts) div 1000000").as("start_ms"),
          expr("max(ts) div 1000000").as("end_ms"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // ───── rolling time-range aggregate: each event's trailing-1h count
    // and sum per user (RANGE frame over the event-time ordering) ─────
    "q53_rolling_window" -> ((s, d) => {
      val hourNanos = 3600L * 1000000000L
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
        .rangeBetween(-hourNanos, 0)
      val e = Tables.events(s, d)
      e.select(col("event_id"), col("user_id"), Tables.tsNanos(e).as("ts"),
          col("value"))
        .select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_last_hour"),
          sum(col("value").cast("decimal(18,2)")).over(w)
            .cast("double").as("sum_last_hour"))
        .orderBy(col("event_id"))
    }),

    // ───── materialized upsampling: weight 2.3 → 2 or 3 epoch-tagged
    // copies per doc, deterministic by id hash ─────
    "q56_upsampled" -> ((s, d) => {
      graft.ops.Sampling.upsampled(
          Tables.documents(s, d).select(col("doc_id"), col("lang")),
          "doc_id", weight = 2.3)
        .orderBy(col("doc_id"), col("epoch"))
    }),

    // ───── token-budget subsample: smallest hash-prefix doc set covering
    // 10k tokens ─────
    "q57_token_budget" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        graft.text.TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.ops.Sampling.tokenBudgetSample(docs, "doc_id", "n_tokens", 10000L)
        .orderBy(col("doc_id"))
    }),

    // ───── temperature mixture: per-lang sources re-weighted by
    // size^0.5 under a 20k-token budget (α = 0.5 rides IEEE sqrt, so the
    // oracle replays the thresholds exactly) ─────
    "q92_temperature_mix" -> ((s, d) => {
      val docs = Tables.documents(s, d).where(col("lang").isNotNull)
        .select(col("doc_id"), col("lang"),
          graft.text.TextOps.tokenCount(col("text")).as("n"))
      val langs = docs.select(col("lang")).distinct()
        .collect().map(_.getString(0)).sorted
      val sources = langs.toSeq.map(l => l -> docs.where(col("lang") === l))
      graft.ops.Sampling.temperatureMixture(sources, "doc_id", "n",
          budgetTokens = 20000L)
        .select(col("doc_id"), col("source"), col("n"))
        .orderBy(col("doc_id"))
    }),

    // ───── UniMax epoch-capped mixture: spend 90% of the corpus's token
    // total as evenly as possible across langs, repeating no lang more
    // than 1.2 epochs — small langs cap at 1.2 copies, the slack
    // waterfalls to the dominant lang, which downsamples. Fully
    // replayable: integer totals, fixed-order IEEE waterfill, md5
    // Bernoulli ─────
    "q230_unimax_mix" -> ((s, d) => {
      val docs = Tables.documents(s, d).where(col("lang").isNotNull)
        .select(col("doc_id"), col("lang"),
          graft.text.TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      val total = docs.agg(sum(col("n_tokens"))).head().getLong(0)
      graft.ops.Sampling.epochCappedMixture(docs, "lang", "doc_id",
          "n_tokens", budgetTokens = 0.9 * total.toDouble, maxEpochs = 1.2)
        .select(col("doc_id"), col("lang"), col("epoch"))
        .orderBy(col("doc_id"), col("epoch"))
    }),

    // ───── deterministic per-step mixture schedule (stride scheduling):
    // which lang does training batch t draw from, with every prefix of
    // the schedule within 1 of each lang's token share — the smooth
    // consumption order hash-Bernoulli draws (O(√t) prefix error) can't
    // give. 200 steps over the langs' exact token shares ─────
    "q235_mixture_schedule" -> ((s, d) => {
      val counts = Tables.documents(s, d).where(col("lang").isNotNull)
        .groupBy(col("lang"))
        .agg(sum(graft.text.TextOps.tokenCount(col("text")).cast("long")).as("c"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        .sortBy(_._1)
      graft.ops.Sampling.mixtureSchedule(s, counts, nSteps = 200L)
        .orderBy(col("step"))
    }),

    // ───── deterministic 80/10/10 train/val/test split: md5-interval
    // labels, scan-side and growth-stable (a doc never migrates splits
    // when the corpus grows — the eval-hygiene property) ─────
    "q100_split" -> ((s, d) => {
      graft.ops.Sampling.hashSplit(
          Tables.documents(s, d).select(col("doc_id"), col("lang")),
          "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .orderBy(col("doc_id"))
    }),

    // ───── leakage-safe split: near-dup CLUSTERS (connected components
    // over a pair list) share one split, so a near-duplicate of a train
    // doc can never land in test. Pairs here come from a deterministic
    // blocking key (8-char text prefix → star pairs to the min id) so the
    // oracle can replay the clustering as a plain window; production
    // feeds MinHash/SimHash/embedding pairs through the same path.
    // Null text coalesces to a per-doc sentinel key on BOTH engines, so
    // null-text docs are singleton clusters everywhere (a bare equi-join
    // on the prefix would drop them from pairs while SQL's PARTITION BY
    // groups all NULLs into one cluster — a latent divergence). The
    // fixture corpus has no null/empty text, so the gate INJECTS both
    // in-query (the q232 adversarial pattern, %11 of ids): nulls must
    // come out singletons, empty strings one shared cluster ─────
    "q220_cluster_split" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val advText = when(col("doc_id") % 11 === 0, lit(null).cast("string"))
        .when(col("doc_id") % 11 === 1, lit(""))
        .otherwise(col("text"))
      val keyed = Tables.documents(s, d)
        // sentinel is 8 chars + the id => always longer than a real
        // 8-char prefix - collision-free by construction
        .select(col("doc_id"),
          coalesce(substring(advText, 1, 8),
            concat(lit("__null__"), col("doc_id"))).as("k"))
      val reps = keyed.groupBy(col("k"))
        .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n"))
      val pairs = keyed.join(reps.where(col("n") > 1), Seq("k"))
        .where(col("doc_id") =!= col("rep"))
        .select(col("rep").as("id_a"), col("doc_id").as("id_b"))
      graft.ops.Sampling.clusterSplit(docs, "doc_id", pairs,
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .orderBy(col("doc_id"))
    }),

    // ───── per-key cap: at most 70 docs per language, hash order — the
    // anti-domination cap. fr/de are under the cap (kept outright, no
    // window), es/zh/en rank inside their bounded hash prefix ─────
    "q96_domain_cap" -> ((s, d) => {
      graft.ops.Sampling.perKeyCap(
          Tables.documents(s, d).select(col("doc_id"), col("lang"), col("source")),
          keyCol = "lang", idCol = "doc_id", n = 70)
        .orderBy(col("doc_id"))
    }),

    // ───── hierarchical rollup: per-(flag,status), per-flag, and grand
    // totals in ONE pass (Expand feeds a single aggregate — no
    // re-reading the table per level) ─────
    "q54_rollup" -> ((s, d) => {
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"),
          grouping_id().as("gid"))
        .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))
    }),

    // ───── unpivot (wide → long): per-user event-type counts melted to
    // (user, event_type, n) rows — the inverse of q12's pivot shape ─────
    "q55_unpivot" -> ((s, d) => {
      val e = Tables.events(s, d)
      def n(t: String) = sum(when(col("event_type") === t, 1L).otherwise(0L))
      e.groupBy(col("user_id"))
        .agg(n("click").as("click"), n("view").as("view"),
          n("purchase").as("purchase"))
        .unpivot(Array(col("user_id")),
          Array(col("click"), col("view"), col("purchase")),
          "event_type", "n")
        .orderBy(col("user_id"), col("event_type"))
    }),

    // ───── as-of join: each event picks up the user's latest purchase at
    // or before its timestamp (union + carry-forward window — one
    // shuffle, never an inequality join) ─────
    "q50_asof_join" -> ((s, d) => {
      val e = Tables.events(s, d)
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value").as("last_purchase_value"))
      Relational.asofJoin(
          e.select(col("event_id"), col("user_id"), col("event_type"), col("ts")),
          purchases, Seq("user_id"), "ts", "ts", Seq("last_purchase_value"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("last_purchase_value"))
        .orderBy(col("event_id"))
    }),

    // ───── windowFunnel: greedy earliest view→click→purchase chain
    // within 3 days of the first view — per-step equi-joins on the user
    // key, no per-user arrays, no windows ─────
    "q131_funnel" -> ((s, d) => {
      val e = Tables.events(s, d)
      graft.ops.Funnel.funnelTimes(
          e.select(col("user_id"), col("event_type"), Tables.tsNanos(e).as("tn")),
          "user_id", "event_type", "tn",
          Seq("view", "click", "purchase"), windowNanos = 3L * 86400L * 1000000000L)
        .orderBy(col("user_id"))
    }),

    // ───── the funnel rolled up to conversion depths — ONE aggregate
    // over funnelTimes ─────
    "q133_funnel_counts" -> ((s, d) => {
      val e = Tables.events(s, d)
      graft.ops.Funnel.funnelCounts(
          e.select(col("user_id"), col("event_type"), Tables.tsNanos(e).as("tn")),
          "user_id", "event_type", "tn",
          Seq("view", "click", "purchase"), windowNanos = 3L * 86400L * 1000000000L)
        .orderBy(col("step"))
    }),

    // ───── weekly cohort retention: users bucketed by first-activity
    // week, counted in every later active week — integer bucket
    // arithmetic (nanos exceed double mantissa) ─────
    "q132_retention" -> ((s, d) => {
      val e = Tables.events(s, d)
      graft.ops.Funnel.cohortRetention(
          e.select(col("user_id"), Tables.tsNanos(e).as("tn")),
          "user_id", "tn", bucketNanos = 7L * 86400L * 1000000000L)
        .orderBy(col("cohort_bucket"), col("bucket_offset"))
    }),

    // ───── rolling 7-day distinct active users per day bucket — active
    // buckets fan out to their ≤7 window ends (sequence explode, no
    // inequality join), then one distinct + count ─────
    "q138_rolling_active" -> ((s, d) => {
      val e = Tables.events(s, d)
      graft.ops.Funnel.rollingActive(
          e.select(col("user_id"), Tables.tsNanos(e).as("tn")),
          "user_id", "tn", bucketNanos = 86400L * 1000000000L,
          windowBuckets = 7)
        .orderBy(col("bucket"))
    }),

    // ───── time-to-convert distribution: the funnel's click→purchase
    // latency bucketed into hours — one integer-div projection + one
    // count over the gated funnelTimes frame ─────
    "q145_conversion_latency" -> ((s, d) => {
      val e = Tables.events(s, d)
      graft.ops.Funnel.funnelTimes(
          e.select(col("user_id"), col("event_type"), Tables.tsNanos(e).as("tn")),
          "user_id", "event_type", "tn",
          Seq("view", "click", "purchase"), windowNanos = 3L * 86400L * 1000000000L)
        .where(col("t3").isNotNull)
        .select(expr("(t3 - t2) div 3600000000000").as("latency_hours"))
        .groupBy(col("latency_hours"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("latency_hours"))
    }),

    // ───── day-over-day churn: users active on day b but not on day
    // b+1, reported at b+1 — one distinct + one anti-join keyed
    // (user, bucket), clamped at the newest day (no right edge beyond
    // data). Windowed variants compose the same anti-join over
    // rollingActive-style fan-outs ─────
    "q146_churned_users" -> ((s, d) => {
      val e = Tables.events(s, d)
      val kb = e.select(col("user_id"), Tables.tsNanos(e).as("tn"))
        .select(col("user_id"), expr("tn div 86400000000000").as("b"))
        .distinct()
      val newest = kb.agg(max(col("b")).as("mb"))
      kb.select(col("user_id"), (col("b") + lit(1L)).as("bucket"))
        .join(kb.select(col("user_id"), col("b").as("bucket")),
          Seq("user_id", "bucket"), "left_anti")
        .crossJoin(broadcast(newest))
        .where(col("bucket") <= col("mb"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_churned"))
        .orderBy(col("bucket"))
    }),

    // ───── q138 per segment: rolling 7-day actives for every
    // (event_type, day) — the segment-analytics form, same fan-out
    // shape with the segment riding every key ─────
    "q144_rolling_active_by" -> ((s, d) => {
      val e = Tables.events(s, d)
      graft.ops.Funnel.rollingActiveBy(
          e.select(col("user_id"), col("event_type"), Tables.tsNanos(e).as("tn")),
          "user_id", "event_type", "tn",
          bucketNanos = 86400L * 1000000000L, windowBuckets = 7)
        .orderBy(col("event_type"), col("bucket"))
    }),

    // ───── user-path analysis: the top-20 most common per-session
    // event-type sequences — gap sessionization (q52's operator), one
    // session-keyed ordered assembly, one path count, TakeOrdered ─────
    "q143_session_paths" -> ((s, d) => {
      val e = Tables.events(s, d)
      val sess = Relational.sessionize(
        e.select(col("user_id"), Tables.tsNanos(e).as("ts"),
          col("event_id"), col("event_type")),
        Seq("user_id"), "ts", gap = 30L * 60L * 1000000000L)
      sess.groupBy(col("user_id"), col("session_id"))
        .agg(concat_ws(">", transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"),
            col("event_type")))),
          x => x.getField("event_type"))).as("path"))
        .groupBy(col("path"))
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path"))
        .limit(20)
    }),

    // ───── q138's SKETCH path anchored by its exact twin (the q63/q130
    // bounded-verdict pattern): per-day HLL sketches unioned per window,
    // estimate pinned within 10% (or ±1) of the exact count — ≈6σ at
    // lgK 12's 1.6% RSE, so the verdict cannot flake even if a testdata
    // regeneration pushes the sketch out of its exact sparse regime
    // (today's sf0.01 windows hold ~150 actives — exact); the oracle
    // replays the exact half and expects every verdict TRUE ─────
    "q142_rolling_active_approx" -> ((s, d) => {
      val e = Tables.events(s, d)
      val ev = e.select(col("user_id"), Tables.tsNanos(e).as("tn"))
      val exact = graft.ops.Funnel.rollingActive(ev, "user_id", "tn",
        bucketNanos = 86400L * 1000000000L, windowBuckets = 7)
      val approx = graft.ops.Funnel.rollingActiveApprox(ev, "user_id", "tn",
        bucketNanos = 86400L * 1000000000L, windowBuckets = 7)
      exact.join(approx, Seq("bucket"))
        .select(col("bucket"), col("n_active"),
          (abs(col("n_active_approx") - col("n_active")).cast("double") <=
            greatest(col("n_active").cast("double") * 0.10, lit(1.0)))
            .as("hll_ok"))
        .orderBy(col("bucket"))
    }),

    // ───── entity resolution: suffix-blocked Levenshtein join of a
    // deterministically-dirtied name set (3rd-from-last char → 'X')
    // back onto the originals — the record-linkage shape; the block key
    // (last 2 chars) survives the perturbation by construction, dist ≤ 2
    // also surfaces one-digit-apart neighbors sharing the block ─────
    "q150_fuzzy_match" -> ((s, d) => {
      val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
      // every-5th customer as the dirty probe set: the operator's cost
      // is |dirty| × block size, and the structured names make blocks
      // dense (100 suffix blocks) — a full-set probe is the same code
      // path at 5× the bench bill for no extra coverage
      val dirty = cust.where(col("c_custkey") % 5 === 0).select(
        (col("c_custkey") + lit(1000000L)).as("d_id"),
        concat(substring(col("c_name"), lit(1), length(col("c_name")) - 3),
          lit("X"), substring(col("c_name"), -2, 2)).as("d_name"))
      graft.text.Fuzzy.blockedEditJoin(
          dirty, "d_name", "d_id", cust, "c_name", "c_custkey",
          suffixLen = 2, lenTol = 1, maxDist = 2)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ───── audience set algebra: the pairwise segment-overlap matrix
    // (∩, ∪, A∖B distinct-user counts) over per-segment THETA sketches —
    // one aggregate over events, then sketch-only arithmetic. Segment
    // cardinalities here sit far below the sketch's 2^12 nominal
    // capacity, so estimates are EXACT and the oracle replays true
    // distinct counts; the approximate regime is ScalaTest-banded ─────
    "q151_segment_overlap" -> ((s, d) => {
      graft.ops.Audience.segmentOverlapFromEvents(
          Tables.events(s, d)
            .where(col("user_id").isNotNull && col("event_type").isNotNull),
          "user_id", "event_type")
        .orderBy(col("seg_a"), col("seg_b"))
    }),

    // ───── entity resolution, pass two: sorted-neighborhood blocking —
    // rows totally ordered by (name, id), each paired with its next 3
    // neighbors, banded Levenshtein filter. The pass that recovers
    // pairs whose edits touch q150's suffix block; no global window —
    // range-partitioned sort + zipWithIndex + sequence-explode pairing ─────
    "q154_sorted_neighbors" -> ((s, d) => {
      graft.text.Fuzzy.sortedNeighborPairs(
          Tables.customer(s, d).select(col("c_custkey"), col("c_name")),
          "c_name", "c_custkey", window = 3, maxDist = 2)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ───── rolling p95 over mergeable KLL sketches — q142's
    // bounded-anchor pattern applied to QUANTILES: the exact half
    // (order-statistic p95 per 7-day window, no interpolation) is
    // hashed, and the sketch estimate — whose randomized compaction
    // makes the VALUE non-replayable — is pinned by a rank-band
    // verdict: its exact rank in the window must sit within
    // max(5%·n, 2) of 0.95·n (≈3× KLL's k=200 error bound, so the
    // verdict cannot flake) ─────
    "q156_rolling_p95" -> ((s, d) => {
      val e = Tables.events(s, d).where(col("value").isNotNull)
      val base = e.select(col("value").cast("double").as("v"),
          Tables.tsNanos(e).as("tn"))
        .select(col("v"), expr("tn div 86400000000000").as("b"))
      val newest = base.agg(max(col("b")).as("mb"))
      val exact = base.crossJoin(broadcast(newest))
        .select(col("v"), explode(sequence(col("b"),
          least(col("b") + lit(6L), col("mb")))).as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          array_sort(collect_list(col("v"))).as("vals"))
      val sk = graft.ops.Timeseries.rollingQuantileSketch(
        e.select(col("value"), Tables.tsNanos(e).as("tn")),
        "value", "tn", bucketNanos = 86400L * 1000000000L,
        windowBuckets = 7, q = 0.95)
      exact.join(sk, Seq("bucket"))
        .select(col("bucket"), col("n"),
          element_at(col("vals"), ceil(col("n") * lit(0.95)).cast("int"))
            .as("p95_exact"),
          (abs(size(filter(col("vals"), v => v <= col("quantile_est")))
            .cast("double") - col("n") * lit(0.95)) <=
            greatest(col("n") * lit(0.05), lit(2.0))).as("kll_rank_ok"))
        .orderBy(col("bucket"))
    }),

    // ───── fuzzy dedup end-to-end: suffix-blocked dist-≤1 pairs →
    // connected components → min-id survivors — the entity-resolution
    // composition of q150's candidate generator with q44's clustering,
    // each stage its own gated operator ─────
    "q155_fuzzy_clusters" -> ((s, d) => {
      val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
      val pairs = graft.text.Fuzzy.editDistancePairs(
          cust, "c_name", "c_custkey",
          suffixLen = 2, lenTol = 0, maxDist = 1)
        .select(col("id_a"), col("id_b"))
      graft.dedup.Dedup.dedupeByPairs(
          cust.select(col("c_custkey")), "c_custkey", pairs)
        .orderBy(col("c_custkey"))
    }),

    // ───── metrics anomaly detection: per-event-type daily counts
    // smoothed by the integer half-life EWMA (E' = (E + n) div 2 —
    // exact longs, bit-replayable), spikes judged against the PRIOR
    // smoothed level. One aggregate per key over its bucket series —
    // no windows; the oracle replays the fold as an O(n²) prefix
    // list_reduce (series are days, not events) ─────
    "q153_ewma_spikes" -> ((s, d) => {
      val e = Tables.events(s, d).where(col("event_type").isNotNull)
      graft.ops.Timeseries.ewmaAnomalies(
          graft.ops.Timeseries.bucketCounts(
            e.select(col("event_type"), Tables.tsNanos(e).as("tn")),
            "event_type", "tn", bucketNanos = 86400L * 1000000000L),
          "event_type", "bucket", "n")
        .orderBy(col("event_type"), col("bucket"))
    }),

    // ───── outage detection: a simulated weekly outage (every 7th day
    // dropped) is reinstated as n=0 buckets by zeroFill, then the
    // signed EWMA flags BOTH verdicts — spikes vs the prior level and
    // dips (n < prev div 3), the traffic-collapse shape a monitor most
    // needs. Same bit-replayable integer fold as q153, replayed over
    // the zero-filled series ─────
    "q159_ewma_outages" -> ((s, d) => {
      val e = Tables.events(s, d).where(col("event_type").isNotNull)
      val counts = graft.ops.Timeseries.bucketCounts(
          e.select(col("event_type"), Tables.tsNanos(e).as("tn")),
          "event_type", "tn", bucketNanos = 86400L * 1000000000L)
        .where(col("bucket") % 7 =!= 3) // simulate a weekly outage day
      graft.ops.Timeseries.ewmaAnomaliesSigned(
          graft.ops.Timeseries.zeroFill(counts, "event_type", "bucket", "n"),
          "event_type", "bucket", "n")
        .orderBy(col("event_type"), col("bucket"))
    }),

    // ───── trend-aware anomaly detection: the same daily counts under
    // Holt level+trend smoothing (α=β=½, exact integer floor-divs) —
    // a growing series stops false-flagging, a plateau off its trend
    // line flags; the oracle replays the two-state fold as a prefix
    // list_reduce over struct state ─────
    "q183_holt_forecast" -> ((s, d) => {
      val e = Tables.events(s, d).where(col("event_type").isNotNull)
      graft.ops.Timeseries.holtAnomalies(
          graft.ops.Timeseries.bucketCounts(
            e.select(col("event_type"), Tables.tsNanos(e).as("tn")),
            "event_type", "tn", bucketNanos = 86400L * 1000000000L),
          "event_type", "bucket", "n")
        .orderBy(col("event_type"), col("bucket"))
    }),

    // ───── CUSUM level-shift detection: the changepoint shape the
    // spike/dip/forecast verdicts can't see — a small persistent shift
    // accumulates in the one-sided sums until it crosses the decision
    // threshold. μ from the first 3 buckets, slack 1, threshold 5;
    // the oracle replays μ as a warmup aggregate and the fold as a
    // recursive CTE (the q183 two-state pattern) ─────
    "q200_cusum" -> ((s, d) => {
      val e = Tables.events(s, d).where(col("event_type").isNotNull)
      graft.ops.Timeseries.cusumShifts(
          graft.ops.Timeseries.bucketCounts(
            e.select(col("event_type"), Tables.tsNanos(e).as("tn")),
            "event_type", "tn", bucketNanos = 86400L * 1000000000L),
          "event_type", "bucket", "n",
          warmup = 3, slack = 1L, threshold = 5L)
        .orderBy(col("event_type"), col("bucket"))
    }),

    // ───── skew-splitting salted join: the hot-key shape AQE's
    // skew-join rewrite can't always reach (it only splits sort-merge
    // stages). The big side takes one uniform salt, the small side
    // replicates per salt value, the join keys on (key, salt) — a hot
    // part's line items spread over 8 reducers. The plain-join oracle
    // gates it because the result is provably salt-invariant: each big
    // row carries exactly ONE salt and the small side covers all of
    // them, so rand's nondeterminism never reaches the output ─────
    "q203_salted_join" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"))
      val p = Tables.part(s, d)
        .select(col("p_partkey").as("l_partkey"), col("p_type"))
      graft.ops.Relational.saltedJoin(li, p, Seq("l_partkey"), salt = 8)
        .groupBy(col("p_type"))
        .agg(count(lit(1)).as("n"), sum(col("qty")).as("sum_qty"))
        .orderBy(col("p_type"))
    }),

    // ───── Benford first-digit audit over extended prices: observed
    // vs expected permilles, all integers — the fraud/fabrication
    // screen as a nine-row report (the honest output for a synthetic
    // uniform-ish price column is DEVIATION, and the report shows it
    // rather than a verdict pretending a threshold) ─────
    "q207_benford_audit" -> ((s, d) =>
      graft.ops.Checks.benfordAudit(
        Tables.lineitem(s, d), "l_extendedprice")),

    // ───── join-skew pre-flight: the one-row report exploded per
    // candidate key. event_type's cardinality ≤ mgK pins the MG
    // candidate map bit-exact (the q201 exact regime); the KLL tail
    // estimate is bounded as a pinned verdict (the q156 convention —
    // its rank rounding is engine-specific) ─────
    "q211_key_skew_report" -> ((s, d) => {
      val rep = graft.ops.Diagnostics.keySkewReport(
        Tables.events(s, d).where(col("event_type").isNotNull),
        "event_type")
      rep.select(explode(col("top_keys")).as(Seq("key", "n")),
          col("n_rows"), col("n_keys"), col("max_count"),
          col("skew_ratio_permille"),
          (col("p999_est") >= lit(1L) &&
            col("p999_est") <= col("max_count")).as("p999_ok"))
        .orderBy(col("key"))
    }),

    // ───── day-over-day user churn from per-day theta sketches: kept
    // (retention), gone, new — the DAU corpus-ops question answered
    // from kilobyte artifacts via set algebra, no key-level join. The
    // fixture's ≤1356 users/day sit under the 2^12 exact threshold at
    // every SF, so the oracle replays the exact distinct-set algebra ─────
    "q212_daily_churn" -> ((s, d) => {
      val e = Tables.events(s, d).where(col("user_id").isNotNull)
      val withDay = e.select(col("user_id"),
          Tables.tsNanos(e).as("tn"))
        .select(col("user_id"), expr("tn div 86400000000000").as("day"))
      graft.ops.Audience.bucketChurn(
          graft.ops.Audience.segmentSketches(withDay, "user_id", "day"),
          "seg")
        .orderBy(col("bucket"))
    }),

    // ───── profile drift between two loads (even- vs odd-key halves
    // as the deterministic stand-in for yesterday/today): per-column
    // null permilles, distinct counts, extremum changes and the
    // drifted verdict — the always-on ingest contract check ─────
    "q214_profile_drift" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      graft.ops.Profile.drift(
          li.where(col("l_orderkey") % 2 === 0),
          li.where(col("l_orderkey") % 2 === 1),
          Seq("l_orderkey", "l_linenumber", "l_returnflag"))
        .orderBy(col("col_name"))
    }),

    // ───── weekly-seasonality detection: lag-7 autocorrelation of
    // daily event counts per type, exact integers end to end (the
    // common-denominator deviations + the shifted floor-division for
    // possibly-negative correlations) ─────
    "q218_autocorr" -> ((s, d) => {
      val e = Tables.events(s, d).where(col("event_type").isNotNull)
      graft.ops.Timeseries.autocorr(
          graft.ops.Timeseries.bucketCounts(
            e.select(col("event_type"), Tables.tsNanos(e).as("tn")),
            "event_type", "tn", bucketNanos = 86400L * 1000000000L),
          "event_type", "bucket", "n", lag = 7)
        .orderBy(col("event_type"))
    }),

    // ───── functional-dependency audit: customers whose orders carry
    // MORE than one priority (the "one account, one tier" contract
    // check) — violating determinants with two concrete witnesses ─────
    "q216_fd_violations" -> ((s, d) =>
      graft.ops.Checks.fdViolations(
          Tables.orders(s, d), Seq("o_custkey"), "o_orderpriority")
        .orderBy(col("o_custkey"))),

    // ───── FK discovery by inclusion coefficient: lineitem.partkey ⊆
    // part.partkey (the true reference reads 1000‰) beside the reverse
    // direction — the column-pair RELATIONSHIP the row-level
    // referential check (q178) doesn't name ─────
    "q217_inclusion" -> ((s, d) => {
      val li = Tables.lineitem(s, d); val p = Tables.part(s, d)
      graft.ops.Profile.inclusion(li, "l_partkey", p, "p_partkey")
        .select(lit("li_in_part").as("pair"), col("n_a"),
          col("n_shared"), col("inclusion_permille"))
        .unionByName(
          graft.ops.Profile.inclusion(p, "p_partkey", li, "l_partkey")
            .select(lit("part_in_li").as("pair"), col("n_a"),
              col("n_shared"), col("inclusion_permille")))
        .orderBy(col("pair"))
    }),

    // ───── winsorization at exact per-part order-statistic fences
    // (p10/p90): the robust-scaling sibling of the q184 MAD screen —
    // clamp, don't drop; rank arithmetic replays bit-exact ─────
    "q215_winsorize" -> ((s, d) =>
      graft.ops.Checks.winsorize(
          Tables.lineitem(s, d).where(col("l_orderkey") % 5 === 0)
            .select(col("l_partkey"), col("l_quantity").cast("long")
              .as("qty")),
          "l_partkey", "qty", loPermille = 100L, hiPermille = 900L)
        .orderBy(col("l_partkey"), col("v"))),

    // ───── approximate percentile rank over a CONTINUOUS column: the
    // per-group KLL `get_rank` escape hatch for the billion-row-single-
    // group case the exact histogram window can't survive. Gated the
    // q156 way: the exact inclusive rank mass (Σ per row of #values ≤ v,
    // an integer) is hashed, and the sketch estimate — randomized
    // compaction, non-replayable — is pinned by a rank-band verdict
    // (max |est − exact| ≤ 0.05, ≈3× KLL's k=200 error bound) ─────
    "q219_pct_rank_approx" -> ((s, d) => {
      val e = Tables.events(s, d)
        .where(col("value").isNotNull && col("event_type").isNotNull)
        .select(col("event_type"), col("value").cast("double").as("v"))
      val approx = Relational.percentileRankApprox(
        e, Seq("event_type"), "v", "pct_est")
      val hist = e.groupBy(col("event_type"), col("v"))
        .agg(count(lit(1)).as("__c"))
      val wCum = Window.partitionBy(col("event_type")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val exact = hist
        .withColumn("__cum", sum(col("__c")).over(wCum))
        .withColumn("__n",
          sum(col("__c")).over(Window.partitionBy(col("event_type"))))
      approx.join(exact, Seq("event_type", "v"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("__cum")).as("sum_cum_incl"),
          (max(abs(col("pct_est") - col("__cum").cast("double") / col("__n")))
            <= lit(0.05)).as("kll_rank_ok"))
        .orderBy(col("event_type"))
    }),

    // ───── robust outlier screen: per-part order quantities against
    // the median/MAD fence (exact lower-median order statistics — no
    // interpolated doubles on either engine); only flagged rows ship ─────
    "q184_mad_outliers" -> ((s, d) => {
      graft.ops.Checks.madOutliers(
          Tables.lineitem(s, d).where(col("l_orderkey") % 5 === 0)
            .select(col("l_partkey"), col("l_quantity").cast("long").as("qty")),
          "l_partkey", "qty", kDeci = 18L)
        .where(col("outlier"))
        .orderBy(col("l_partkey"), col("v"))
    }),

    // ───── Bloom-prefiltered exact semi-join: line items of high-value
    // orders — the fact-to-dimension membership filter with the shuffle
    // paid only by probable hits; the filter is exactness-neutral (the
    // confirm join drops its false positives), so the plain semi-join
    // oracle gates it by construction ─────
    "q185_bloom_semi_join" -> ((s, d) => {
      val dim = Tables.orders(s, d).where(col("o_totalprice") > 150000.0)
        .select(col("o_orderkey").as("l_orderkey"))
      graft.ops.Relational.bloomSemiJoin(
          Tables.lineitem(s, d).select(col("l_orderkey"),
            col("l_linenumber"), col("l_quantity")),
          dim, "l_orderkey", expectedItems = 0L, confirm = true)
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // ───── anti-entropy table comparison: per-bucket checksums of a
    // snapshot vs its drifted copy (%97≡5 keys deleted, %101≡7 keys
    // mutated) — only disagreeing buckets would need a row-level diff;
    // the oracle decides each bucket's verdict by EXACT multiset
    // comparison, gating the checksum's fidelity ─────
    "q190_table_checksums" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"))
      val b = o.where(col("o_orderkey") % 97 =!= 5)
        .withColumn("o_custkey", when(col("o_orderkey") % 101 === 7,
          col("o_custkey") + 1L).otherwise(col("o_custkey")))
      graft.ops.Comparator.checksumDiff(
          graft.ops.Comparator.bucketChecksums(o, pmod(col("o_orderkey"), lit(64L))),
          graft.ops.Comparator.bucketChecksums(b, pmod(col("o_orderkey"), lit(64L))))
        .orderBy(col("bucket"))
    }),

    // ───── entity resolution, the CLASSIC composition: suffix-block
    // pass ∪ sorted-neighborhood pass, normalized + deduped on the
    // pair key — each pass recovers exactly the pairs the other's
    // blocking misses (q150's suffix blocks vs q154's sort order) ─────
    "q160_fuzzy_multipass" -> ((s, d) => {
      graft.text.Fuzzy.multiPassPairs(
          Tables.customer(s, d).select(col("c_custkey"), col("c_name")),
          "c_name", "c_custkey",
          suffixLen = 2, lenTol = 1, maxDist = 2, window = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ───── fuzzy dedup over the MULTI-PASS candidate set: the q155
    // composition (pairs → connected components → min-id survivors)
    // fed by the union of both blocking passes — clusters can only
    // grow vs the single-pass gate ─────
    "q161_multipass_clusters" -> ((s, d) => {
      val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
      val pairs = graft.text.Fuzzy.multiPassPairs(cust, "c_name", "c_custkey",
          suffixLen = 2, lenTol = 0, maxDist = 1, window = 2)
        .select(col("id_a"), col("id_b"))
      graft.dedup.Dedup.dedupeByPairs(
          cust.select(col("c_custkey")), "c_custkey", pairs)
        .orderBy(col("c_custkey"))
    }),

    // ───── bucketized interval join: purchases attributed to the 3-day
    // window after each signup of the same user — the log-alignment
    // shape a naive range join plans as a per-key cartesian. Each
    // window fans to the ≤4 day-buckets it covers; each purchase lands
    // in exactly ONE bucket (no dedup pass); the match is a plain hash
    // equi-join on (user, bucket) + the exact containment filter ─────
    "q165_interval_join" -> ((s, d) => {
      val e = Tables.events(s, d)
      val base = e.select(col("event_id"), col("user_id"),
        col("event_type"), Tables.tsNanos(e).as("tn"), col("value"))
      val day = 86400L * 1000000000L
      val signups = base.where(col("event_type") === "signup")
        .select(col("event_id").as("signup_id"), col("user_id"),
          col("tn").as("w_start"), (col("tn") + lit(3L * day)).as("w_end"))
      val purchases = base.where(col("event_type") === "purchase")
        .select(col("user_id"), col("tn"),
          col("value").cast("decimal(18,2)").as("v"))
      graft.ops.Relational.intervalJoin(signups, purchases, Seq("user_id"),
          "w_start", "w_end", "tn", bucketNanos = day, payload = Seq("v"))
        .groupBy(col("signup_id"), col("user_id"))
        .agg(count(lit(1)).as("n_purchases"),
          // v is already decimal(18,2): moneySum's inner cast is a no-op
          // and the output boundary gets the one q01-convention cast
          moneySum(col("v")).as("total_value"))
        .orderBy(col("signup_id"))
    }),

    // ───── SCD-2 history build: each user's event-type stream becomes
    // minimal validity intervals (consecutive duplicates collapse,
    // valid_to null on the current row) — the slowly-changing-dimension
    // shape point-in-time lookups join against ─────
    "q167_scd2" -> ((s, d) => {
      val e = Tables.events(s, d)
      graft.ops.Relational.scd2(
          e.select(col("user_id"), Tables.tsNanos(e).as("tn"),
            col("event_type")),
          keys = Seq("user_id"), tsCol = "tn", attrs = Seq("event_type"))
        .orderBy(col("user_id"), col("valid_from"))
    }),

    // ───── data-quality check suite over the star schema: uniqueness,
    // referential integrity (incl. a deliberately violated expectation
    // so the report proves it COUNTS, not just passes), null and
    // range checks — one summary row per check ─────
    "q178_quality_checks" -> ((s, d) => {
      val orders = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      val cust = Tables.customer(s, d)
      graft.ops.Checks.report(Seq(
        "orders_pk_unique" ->
          graft.ops.Checks.uniqueViolations(orders, Seq("o_orderkey")),
        "lineitem_orders_fk" ->
          graft.ops.Checks.referentialViolations(li, Seq("l_orderkey"),
            orders, Seq("o_orderkey")),
        "customer_key_not_null" ->
          graft.ops.Checks.nullViolations(cust, Seq("c_custkey")),
        // a violated expectation: not every order is high-priced —
        // the count must be the exact offender tally
        "orders_price_over_1000" ->
          graft.ops.Checks.expectViolations(orders,
            col("o_totalprice") > 1000.0)))
        .orderBy(col("check_name"))
    }),

    // ───── COMPOSITION gate: the SCD-2 point-in-time lookup — the
    // reason the history table exists. Each purchase is enriched with
    // the user's activity state (q167's intervals) AS OF the purchase
    // instant: containment against closed intervals, the open current
    // row catches everything after its valid_from ─────
    "q174_scd2_lookup" -> ((s, d) => {
      val e = Tables.events(s, d)
      val base = e.select(col("event_id"), col("user_id"),
        Tables.tsNanos(e).as("tn"), col("event_type"))
      val hist = graft.ops.Relational.scd2(
        base.select(col("user_id"), col("tn"), col("event_type")),
        keys = Seq("user_id"), tsCol = "tn", attrs = Seq("event_type"))
      val purchases = base.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id").as("u"), col("tn").as("pt"))
      // point-in-time join: valid_from <= pt < coalesce(valid_to, inf).
      // The history is interval-keyed, so the bucketized intervalJoin
      // applies; the OPEN row is a plain equi+filter join (one row per
      // key — broadcast-sized relative to the fact side)
      val closed = graft.ops.Relational.intervalJoin(
        hist.where(col("valid_to").isNotNull)
          .select(col("user_id"), col("event_type").as("state"),
            col("valid_from"), col("valid_to")),
        purchases.select(col("u").as("user_id"), col("event_id"), col("pt")),
        Seq("user_id"), "valid_from", "valid_to", "pt",
        bucketNanos = 86400L * 1000000000L, payload = Seq("event_id", "pt"))
      val open = hist.where(col("valid_to").isNull)
        .select(col("user_id"), col("event_type").as("state"),
          col("valid_from"))
        .join(purchases, col("user_id") === col("u") &&
          col("pt") >= col("valid_from"))
      closed.select(col("event_id"), col("user_id"), col("state"))
        .unionByName(open.select(col("event_id"), col("user_id"),
          col("state")))
        .orderBy(col("event_id"))
    }),

    // ───── one-pass data profile (the ANALYZE shape): per column, row
    // count, null count, EXACT distinct count, min/max — all columns'
    // aggregates in one scan via a single multi-distinct Expand ─────
    "q172_profile" -> ((s, d) =>
      graft.ops.Profile.profile(Tables.lineitem(s, d),
          Seq("l_orderkey", "l_linenumber", "l_returnflag"))
        .orderBy(col("col_name"))),

    // ───── equi-depth quantity histogram: 4 buckets cut at exact
    // order statistics (rank ⌈i·n/4⌉) — the optimizer-statistics
    // histogram that stays informative under skew; boundary-equal
    // values stay with their boundary's bucket ─────
    "q187_equidepth_hist" -> ((s, d) =>
      graft.ops.Profile.equiDepthHistogram(
          Tables.lineitem(s, d)
            .select(col("l_quantity").cast("long").as("qty")),
          "qty", k = 4)
        .orderBy(col("bucket"))),

    // ───── sequential Poisson weighted sample: 100 documents drawn
    // with odds proportional to length — the PPS corpus-sampling shape
    // — via exact-integer priorities, bit-replayable on any engine ─────
    "q168_weighted_sample" -> ((s, d) =>
      graft.ops.Sampling.weightedSample(
          Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", n = 100)
        .orderBy(col("doc_id"))),

    // ───── snapshot diff: two simulated order-table snapshots (keys
    // %7/%5-partitioned, %3 keys mutated) diffed into the I/U/D
    // changelog — one full-outer join, the incremental-shipping
    // primitive; the oracle replays the classification directly ─────
    "q179_snapshot_diff" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"))
      val base = o.where(col("o_orderkey") % 7 =!= 0)
      val next = o.where(col("o_orderkey") % 5 =!= 0)
        .withColumn("o_custkey", when(col("o_orderkey") % 3 === 0,
          col("o_custkey") + 1L).otherwise(col("o_custkey")))
      graft.ops.Cdc.snapshotDiff(base, next, Seq("o_orderkey"))
        .orderBy(col("o_orderkey"))
    }),

    // ───── changelog apply: three change waves (seq 1 updates, seq 2
    // deletes, seq 3 re-inserts — keys in several waves exercise
    // latest-wins: a %12 key is updated then deleted; a %12∩%6 key is
    // deleted then re-inserted) merged into the base snapshot ─────
    "q180_cdc_apply" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"))
      val base = o.where(col("o_orderkey") % 7 =!= 0)
      val upd = o.where(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), (col("o_custkey") + 10L).as("o_custkey"),
          col("o_orderstatus"), lit("U").as("op"), lit(1L).as("seq"))
      val del = o.where(col("o_orderkey") % 4 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          lit("D").as("op"), lit(2L).as("seq"))
      val ins = o.where(col("o_orderkey") % 6 === 0)
        .select(col("o_orderkey"), (col("o_custkey") + 20L).as("o_custkey"),
          lit("O").as("o_orderstatus"), lit("I").as("op"), lit(3L).as("seq"))
      graft.ops.Cdc.cdcApply(base,
          upd.unionByName(del).unionByName(ins), Seq("o_orderkey"), "seq")
        .orderBy(col("o_orderkey"))
    })
  )

  /** Funnel.funnelTimes's greedy chain (q131/q133/q145): first view `t1`
    * per user (CTE `s1`), the first click within 3 days after it (`s2`,
    * carrying the anchor as `t1c`), then the first purchase after that
    * click within the same window (`s3`). */
  private val funnelCtes =
    """e AS (
         SELECT user_id, event_type, epoch_ns(ts) AS tn FROM events),
       s1 AS (
         SELECT user_id, min(tn) AS t1 FROM e
         WHERE event_type = 'view' GROUP BY user_id),
       s2 AS (
         SELECT e.user_id, min(s1.t1) AS t1c, min(tn) AS t2
         FROM e JOIN s1 ON e.user_id = s1.user_id
         WHERE event_type = 'click' AND tn > s1.t1
           AND tn <= s1.t1 + 259200000000000
         GROUP BY e.user_id),
       s3 AS (
         SELECT e.user_id, min(tn) AS t3
         FROM e JOIN s2 ON e.user_id = s2.user_id
         WHERE event_type = 'purchase' AND tn > s2.t2
           AND tn <= s2.t1c + 259200000000000
         GROUP BY e.user_id)"""

  /** Events per (event_type `k`, epoch-day `bucket`): CTE `c(k, bucket,
    * n)`, the series the EWMA, Holt and CUSUM oracles fold. */
  private val dailyCountCte =
    """c AS (
         SELECT event_type AS k,
           epoch_ns(ts) // 86400000000000 AS bucket,
           CAST(count(*) AS BIGINT) AS n
         FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2)"""

  /** The EWMA fold per key over CTE `src(k, bucket, n)`: `x.ewma_prev`
    * is the integer EWMA (α = ½, `//` halving) of the key's earlier
    * buckets, as a prefix list_reduce per position; NULL at the first. */
  private def ewmaCtes(src: String): String =
    s"""g AS (
         SELECT k,
           list_sort(list(struct_pack(bucket := bucket, n := n))) AS arr
         FROM $src GROUP BY k),
       x AS (
         SELECT k, arr[u.i].bucket AS bucket, arr[u.i].n AS n,
           CASE WHEN u.i = 1 THEN NULL
             ELSE list_reduce(
               list_transform(arr[1:u.i-1], e -> e.n),
               (a, b) -> (a + b) // 2) END AS ewma_prev
         FROM g, UNNEST(range(1, len(arr) + 1)) AS u(i))"""

  /** Distinct active (user, window end) for 7-day windows: each active
    * (user, day) counts toward window ends day..day+6, clamped at the
    * newest day (`range` excludes its upper bound) — CTE `t`. */
  private val rollingActiveCtes =
    """e AS (
         SELECT DISTINCT user_id,
           epoch_ns(ts) // 86400000000000 AS b FROM events),
       m AS (SELECT max(b) AS mb FROM e),
       t AS (
         SELECT DISTINCT user_id, u.t AS bucket
         FROM e CROSS JOIN m,
           UNNEST(range(b, least(b + 7, mb + 1))) AS u(t))"""

  /** Fuzzy-match candidate pairs, suffix-blocked: same last two chars and
    * length, levenshtein <= 1, id_a < id_b. */
  private val suffixBlockPairsSql =
    """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
       FROM customer a JOIN customer b
         ON right(a.c_name, 2) = right(b.c_name, 2)
           AND a.c_custkey < b.c_custkey
       WHERE length(a.c_name) = length(b.c_name)
         AND levenshtein(a.c_name, b.c_name) <= 1"""

  val oracles: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         SUM(l_quantity) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
         AVG(l_quantity) AS avg_qty,
         COUNT(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
         FROM lineitem
         WHERE l_quantity > 45 AND l_shipdate >= TIMESTAMP '1997-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
         ORDER BY l_orderkey, l_linenumber""",
    "q03_join_revenue" ->
      """SELECT r_name, n_name,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
         COUNT(DISTINCT o_orderkey) AS n_orders
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    "q04_latest_per_key" ->
      """SELECT user_id, event_id, event_type, value FROM (
           SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
           FROM events) WHERE rn = 1 ORDER BY user_id""",
    "q05_anti_join" ->
      """SELECT user_id, COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events e
         WHERE NOT EXISTS (SELECT 1 FROM events v
                           WHERE v.event_type = 'view' AND v.user_id = e.user_id)
         GROUP BY user_id ORDER BY user_id""",
    "q06_except" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
         EXCEPT SELECT user_id FROM events WHERE event_type = 'purchase'
         ORDER BY user_id""",
    "q07_union_groups" ->
      """SELECT user_id, event_type, COUNT(*) AS n FROM (
           SELECT * FROM events WHERE event_type = 'click'
           UNION ALL SELECT * FROM events WHERE event_type = 'error')
         GROUP BY user_id, event_type ORDER BY user_id, event_type""",
    "q08_distinct" ->
      """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
         ORDER BY c_mktsegment, c_nationkey""",
    "q09_argmin" ->
      """SELECT user_id, event_type, arg_min(event_id, ts) AS first_event_id,
         arg_min(value, ts) AS first_value
         FROM events GROUP BY user_id, event_type ORDER BY user_id, event_type""",
    "q10_null_counts" ->
      """SELECT CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_o_orderkey,
         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_o_custkey,
         CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_o_orderstatus,
         CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_o_totalprice,
         CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_o_orderdate,
         CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_o_orderpriority
         FROM orders""",
    "q11_diff_counts" ->
      """SELECT (SELECT COUNT(*) FROM lineitem) AS left_count,
         (SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 45) AS right_count,
         (SELECT COUNT(*) FROM (SELECT DISTINCT * FROM lineitem EXCEPT
            SELECT DISTINCT * FROM lineitem WHERE l_quantity <= 45)) AS only_left,
         (SELECT COUNT(*) FROM (SELECT DISTINCT * FROM lineitem WHERE l_quantity <= 45
            EXCEPT SELECT DISTINCT * FROM lineitem)) AS only_right""",
    "q12_pivot_counts" ->
      """SELECT user_id,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
         COUNT(*) AS n_all
         FROM events GROUP BY user_id ORDER BY user_id""",
    "q45_stratified_sample" ->
      """SELECT event_id, event_type, user_id, value FROM (
           SELECT event_id, event_type, user_id, value,
             row_number() OVER (PARTITION BY event_type
               ORDER BY substr(md5(CAST(event_id AS VARCHAR)), 1, 8), event_id) AS rn
           FROM events) WHERE rn <= 10
         ORDER BY event_type, event_id""",
    "q46_weighted_mix" ->
      """SELECT doc_id, lang, source FROM documents
         WHERE lang <> 'en'
            OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '80000000'
         ORDER BY doc_id""",
    "q52_sessionize" ->
      """WITH f AS (
           SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                   OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
           FROM events),
         s AS (
           SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id
           FROM f)
         SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           epoch_ns(MIN(ts)) // 1000000 AS start_ms,
           epoch_ns(MAX(ts)) // 1000000 AS end_ms
         FROM s GROUP BY user_id, session_id
         ORDER BY user_id, session_id""",
    "q53_rolling_window" ->
      """SELECT event_id, user_id,
           COUNT(*) OVER w AS n_last_hour,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_last_hour
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts
                      RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",
    // 0x4ccccccd = Sampling.hexThreshold(0.3): floor(2.3) copies + one
    // more when the id hash clears the fractional threshold
    "q56_upsampled" ->
      """SELECT doc_id, lang,
           unnest(generate_series(0,
             1 + CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '4ccccccd'
                      THEN 1 ELSE 0 END)) AS epoch
         FROM documents
         ORDER BY doc_id, epoch""",
    "q57_token_budget" ->
      s"""WITH t AS (
           SELECT doc_id, lang,
             CAST(len($toks) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (
           SELECT *, SUM(n_tokens) OVER (
             ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id
             ROWS UNBOUNDED PRECEDING) AS cum
           FROM t)
         SELECT doc_id, lang, n_tokens FROM c
         WHERE cum - n_tokens < 10000 ORDER BY doc_id""",
    // replays temperatureMixture bit-for-bit: exact integer totals,
    // sqrt weights folded in lang order (list_sum = the driver's
    // source-list fold), p = min(1, share·budget/total), md5 threshold
    // hex via floor(x+0.5) — Scala's math.round
    "q92_temperature_mix" ->
      s"""WITH d AS (
           SELECT doc_id, lang,
             CAST(len($toks) AS INT) AS n
           FROM documents WHERE lang IS NOT NULL),
         tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS nt FROM d GROUP BY lang),
         sq AS (SELECT lang, nt, sqrt(CAST(nt AS DOUBLE)) AS s FROM tot),
         ws AS (SELECT list_sum(list(s ORDER BY lang)) AS wsum FROM sq),
         pr AS (SELECT lang,
                  LEAST(1.0, s / wsum * 20000 / CAST(nt AS DOUBLE)) AS p
                FROM sq, ws),
         thr AS (SELECT lang, p,
                  printf('%08x', CAST(LEAST(floor(p * 4294967296 + 0.5),
                    4294967295) AS BIGINT)) AS h
                 FROM pr)
         SELECT d.doc_id, d.lang AS source, d.n
         FROM d JOIN thr USING (lang)
         WHERE p >= 1.0 OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < h
         ORDER BY d.doc_id""",
    // replays epochCappedMixture's waterfill bit-for-bit: the recursive
    // CTE folds min/divide/subtract in the SAME ascending (tokens, lang)
    // order as the driver loop — IEEE ops, no libm — then the identical
    // floor(x+0.5) hex threshold and range() epoch materialization
    "q230_unimax_mix" ->
      s"""WITH RECURSIVE
         d AS (SELECT doc_id, lang,
                 CAST(len($toks) AS BIGINT) AS n
               FROM documents WHERE lang IS NOT NULL),
         tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS c FROM d
                 GROUP BY lang HAVING sum(n) > 0),
         ord AS (SELECT lang, c, 1.2 * CAST(c AS DOUBLE) AS cap,
                   CAST(row_number() OVER (ORDER BY c, lang) AS BIGINT) AS rn,
                   CAST(count(*) OVER () AS BIGINT) AS k
                 FROM tot),
         fill AS (
           SELECT CAST(0 AS BIGINT) AS rn,
             0.9 * (SELECT CAST(sum(n) AS DOUBLE) FROM d) AS remaining,
             CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS DOUBLE) AS alloc
           UNION ALL
           SELECT o.rn,
             f.remaining - least(o.cap, f.remaining / CAST(o.k - f.rn AS DOUBLE)),
             o.lang, least(o.cap, f.remaining / CAST(o.k - f.rn AS DOUBLE))
           FROM fill f JOIN ord o ON o.rn = f.rn + 1),
         th AS (SELECT f.lang,
                  CAST(floor(f.alloc / CAST(t.c AS DOUBLE)) AS BIGINT) AS whole,
                  printf('%08x', CAST(LEAST(floor(
                    (f.alloc / CAST(t.c AS DOUBLE)
                       - floor(f.alloc / CAST(t.c AS DOUBLE))) * 4294967296 + 0.5),
                    4294967295) AS BIGINT)) AS h
                FROM fill f JOIN tot t USING (lang)),
         cop AS (SELECT d.doc_id, d.lang, th.whole +
                   (CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < th.h
                         THEN 1 ELSE 0 END) AS copies
                 FROM d JOIN th USING (lang))
         SELECT doc_id, lang, unnest(range(copies)) AS epoch
         FROM cop WHERE copies > 0
         ORDER BY doc_id, epoch""",
    // replays stride scheduling relationally: per-source arithmetic
    // occurrence times (one IEEE division each) merge-sorted, global
    // row_number = step index — the oracle's single window IS the
    // mechanism difference (Spark ranks via the distributed prefix sum)
    "q235_mixture_schedule" ->
      s"""WITH tot AS (SELECT lang AS source,
              CAST(sum(len($toks))
                AS BIGINT) AS c
            FROM documents WHERE lang IS NOT NULL GROUP BY 1),
          w AS (SELECT source, CAST(c AS DOUBLE) /
                  CAST((SELECT sum(c) FROM tot) AS DOUBLE) AS wt
                FROM tot),
          occ AS (SELECT source, (CAST(k AS DOUBLE) + 1) / wt AS t
                  FROM w, unnest(range(CAST(ceil(wt *
                      (200 + (SELECT CAST(count(*) AS DOUBLE) FROM tot)))
                    AS BIGINT) + 1)) AS u(k)),
          r AS (SELECT source,
                  row_number() OVER (ORDER BY t, source) - 1 AS step
                FROM occ)
          SELECT CAST(step AS BIGINT) AS step, source FROM r
          WHERE step < 200 ORDER BY step""",
    // thresholds are the same round(p·2^32) hex rounding hashSplit uses
    "q100_split" ->
      s"""SELECT doc_id, lang,
            CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                   < '${graft.ops.Sampling.hexThreshold(0.8)}' THEN 'train'
                 WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                   < '${graft.ops.Sampling.hexThreshold(0.9)}' THEN 'val'
                 ELSE 'test' END AS split
          FROM documents ORDER BY doc_id""",

    // the prefix-blocked star pairs form cliques per prefix, so the
    // component the large-star/small-star loop converges to is exactly
    // min(doc_id) over the prefix group — a plain window replays it;
    // the split then hashes the CLUSTER id through the q100 intervals
    "q220_cluster_split" ->
      s"""WITH t AS (SELECT doc_id,
                CASE WHEN doc_id % 11 = 0 THEN NULL
                     WHEN doc_id % 11 = 1 THEN ''
                     ELSE text END AS text
              FROM documents),
          cl AS (SELECT doc_id,
                min(doc_id) OVER (PARTITION BY coalesce(substr(text, 1, 8),
                  '__null__' || CAST(doc_id AS VARCHAR))) AS cluster
              FROM t)
          SELECT doc_id, cluster,
            CASE WHEN substr(md5(CAST(cluster AS VARCHAR)), 1, 8)
                   < '${graft.ops.Sampling.hexThreshold(0.8)}' THEN 'train'
                 WHEN substr(md5(CAST(cluster AS VARCHAR)), 1, 8)
                   < '${graft.ops.Sampling.hexThreshold(0.9)}' THEN 'val'
                 ELSE 'test' END AS split
          FROM cl ORDER BY doc_id""",

    // the cap is EXACTLY top-n per key by (md5-prefix, id) — the oracle
    // is the plain single-window form the operator avoids at scale
    "q96_domain_cap" ->
      """SELECT doc_id, lang, source FROM (
           SELECT doc_id, lang, source,
             row_number() OVER (PARTITION BY lang
               ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS rn
           FROM documents) WHERE rn <= 70
         ORDER BY doc_id""",
    // DuckDB GROUPING() emits the same bitmask as Spark's grouping_id
    "q54_rollup" ->
      """SELECT l_returnflag, l_linestatus,
           SUM(l_quantity) AS sum_qty, COUNT(*) AS n,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
         FROM lineitem
         GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY gid, l_returnflag, l_linestatus""",
    "q55_unpivot" ->
      """WITH p AS (
           SELECT user_id,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS click,
             SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS view,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchase
           FROM events GROUP BY user_id)
         SELECT user_id, event_type, CAST(n AS BIGINT) AS n FROM p
         UNPIVOT (n FOR event_type IN (click, view, purchase))
         ORDER BY user_id, event_type""",
    // DuckDB's native ASOF JOIN is the oracle for the carry-forward form
    "q50_asof_join" ->
      """SELECT l.event_id, l.user_id, l.event_type,
            r.value AS last_purchase_value
         FROM events l
         ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                         WHERE event_type = 'purchase') r
           ON l.user_id = r.user_id AND l.ts >= r.ts
         ORDER BY l.event_id""",

    // the greedy chain replayed step by step: s2/s3 each re-anchor on the
    // carried t1 window, exactly Funnel.funnelTimes's join semantics
    "q131_funnel" ->
      s"""WITH $funnelCtes
         SELECT s1.user_id, t1, t2, t3,
           CAST(CASE WHEN t3 IS NOT NULL THEN 3
                     WHEN t2 IS NOT NULL THEN 2 ELSE 1 END AS INT) AS max_step
         FROM s1
         LEFT JOIN s2 ON s1.user_id = s2.user_id
         LEFT JOIN s3 ON s1.user_id = s3.user_id
         ORDER BY s1.user_id""",

    // q131's chain CTEs rolled up to per-depth user counts
    "q133_funnel_counts" ->
      s"""WITH $funnelCtes
         SELECT * FROM (VALUES
           (1, (SELECT CAST(count(*) AS BIGINT) FROM s1)),
           (2, (SELECT CAST(count(*) AS BIGINT) FROM s2)),
           (3, (SELECT CAST(count(*) AS BIGINT) FROM s3)))
           AS t(step, n_users)
         ORDER BY step""",

    // integer-div week buckets (// == Spark's div for non-negative
    // epochs), first-activity cohort, distinct active (user, week)
    "q132_retention" ->
      """WITH e AS (
           SELECT user_id, epoch_ns(ts) // 604800000000000 AS wk
           FROM events),
         c AS (SELECT user_id, min(wk) AS cw FROM e GROUP BY user_id),
         a AS (SELECT DISTINCT user_id, wk FROM e)
         SELECT c.cw AS cohort_bucket, a.wk - c.cw AS bucket_offset,
           CAST(count(*) AS BIGINT) AS n_users
         FROM a JOIN c ON a.user_id = c.user_id
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // each active (user, day) contributes to window ends day..day+6,
    // clamped at the newest day in the data; range() excludes its upper
    // bound so the +7/+1 pair replays Spark's inclusive sequence()
    "q138_rolling_active" ->
      s"""WITH $rollingActiveCtes
         SELECT bucket, CAST(count(*) AS BIGINT) AS n_active
         FROM t GROUP BY bucket ORDER BY bucket""",

    // q131's chain CTEs, converters joined back for their step times
    "q145_conversion_latency" ->
      s"""WITH $funnelCtes
         SELECT (s3.t3 - s2.t2) // 3600000000000 AS latency_hours,
           CAST(count(*) AS BIGINT) AS n_users
         FROM s3 JOIN s2 ON s3.user_id = s2.user_id
         GROUP BY 1 ORDER BY 1""",

    // yesterday's actives absent today, clamped at the newest day
    "q146_churned_users" ->
      """WITH e AS (
           SELECT DISTINCT user_id,
             epoch_ns(ts) // 86400000000000 AS b FROM events),
         m AS (SELECT max(b) AS mb FROM e),
         pri AS (SELECT user_id, b + 1 AS bucket FROM e)
         SELECT bucket, CAST(count(*) AS BIGINT) AS n_churned
         FROM pri CROSS JOIN m
         WHERE bucket <= mb AND NOT EXISTS (SELECT 1 FROM e
           WHERE e.b = pri.bucket AND e.user_id = pri.user_id)
         GROUP BY bucket ORDER BY bucket""",

    // q138's replay with the segment carried through fan-out and count;
    // the clamp stays global (max over ALL segments' activity)
    "q144_rolling_active_by" ->
      """WITH e AS (
           SELECT DISTINCT user_id, event_type,
             epoch_ns(ts) // 86400000000000 AS b FROM events),
         m AS (SELECT max(b) AS mb FROM e),
         t AS (
           SELECT DISTINCT user_id, event_type, u.t AS bucket
           FROM e CROSS JOIN m,
             UNNEST(range(b, least(b + 7, mb + 1))) AS u(t))
         SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n_active
         FROM t GROUP BY event_type, bucket
         ORDER BY event_type, bucket""",

    // q52's session CTEs + ordered string_agg; (ts, event_id) totally
    // orders within a session so both engines assemble identical paths
    "q143_session_paths" ->
      """WITH f AS (
           SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                   OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
           FROM events),
         s AS (
           SELECT user_id, ts, event_id, event_type,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id
           FROM f),
         p AS (
           SELECT user_id, session_id,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
           FROM s GROUP BY user_id, session_id)
         SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
         FROM p GROUP BY path
         ORDER BY n_sessions DESC, path LIMIT 20""",

    // exact half replayed; the sketch estimate's 5% verdict is pinned
    "q142_rolling_active_approx" ->
      s"""WITH $rollingActiveCtes
         SELECT bucket, CAST(count(*) AS BIGINT) AS n_active,
           TRUE AS hll_ok
         FROM t GROUP BY bucket ORDER BY bucket""",

    // the same dirty-name build, suffix block, length band and
    // unbounded levenshtein — Spark's threshold form returns the exact
    // distance for every surviving pair, so the replays agree
    "q150_fuzzy_match" ->
      """WITH cust AS (SELECT c_custkey, c_name FROM customer),
         dirty AS (
           SELECT c_custkey + 1000000 AS d_id,
             concat(substr(c_name, 1, length(c_name) - 3), 'X',
               right(c_name, 2)) AS d_name
           FROM customer WHERE c_custkey % 5 = 0)
         SELECT d_id AS id_a, c_custkey AS id_b,
           CAST(levenshtein(d_name, c_name) AS INT) AS dist
         FROM dirty JOIN cust ON right(d_name, 2) = right(c_name, 2)
         WHERE abs(length(d_name) - length(c_name)) <= 1
           AND levenshtein(d_name, c_name) <= 2
         ORDER BY id_a, id_b""",

    // theta estimates are exact below nominal capacity, so the replay
    // is plain distinct-set arithmetic
    "q151_segment_overlap" ->
      """WITH s AS (
           SELECT DISTINCT event_type AS seg, user_id FROM events
           WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
         c AS (SELECT seg, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY 1),
         p AS (SELECT x.seg AS seg_a, y.seg AS seg_b
               FROM c x JOIN c y ON x.seg < y.seg),
         i AS (SELECT sa.seg AS seg_a, sb.seg AS seg_b,
                 CAST(count(*) AS BIGINT) AS n_both
               FROM s sa JOIN s sb
                 ON sa.user_id = sb.user_id AND sa.seg < sb.seg
               GROUP BY 1, 2)
         SELECT p.seg_a, p.seg_b, ca.n AS n_a, cb.n AS n_b,
           COALESCE(i.n_both, 0) AS n_both,
           ca.n + cb.n - COALESCE(i.n_both, 0) AS n_union,
           ca.n - COALESCE(i.n_both, 0) AS n_only_a
         FROM p
         JOIN c ca ON ca.seg = p.seg_a
         JOIN c cb ON cb.seg = p.seg_b
         LEFT JOIN i ON i.seg_a = p.seg_a AND i.seg_b = p.seg_b
         ORDER BY p.seg_a, p.seg_b""",

    // exact half replayed (order statistic, same ceil position); the
    // sketch's rank-band verdict is pinned TRUE
    "q156_rolling_p95" ->
      """WITH b AS (
           SELECT CAST(value AS DOUBLE) AS v,
             epoch_ns(ts) // 86400000000000 AS bkt
           FROM events WHERE value IS NOT NULL),
         m AS (SELECT max(bkt) AS mb FROM b),
         t AS (SELECT v, u.t AS bucket FROM b CROSS JOIN m,
               UNNEST(range(bkt, least(bkt + 7, mb + 1))) AS u(t)),
         gx AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n,
                list_sort(list(v)) AS vals FROM t GROUP BY bucket)
         SELECT bucket, n,
           vals[CAST(ceil(n * 0.95) AS INT)] AS p95_exact,
           TRUE AS kll_rank_ok
         FROM gx ORDER BY bucket""",

    // q44's recursive-CTE component replay over the levenshtein edge set
    "q155_fuzzy_clusters" ->
      s"""WITH RECURSIVE pairs AS ($suffixBlockPairsSql),
         $componentCtes
         SELECT c2.c_custkey, COALESCE(c.component, c2.c_custkey) AS component,
                COALESCE(c.component, c2.c_custkey) = c2.c_custkey AS keep
         FROM customer c2 LEFT JOIN comp c ON c2.c_custkey = c.id
         ORDER BY c2.c_custkey""",

    // the same total order as a row_number window (fine in the oracle;
    // the Spark side deliberately avoids the global window), neighbor
    // pairs by rank distance, same unbounded levenshtein filter
    "q154_sorted_neighbors" ->
      """WITH s AS (SELECT c_name AS s, c_custkey AS id FROM customer),
         r AS (SELECT s, id, row_number() OVER (ORDER BY s, id) AS rn
               FROM s)
         SELECT a.id AS id_a, b.id AS id_b,
           CAST(levenshtein(a.s, b.s) AS INT) AS dist
         FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 3
         WHERE levenshtein(a.s, b.s) <= 2
         ORDER BY id_a, id_b""",

    // the same integer fold, replayed as a prefix list_reduce per
    // position (E after j elements = left fold of the first j counts)
    "q153_ewma_spikes" ->
      s"""WITH $dailyCountCte,
         ${ewmaCtes("c")}
         SELECT k AS event_type, bucket, n,
           CAST(ewma_prev AS BIGINT) AS ewma_prev,
           n > 3 * ewma_prev AS spike
         FROM x ORDER BY event_type, bucket""",

    // the Holt (level, trend) fold replayed as a RECURSIVE CTE over
    // per-key positions — not a list_reduce prefix fold: DuckDB 1.0's
    // list_reduce drops the second field of a struct accumulator, so
    // two-state folds must recurse (O(n) anyway, vs the O(n²) prefix
    // trick); integer `//` truncates exactly like Spark's `div`
    "q183_holt_forecast" ->
      s"""WITH RECURSIVE $dailyCountCte,
         s AS (SELECT k, bucket, n, row_number() OVER (
                 PARTITION BY k ORDER BY bucket) AS i FROM c),
         f AS (
           SELECT k, i, n AS l, CAST(0 AS BIGINT) AS t FROM s WHERE i = 1
           UNION ALL
           SELECT s.k, s.i,
             (s.n + f.l + f.t) // 2 AS l,
             ((s.n + f.l + f.t) // 2 - f.l + f.t) // 2 AS t
           FROM f JOIN s ON s.k = f.k AND s.i = f.i + 1)
         SELECT s.k AS event_type, s.bucket, s.n,
           CAST(p.l + p.t AS BIGINT) AS forecast_prev,
           abs(s.n - (p.l + p.t)) * 10 >
             20 * greatest(abs(p.l + p.t), 1) AS anom
         FROM s LEFT JOIN f p ON p.k = s.k AND p.i = s.i - 1
         ORDER BY event_type, bucket""",
    // μ as a warmup aggregate (exactly 3 buckets or no reference), the
    // one-sided sums as a two-state recursive fold (the q183 pattern);
    // warmup rows keep mu but null sums/verdicts
    "q200_cusum" ->
      s"""WITH RECURSIVE $dailyCountCte,
         s AS (SELECT k, bucket, n, row_number() OVER (
                 PARTITION BY k ORDER BY bucket) AS i FROM c),
         mu AS (SELECT k, CAST(sum(n) // 3 AS BIGINT) AS mu FROM s
                WHERE i <= 3 GROUP BY k HAVING count(*) = 3),
         f AS (
           SELECT mu.k, 3 AS i, CAST(0 AS BIGINT) AS sp,
             CAST(0 AS BIGINT) AS sn
           FROM mu
           UNION ALL
           SELECT f.k, f.i + 1,
             greatest(0, f.sp + s.n - mu.mu - 1),
             greatest(0, f.sn + mu.mu - s.n - 1)
           FROM f JOIN s ON s.k = f.k AND s.i = f.i + 1
                  JOIN mu ON mu.k = f.k)
         SELECT s.k AS event_type, s.bucket, s.n, mu.mu AS mu,
           CASE WHEN s.i > 3 THEN CAST(f.sp AS BIGINT) END AS s_pos,
           CASE WHEN s.i > 3 THEN CAST(f.sn AS BIGINT) END AS s_neg,
           CASE WHEN s.i > 3 THEN f.sp > 5 END AS shift_up,
           CASE WHEN s.i > 3 THEN f.sn > 5 END AS shift_down
         FROM s LEFT JOIN mu ON mu.k = s.k
                LEFT JOIN f ON f.k = s.k AND f.i = s.i
         ORDER BY event_type, bucket""",
    // the scaled-deviation products and the shifted division replayed
    "q218_autocorr" ->
      """WITH c AS (SELECT event_type AS k,
                      epoch_ns(ts) // 86400000000000 AS b,
                      CAST(count(*) AS BIGINT) AS x
                    FROM events WHERE event_type IS NOT NULL
                    GROUP BY 1, 2),
         st AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(x) AS BIGINT) AS s FROM c GROUP BY 1),
         d AS (SELECT c.k, c.b, c.x * st.n - st.s AS d, st.n
               FROM c JOIN st USING (k)),
         num AS (SELECT a.k, CAST(sum(a.d * l.d) AS BIGINT) AS num
                 FROM d a JOIN d l ON l.k = a.k AND l.b = a.b + 7
                 GROUP BY 1),
         den AS (SELECT k, CAST(min(n) AS BIGINT) AS n,
                   CAST(sum(d * d) AS BIGINT) AS den FROM d GROUP BY 1)
         SELECT den.k AS event_type, den.n AS n_buckets,
           CAST(COALESCE(num.num, 0) AS BIGINT) AS num, den.den,
           CASE WHEN den.den > 0 THEN
             CAST((COALESCE(num.num, 0) * 1000 + 10000 * den.den)
               // den.den - 10000 AS BIGINT)
           END AS acf_permille
         FROM den LEFT JOIN num USING (k)
         ORDER BY event_type""",
    // distinct (det, dep) pairs grouped and filtered — min/max are the
    // deterministic witnesses
    "q216_fd_violations" ->
      """WITH d AS (SELECT DISTINCT o_custkey, o_orderpriority
                    FROM orders)
         SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_dep_values,
           CAST(min(o_orderpriority) AS VARCHAR) AS dep_sample_a,
           CAST(max(o_orderpriority) AS VARCHAR) AS dep_sample_b
         FROM d GROUP BY 1 HAVING count(*) > 1 ORDER BY o_custkey""",
    // distinct-set containment both ways, in permille
    "q217_inclusion" ->
      """WITH la AS (SELECT DISTINCT CAST(l_partkey AS VARCHAR) AS v
                     FROM lineitem WHERE l_partkey IS NOT NULL),
         pa AS (SELECT DISTINCT CAST(p_partkey AS VARCHAR) AS v
                FROM part WHERE p_partkey IS NOT NULL),
         one AS (
           SELECT 'li_in_part' AS pair,
             CAST((SELECT count(*) FROM la) AS BIGINT) AS n_a,
             CAST((SELECT count(*) FROM la WHERE v IN (SELECT v FROM pa))
               AS BIGINT) AS n_shared),
         two AS (
           SELECT 'part_in_li' AS pair,
             CAST((SELECT count(*) FROM pa) AS BIGINT) AS n_a,
             CAST((SELECT count(*) FROM pa WHERE v IN (SELECT v FROM la))
               AS BIGINT) AS n_shared)
         SELECT pair, n_a, n_shared,
           CAST(CASE WHEN n_a = 0 THEN 0
                ELSE n_shared * 1000 // n_a END AS BIGINT)
             AS inclusion_permille
         FROM (SELECT * FROM one UNION ALL SELECT * FROM two)
         ORDER BY pair""",
    // the rank-⌈p·n/1000⌉ fences and the clamp replayed — the value at
    // a rank of a sorted multiset is unique regardless of tie order
    "q215_winsorize" ->
      """WITH v AS (SELECT l_partkey AS k, CAST(l_quantity AS BIGINT) AS v
                    FROM lineitem WHERE l_orderkey % 5 = 0),
         r AS (SELECT k, v,
                 row_number() OVER (PARTITION BY k ORDER BY v) AS rn,
                 count(*) OVER (PARTITION BY k) AS cnt FROM v),
         lo AS (SELECT k, v AS lo_fence FROM r
                WHERE rn = greatest((cnt * 100 + 999) // 1000, 1)),
         hi AS (SELECT k, v AS hi_fence FROM r
                WHERE rn = greatest((cnt * 900 + 999) // 1000, 1))
         SELECT v.k AS l_partkey, v.v, lo.lo_fence, hi.hi_fence,
           greatest(lo.lo_fence, least(hi.hi_fence, v.v)) AS v_winsor
         FROM v JOIN lo USING (k) JOIN hi USING (k)
         ORDER BY l_partkey, v""",
    // exact half replayed (per-row inclusive rank mass via a RANGE
    // frame — peers included, matching the histogram cumsum); the
    // sketch's rank-band verdict is pinned TRUE
    "q219_pct_rank_approx" ->
      """WITH e AS (SELECT event_type, CAST(value AS DOUBLE) AS v
                    FROM events
                    WHERE value IS NOT NULL AND event_type IS NOT NULL),
         r AS (SELECT event_type,
                 CAST(count(*) OVER (PARTITION BY event_type ORDER BY v
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
               FROM e)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cum) AS BIGINT) AS sum_cum_incl,
           TRUE AS kll_rank_ok
         FROM r GROUP BY event_type ORDER BY event_type""",
    // both half-profiles + the drift formulas replayed column-wise
    "q214_profile_drift" -> {
      def one(c: String, par: Int): String =
        s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n,
              CAST(count(*) - count($c) AS BIGINT) AS n_null,
              CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
              CAST(min($c) AS VARCHAR) AS min_value,
              CAST(max($c) AS VARCHAR) AS max_value
            FROM lineitem WHERE l_orderkey % 2 = $par"""
      def side(par: Int): String =
        Seq("l_orderkey", "l_linenumber", "l_returnflag")
          .map(one(_, par)).mkString(" UNION ALL ")
      s"""WITH pa AS (${side(0)}), pb AS (${side(1)}),
          j AS (
            SELECT a.col_name, a.n AS n_a, b.n AS n_b,
              CAST(a.n_null * 1000 // a.n AS BIGINT) AS null_pm_a,
              CAST(b.n_null * 1000 // b.n AS BIGINT) AS null_pm_b,
              a.n_distinct AS dist_a, b.n_distinct AS dist_b,
              NOT (a.min_value IS NOT DISTINCT FROM b.min_value)
                AS min_changed,
              NOT (a.max_value IS NOT DISTINCT FROM b.max_value)
                AS max_changed
            FROM pa a JOIN pb b USING (col_name))
          SELECT *,
            (abs(null_pm_a - null_pm_b) > 10
              OR abs(dist_a - dist_b) * 1000 > 100 * greatest(dist_a, 1)
              OR min_changed OR max_changed) AS drifted
          FROM j ORDER BY col_name"""
    },
    // exact distinct-set algebra per consecutive day — theta estimates
    // are exact under the nominal capacity (the q151 regime)
    "q212_daily_churn" ->
      """WITH u AS (SELECT DISTINCT epoch_ns(ts) // 86400000000000 AS d,
                      user_id
                    FROM events WHERE user_id IS NOT NULL),
         ca AS (SELECT d, CAST(count(*) AS BIGINT) AS n FROM u GROUP BY 1),
         kept AS (SELECT x.d AS bucket, CAST(count(*) AS BIGINT) AS n_kept
                  FROM u x JOIN u y ON y.d = x.d + 1
                    AND y.user_id = x.user_id
                  GROUP BY 1)
         SELECT a.d AS bucket, b.d AS bucket_next,
           a.n AS n_prev, b.n AS n_next,
           COALESCE(k.n_kept, 0) AS n_kept,
           a.n - COALESCE(k.n_kept, 0) AS n_gone,
           b.n - COALESCE(k.n_kept, 0) AS n_new
         FROM ca a JOIN ca b ON b.d = a.d + 1
         LEFT JOIN kept k ON k.bucket = a.d
         ORDER BY bucket""",
    // exact per-key counts + exact scalars; p999_ok is the pinned
    // bounded verdict for the engine-specific KLL rank rounding
    "q211_key_skew_report" ->
      """WITH c AS (SELECT event_type AS key,
                      CAST(count(*) AS BIGINT) AS n
                    FROM events WHERE event_type IS NOT NULL GROUP BY 1),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS n_rows,
                 CAST(count(*) AS BIGINT) AS n_keys,
                 CAST(max(n) AS BIGINT) AS max_count FROM c)
         SELECT c.key, c.n, t.n_rows, t.n_keys, t.max_count,
           CAST(t.max_count * 1000 // (t.n_rows // t.n_keys) AS BIGINT)
             AS skew_ratio_permille,
           TRUE AS p999_ok
         FROM c CROSS JOIN t ORDER BY c.key""",
    // nine-row digit histogram + the pinned rounded-permille Benford
    // table, replayed exactly
    "q207_benford_audit" ->
      """WITH v AS (SELECT CAST(floor(abs(l_extendedprice)) AS BIGINT) AS v
                    FROM lineitem),
         d AS (SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INT) AS digit
               FROM v WHERE v >= 1),
         c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
               FROM d GROUP BY 1),
         t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM c),
         e AS (SELECT unnest(generate_series(1, 9)) AS digit,
                 unnest([301, 176, 125, 97, 79, 67, 58, 51, 46])
                   AS exp_permille)
         SELECT CAST(e.digit AS INT) AS digit,
           COALESCE(c.n_obs, 0) AS n_obs,
           CAST(COALESCE(c.n_obs, 0) * 1000 // t.n AS BIGINT)
             AS obs_permille,
           CAST(e.exp_permille AS BIGINT) AS exp_permille
         FROM e LEFT JOIN c USING (digit) CROSS JOIN t
         ORDER BY digit""",
    // the plain join — the salted rewrite is provably result-invariant
    "q203_salted_join" ->
      """SELECT p_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
         FROM lineitem JOIN part ON p_partkey = l_partkey
         GROUP BY p_type ORDER BY p_type""",
    // the two lower medians replayed as rank-(⌈n/2⌉) order statistics
    "q184_mad_outliers" ->
      """WITH v AS (SELECT l_partkey AS k, CAST(l_quantity AS BIGINT) AS v
                    FROM lineitem WHERE l_orderkey % 5 = 0),
         r AS (SELECT k, v,
                 row_number() OVER (PARTITION BY k ORDER BY v) AS rn,
                 count(*) OVER (PARTITION BY k) AS cnt FROM v),
         med AS (SELECT k, v AS med FROM r WHERE rn = (cnt + 1) // 2),
         d AS (SELECT v.k, v.v, med.med, abs(v.v - med.med) AS absdev
               FROM v JOIN med ON v.k = med.k),
         r2 AS (SELECT k, absdev,
                  row_number() OVER (PARTITION BY k ORDER BY absdev) AS rn,
                  count(*) OVER (PARTITION BY k) AS cnt FROM d),
         mad AS (SELECT k, absdev AS mad FROM r2 WHERE rn = (cnt + 1) // 2)
         SELECT d.k AS l_partkey, d.v, d.med, mad.mad, TRUE AS outlier
         FROM d JOIN mad ON d.k = mad.k
         WHERE d.absdev * 10 > 18 * mad.mad
         ORDER BY l_partkey, v""",
    // the q153 fold replayed over a ZERO-FILLED series (generate_series
    // per key span, absent buckets coalesce to 0), plus the dip verdict
    // n < ewma_prev // 3
    "q159_ewma_outages" ->
      s"""WITH $dailyCountCte,
         cf AS (SELECT * FROM c WHERE bucket % 7 <> 3),
         sp AS (SELECT k, min(bucket) AS mn, max(bucket) AS mx
                FROM cf GROUP BY 1),
         filled AS (
           SELECT f.k, f.bucket, COALESCE(cf.n, 0) AS n
           FROM (SELECT sp.k, u.b AS bucket
                 FROM sp, UNNEST(range(sp.mn, sp.mx + 1)) AS u(b)) f
           LEFT JOIN cf ON cf.k = f.k AND cf.bucket = f.bucket),
         ${ewmaCtes("filled")}
         SELECT k AS event_type, bucket, n,
           CAST(ewma_prev AS BIGINT) AS ewma_prev,
           n > 3 * ewma_prev AS spike,
           n < ewma_prev // 3 AS dip
         FROM x ORDER BY event_type, bucket""",

    // per-bucket counts on both sides; the verdict replayed as an
    // EXACT per-bucket multiset comparison (full-outer join on every
    // column + multiplicity), which the checksum must reproduce
    "q190_table_checksums" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS c,
                      o_orderstatus AS st FROM orders),
          a AS (SELECT k % 64 AS bucket, k, c, st FROM o),
          b AS (SELECT k % 64 AS bucket, k,
                  CASE WHEN k % 101 = 7 THEN c + 1 ELSE c END AS c, st
                FROM o WHERE k % 97 <> 5),
          ga AS (SELECT bucket, k, c, st, count(*) AS cnt
                 FROM a GROUP BY ALL),
          gb AS (SELECT bucket, k, c, st, count(*) AS cnt
                 FROM b GROUP BY ALL),
          bad AS (SELECT DISTINCT COALESCE(ga.bucket, gb.bucket) AS bucket
                  FROM ga FULL OUTER JOIN gb
                    ON ga.bucket = gb.bucket AND ga.k = gb.k
                    AND ga.c IS NOT DISTINCT FROM gb.c
                    AND ga.st IS NOT DISTINCT FROM gb.st
                    AND ga.cnt = gb.cnt
                  WHERE ga.bucket IS NULL OR gb.bucket IS NULL),
          na AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_a
                 FROM a GROUP BY 1),
          nb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_b
                 FROM b GROUP BY 1)
          SELECT COALESCE(na.bucket, nb.bucket) AS bucket,
            COALESCE(na.n_a, 0) AS n_a, COALESCE(nb.n_b, 0) AS n_b,
            bad.bucket IS NULL AS consistent
          FROM na FULL OUTER JOIN nb ON na.bucket = nb.bucket
          LEFT JOIN bad ON bad.bucket = COALESCE(na.bucket, nb.bucket)
          ORDER BY bucket""",
    // the semi-join the Bloom pre-filter provably preserves
    "q185_bloom_semi_join" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                              WHERE o_totalprice > 150000.0)
         ORDER BY l_orderkey, l_linenumber""",
    // union of the q150-style suffix self-join pass and the q154
    // sorted-neighborhood pass, normalized to id_a < id_b and deduped
    // on the pair key (the distance is exact in both passes, MIN is
    // just the dedup)
    "q160_fuzzy_multipass" ->
      """WITH s AS (SELECT c_name AS s, c_custkey AS id FROM customer),
         p1 AS (
           SELECT a.id AS id_a, b.id AS id_b,
             CAST(levenshtein(a.s, b.s) AS INT) AS dist
           FROM s a JOIN s b
             ON right(a.s, 2) = right(b.s, 2) AND a.id < b.id
           WHERE abs(length(a.s) - length(b.s)) <= 1
             AND levenshtein(a.s, b.s) <= 2),
         r AS (SELECT s, id, row_number() OVER (ORDER BY s, id) AS rn
               FROM s),
         p2 AS (
           SELECT least(a.id, b.id) AS id_a, greatest(a.id, b.id) AS id_b,
             CAST(levenshtein(a.s, b.s) AS INT) AS dist
           FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 3
           WHERE levenshtein(a.s, b.s) <= 2 AND a.id <> b.id),
         u AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2)
         SELECT id_a, id_b, MIN(dist) AS dist
         FROM u GROUP BY 1, 2 ORDER BY id_a, id_b""",

    // q155's recursive-CTE component replay over the UNION of both
    // blocking passes' edge sets (suffix block + rank-window 2, both
    // dist <= 1)
    "q161_multipass_clusters" ->
      s"""WITH RECURSIVE p1 AS ($suffixBlockPairsSql),
         r AS (SELECT c_name AS s, c_custkey AS id,
                 row_number() OVER (ORDER BY c_name, c_custkey) AS rn
               FROM customer),
         p2 AS (
           SELECT least(a.id, b.id) AS id_a, greatest(a.id, b.id) AS id_b
           FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 2
           WHERE levenshtein(a.s, b.s) <= 1 AND a.id <> b.id),
         pairs AS (SELECT id_a, id_b FROM p1
                   UNION SELECT id_a, id_b FROM p2),
         $componentCtes
         SELECT c2.c_custkey, COALESCE(c.component, c2.c_custkey) AS component,
                COALESCE(c.component, c2.c_custkey) = c2.c_custkey AS keep
         FROM customer c2 LEFT JOIN comp c ON c2.c_custkey = c.id
         ORDER BY c2.c_custkey""",

    // the interval join replayed as the plain inequality join the
    // operator's bucketization is provably equivalent to
    "q165_interval_join" ->
      """WITH b AS (SELECT event_id, user_id, event_type,
                      epoch_ns(ts) AS tn, value FROM events),
          s AS (SELECT event_id AS signup_id, user_id, tn AS st,
                  tn + 259200000000000 AS en
                FROM b WHERE event_type = 'signup'),
          p AS (SELECT user_id, tn, CAST(value AS DECIMAL(18,2)) AS v
                FROM b WHERE event_type = 'purchase')
          SELECT s.signup_id, s.user_id,
            CAST(count(*) AS BIGINT) AS n_purchases,
            CAST(SUM(p.v) AS DOUBLE) AS total_value
          FROM s JOIN p ON p.user_id = s.user_id
            AND p.tn >= s.st AND p.tn < s.en
          GROUP BY s.signup_id, s.user_id
          ORDER BY s.signup_id""",

    // the two-window SCD2 replay: collapse consecutive duplicates, then
    // lead() for the validity upper bound (data has no null attrs, so
    // <> matches the operator's null-safe compare)
    "q167_scd2" ->
      """WITH b AS (SELECT user_id, epoch_ns(ts) AS tn, event_type
                    FROM events),
          c AS (SELECT user_id, tn, event_type,
                  lag(event_type) OVER (PARTITION BY user_id ORDER BY tn)
                    AS pe
                FROM b),
          k AS (SELECT user_id, tn, event_type FROM c
                WHERE pe IS NULL OR pe <> event_type)
          SELECT user_id, event_type, tn AS valid_from,
            lead(tn) OVER (PARTITION BY user_id ORDER BY tn) AS valid_to
          FROM k ORDER BY user_id, valid_from""",

    // each check replayed as its defining aggregate/anti-join count
    "q178_quality_checks" ->
      """SELECT 'customer_key_not_null' AS check_name,
            CAST((SELECT count(*) FROM customer WHERE c_custkey IS NULL)
              AS BIGINT) AS n_violations
          UNION ALL
          SELECT 'lineitem_orders_fk',
            CAST((SELECT count(*) FROM lineitem
                  WHERE l_orderkey IS NULL OR l_orderkey NOT IN
                    (SELECT o_orderkey FROM orders)) AS BIGINT)
          UNION ALL
          SELECT 'orders_pk_unique',
            CAST((SELECT count(*) FROM (
               SELECT o_orderkey FROM orders GROUP BY 1
               HAVING count(*) > 1)) AS BIGINT)
          UNION ALL
          SELECT 'orders_price_over_1000',
            CAST((SELECT count(*) FROM orders
                  WHERE NOT COALESCE(o_totalprice > 1000.0, FALSE))
              AS BIGINT)
          ORDER BY check_name""",
    // the point-in-time lookup replayed as one inequality join over the
    // two-window SCD2 history
    "q174_scd2_lookup" ->
      """WITH b AS (SELECT event_id, user_id, epoch_ns(ts) AS tn,
                      event_type FROM events),
          c AS (SELECT user_id, tn, event_type,
                  lag(event_type) OVER (PARTITION BY user_id ORDER BY tn)
                    AS pe
                FROM b),
          k AS (SELECT user_id, tn, event_type FROM c
                WHERE pe IS NULL OR pe <> event_type),
          h AS (SELECT user_id, event_type AS state, tn AS vf,
                  lead(tn) OVER (PARTITION BY user_id ORDER BY tn) AS vt
                FROM k),
          p AS (SELECT event_id, user_id, tn AS pt FROM b
                WHERE event_type = 'purchase')
          SELECT p.event_id, p.user_id, h.state
          FROM p JOIN h ON h.user_id = p.user_id AND p.pt >= h.vf
            AND (h.vt IS NULL OR p.pt < h.vt)
          ORDER BY p.event_id""",
    // per-column exact profile replay
    "q172_profile" -> {
      def one(c: String): String =
        s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n,
              CAST(count(*) - count($c) AS BIGINT) AS n_null,
              CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
              CAST(min($c) AS VARCHAR) AS min_value,
              CAST(max($c) AS VARCHAR) AS max_value
            FROM lineitem"""
      s"""${one("l_orderkey")}
          UNION ALL ${one("l_linenumber")}
          UNION ALL ${one("l_returnflag")}
          ORDER BY col_name"""
    },
    // boundaries at rank ceil(i*n/4) over the sorted list, assignment
    // by counting strictly-smaller bounds — the operator replayed
    "q187_equidepth_hist" ->
      """WITH v AS (SELECT CAST(l_quantity AS BIGINT) AS v FROM lineitem
                    WHERE l_quantity IS NOT NULL),
          s AS (SELECT list_sort(list(v)) AS arr, count(*) AS n FROM v),
          b AS (SELECT t.i AS i,
                  arr[CAST((t.i * n + 3) // 4 AS INT)] AS bound
                FROM s, UNNEST(range(1, 4)) AS t(i)),
          a AS (SELECT v.v,
                  1 + (SELECT count(*) FROM b WHERE b.bound < v.v)
                    AS bucket
                FROM v)
          SELECT CAST(bucket AS BIGINT) AS bucket,
            CAST(min(v) AS BIGINT) AS lo, CAST(max(v) AS BIGINT) AS hi,
            CAST(count(*) AS BIGINT) AS n_rows
          FROM a GROUP BY bucket ORDER BY bucket""",
    // identical exact-integer priority: (h << 31) // w, ties by id
    "q168_weighted_sample" ->
      """SELECT doc_id, n_chars FROM (
           SELECT doc_id, n_chars FROM documents
           WHERE n_chars IS NOT NULL AND n_chars > 0
           ORDER BY (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                       AS BIGINT) * 2147483648)
                    // CAST(n_chars AS BIGINT),
                    doc_id
           LIMIT 100)
         ORDER BY doc_id""",
    // the I/U/D classification replayed as one full-outer join; payload
    // comparison IS DISTINCT FROM (null-safe) like the operator
    "q179_snapshot_diff" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS c,
                      o_orderstatus AS st FROM orders),
          b AS (SELECT * FROM o WHERE k % 7 <> 0),
          n AS (SELECT k, CASE WHEN k % 3 = 0 THEN c + 1 ELSE c END AS c,
                  st FROM o WHERE k % 5 <> 0)
          SELECT COALESCE(b.k, n.k) AS o_orderkey,
            CASE WHEN n.k IS NULL THEN b.c ELSE n.c END AS o_custkey,
            CASE WHEN n.k IS NULL THEN b.st ELSE n.st END AS o_orderstatus,
            CASE WHEN n.k IS NULL THEN 'D' WHEN b.k IS NULL THEN 'I'
              ELSE 'U' END AS op
          FROM b FULL OUTER JOIN n ON b.k = n.k
          WHERE n.k IS NULL OR b.k IS NULL
            OR b.c IS DISTINCT FROM n.c OR b.st IS DISTINCT FROM n.st
          ORDER BY o_orderkey""",
    // latest change per key as row_number over (seq, op, payload) desc
    // (the operator's max_by tuple), then anti-join + union
    "q180_cdc_apply" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS c,
                      o_orderstatus AS st FROM orders),
          b AS (SELECT * FROM o WHERE k % 7 <> 0),
          ch AS (
            SELECT k, c + 10 AS c, st, 'U' AS op, 1 AS seq
            FROM o WHERE k % 3 = 0
            UNION ALL SELECT k, c, st, 'D', 2 FROM o WHERE k % 4 = 0
            UNION ALL SELECT k, c + 20, 'O', 'I', 3 FROM o WHERE k % 6 = 0),
          latest AS (SELECT k, c, st, op FROM (
            SELECT *, row_number() OVER (PARTITION BY k
              ORDER BY seq DESC, op DESC, c DESC, st DESC) AS rn FROM ch)
            WHERE rn = 1)
          SELECT b.k AS o_orderkey, b.c AS o_custkey,
            b.st AS o_orderstatus
          FROM b ANTI JOIN latest ON b.k = latest.k
          UNION ALL
          SELECT k, c, st FROM latest WHERE op <> 'D'
          ORDER BY o_orderkey"""
  )
}
