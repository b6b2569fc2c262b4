package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-key time-series smoothing + anomaly flags — the metrics-monitor
  * capability of the OLAP engines (exponential moving averages over
  * per-bucket counts, spike/dip verdicts against the smoothed history).
  * Extension beyond the reference (its event analytics stop at per-day
  * counts).
  *
  * The smoother is an INTEGER half-life fold: `E₀ = n₀,
  * Eᵢ = (Eᵢ₋₁ + nᵢ) div 2` — α = ½ EWMA in exact longs, so the series
  * replays bit-for-bit on any engine (a double EWMA would couple the
  * gate to multiplication order). The fold runs inside one aggregate
  * per key via the `aggregate` higher-order function over the sorted
  * per-key series — NO window functions, no per-row shuffles: state per
  * task is the key's bucket series (time-range-bounded — days, not
  * events; a year of daily buckets is 365 structs), the same
  * collect-and-fold discipline as the DSIR weight fold. Gaps are
  * OBSERVED-ONLY (absent buckets do not contribute zeros — the SQL
  * replay does the same); [[zeroFill]] is the gated absence-as-zero
  * composition, the prerequisite for OUTAGE detection (a key that goes
  * silent emits zero-count buckets that can flag as dips).
  */
object Timeseries {

  /** Events → per-(key, epoch-bucket) counts — the standard front half
    * (exact integer floor-div bucketing; see [[floorDivExpr]]). */
  def bucketCounts(events: DataFrame, keyCol: String, tsCol: String,
                   bucketNanos: Long): DataFrame =
    events.select(col(keyCol), floorDivExpr(tsCol, bucketNanos).as("bucket"))
      .groupBy(col(keyCol), col("bucket"))
      .agg(count(lit(1)).as("n"))

  /** Floor-division bucketing expression for a long (nanos) column:
    * `(ts div b) - (ts % b < 0 ? 1 : 0)` — identical to `div` for
    * non-negative timestamps. Floor is the calendar-aligned choice for
    * PRE-EPOCH timestamps (bucket -1 covers the day before 1970, and
    * buckets -1..1 never merge); note DuckDB's integer `//` TRUNCATES
    * (it floors only on floats), so oracle replays assume non-negative
    * timestamps — which `epoch_ns` of the event data always satisfies. */
  private def floorDivExpr(tsCol: String, b: Long): Column =
    expr(s"(`$tsCol` div ${b}L) - " +
      s"(case when `$tsCol` % ${b}L < 0 then 1 else 0 end)")

  /** Per-(key, bucket) counts → the smoothed series with spike flags:
    * `(key, bucket, n, ewma_prev, spike)` where `ewma_prev` is the
    * integer EWMA of STRICTLY EARLIER buckets (null for each key's
    * first bucket — no history, no verdict) and
    * `spike = n > 3 · ewma_prev`. Judging against the prior
    * smoothed level (not one including the current bucket) is what
    * makes a genuine spike flaggable at all — folding the spike into
    * its own baseline would mask it. */
  def ewmaAnomalies(counts: DataFrame, keyCol: String, bucketCol: String,
                    nCol: String): DataFrame =
    ewmaFolded(counts, keyCol, bucketCol, nCol)
      .select(col(keyCol), col("bucket"), col("n"), col("ewma_prev"),
        (col("n") > lit(3L) * col("ewma_prev")).as("spike"))

  /** [[ewmaAnomalies]] with BOTH verdicts — the monitor shape: `spike =
    * n > 3 · ewma_prev` and `dip = n < ewma_prev div 3` (integer floor
    * of the prior level — a traffic COLLAPSE,
    * the outage signal). A key that vanishes entirely emits nothing at
    * all under observed-only gaps: compose with [[zeroFill]] upstream
    * so silent buckets arrive as `n = 0` and can flag. Both verdicts
    * are null for each key's first bucket (no history). */
  def ewmaAnomaliesSigned(counts: DataFrame, keyCol: String,
                          bucketCol: String, nCol: String): DataFrame =
    ewmaFolded(counts, keyCol, bucketCol, nCol)
      .select(col(keyCol), col("bucket"), col("n"), col("ewma_prev"),
        (col("n") > lit(3L) * col("ewma_prev")).as("spike"),
        (col("n") < expr("ewma_prev div 3L")).as("dip"))

  /** The shared integer fold: one aggregate per key over its sorted
    * bucket series, emitting each element with the PRIOR smoothed
    * level attached — `(key, bucket, n, ewma_prev)`. */
  private def ewmaFolded(counts: DataFrame, keyCol: String,
                         bucketCol: String, nCol: String): DataFrame = {
    val series = counts.groupBy(col(keyCol))
      .agg(array_sort(collect_list(struct(
        col(bucketCol).cast("long").as("bucket"),
        col(nCol).cast("long").as("n")))).as("__arr"))
    // one pass over the sorted series: carry the running EWMA, emit each
    // element with the PRIOR level attached
    val folded = series.withColumn("__out", expr(
      """aggregate(
           __arr,
           struct(cast(null as bigint) as e,
                  cast(array() as array<struct<bucket: bigint, n: bigint,
                                               ewma_prev: bigint>>) as out),
           (acc, x) -> struct(
             if(acc.e is null, x.n, (acc.e + x.n) div 2) as e,
             concat(acc.out,
               array(struct(x.bucket as bucket, x.n as n,
                            acc.e as ewma_prev))) as out),
           acc -> acc.out)"""))
    folded.select(col(keyCol), explode(col("__out")).as("__e"))
      .select(col(keyCol), col("__e.bucket").as("bucket"),
        col("__e.n").as("n"), col("__e.ewma_prev").as("ewma_prev"))
  }

  /** Holt double-exponential smoothing (level + TREND) in exact integer
    * arithmetic, with a forecast-deviation anomaly verdict — what the
    * EWMA family can't express: a steadily GROWING series stops
    * false-flagging (the trend term absorbs the growth), and a
    * plateauing one flags when it falls off its trend line. Per
    * element, α = β = ½ (the EWMA half-life discipline — exact longs,
    * bit-replayable on any engine):
    * {{{
    * l₀ = n₀, t₀ = 0
    * f  = l + t                      // the one-step forecast
    * l' = (n + l + t) div 2          // div truncates toward zero —
    * t' = (l' − l + t) div 2         // matching integer `//` in DuckDB
    * }}}
    * Returns `(key, bucket, n, forecast_prev, anom)`: `forecast_prev`
    * is the forecast made from STRICTLY EARLIER buckets (null for each
    * key's first — no history, no verdict, the [[ewmaAnomalies]]
    * convention) and `anom = |n − f|·10 > 20 · max(|f|, 1)` —
    * deviation beyond twice the forecast magnitude
    * (the max(…,1) floor keeps a zero forecast from flagging every
    * nonzero bucket vacuously). Same collect-and-fold shape as the
    * EWMA: one aggregate per key, task state = the key's bucket series
    * (days, not events), no window functions. Compose with [[zeroFill]]
    * for outage semantics, exactly as with [[ewmaAnomaliesSigned]]. */
  def holtAnomalies(counts: DataFrame, keyCol: String, bucketCol: String,
                    nCol: String): DataFrame = {
    val series = counts.groupBy(col(keyCol))
      .agg(array_sort(collect_list(struct(
        col(bucketCol).cast("long").as("bucket"),
        col(nCol).cast("long").as("n")))).as("__arr"))
    // trend sums can go negative: `div` truncates toward zero, which is
    // exactly what DuckDB's integer `//` does (it floors only on
    // floats) — so the fold replays bit-for-bit on both engines
    val lNew = "((x.n + acc.l + acc.t) div 2)"
    val tNew = s"(($lNew - acc.l + acc.t) div 2)"
    val folded = series.withColumn("__out", expr(
      s"""aggregate(
           __arr,
           struct(cast(null as bigint) as l, cast(null as bigint) as t,
                  cast(array() as array<struct<bucket: bigint, n: bigint,
                                               f: bigint>>) as out),
           (acc, x) -> struct(
             if(acc.l is null, x.n, $lNew) as l,
             if(acc.l is null, cast(0 as bigint), $tNew) as t,
             concat(acc.out, array(struct(x.bucket as bucket, x.n as n,
               acc.l + acc.t as f))) as out),
           acc -> acc.out)"""))
    folded.select(col(keyCol), explode(col("__out")).as("__e"))
      .select(col(keyCol), col("__e.bucket").as("bucket"),
        col("__e.n").as("n"), col("__e.f").as("forecast_prev"),
        (abs(col("__e.n") - col("__e.f")) * lit(10L) >
          lit(20L) * greatest(abs(col("__e.f")), lit(1L))).as("anom"))
  }

  /** Fill each key's ABSENT buckets with `n = 0` between its first and
    * last observed bucket — the absence-as-zero composition
    * [[ewmaAnomaliesSigned]]'s outage verdict needs (a silent day emits
    * a zero-count bucket instead of nothing). One aggregate per key:
    * the observed series collects, a `sequence` spans min..max, and a
    * map lookup fills — no joins, no windows; per-task state is the
    * key's SPAN in buckets (days, not events — same bound as the EWMA
    * fold itself). Duplicate `(key, bucket)` rows fail loudly
    * (`map_from_entries` rejects duplicate keys) — feed it
    * [[bucketCounts]]-shaped unique counts. Returns
    * `(key, bucket, n)`. */
  def zeroFill(counts: DataFrame, keyCol: String, bucketCol: String,
               nCol: String): DataFrame =
    counts.groupBy(col(keyCol))
      .agg(collect_list(struct(
        col(bucketCol).cast("long").as("bucket"),
        col(nCol).cast("long").as("n"))).as("__arr"))
      .select(col(keyCol), explode(expr(
        """transform(
             sequence(array_min(__arr.bucket), array_max(__arr.bucket)),
             b -> struct(b as bucket,
               coalesce(element_at(map_from_entries(__arr), b),
                        cast(0 as bigint)) as n))""")).as("__e"))
      .select(col(keyCol), col("__e.bucket").as("bucket"),
        col("__e.n").as("n"))

  /** One mergeable KLL sketch per epoch-bucket: `(bucket, sketch)` —
    * the persistable daily artifact of the quantile layer (the HLL
    * rolling-actives discipline applied to QUANTILES): store these and
    * [[rollingQuantileFromSketches]] answers any window/quantile later
    * without raw rescans. The streaming producer
    * ([[graft.streaming.StreamingViews.streamingBucketQuantileSketches]])
    * seals the same artifact live. */
  def bucketQuantileSketches(events: DataFrame, valueCol: String,
                             tsCol: String, bucketNanos: Long): DataFrame =
    events
      .select(col(valueCol).cast("double").as("__v"),
        floorDivExpr(tsCol, bucketNanos).as("bucket"))
      .groupBy(col("bucket"))
      .agg(kll_sketch_agg_double(col("__v"), lit(200)).as("sketch"))

  /** A per-bucket artifact table (`bucketCol`, `sketchCol`) fanned out
    * to its rolling windows as `(__sk, bucket)` — [[Funnel.windowFanOut]]. */
  private def sketchWindows(table: DataFrame, bucketCol: String,
                            sketchCol: String, windowBuckets: Int): DataFrame =
    Funnel.windowFanOut(table.select(col(bucketCol).cast("long").as("__b"),
      col(sketchCol).as("__sk")), windowBuckets, col("__sk"))

  /** Window a per-bucket sketch table (batch-built or
    * streaming-sealed): the `sequence` fan-out ships one sketch row per
    * (bucket, window end) and each window's estimate comes from
    * `kll_merge_agg` + `get_quantile` — sketch-sized input, O(k) task
    * state, no raw-event touch. Returns `(bucket, quantile_est)` for
    * every window end up to the newest bucket. */
  def rollingQuantileFromSketches(sketches: DataFrame, bucketCol: String,
                                  sketchCol: String, windowBuckets: Int,
                                  q: Double): DataFrame = {
    require(windowBuckets >= 1, "window must span at least one bucket")
    require(q > 0.0 && q < 1.0, s"quantile must be in (0, 1): $q")
    sketchWindows(sketches, bucketCol, sketchCol, windowBuckets)
      .groupBy(col("bucket"))
      .agg(kll_sketch_get_quantile_double(
        kll_merge_agg_double(col("__sk"), lit(200)), lit(q))
        .as("quantile_est"))
  }

  /** Rolling-window quantiles over mergeable KLL sketches — the
    * "rolling p95 latency" metrics shape at any event volume:
    * [[bucketQuantileSketches]] (ONE pass) composed with
    * [[rollingQuantileFromSketches]]. Returns `(bucket, quantile_est)`
    * for every window end up to the newest bucket (the rollingActive
    * clamp).
    *
    * KLL compaction is randomized, so past ~k values per window the
    * ESTIMATE is not run-deterministic — but its normalized RANK error
    * is bounded (~1.65 % at k = 200, 99 % conf.). Gates therefore pin
    * the exact order-statistic half and a rank-band verdict (the
    * q142/q63 bounded-anchor pattern), never the raw estimate. */
  def rollingQuantileSketch(events: DataFrame, valueCol: String,
                            tsCol: String, bucketNanos: Long,
                            windowBuckets: Int, q: Double): DataFrame =
    rollingQuantileFromSketches(
      bucketQuantileSketches(events, valueCol, tsCol, bucketNanos),
      "bucket", "sketch", windowBuckets, q)

  /** One mergeable count-min sketch per bucket: `(bucket, sketch,
    * n_tokens)` — the persistable FREQUENCY artifact (the
    * [[bucketQuantileSketches]] discipline applied to token counts;
    * vocabulary-drift monitoring across crawl snapshots is the use).
    * `bucketCol` is any long grouping column (epoch bucket, ingest
    * shard). The token stream never reaches the custom aggregate: an
    * ordinary codegen'd `count` collapses it to distinct
    * `(bucket, token)` pairs first (partial-aggregable, map-side
    * combined) and the Kryo-buffered sketch aggregator adds each token
    * ONCE with its weight — byte-compatible with
    * [[graft.udafs.Sketches.tokenCms]] and the streaming sealed
    * artifacts under the same (eps, confidence, seed). */
  def bucketTokenCms(docs: DataFrame, textCol: String, bucketCol: String,
                     eps: Double, confidence: Double, seed: Int): DataFrame =
    docs
      .select(col(bucketCol).cast("long").as("bucket"),
        explode(graft.text.TextOps.tokens(col(textCol))).as("__w"))
      .groupBy(col("bucket"), col("__w"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("bucket"))
      .agg(graft.udafs.Sketches
          .cmsAgg(col("__w"), col("__n"), eps, confidence, seed)
          .as("sketch"),
        sum(col("__n")).as("n_tokens"))

  /** Window a per-bucket CMS table (batch-built or streaming-sealed)
    * for a fixed token WATCHLIST: `(bucket, token, freq_est)` per
    * window end, where the window covers `windowBuckets` buckets ending
    * at `bucket` (clamped to the newest bucket, the rolling-actives
    * shape). The same `sequence` fan-out as
    * [[rollingQuantileFromSketches]]: sketch-sized input, one
    * counter-grid merge per window, the watchlist estimated once per
    * window row — raw events are never rescanned, so "how did these
    * terms trend" replays from the daily artifacts alone. Estimates
    * carry the CMS guarantee (never below the true windowed count,
    * ≤ ε·N above it w.p. the configured confidence). */
  def rollingTokenFreqFromSketches(sketches: DataFrame, bucketCol: String,
                                   sketchCol: String, tokens: Seq[String],
                                   windowBuckets: Int, eps: Double,
                                   confidence: Double, seed: Int): DataFrame = {
    require(windowBuckets >= 1, "window must span at least one bucket")
    require(tokens.nonEmpty, "the watchlist must name at least one token")
    sketchWindows(sketches, bucketCol, sketchCol, windowBuckets)
      .groupBy(col("bucket"))
      .agg(graft.udafs.Sketches
        .cmsMergeAgg(col("__sk"), eps, confidence, seed).as("__m"))
      .select(col("bucket"),
        explode(graft.udafs.Sketches.cmsEstimates(col("__m"), tokens))
          .as(Seq("token", "freq_est")))
  }

  /** Per-bucket Misra–Gries summaries — the heavy-hitter analog of
    * [[bucketTokenCms]] and the persistable daily artifact
    * [[rollingHeavyHittersFromSummaries]] consumes: exact per-(bucket,
    * token) counts collapse first (codegen'd, map-side combined), then
    * one ≤ k-counter summary per bucket. */
  def bucketTokenHeavyHitters(docs: DataFrame, textCol: String,
                              bucketCol: String, k: Int): DataFrame =
    docs
      .select(col(bucketCol).cast("long").as("bucket"),
        explode(graft.text.TextOps.tokens(col(textCol))).as("__w"))
      .groupBy(col("bucket"), col("__w"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("bucket"))
      .agg(graft.udafs.FreqItems.mgAgg(col("__w"), col("__n"), k)
        .as("summary"))

  /** Window a per-bucket Misra–Gries table (batch-built or
    * streaming-sealed) into the rolling CANDIDATE set — the complement
    * of [[rollingTokenFreqFromSketches]], which needs the caller to
    * already know the watchlist: `(bucket, token, n_est)` per window
    * end for every token the merged window summary retains. Same
    * `sequence` fan-out, summary-sized input, one pointwise-sum+trim
    * merge per window; raw events are never rescanned, so "what was
    * trending this week" replays from ≤ k-entry daily artifacts alone.
    * Estimates carry the deterministic MG guarantee over the window
    * (never above the true windowed count, within N_window/(k+1) below,
    * every token above that threshold present); while the window
    * vocabulary stays ≤ k the candidate set IS the exact windowed
    * count table. */
  def rollingHeavyHittersFromSummaries(summaries: DataFrame,
                                       bucketCol: String, summaryCol: String,
                                       k: Int,
                                       windowBuckets: Int): DataFrame = {
    require(windowBuckets >= 1, "window must span at least one bucket")
    sketchWindows(summaries, bucketCol, summaryCol, windowBuckets)
      .groupBy(col("bucket"))
      .agg(graft.udafs.FreqItems.mgMergeAgg(col("__sk"), k).as("__m"))
      .select(col("bucket"),
        explode(col("__m")).as(Seq("token", "n_est")))
  }

  /** Lag-k autocorrelation in EXACT integers — the seasonality
    * detector the anomaly family (EWMA/Holt/CUSUM/MAD) lacks: "does
    * this series repeat every 7 days" as a per-key permille. The whole
    * computation stays in longs via the common-denominator trick
    * (deviations scale by the bucket count n): per key,
    * `num = Σ_t (n·x_t − S)(n·x_{t+lag} − S)` over pairs where both
    * buckets exist, `den = Σ_t (n·x_t − S)²` over all buckets (the
    * classic ACF denominator), and
    * `acf_permille = num·1000 / den` computed with the shifted
    * floor-division (+K·den before the div, −K after — |ACF| ≤ 1 by
    * Cauchy–Schwarz, so K=10⁴ keeps the numerator non-negative and
    * truncate == floor on both engines even for NEGATIVE
    * correlations). A constant series has den = 0 — no variance, no
    * correlation — and emits a null ratio rather than inventing one.
    * One key-partitioned self-join at bucket+lag + two key-keyed
    * aggregates; long-regime bound: n²·x² per term (fine through
    * ~10⁴-bucket series of million-scale counts; beyond, lift to
    * DECIMAL). Gaps are NOT zero-filled — compose with [[zeroFill]]
    * when absence means zero. */
  def autocorr(counts: DataFrame, keyCol: String, bucketCol: String,
               nCol: String, lag: Int): DataFrame = {
    require(lag >= 1, s"lag must be positive: $lag")
    val v = counts.select(col(keyCol).as("k"),
      col(bucketCol).cast("long").as("b"), col(nCol).cast("long").as("x"))
    val stats = v.groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val d = v.join(stats, Seq("k"))
      .select(col("k"), col("b"), (col("x") * col("n") - col("s")).as("d"),
        col("n"))
    val lagged = d.select(col("k").as("lk"), (col("b") - lag).as("lb"),
      col("d").as("ld"))
    val num = d.join(lagged, col("lk") === col("k") && col("lb") === col("b"))
      .groupBy(col("k")).agg(sum(col("d") * col("ld")).as("num"))
    val den = d.groupBy(col("k"), col("n"))
      .agg(sum(col("d") * col("d")).as("den"))
    den.join(num, Seq("k"), "left")
      .select(col("k").as(keyCol), col("n").as("n_buckets"),
        coalesce(col("num"), lit(0L)).as("num"), col("den"),
        when(col("den") > 0L,
          expr("(coalesce(num, 0) * 1000 + 10000 * den) div den - 10000"))
          .otherwise(lit(null).cast("long")).as("acf_permille"))
  }

  /** CUSUM level-shift detection (Page 1954) — the changepoint shape
    * the EWMA/Holt family can't express: a SMALL persistent shift
    * (each bucket individually inside the spike band) accumulates in
    * the one-sided sums until it crosses the decision threshold. Per
    * key, all integer:
    * {{{
    * μ   = (Σ first `warmup` n) div warmup        // the reference level
    * S⁺' = max(0, S⁺ + n − μ − slack)             // upward drift
    * S⁻' = max(0, S⁻ + μ − n − slack)             // downward drift
    * shift_up = S⁺' > threshold ; shift_down = S⁻' > threshold
    * }}}
    * Returns `(key, bucket, n, mu, s_pos, s_neg, shift_up,
    * shift_down)`; the `warmup` buckets that DEFINE μ get null sums
    * and verdicts (they are the baseline, not candidates), as does
    * every row of a key with fewer than `warmup` buckets (no
    * reference, no verdict — the ewma first-bucket convention).
    * `slack` absorbs noise below the shift size worth flagging;
    * truncating `div` matches integer `//` on replay engines for the
    * non-negative counts this consumes. Same collect-and-fold shape as
    * the EWMA/Holt folds: one aggregate per key, task state = the
    * key's bucket series, no window functions; compose with
    * [[zeroFill]] so a silenced key's zero buckets can drive S⁻. */
  def cusumShifts(counts: DataFrame, keyCol: String, bucketCol: String,
                  nCol: String, warmup: Int, slack: Long,
                  threshold: Long): DataFrame = {
    require(warmup >= 1, s"warmup must be positive: $warmup")
    require(slack >= 0L, s"slack must be non-negative: $slack")
    require(threshold >= 1L, s"threshold must be positive: $threshold")
    val series = counts.groupBy(col(keyCol))
      .agg(array_sort(collect_list(struct(
        col(bucketCol).cast("long").as("bucket"),
        col(nCol).cast("long").as("n")))).as("__arr"))
      .withColumn("__mu", expr(
        s"""if(size(__arr) < $warmup, cast(null as bigint),
              aggregate(slice(__arr, 1, $warmup), 0L, (a, x) -> a + x.n)
                div ${warmup}L)"""))
    // the S⁺/S⁻ update appears twice per branch (emitted value and
    // carried state) — HOF lambdas have no lets
    def sPos = s"greatest(0L, acc.sp + x.n - __mu - ${slack}L)"
    def sNeg = s"greatest(0L, acc.sn + __mu - x.n - ${slack}L)"
    val folded = series.withColumn("__out", expr(
      s"""aggregate(
            __arr,
            struct(0L as i, 0L as sp, 0L as sn,
                   cast(array() as array<struct<
                     bucket: bigint, n: bigint, s_pos: bigint,
                     s_neg: bigint>>) as out),
            (acc, x) -> struct(
              acc.i + 1 as i,
              if(__mu is null or acc.i + 1 <= $warmup, 0L, $sPos) as sp,
              if(__mu is null or acc.i + 1 <= $warmup, 0L, $sNeg) as sn,
              concat(acc.out, array(struct(
                x.bucket as bucket, x.n as n,
                if(__mu is null or acc.i + 1 <= $warmup,
                   cast(null as bigint), $sPos) as s_pos,
                if(__mu is null or acc.i + 1 <= $warmup,
                   cast(null as bigint), $sNeg) as s_neg))) as out),
            acc -> acc.out)"""))
    folded.select(col(keyCol), col("__mu").as("mu"),
        explode(col("__out")).as("__e"))
      .select(col(keyCol), col("__e.bucket").as("bucket"),
        col("__e.n").as("n"), col("mu"),
        col("__e.s_pos").as("s_pos"), col("__e.s_neg").as("s_neg"),
        (col("__e.s_pos") > threshold).as("shift_up"),
        (col("__e.s_neg") > threshold).as("shift_down"))
  }
}
