package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling operators for training-data pipelines: exact
  * per-stratum top-n and weighted corpus mixing.
  *
  * Both operators key every decision off a cryptographic hash of the row's
  * id — not `rand()` — so results are reproducible run-to-run, partition-
  * layout-independent, and verifiable against any engine that computes the
  * same md5 hex digest (which is all of them). Reproducible sampling is a
  * hard requirement for training-data work: a resumed or re-run pipeline
  * must emit the identical corpus.
  *
  * Scale notes:
  *  - `stratifiedSample` is one shuffle (hash partition by stratum) + a
  *    per-group sort bounded by the window; with n ≪ group size the
  *    dominant cost is the sort, so for tiny n over huge groups prefer
  *    rank-free pre-filtering (e.g. `hashRatio < p` with p chosen from
  *    group counts) before ranking.
  *  - `weightedMixture` is shuffle-FREE: a per-row hash threshold filter
  *    per source, then a union — every source scans once, filters push
  *    down nothing but also cost nothing beyond the md5.
  */
object Sampling {

  /** Uniform-in-[0,1) deterministic score for a row id: the first 8 hex
    * digits of md5(id-as-string), compared lexicographically. Hex strings
    * compare like the numbers they encode (fixed width, 0-9 < a-f in both
    * Spark's binary string ordering and ANSI SQL collation). */
  def hashScore(id: Column): Column = substring(md5(id.cast("string")), 1, 8)

  /** Threshold hex literal for probability p: rows with
    * `hashScore < hexThreshold(p)` are kept with probability ~p
    * (exact to 1/2^32). */
  def hexThreshold(p: Double): String = {
    require(p >= 0.0 && p <= 1.0, s"probability out of range: $p")
    f"${math.round(p * 4294967296.0).min(4294967295L)}%08x"
  }

  /** Exactly `n` rows per stratum (fewer if the stratum is smaller),
    * chosen by hash order of `idCol` — a deterministic simple random
    * sample per group. Ties broken by id so the result is total-ordered
    * even under (astronomically unlikely) hash-prefix collisions.
    * Null ids (no hash) sort LAST: they never displace a hashable row
    * and are drawn only when a stratum would otherwise come up short. */
  def stratifiedSample(df: DataFrame, strataCols: Seq[String], n: Int,
                       idCol: String): DataFrame = {
    val w = Window.partitionBy(strataCols.map(col): _*)
      .orderBy(hashScore(col(idCol)).asc_nulls_last, col(idCol).asc_nulls_last)
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") <= n).drop("__rn")
  }

  /** Weight-proportional sample WITHOUT replacement: `n` rows drawn so
    * a row's inclusion odds scale with its positive integer weight —
    * SEQUENTIAL POISSON sampling (Ohlsson 1998, the PPS estimator
    * standard): each row gets priority `u/w` with `u` uniform from the
    * id hash, and the n smallest priorities win. The priority is kept
    * EXACT-INTEGER — `(h << 31) div w` with the 32-bit hash `h`, no
    * overflow for `w ≥ 1` — so the order (and thus the sample) is
    * bit-identical on any ANSI engine: no `pow`/`ln` whose last-ulp
    * libm differences could flip a boundary row (the Efraimidis-
    * Spirakis exponential key needs both). Ties break by id.
    *
    * One scan + a distributed top-k (`TakeOrdered` — per-partition
    * heaps of n, no global sort materialization). Rows with null or
    * non-positive weight are EXCLUDED (documented, mirrored by the
    * oracle) — zero weight means zero inclusion probability. Weights
    * must be integral (lengths, token counts); pre-scale fractional
    * weights. */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     n: Int): DataFrame = {
    require(n >= 1, s"sample size must be positive: $n")
    val h = s"cast(conv(substring(md5(cast(`$idCol` as string)), 1, 8), " +
      "16, 10) as bigint)"
    df.where(col(weightCol).isNotNull && col(weightCol) > 0)
      .orderBy(expr(s"shiftleft($h, 31) div cast(`$weightCol` as bigint)"),
        col(idCol))
      .limit(n)
  }

  /** Weighted mixture of corpora: each source is kept with its own
    * probability, then all survivors union — the standard way to re-weight
    * heterogeneous training sources (e.g. upsample curated text against a
    * web crawl) without a shuffle. Weights > 1 are not materialized as
    * duplication here (dedup-safety: downstream exact-dedupe would fold
    * them); use [[upsampled]] when true duplication with epoch tags is
    * wanted. */
  def weightedMixture(sources: Seq[(DataFrame, Double)], idCol: String): DataFrame =
    sources.map { case (df, p) =>
      if (p >= 1.0) df
      else df.where(hashScore(col(idCol)) < lit(hexThreshold(p)))
    }.reduce(_ unionAll _)

  /** Materialized up/down-sampling for any weight: each row appears
    * `⌊w⌋ + Bernoulli(w − ⌊w⌋)` times, tagged with an `epoch` column
    * (0-based) so downstream exact-dedupe can distinguish deliberate
    * repeats from accidental duplicates. Shuffle-free: the copy count is
    * a per-row expression and the duplication an inline explode. */
  def upsampled(df: DataFrame, idCol: String, weight: Double): DataFrame = {
    require(weight >= 0.0, s"negative weight: $weight")
    val whole = math.floor(weight).toLong
    val frac = weight - whole
    val copies = lit(whole) +
      when(hashScore(col(idCol)) < lit(hexThreshold(frac)), 1L).otherwise(0L)
    df.withColumn("__copies", copies)
      .where(col("__copies") > 0)
      .withColumn("epoch", explode(sequence(lit(0L), col("__copies") - 1)))
      .drop("__copies")
  }

  /** Temperature-weighted mixture under a token budget: source i gets a
    * share of `budgetTokens` proportional to `sqrt(totalTokens_i)` (the
    * size^α re-weighting used for multilingual / multi-source pretraining
    * mixes at α = 0.5 — upweighting small sources relative to their raw
    * size). Each source is then kept with its
    * derived probability `min(1, share·budget / total)` via the
    * deterministic [[hashScore]] threshold, and survivors union with a
    * `source` tag. Shares can only DOWN-sample (p caps at 1); compose with
    * [[upsampled]] for sources whose target exceeds their size.
    *
    * Deterministic end to end: totals are exact integer sums, weights are
    * computed driver-side in source-list order, and every keep decision is
    * an md5 threshold — a re-run emits the identical corpus. `sqrt` is
    * IEEE-exact, so an external engine replays the thresholds
    * bit-for-bit.
    *
    * Scale shape: ONE aggregate action sizes every source (the tagged
    * union scans each source once, column-pruned to the token count), then
    * each source scans once more through its shuffle-free hash filter. */
  def temperatureMixture(sources: Seq[(String, DataFrame)], idCol: String,
                         tokenCountCol: String, budgetTokens: Long): DataFrame = {
    require(sources.nonEmpty, "temperatureMixture needs at least one source")
    require(sources.map(_._1).distinct.size == sources.size, "duplicate source names")
    require(budgetTokens > 0, s"budget must be positive: $budgetTokens")
    val tagged = sources.map { case (name, df) =>
      df.select(lit(name).as("__src"),
        coalesce(col(tokenCountCol).cast("long"), lit(0L)).as("__n"))
    }.reduce(_ unionAll _)
    val totals = tagged.groupBy(col("__src")).agg(sum(col("__n")).as("t"))
      .collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) 0L else r.getLong(1)))
      .toMap
    // weight sum folds in SOURCE-LIST order (replayable externally)
    val weights = sources.map { case (name, _) =>
      math.sqrt(totals.getOrElse(name, 0L).toDouble)
    }
    val wSum = weights.sum
    sources.zip(weights).map { case ((name, df), w) =>
      val total = totals.getOrElse(name, 0L)
      val p = if (total <= 0L || wSum <= 0.0) 0.0
        else math.min(1.0, w / wSum * budgetTokens / total.toDouble)
      val out = df.withColumn("source", lit(name))
      if (p >= 1.0) out
      else out.where(hashScore(col(idCol)) < lit(hexThreshold(p)))
    }.reduce(_ unionAll _)
  }

  /** Epoch-capped token-budget allocation across domains (the UniMax
    * waterfill, Chung et al. 2023): spend `budgetTokens` as evenly as
    * possible across the domains of `domainCol`, never repeating any
    * domain more than `maxEpochs` times. Domains are processed in
    * ascending token-count order; each takes
    * `min(maxEpochs·tokens, remaining/domainsLeft)` — a domain too small
    * to absorb its even share is capped at its epoch budget and the
    * slack waterfalls to the larger domains. The derived per-domain rate
    * (`allocation/tokens`, ≤ maxEpochs) is then MATERIALIZED the
    * [[upsampled]] way: `⌊rate⌋` guaranteed copies plus a deterministic
    * md5-threshold Bernoulli for the fraction, each copy tagged with a
    * 0-based `epoch` column so downstream exact-dedupe can tell
    * deliberate repeats from accidental duplicates.
    *
    * Determinism / cross-engine replay: token totals are exact integer
    * sums; the waterfill is a fixed-order fold of IEEE `min`, divide and
    * subtract (ties on equal totals break by domain string), so an ANSI
    * engine replaying the same recurrence computes bit-identical rates
    * and thresholds (no `pow`/`ln`; cf. [[temperatureMixture]]'s α
    * caveat — this operator has none).
    *
    * Scale shape: ONE column-pruned scan sizes every domain
    * (partial-aggregable sum; the collected result is domain-count-sized
    * — a mixture has tens of domains, not millions); the waterfill is a
    * driver fold over that tiny array; application is one scan through a
    * BROADCAST join against the domain-count-sized rate table plus an
    * inline explode — no data-sized shuffle anywhere.
    *
    * Domains with a null key or a non-positive token total are excluded
    * (nothing to allocate); a null `idCol` hash never wins a Bernoulli
    * draw, so such rows appear exactly ⌊rate⌋ times.
    *
    * `domainCol` means mixture SOURCES (wiki, books, code, crawl-snapshot
    * …) — tens to thousands of values, NOT registrable web domains: the
    * waterfill is a driver fold over one row per domain, so a
    * crawl-scale key (10⁶–10⁷ hosts) would silently become a
    * driver-memory bottleneck. `maxDomains` makes that misuse loud
    * instead; raise it (with driver heap) only when the key really is a
    * bounded source list. */
  def epochCappedMixture(df: DataFrame, domainCol: String, idCol: String,
                         tokenCountCol: String, budgetTokens: Double,
                         maxEpochs: Double, maxDomains: Int = 10000): DataFrame = {
    require(budgetTokens >= 0.0, s"budget must be non-negative: $budgetTokens")
    require(maxEpochs > 0.0, s"epoch cap must be positive: $maxEpochs")
    require(!df.columns.contains("epoch"),
      "input already has the reserved output column 'epoch'")
    // limit(maxDomains+1): the guard must fire BEFORE a crawl-scale key
    // can materialize 10⁷ rows on the driver, so cap the collect itself
    val domRows = df
      .select(col(domainCol).cast("string").as("__dom"),
        coalesce(col(tokenCountCol).cast("long"), lit(0L)).as("__n"))
      .where(col("__dom").isNotNull)
      .groupBy(col("__dom")).agg(sum(col("__n")).as("__c"))
      .limit(maxDomains + 1)
      .collect()
    require(domRows.length <= maxDomains,
      s"'$domainCol' has more than maxDomains=$maxDomains distinct values; " +
        "epochCappedMixture's waterfill is a driver fold over one row per " +
        "domain — it expects mixture SOURCES, not registrable web domains. " +
        "Raise maxDomains (with driver heap) only for a genuinely bounded " +
        "source list")
    val totals = domRows
      .map(r => (r.getString(0), r.getLong(1)))
      .filter(_._2 > 0L)
      .sortBy { case (d, c) => (c, d) }
    val k = totals.length
    var remaining = budgetTokens
    val rates = totals.zipWithIndex.map { case ((d, c), i) =>
      val cap = maxEpochs * c.toDouble
      val alloc = math.min(cap, remaining / (k - i).toDouble)
      remaining -= alloc
      val rate = alloc / c.toDouble
      val whole = math.floor(rate).toLong
      (d, whole, hexThreshold(rate - whole))
    }.toSeq
    val spark = df.sparkSession
    import spark.implicits._
    val rateTable = rates.toDF("__dom", "__whole", "__thr")
    df.join(broadcast(rateTable),
        col(domainCol).cast("string") === col("__dom"))
      .withColumn("__copies", col("__whole") +
        when(hashScore(col(idCol)) < col("__thr"), 1L).otherwise(0L))
      .where(col("__copies") > 0)
      .withColumn("epoch", explode(sequence(lit(0L), col("__copies") - 1)))
      .drop("__dom", "__whole", "__thr", "__copies")
  }

  /** Deterministic per-STEP mixture schedule (stride scheduling, the
    * lottery-scheduling derivative Waldspurger & Weihl 1995 — and how a
    * training loop actually CONSUMES a weighted mixture: "which source
    * does batch t draw from?"). Source d with weight share w_d = c_d/Σc
    * occupies the steps nearest its arithmetic sequence t_{d,k} =
    * (k+1)/w_d: all sources' occurrence times merge-sort and the global
    * rank is the step index. The merge's smoothness guarantee: after t
    * steps each source's count is within 1 of w_d·T where T is the t-th
    * smallest occurrence time and |T − t| ≤ #sources, so the prefix
    * error is bounded by `1 + w_d·#sources` — a CONSTANT, where
    * hash-Bernoulli draws drift O(√t). No source ever starves or
    * bursts (property-pinned in SamplingPropertySpec).
    *
    * Deterministic and engine-replayable: shares are exact-integer
    * counts over an exact-integer total, occurrence times one IEEE
    * division each, ties (equal shares) break by source name.
    *
    * Scale shape: `counts` is the driver-side domain list (tens of
    * rows, the [[temperatureMixture]] convention); occurrences explode
    * to ~nSteps + #sources skinny rows, and the global rank is the
    * DISTRIBUTED exclusive prefix sum (count-of-predecessors over a
    * range exchange — [[graft.text.Packing.withExclusivePrefixSumBy]]),
    * never a single-partition row_number. A 10⁷-step schedule is a
    * 10⁷-row skinny frame through one exchange, materialized once per
    * run. */
  def mixtureSchedule(spark: org.apache.spark.sql.SparkSession,
                      counts: Seq[(String, Long)], nSteps: Long): DataFrame = {
    require(nSteps > 0, s"schedule length must be positive: $nSteps")
    require(counts.nonEmpty, "mixtureSchedule needs at least one source")
    require(counts.map(_._1).distinct.size == counts.size, "duplicate source names")
    require(counts.forall(_._2 > 0), s"non-positive source count in $counts")
    import spark.implicits._
    val total = counts.map(_._2).sum
    val wDf = counts.toDF("source", "__c")
      .withColumn("__w", col("__c").cast("double") / lit(total.toDouble))
    // occurrences must cover virtual time T(nSteps) ≤ nSteps + #sources
    // (each source is within 1 occurrence of w_d·T and counts sum to
    // nSteps) — generating only ceil(w·nSteps) would starve the DOMINANT
    // source of its last ~w·#sources steps and backfill them with other
    // sources' later occurrences
    val horizon = (nSteps + counts.size).toDouble
    val occ = wDf
      .select(col("source"), col("__w"),
        explode(sequence(lit(0L),
          ceil(col("__w") * horizon).cast("long"))).as("__k"))
      .select(col("source"),
        ((col("__k") + 1).cast("double") / col("__w")).as("__t"))
    graft.text.Packing
      .withExclusivePrefixSumBy(occ, Seq(col("__t"), col("source")),
        lit(1L), "step")
      .where(col("step") < nSteps)
      .select(col("step"), col("source"))
  }

  /** Token-budget subsample: keep docs in hash order of `idCol` until the
    * running token total reaches `budget` (the first doc crossing the
    * budget is kept, so the result is the smallest hash-prefix set with
    * ≥ budget tokens — or the whole corpus if it totals less). The
    * deterministic form of "give me ~N tokens of this corpus" used when
    * assembling training mixes under a token budget.
    *
    * Scale shape, two layers:
    *  - The exact cumulative pass is a DISTRIBUTED exclusive prefix sum
    *    over KNOWN hash-prefix buckets: the order key is an md5 prefix,
    *    so its first two hex digits split the order into 256 fixed,
    *    ordered, uniformly-loaded buckets — no range-boundary sampling,
    *    no checkpoint (bucket assignment is a pure row function; a
    *    recompute can't shift it, unlike sampled range partitions).
    *    One cheap `groupBy(bucket).sum` sizes every bucket (map-side
    *    partials), the driver scans 256 rows into exclusive offsets,
    *    and a bucket-PARTITIONED window adds the within-bucket prefix —
    *    never a single-partition window, so even the fallback path
    *    parallelizes across the cluster.
    *  - A cheap aggregate additionally sizes a hash-prefix pre-filter at
    *    `2 × budget / total` — because the kept set IS a hash-prefix,
    *    any prefix whose token total reaches the budget contains the
    *    entire answer, so the exact pass runs over ~`2 × budget`
    *    tokens of survivors instead of shuffling the whole corpus.
    *    If the pre-filter under-fills (pathological length/hash
    *    correlation), it falls back to the exact pass over everything —
    *    the result is identical in every case, only the pass's input size
    *    changes.
    * Null token counts are treated as 0 (the doc is kept at zero cost —
    * silently dropping it would lose data); null ids (null hash) sort
    * last — their own bucket above every hex bucket. */
  def tokenBudgetSample(df: DataFrame, idCol: String, tokenCountCol: String,
                        budget: Long): DataFrame = {
    // an unbounded budget keeps everything — return before the sizing
    // aggregate so "no budget" costs zero driver actions
    if (budget == Long.MaxValue) return df
    val tok = coalesce(col(tokenCountCol).cast("long"), lit(0L))
    // bucket 0..255 by the first 2 hex of the order hash; 256 = null id
    val bucket = coalesce(
      conv(substring(hashScore(col(idCol)), 1, 2), 16, 10).cast("int"),
      lit(256))
    // ONE bounded (≤ 257-row) collect per sizing decision: the bucket
    // sums deliver BOTH the total (their sum — pre-r18 a separate full
    // sizing pass computed it) and the exclusive-scan offsets the exact
    // pass needs, so the common path pays two passes over the input
    // instead of three (guide §1.2: don't recompute what one aggregate
    // already holds). Values are identical: Σ per-bucket sums ≡ the old
    // global sum over the same `tok` expression.
    def bucketTotals(in: DataFrame): Seq[(Int, Long)] =
      in.groupBy(bucket.as("__bkt")).agg(sum(tok).as("__s"))
        .collect()
        .map(r => r.getInt(0) -> (if (r.isNullAt(1)) 0L else r.getLong(1)))
        .sortBy(_._1).toSeq
    // __tok0 is materialized once so the offsets (computed from the same
    // collected sums) and the window read the identical value
    def exactPass(in: DataFrame, totals: Seq[(Int, Long)]): DataFrame = {
      val spark = in.sparkSession
      // exclusive scan over the (ordered, fixed) bucket ids
      val offsets = totals.scanLeft((0, 0L)) {
        case ((_, acc), (b, s)) => (b, acc + s)
      }.sliding(2).collect { case Seq((_, off), (b, _)) => (b, off) }.toSeq
      import spark.implicits._
      val offDf = offsets.toDF("__bkt", "__off")
      val w = Window.partitionBy(col("__bkt"))
        .orderBy(hashScore(col(idCol)).asc_nulls_last, col(idCol).asc_nulls_last)
        .rowsBetween(Window.unboundedPreceding, -1)
      in.withColumn("__tok0", tok).withColumn("__bkt", bucket)
        .join(broadcast(offDf), Seq("__bkt"))
        .withColumn("__cum0",
          col("__off") + coalesce(sum(col("__tok0")).over(w), lit(0L)))
        .where(col("__cum0") < budget)
        .drop("__bkt", "__off", "__cum0", "__tok0")
    }
    // reserved-name guard mirrors perKeyCap's
    val reserved = Seq("__bkt", "__off", "__cum0", "__tok0")
    require(!df.columns.exists(reserved.contains),
      s"input reserves column names ${reserved.mkString(", ")}")
    val totals = bucketTotals(df)
    val total = totals.map(_._2).sum
    if (total <= budget) return df // whole corpus fits — no prefix sum needed
    val p = 2.0 * budget.toDouble / total
    if (p >= 1.0) return exactPass(df, totals)
    val survivors = df.where(hashScore(col(idCol)) < lit(hexThreshold(p)))
    // the budget-crossing doc is inside the prefix iff the prefix's token
    // total reaches the budget; otherwise the estimate under-filled
    val sTotals = bucketTotals(survivors)
    if (sTotals.map(_._2).sum >= budget) exactPass(survivors, sTotals)
    else exactPass(df, totals)
  }

  /** At most `n` rows per key (e.g. per domain / per source), chosen by
    * hash order of `idCol` — the standard cap against a handful of hosts
    * dominating a web corpus. Result is EXACTLY the n smallest
    * (hashScore, id) rows of every key, so it is replayable by any engine
    * with md5 (`row_number() OVER (PARTITION BY key ORDER BY md5-prefix,
    * id) <= n` in SQL).
    *
    * Scale shape — key frequencies are Zipfian, so the naive single
    * window `row_number().over(partitionBy(key))` puts a hot key's every
    * row (10⁸⁺ docs for a big crawl host) in ONE task. Instead:
    *  1. `groupBy(key).count()` sizes every key (map-side partial agg
    *     absorbs hot keys; the join-back is AQE-skew-splittable).
    *  2. Keys with ≤ n rows are kept outright — no window at all. Under
    *     Zipf that is almost every key.
    *  3. Oversize keys pre-filter to `hashScore < 4·n/count` — the
    *     kept set is a hash-prefix per key, and any per-key prefix with
    *     ≥ n survivors provably contains that key's exact answer (every
    *     non-survivor hashes above every survivor).
    *  4. The ranking window runs over ~4·n rows per key — bounded by
    *     the cap, not the key's corpus share. Keys whose prefix
    *     under-filled (hash clustering; P ≈ e^{-Θ(n)} per key) fall back
    *     to their full row set, so the result is identical in every case.
    *
    * Null keys form one group like any SQL PARTITION BY; null ids sort
    * last (never displace a hashable row). */
  def perKeyCap(df: DataFrame, keyCol: String, idCol: String, n: Int): DataFrame = {
    require(n > 0, s"cap must be positive: $n")
    val reserved = Seq("__k", "__cnt", "__ok", "__scnt", "__rn")
    require(!df.columns.exists(reserved.contains),
      s"input reserves column names ${reserved.mkString(", ")}")
    val key = col(keyCol)
    val outCols = df.columns.map(col).toSeq
    val counts = df.groupBy(key.as("__k")).agg(count(lit(1)).as("__cnt"))
    val joined = df.join(counts, key <=> col("__k"), "left")
    val small = joined.where(col("__cnt") <= n)
    val big = joined.where(col("__cnt") > n)
    // per-row threshold: round(min(1, 4n/cnt) * 2^32) as 8-digit hex
    // (the expression form of hexThreshold — same rounding, same clamp)
    val p = least(lit(1.0), lit(4.0 * n) / col("__cnt").cast("double"))
    val thr = lpad(lower(hex(least(round(p * lit(4294967296.0)).cast("long"),
      lit(4294967295L)))), 8, "0")
    val surv = big.where(p >= 1.0 || hashScore(col(idCol)) < thr)
    // keys whose prefix holds ≥ n survivors are safe; the rest rank fully
    val okKeys = surv.groupBy(col("__k").as("__ok")).agg(count(lit(1)).as("__scnt"))
      .where(col("__scnt") >= n).select(col("__ok"))
    val windowInput =
      surv.join(okKeys, col("__k") <=> col("__ok"), "left_semi") unionByName
        big.join(okKeys, col("__k") <=> col("__ok"), "left_anti")
    val w = Window.partitionBy(col("__k"))
      .orderBy(hashScore(col(idCol)).asc_nulls_last, col(idCol).asc_nulls_last)
    val capped = windowInput.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= n)
    small.select(outCols: _*) unionByName capped.select(outCols: _*)
  }

  /** Deterministic train/val/test (or any n-way) split: each row gets the
    * label of the md5-hash interval its id falls in — scan-side, shuffle
    * free, stable across runs/partitionings/engines (a doc NEVER migrates
    * between splits when the corpus grows, the property random splits
    * lack and eval hygiene needs). `fractions` need not sum to 1; rows
    * past the last cumulative threshold get the final label (the
    * remainder split). Null ids sort above every hash, landing in the
    * last split deterministically. */
  def hashSplit(df: DataFrame, idCol: String,
                fractions: Seq[(String, Double)]): DataFrame = {
    require(fractions.size >= 2, "need at least two splits")
    require(fractions.map(_._2).forall(f => f >= 0 && f <= 1) &&
      fractions.map(_._2).sum <= 1.0 + 1e-9,
      s"fractions must be probabilities summing to <= 1: $fractions")
    val cum = fractions.init.scanLeft(0.0)(_ + _._2).tail
    val score = hashScore(col(idCol))
    val labeled = fractions.init.zip(cum).foldRight(
      lit(fractions.last._1): Column) { case (((name, _), c), rest) =>
      when(score < lit(hexThreshold(c)), lit(name)).otherwise(rest)
    }
    df.withColumn("split", labeled)
  }

  /** Leakage-safe split: [[hashSplit]] keyed by near-dup CLUSTER instead
    * of document id, so every member of a connected near-dup component
    * lands in the SAME split — the eval-hygiene property a per-doc split
    * lacks (a near-duplicate of a training document assigned to the test
    * split leaks exactly the contamination the pipeline's dedup pass
    * exists to remove). `pairs` is any `(id_a, id_b)` near-dup pair list the dedup stage
    * already produced (MinHash/SimHash/embedding/containment — the
    * operator is agnostic); docs in no pair form singleton clusters keyed
    * by their own id, so with empty `pairs` this degrades to [[hashSplit]]
    * exactly. Adds `cluster` (the component's min id) and `split`.
    *
    * Scale: components come from [[graft.dedup.Dedup.connectedComponents]]
    * (large-star/small-star, O(log² n) rounds, per-round checkpoints); the
    * component map holds only PAIRED docs — tiny next to the corpus — so
    * the label join is AQE-broadcast-promotable; the split itself is
    * scan-side (md5-interval on the cluster id), shuffle-free, and
    * growth-stable: adding documents never migrates an existing cluster
    * between splits. */
  def clusterSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
                   fractions: Seq[(String, Double)]): DataFrame = {
    // `cluster` and `split` are the OUTPUT columns; `component` and
    // `keep` are claimed in flight by dedupeByPairs. Fail loudly rather
    // than silently overwrite or emit an ambiguous reference downstream.
    val reserved = Seq("component", "keep", "cluster", "split")
    val clashes = docs.columns.filter(reserved.contains)
    require(clashes.isEmpty,
      s"clusterSplit reserves output/intermediate column names " +
        s"${reserved.mkString(", ")}; input already has ${clashes.mkString(", ")}")
    val labeled = graft.dedup.Dedup
      .dedupeByPairs(docs, idCol, pairs)
      .drop("keep")
      .withColumnRenamed("component", "cluster")
    hashSplit(labeled, "cluster", fractions)
  }
}
