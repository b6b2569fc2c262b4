package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational operator library, re-expressing the reference's job-level
  * patterns as composable DataFrame transforms.
  *
  * Scale notes (100 TB design intent):
  *  - `latestPerKey` / `argminPerKey` are single-shuffle (hash partition by
  *    key); `argminPerKey` uses `min_by` (partial aggregation = map-side
  *    combine) which is strictly cheaper than the window-function form that
  *    must materialize and sort every group.
  *  - `antiJoinDedupe` is a plain left-anti equi-join: Spark picks
  *    broadcast-hash when the history side is small (AQE converts at runtime
  *    when the post-filter size qualifies), sort-merge otherwise.
  */
object Relational {

  /** W1 — latest row per key via row_number window.
    * Reference: src/main/scala/com/mozilla/telemetry/ml/AddonRecommender.scala:123-130
    * (`row_number() OVER (PARTITION BY client_id ORDER BY submission_date_s3 desc)`).
    * `order` must be a deterministic (tie-free) ordering for oracle parity.
    */
  def latestPerKey(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("rn", row_number().over(w)).where(col("rn") === 1).drop("rn")
  }

  /** A1 — group-reduce argmin: earliest row per key set, one shuffle with
    * map-side partial aggregation (beats the window form at scale: no
    * per-group full sort, no full row materialization).
    * Reference: src/main/scala/com/mozilla/telemetry/views/pioneer/PioneerOnlineNewsDedupe.scala:118-121
    * (`groupByKey(...).reduceGroups(earliest by ping_timestamp)`).
    *
    * @param payload columns to carry through
    * @param ord     ordering column (min wins); must be tie-free per group
    *                or extended with a tiebreaker for determinism
    */
  def argminPerKey(df: DataFrame, keys: Seq[String], ord: Column, payload: Seq[String]): DataFrame = {
    val aggs = payload.map(p => min_by(col(p), ord).as(p))
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** J1 — incremental dedupe: drop rows of `incoming` whose natural key
    * already appears in `history`.
    * Reference: PioneerOnlineNewsDedupe.scala:114-117 (5-column left-anti join).
    * At scale: history is the big side; Spark plans SMJ on the key columns,
    * or BHJ when `incoming`'s day-slice is broadcastable. Callers that dedupe
    * repeatedly against a growing history should store history bucketed by
    * the key hash so the anti-join becomes shuffle-free on one side.
    */
  def antiJoinDedupe(incoming: DataFrame, history: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(history.select(keys.map(col): _*).distinct(), keys, "left_anti")

  /** J3+A1 — the reference's full incremental-dedupe pipeline: union prior
    * state with new data, drop keys already in history, keep earliest row
    * per key among survivors.
    * Reference: PioneerOnlineNewsDedupe.scala:97-121. */
  def incrementalDedupe(incoming: DataFrame, history: DataFrame, keys: Seq[String],
                        ord: Column, payload: Seq[String]): DataFrame =
    argminPerKey(antiJoinDedupe(incoming, history, keys), keys, ord, payload)

  /** Batch gap-based sessionization: assign a per-key session id that
    * increments whenever the gap to the previous event exceeds
    * `gap` (in the units of `tsCol` — the events table carries
    * nanosecond longs). The batch twin of
    * [[graft.streaming.StreamingViews.sessionize]]: lag flags session
    * starts, a running sum numbers them — ONE shuffle+sort per key, both
    * windows share the spec so they plan as a single exchange. */
  def sessionize(df: DataFrame, keys: Seq[String], tsCol: String,
                 gap: Long): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol))
    df.withColumn("__new", coalesce(
        col(tsCol) - lag(col(tsCol), 1).over(w) > gap, lit(true)))
      .withColumn("session_id", sum(when(col("__new"), 1L).otherwise(0L))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__new")
  }

  /** Exact semi-join with a Bloom pre-filter — the fact-to-dimension
    * membership filter ("only events of known-good users") with the
    * shuffle paid ONLY by probable hits: rows the filter proves absent
    * drop at the scan (a codegen predicate, no exchange), and the
    * confirm semi-join sees |fact ∩ bloom| rows — true members + ~fpp
    * of the fact side — instead of the whole fact table. Result is
    * EXACTLY `fact.join(dim, keys, "left_semi")`; the filter is purely
    * a work saver (no false negatives ⇒ no lost members; the confirm
    * join removes the false positives). The [[graft.dedup.Dedup
    * .bloomAntiJoin]] discipline applied to the keep side; at 100 TB
    * the filter bytes are a persistable artifact (`Dedup.keyBloom`) —
    * ship yesterday's dimension filter to today's fact scan.
    *
    * `confirm = false` skips the confirm join entirely (no dimension
    * scan at all): keeps ~fpp non-members — the right trade when the
    * downstream tolerates slack (e.g. a pre-filter before an exact
    * aggregate that re-joins anyway). */
  def bloomSemiJoin(fact: DataFrame, dim: DataFrame, keyCol: String,
                    bloom: Array[Byte], confirm: Boolean = true): DataFrame = {
    val pre = fact.where(
      graft.dedup.Dedup.bloomMightContain(bloom, col(keyCol)))
    if (!confirm) pre
    else pre.join(dim.select(col(keyCol)), Seq(keyCol), "left_semi")
  }

  /** [[bloomSemiJoin]] building the filter from `dim` in one pass
    * (`expectedItems` ≤ 0 ⇒ one cheap count(*) action sizes it). */
  def bloomSemiJoin(fact: DataFrame, dim: DataFrame, keyCol: String,
                    expectedItems: Long, confirm: Boolean): DataFrame = {
    val est = if (expectedItems > 0) expectedItems
      else math.max(dim.count(), 1L)
    bloomSemiJoin(fact, dim, keyCol,
      graft.dedup.Dedup.keyBloom(dim, col(keyCol), est), confirm)
  }

  /** As-of join: attach to each left row the latest right row with
    * `rightTs` ≤ `leftTs` per key (inclusive — a right row at exactly the
    * left timestamp matches). `payload` names the right columns carried
    * over; left rows with no prior right row get nulls.
    *
    * Spark has no as-of join operator; the naive encoding — an inequality
    * join + per-pair argmax — plans as a broadcast-nested-loop or a
    * range-exploded join, both quadratic blow-ups at scale. This is the
    * scalable shape: tag-union both sides, ONE shuffle+sort per key, and
    * a `last(_, ignoreNulls)` carry-forward window; right rows sort
    * before left rows at equal timestamps so inclusivity falls out of the
    * sort order. Cost is that of a single window aggregation regardless
    * of how many left rows each right row serves.
    *
    * The payload travels as ONE struct (non-null for every right row even
    * when individual fields are null), so the matched row's nulls come
    * through as nulls and fields are never stitched from different right
    * rows. Right-side ties (same key, same timestamp) resolve to the row
    * last in payload-struct order, which makes ties deterministic without
    * a caller-supplied column. A payload with a non-orderable type
    * (MapType anywhere in it) fails loudly. The working columns
    * `__ts/__side/__tie/__p` are reserved: a frame already carrying one is rejected (it would be
    * silently clobbered otherwise).
    */
  private val asofReserved = Seq("__ts", "__side", "__tie", "__p")

  private def orderable(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: MapType => false
      case s: StructType => s.fields.forall(f => orderable(f.dataType))
      case a: ArrayType => orderable(a.elementType)
      case u: UserDefinedType[_] => orderable(u.sqlType)
      case _ => true
    }
  }

  /** Bucketized INTERVAL JOIN: every (left, right) pair with equal
    * `keys` and `start ≤ ts < end` — the log-alignment shape (enrich
    * point events with the session / deployment / experiment window
    * they fall into) that a naive range join plans as a per-key
    * CARTESIAN product. Instead: each interval fans out to the
    * fixed-size time buckets it covers (`sequence` explode), each point
    * lands in exactly ONE bucket, and the match becomes a plain hash
    * equi-join on `keys :+ bucket` + the exact containment filter. No
    * dedup pass is needed precisely because a point has one bucket.
    *
    * Returns all left columns + the right `payload` columns, one output
    * row per match (inner semantics: null timestamps/bounds and empty
    * intervals match nothing). `bucketNanos` trades fan-out for match
    * selectivity — pick it near the median interval length so a typical
    * interval explodes to O(1) buckets; the fan-out is
    * `(len div bucket) + 1` rows per interval, NEVER data-dependent on
    * the right side (a hot key degrades to a bigger hash join, not a
    * cross product). Bounds use exact floor division, so pre-epoch
    * timestamps bucket identically to DuckDB `//`. */
  def intervalJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                   startCol: String, endCol: String, tsCol: String,
                   bucketNanos: Long, payload: Seq[String]): DataFrame = {
    require(bucketNanos > 0L, s"bucketNanos must be positive: $bucketNanos")
    require(keys.nonEmpty, "interval join needs at least one equi-key")
    val leftCols = left.columns.toSeq
    require(!leftCols.exists(payload.contains),
      s"payload ${payload.mkString(",")} collides with a left column")
    val clash2 = leftCols.filter(Set("__b", "__ts", "__p").contains)
    require(clash2.isEmpty && !right.columns.contains("__b"),
      s"column(s) ${(clash2 ++ Seq("__b")).distinct.mkString(",")} collide " +
        "with intervalJoin's working columns (__b,__ts,__p) — rename first")
    def fdiv(c: String): String =
      s"(`$c` div ${bucketNanos}L) - (case when `$c` % ${bucketNanos}L < 0 then 1 else 0 end)"
    val l = left
      .where(col(startCol).isNotNull && col(endCol).isNotNull &&
        col(startCol) < col(endCol))
      .withColumn("__b", explode(expr(
        s"sequence(${fdiv(startCol)}, (`$endCol` - 1) div ${bucketNanos}L - " +
          s"(case when (`$endCol` - 1) % ${bucketNanos}L < 0 then 1 else 0 end))")))
    val r = right.select(
      keys.map(col) :+ expr(fdiv(tsCol)).as("__b") :+
        col(tsCol).as("__ts") :+
        struct(payload.map(col): _*).as("__p"): _*)
    l.join(r, keys :+ "__b")
      .where(col("__ts") >= col(startCol) && col("__ts") < col(endCol))
      .select(leftCols.map(col) ++ payload.map(p => col(s"__p.$p").as(p)): _*)
  }

  /** SCD-2 snapshot build: turn an append-only change log into
    * validity INTERVALS — `(keys, attrs, valid_from, valid_to)` with
    * `valid_to` null on each key's current row — the
    * slowly-changing-dimension shape every warehouse needs before a
    * point-in-time ([[asofJoin]]) or range ([[intervalJoin]]) lookup.
    * Consecutive rows whose `attrs` are unchanged (null-safe struct
    * compare) merge into one interval, so the output is the minimal
    * history.
    *
    * One exchange: the collapse lag and the validity lead ride the SAME
    * `(keys, ts)` window spec, and the filter between them preserves
    * the partitioning — Catalyst plans a single shuffle+sort. Duplicate
    * `(keys, ts)` rows make interval bounds ambiguous and fail loudly
    * (one cheap aggregate pass — the Graphs guard discipline). */
  def scd2(changes: DataFrame, keys: Seq[String], tsCol: String,
           attrs: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "scd2 needs at least one key column")
    require(attrs.nonEmpty, "scd2 needs at least one tracked attribute")
    val reserved = Seq("valid_from", "valid_to", "__prev")
    val clash = changes.columns.filter(reserved.contains)
    require(clash.isEmpty,
      s"column(s) ${clash.mkString(",")} collide with scd2's output/" +
        "working columns (valid_from, valid_to) — rename them first")
    val dups = changes.groupBy((keys :+ tsCol).map(col): _*)
      .agg(count(lit(1)).as("__c")).where(col("__c") > 1L).count()
    require(dups == 0L,
      s"$dups duplicate (keys, ts) groups — interval bounds would be " +
        "ambiguous; dedupe the change log first (e.g. argminPerKey)")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol))
    val aStruct = struct(attrs.map(col): _*)
    changes
      .withColumn("__prev", lag(aStruct, 1).over(w))
      .where(!(aStruct <=> col("__prev")))
      .drop("__prev")
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .select((keys ++ attrs ++ Seq("valid_from", "valid_to")).map(col): _*)
  }

  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String, payload: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    require(!leftCols.exists(payload.contains),
      s"payload ${payload.mkString(",")} collides with a left column")
    val clash = (leftCols ++ right.columns).filter(asofReserved.contains).distinct
    require(clash.isEmpty,
      s"column(s) ${clash.mkString(",")} collide with asofJoin's reserved " +
        s"working columns (${asofReserved.mkString(",")}) — rename them first")
    val l = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__side", lit(1))
    val pStruct = struct(payload.map(col): _*)
    require(orderable(right.select(pStruct).schema.head.dataType),
      "payload contains a non-orderable type (MapType) — the tieBreak " +
        "(the payload struct) cannot order it")
    val r = right.select(
      keys.map(col) :+ col(rightTs).as("__ts") :+ lit(0).as("__side") :+
        pStruct.as("__tie") :+ pStruct.as("__p"): _*)
    // left rows get null __tie/__p via unionByName; __tie only orders
    // right rows among themselves (left rows already sort after via __side)
    val unioned = l.unionByName(r, allowMissingColumns = true)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts"), col("__side"), col("__tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = unioned.withColumn("__p", last(col("__p"), ignoreNulls = true).over(w))
    filled.where(col("__side") === 1)
      .select(leftCols.map(col) ++ payload.map(p => col(s"__p.$p").as(p)): _*)
  }

  /** Exact per-group percentile rank — the quality-calibration layer
    * (CCNet-style per-language thresholds, curriculum difficulty
    * bands): `pct_micro = (# group rows with value STRICTLY below)·10⁶
    * div group_n` — standard `rank() − 1` semantics in truncating
    * micro fixed point, ties share a rank. The 100 TB design point is
    * the window's OPERAND: a window over the raw rows puts each whole
    * group in one task (the English partition of a web corpus is most
    * of the corpus), so the cumulative count runs over the per-(group,
    * value) HISTOGRAM instead — histogram-sized window state at any
    * row volume, bounded by value cardinality — and joins back on
    * (group, value). Null values pass through with a null rank (they
    * have no order position, and silently ranking them first or last
    * would corrupt a threshold). */
  def percentileRank(df: DataFrame, keys: Seq[String], valCol: String): DataFrame = {
    require(!df.columns.contains("pct_micro"),
      "output column pct_micro already exists — rename it first")
    val k = keys.map(col)
    val hist = df.where(col(valCol).isNotNull)
      .groupBy(k :+ col(valCol): _*)
      .agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(k: _*).orderBy(col(valCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist
      .withColumn("__below", coalesce(sum(col("__c")).over(w), lit(0L)))
      .withColumn("__n", sum(col("__c"))
        .over(Window.partitionBy(k: _*)))
      .select(k :+ col(valCol) :+
        expr("__below * 1000000 div __n").as("pct_micro"): _*)
    df.join(cum, keys :+ valCol, "left")
  }

  /** Approximate per-group percentile rank — [[percentileRank]]'s
    * escape hatch for CONTINUOUS value columns (the [[graft.ops.Checks
    * .winsorize]] pattern). The exact form's window runs over the
    * per-(group, value) HISTOGRAM, bounded by value cardinality — right
    * for scores and buckets, but a continuous double column in one
    * giant group degenerates back to a row-sized window in a single
    * task (the English partition of a web corpus IS the corpus). This
    * sibling replaces the window with a per-group KLL sketch (Karnin–
    * Lang–Liberty 2016; Spark's native `kll_sketch_agg_double`): one
    * map-side-combined aggregation producing ONE k-bounded sketch per
    * group, joined back (group-cardinality-sized build side — AQE
    * broadcasts it), and the native [[graft.functions.KllRank]]
    * expression evaluates each row against its group's sketch (the
    * built-in `kll_sketch_get_rank_double` only takes a FOLDABLE probe).
    * No window, no per-value shuffle, O(k) state per group at any row
    * volume.
    *
    * Semantics: `outCol` is the sketch's INCLUSIVE rank estimate —
    * the fraction of the group's rows with value ≤ this row's value,
    * a double in [0, 1] (the sketch library's native criterion; the
    * exact sibling's strictly-below micro fixed point differs by one
    * value-mass at ties — band-compare against the matching inclusive
    * exact). Normalized rank error ≤ ~1.65 % (KLL k = 200),
    * but the estimate is NOT replayable: KLL compaction is randomized,
    * so gate it with a rank-band verdict (the q156 pattern), never a
    * value hash. Nulls pass through with a null rank, exactly like the
    * exact form. */
  def percentileRankApprox(df: DataFrame, keys: Seq[String], valCol: String,
                           outCol: String = "pct_est"): DataFrame = {
    require(!df.columns.contains(outCol),
      s"output column $outCol already exists — pass a different outCol")
    val v = col(valCol).cast("double")
    val sk = df.where(col(valCol).isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(kll_sketch_agg_double(v, lit(200)).as("__sk"))
    val joined =
      if (keys.nonEmpty) df.join(sk, keys, "left")
      else df.crossJoin(broadcast(sk))
    joined
      .withColumn(outCol,
        when(col(valCol).isNotNull && col("__sk").isNotNull,
          graft.functions.SketchExpressions.kllRank(col("__sk"), v)))
      .drop("__sk")
  }

  /** Skew-splitting equi-join: the `big` side takes a uniform salt in
    * `[0, salt)`, the `small` side replicates once per salt value, and
    * the join keys on `keys :+ salt` — a hot key's rows spread over
    * `salt` reducers instead of wedging one. The RESULT is provably the
    * plain join (each big row carries exactly ONE salt and the small
    * side covers all of them, so every matching pair appears exactly
    * once; `rand`'s nondeterminism never reaches the output). Price:
    * the small side shuffles ×salt — size salt to the hot key's needed
    * split, not higher. When to reach for it at 100 TB: AQE's skew-join
    * handling only rewrites SORT-MERGE joins at stage boundaries; a
    * skewed stream-static join, a bucketed join AQE won't touch, or a
    * hot-key hash join inside a cached plan needs the explicit split.
    * An inner join. */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
                 salt: Int): DataFrame = {
    require(salt >= 1, s"salt must be positive: $salt")
    val clash = (big.columns ++ small.columns).filter(_ == "__salt").distinct
    require(clash.isEmpty,
      "column __salt collides with saltedJoin's working column — rename it")
    val b = big.withColumn("__salt",
      floor(rand(0) * salt).cast("int"))
    val sm = small.withColumn("__salt",
      explode(typedLit((0 until salt).toVector)))
    b.join(sm, keys :+ "__salt", "inner").drop("__salt")
  }
}
