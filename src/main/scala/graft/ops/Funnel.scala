package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ordered-sequence funnel analytics — the `windowFunnel` capability of
  * the OLAP engines, re-expressed Spark-first. For each user the GREEDY
  * earliest chain of `steps`: t₁ = min ts of step 1; tₖ = min ts of step
  * k with tₖ > tₖ₋₁ and tₖ ≤ t₁ + window. Greedy-earliest is
  * deterministic and exactly SQL-replayable; it can under-count funnels
  * that only a LATER first-step occurrence would complete — the standard
  * simplification, documented here.
  *
  * Scale shape: NO per-user collected arrays and NO window functions —
  * step k is one filtered min-aggregate equi-joined on the user key, so
  * every exchange hashes on `userCol` and AQE broadcasts the shrinking
  * reached-set as conversion decays. Extension beyond the reference
  * (its event analytics stop at per-day counts, e.g.
  * views/MainEventsView.scala); the event-sequence shape the events
  * table exists for. Timestamps are epoch NANOS longs
  * ([[graft.Tables.tsNanos]] normalizes either physical type).
  */
object Funnel {

  /** Per-user step-completion times: (userCol, t1 .. tN nullable,
    * max_step). Row present for every user who completed step 1; tₖ is
    * null where the chain stopped before step k. */
  def funnelTimes(events: DataFrame, userCol: String, typeCol: String,
                  tsCol: String, steps: Seq[String],
                  windowNanos: Long): DataFrame = {
    require(steps.size >= 2, "a funnel needs at least two steps")
    val first = events.where(col(typeCol) === steps.head)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("t1"))
    // inner chain: stage k carries (user, t1..tk) for users who reached k
    val stages = steps.zipWithIndex.tail.scanLeft(first) {
      case (acc, (st, i)) =>
        val carried = (1 to i).map(j => min(col(s"t$j")).as(s"t$j"))
        events.where(col(typeCol) === st)
          .join(acc, Seq(userCol))
          .where(col(tsCol) > col(s"t$i") &&
            col(tsCol) <= col("t1") + lit(windowNanos))
          .groupBy(col(userCol))
          .agg(carried.head, carried.tail :+ min(col(tsCol)).as(s"t${i + 1}"): _*)
    }
    // fan back out: step-1 users, left-joined with each deeper stage's
    // newest column (stage frames shrink monotonically — AQE broadcasts)
    val out = stages.tail.zipWithIndex.foldLeft(first) {
      case (acc, (stage, idx)) =>
        val k = idx + 2
        acc.join(stage.select(col(userCol), col(s"t$k")), Seq(userCol), "left")
    }
    // ascending fold leaves the DEEPEST step as the outermost branch
    val maxStep = steps.indices.tail
      .foldLeft(lit(1)) { (rest, i) =>
        when(col(s"t${i + 1}").isNotNull, lit(i + 1)).otherwise(rest)
      }
    out.withColumn("max_step", maxStep.cast("int"))
  }

  /** Cohort retention: users bucketed by their FIRST-activity time
    * bucket (epoch-anchored `bucketNanos` intervals — deterministic, no
    * calendar arithmetic), counted in every later bucket they were
    * active. Returns (cohort_bucket, bucket_offset, n_users). Shape: one
    * distinct + two user-keyed aggregates + one user-key join — the
    * cohort map is user-sized and AQE-broadcastable; bucket arithmetic
    * is integer `div` (a double division would misplace boundary events:
    * nanosecond epochs exceed the 53-bit mantissa). */
  def cohortRetention(events: DataFrame, userCol: String, tsCol: String,
                      bucketNanos: Long): DataFrame = {
    val wk = events.select(col(userCol),
      expr(s"`$tsCol` div ${bucketNanos}L").as("__wk"))
    val cohort = wk.groupBy(col(userCol))
      .agg(min(col("__wk")).as("cohort_bucket"))
    wk.distinct().join(cohort, Seq(userCol))
      .groupBy(col("cohort_bucket"),
        (col("__wk") - col("cohort_bucket")).as("bucket_offset"))
      .agg(count(lit(1)).cast("long").as("n_users"))
  }

  /** Rolling-window distinct actives (the 7-day-active-users shape):
    * for every `bucketNanos` bucket `t` up to the newest bucket in the
    * data, the count of distinct keys active in `[t − w + 1, t]`.
    *
    * Shape: distinct (key, bucket) first (the only pass over the full
    * event volume), then each active bucket FANS OUT to the ≤ `w`
    * window ends it contributes to (`sequence` explode — map-side, ×w,
    * no inequality join, no global window), then a second distinct +
    * count keyed on (bucket, key). Both exchanges hash on key-bearing
    * composites, so hot buckets split across tasks; the newest-bucket
    * clamp rides a broadcast 1-row aggregate. Buckets are epoch-anchored
    * integer `div` intervals like [[cohortRetention]] — nanos exceed the
    * double mantissa. Returns (bucket, n_active); buckets with no
    * active key in their window are absent (no dense grid is emitted —
    * the SQL replay does the same). */
  def rollingActive(events: DataFrame, keyCol: String, tsCol: String,
                    bucketNanos: Long, windowBuckets: Int): DataFrame =
    rollingDistinct(events, keyCol, Nil, tsCol, bucketNanos, windowBuckets)

  /** Per-segment [[rollingActive]] — rolling distinct actives for every
    * (segment, bucket): the same distinct → fan-out → distinct + count
    * shape with the segment riding every key, so hot segments split
    * across tasks exactly like hot buckets. The newest-bucket clamp
    * stays GLOBAL (one shared data edge, one broadcast row) — segments
    * report the same bucket range, absent where they had no active key. */
  def rollingActiveBy(events: DataFrame, keyCol: String, segCol: String,
                      tsCol: String, bucketNanos: Long,
                      windowBuckets: Int): DataFrame =
    rollingDistinct(events, keyCol, Seq(segCol), tsCol, bucketNanos,
      windowBuckets)

  /** The [[rollingActiveBy]] body; [[rollingActive]] is its no-segment
    * case. */
  private def rollingDistinct(events: DataFrame, keyCol: String,
                              segCols: Seq[String], tsCol: String,
                              bucketNanos: Long,
                              windowBuckets: Int): DataFrame = {
    require(windowBuckets >= 1, "window must span at least one bucket")
    val keys = (keyCol +: segCols).map(col)
    val kb = events.select(keys :+
        expr(s"`$tsCol` div ${bucketNanos}L").as("__b"): _*)
      .distinct()
    windowFanOut(kb, windowBuckets, keys: _*)
      .distinct()
      .groupBy(segCols.map(col) :+ col("bucket"): _*)
      .agg(count(lit(1)).cast("long").as("n_active"))
  }

  /** The clamped rolling-window fan-out every windowed operator here
    * and in [[Timeseries]] shares: each row of `perBucket` (bucket in
    * `__b`) is emitted once per window end it contributes to,
    * `[__b, min(__b + w − 1, newest bucket)]`, as `bucket` beside the
    * `carry` columns. The newest-bucket clamp rides a broadcast 1-row
    * aggregate. */
  private[ops] def windowFanOut(perBucket: DataFrame, windowBuckets: Int,
                                carry: Column*): DataFrame = {
    val newest = perBucket.agg(max(col("__b")).as("__mb"))
    perBucket.crossJoin(broadcast(newest))
      .select(carry :+ explode(sequence(col("__b"),
        least(col("__b") + lit(windowBuckets - 1L), col("__mb"))))
        .as("bucket"): _*)
  }

  /** [[rollingActive]]'s sketch path — the 10⁹-actives form: per-bucket
    * HLL sketches (`hll_sketch_agg`, ~2ᵏ bytes each) replace the
    * distinct (key, bucket) set, the `sequence` fan-out ships ONE
    * sketch row per (bucket, window end) instead of one row per key,
    * and each window's count is `hll_sketch_estimate` over
    * `hll_union_agg`. Task state is O(sketches), independent of key
    * cardinality; per-bucket sketches are the persistable daily
    * artifact (union yesterday's stored sketches, never rescan raw
    * events — the same merge discipline as [[graft.udafs.Sketches]]).
    * lgK 12 ⇒ ~1.6 % standard error; the exact operator remains the
    * verification path. Returns (bucket, n_active_approx). */
  def rollingActiveApprox(events: DataFrame, keyCol: String, tsCol: String,
                          bucketNanos: Long, windowBuckets: Int): DataFrame = {
    require(windowBuckets >= 1, "window must span at least one bucket")
    val perBucket = events
      .select(col(keyCol), expr(s"`$tsCol` div ${bucketNanos}L").as("__b"))
      .groupBy(col("__b"))
      .agg(hll_sketch_agg(col(keyCol), lit(12)).as("__sk"))
    windowFanOut(perBucket, windowBuckets, col("__sk"))
      .groupBy(col("bucket"))
      .agg(hll_sketch_estimate(hll_union_agg(col("__sk"), lit(false)))
        .as("n_active_approx"))
  }

  /** Conversion counts per step depth: (step, n_users) for 1..N. ONE
    * aggregate over [[funnelTimes]]. */
  def funnelCounts(events: DataFrame, userCol: String, typeCol: String,
                   tsCol: String, steps: Seq[String],
                   windowNanos: Long): DataFrame = {
    val times = funnelTimes(events, userCol, typeCol, tsCol, steps, windowNanos)
    val counts = times.agg(
      count(lit(1)).as("n1"),
      (2 to steps.size).map(k =>
        count(col(s"t$k")).as(s"n$k")): _*)
    counts.select(explode(array(steps.indices.map(i =>
        struct(lit(i + 1).as("step"), col(s"n${i + 1}").as("n_users"))): _*))
        .as("e"))
      .select(col("e.step"), col("e.n_users"))
  }
}
