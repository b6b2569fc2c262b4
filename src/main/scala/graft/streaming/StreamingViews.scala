package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming forms of the batch views (SURVEY.md §2.9).
  *
  * The reference has NO streaming — its incremental model is per-day batch
  * overwrite driven by a date loop. Its dedupe-against-history pattern
  * (S6+J1+A1) becomes `dropDuplicates` over the key with a watermark
  * bounding state (the reference instead re-reads all prior output every
  * day — unbounded at 100 TB; watermarked state is the scale-correct
  * form). The stateful operators are streaming twins of batch operators
  * that declared queries run, each pinned in StreamingSpec against its
  * twin over the same admitted events.
  *
  * '''Seal contract.''' Every stateful operator here runs
  * `flatMapGroupsWithState` in append mode with EVENT-TIME timeouts over
  * an `eventTime` column built from epoch millis and tagged with
  * `watermarkDelay`, so closure is deterministic and replayable (a
  * backfill seals what the live run sealed; a test advances the
  * watermark with data instead of sleeping). `sessionize` and
  * `streamingFunnel` state their own seal rules; the bucketed operators
  * share this one:
  *  - a row whose `tsMillis` is below the current watermark is late and
  *    drops inside the group function. The engine's own late filter
  *    runs on the previous batch's watermark, and append mode cannot
  *    retract, so without this guard a straggler could resurrect a
  *    sealed bucket's state and emit it twice. The watermark starts at 0
  *    and never falls, so a pre-epoch row is always late;
  *  - per-bucket operators seal a bucket once the watermark reaches its
  *    seal time (the end of its last admissible contributor): it emits
  *    once and its state is removed. A bucket with nothing admitted is
  *    removed without output; any other bucket keeps its state with a
  *    timeout at `max(sealAt, wm + 1)` (a timeout must stay ahead of the
  *    watermark). Time buckets are `floorDiv(tsMillis, bucketMillis)`,
  *    as in the batch twins (the rolling actives' fan-out keeps
  *    `Funnel.rollingActive`'s SQL `div`; with pre-epoch rows always
  *    late, the two agree on every admitted row);
  *  - sequential folds (EWMA, CUSUM, SCD2) seal their buckets strictly in
  *    order, so the fold sees them as the batch operator does.
  * The output therefore equals the batch twin over the admitted events
  * for every split of the stream into micro-batches, and state is
  * bounded by the out-of-order horizon, not by history. `watermarkDelay`
  * is that horizon: with the 0 ms default any cross-batch late event is
  * dropped; size it to the pipeline's real delivery skew.
  */
object StreamingViews {

  /** Windowed per-key counts with late-data watermark. */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
                     window_ : String = "5 minutes", watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Streaming incremental dedupe: first occurrence per key wins; state
    * bounded by the watermark horizon. */
  def streamingDedupe(events: DataFrame, tsCol: String, keys: Seq[String],
                      watermark: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicates(keys :+ tsCol)

  /** Streaming dedupe against a STATIC history corpus: drop stream rows
    * whose key already exists in `history` (a stream-static left-anti
    * join — stateless, re-planned per micro-batch, so a small history
    * broadcasts and a huge one sort-merges), then first-occurrence dedupe
    * within the stream bounded by the watermark. The streaming twin of
    * the batch incremental-ingest exact stage
    * ([[graft.text.Corpus.cleanIncremental]]'s fingerprint anti-join):
    * history is the already-deduped output of prior days; the stream is
    * today's arrivals. */
  def streamingDedupeAgainstHistory(events: DataFrame, history: DataFrame,
                                    tsCol: String, keys: Seq[String],
                                    watermark: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .join(history.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .dropDuplicates(keys :+ tsCol)

  /** [[streamingDedupeAgainstHistory]] with the history compressed into a
    * Bloom filter (built once with `Dedup.keyBloom(history, keys, n)` and
    * shipped as bytes): the membership test becomes a stateless codegen
    * PREDICATE, so no stream-static join and no per-micro-batch history
    * scan at all — the stream's only state is the watermark-bounded
    * in-stream dedupe. Exactly the batch `bloomAntiJoin(confirm = false)`
    * trade: never keeps a history duplicate (no false negatives), drops
    * ~fpp of genuinely-new rows. The right shape when history is too big
    * to rescan every few seconds. */
  def streamingDedupeBloom(events: DataFrame, historyBloom: Array[Byte],
                           tsCol: String, keys: Seq[String],
                           watermark: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .where(!graft.dedup.Dedup.bloomMightContain(
        historyBloom, struct(keys.map(col): _*)))
      .dropDuplicates(keys :+ tsCol)

  /** The prologue of every stateful operator: an `eventTime` timestamp
    * from the epoch-millis `millis`, tagged with the watermark. */
  private def eventTimed(rows: Dataset[_], millis: Column,
                         watermarkDelay: String): DataFrame =
    rows.withColumn("eventTime", timestamp_millis(millis))
      .withWatermark("eventTime", watermarkDelay)

  /** The seal contract for operators that accumulate per bucket. Rows of
    * `rows` group by `key`; admitted rows fold into the bucket's
    * accumulator (`load` it from state, `add` each row); once the
    * watermark reaches `sealAt(key)` a non-empty accumulator `emit`s and
    * the state goes, an empty one just goes, and otherwise it is `save`d
    * with a timeout at its seal time. */
  private def sealedBuckets[E: Encoder, K: Encoder, S: Encoder, A, O: Encoder](
      rows: Dataset[E], tsMillis: E => Long, key: E => K, sealAt: K => Long)(
      load: Option[S] => A, add: (A, E) => A, isEmpty: A => Boolean,
      save: A => S, emit: (K, A) => Iterator[O]): Dataset[O] =
    rows.groupByKey(key)
      .flatMapGroupsWithState[S, O](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (k: K, in: Iterator[E], state: GroupState[S]) =>
          val wm = state.getCurrentWatermarkMs()
          val end = sealAt(k)
          val acc = in.filter(tsMillis(_) >= wm)
            .foldLeft(load(state.getOption))(add)
          if (isEmpty(acc)) { state.remove(); Iterator.empty }
          else if (wm >= end) { state.remove(); emit(k, acc) }
          else {
            state.update(save(acc))
            state.setTimeoutTimestamp(math.max(end, wm + 1))
            Iterator.empty
          }
      }

  /** The seal contract for sequential per-key folds: admitted rows `admit`
    * into the state's `pending` values per bucket
    * (`floorDiv(tsMillis, bucketMillis)`); the buckets the watermark has
    * passed are ripe and go to `seal` IN BUCKET ORDER — emitting a later
    * bucket before an earlier one is complete would change every later
    * step of the fold — which returns the next state (holding the still
    * open buckets) and the rows to emit. The timeout is the end of the
    * earliest open bucket; with none open the key's state waits for its
    * next event. */
  private def orderedBuckets[E: Encoder, V, S: Encoder, O: Encoder](
      rows: Dataset[E], tsMillis: E => Long, key: E => Long,
      bucketMillis: Long, init: S, pending: S => Map[Long, V],
      admit: (Map[Long, V], Long, E) => Map[Long, V])(
      seal: (Long, S, Seq[(Long, V)], Map[Long, V]) => (S, Seq[O])): Dataset[O] =
    rows.groupByKey(key)(Encoders.scalaLong)
      .flatMapGroupsWithState[S, O](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (k: Long, in: Iterator[E], state: GroupState[S]) =>
          val wm = state.getCurrentWatermarkMs()
          val st = state.getOption.getOrElse(init)
          val (ripe, open) = in.filter(tsMillis(_) >= wm)
            .foldLeft(pending(st)) { (m, r) =>
              admit(m, Math.floorDiv(tsMillis(r), bucketMillis), r)
            }
            .partition { case (b, _) => (b + 1L) * bucketMillis <= wm }
          val (next, out) = seal(k, st, ripe.toSeq.sortBy(_._1), open)
          state.update(next)
          if (open.nonEmpty)
            state.setTimeoutTimestamp(math.max(
              (open.keys.min + 1L) * bucketMillis, wm + 1))
          out.iterator
      }

  /** [[orderedBuckets]]' admission for per-bucket event counts. */
  private def countIn(m: Map[Long, Long], bucket: Long, row: Any): Map[Long, Long] =
    m.updated(bucket, m.getOrElse(bucket, 0L) + 1L)

  case class SessionEvent(userId: Long, tsMillis: Long, value: Double)
  case class SessionSummary(userId: Long, nEvents: Long, sumValue: Double,
                            startMillis: Long, endMillis: Long)
  /** Per-user state: every session the watermark has not yet sealed.
    * Size is bounded by the delivery skew — at most
    * ⌈watermarkDelay / gap⌉ + 1 tentative sessions per user. */
  case class SessionState(sessions: Seq[SessionSummary])

  /** Custom-state sessionization via `flatMapGroupsWithState`: events are
    * folded into per-user TENTATIVE sessions; a session emits only once
    * the EVENT-TIME watermark passes its `end + gapMillis` — the proof
    * that no admissible future event (anything older is dropped by Spark
    * at the watermark) can merge into or extend it. Emitting any earlier
    * (e.g. data-driven, when a later event arrives beyond the gap) is
    * WRONG under a nonzero `watermarkDelay`: an out-of-order event in a
    * later micro-batch may bridge two already-split sessions, and
    * append-mode output cannot be retracted. This watermark-sealed
    * discipline makes the streaming output equal a batch replay
    * ([[graft.ops.Relational.sessionize]]) of the same admitted events
    * for EVERY partition of the stream into micro-batches — asserted as a
    * randomized property in StreamingSpec. Timeouts and late rows follow
    * the [[StreamingViews]] seal contract. */
  def sessionize(events: Dataset[SessionEvent], gapMillis: Long,
                 watermarkDelay: String = "0 milliseconds"): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    eventTimed(events, col("tsMillis"), watermarkDelay)
      .as[SessionEvent]
      .groupByKey(_.userId)
      .flatMapGroupsWithState[SessionState, SessionSummary](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          // one body serves both data batches and timeouts (rows is empty
          // on timeout): merge carried sessions + new events as
          // time-sorted intervals, splitting on every gap > gapMillis
          val items = state.getOption.map(_.sessions).getOrElse(Seq.empty) ++
            rows.map(e => SessionSummary(userId, 1L, e.value, e.tsMillis, e.tsMillis))
          val sorted = items.sortBy(s => (s.startMillis, s.endMillis)).toList
          val merged = sorted match {
            case Nil => Nil
            case head :: tail => tail.foldLeft(List(head)) { (acc, s) =>
              val c = acc.head
              if (s.startMillis - c.endMillis > gapMillis) s :: acc
              else SessionSummary(userId, c.nEvents + s.nEvents,
                c.sumValue + s.sumValue,
                math.min(c.startMillis, s.startMillis),
                math.max(c.endMillis, s.endMillis)) :: acc.tail
            }.reverse
          }
          // sealed = watermark proves immutability; open sessions wait for
          // either more data or the timeout at the earliest seal point
          val wm = state.getCurrentWatermarkMs()
          val (closed, open) = merged.partition(_.endMillis + gapMillis < wm)
          if (open.isEmpty) state.remove()
          else {
            state.update(SessionState(open))
            // must stay ahead of the current watermark or Spark rejects it
            state.setTimeoutTimestamp(
              math.max(open.map(_.endMillis).min + gapMillis, wm + 1))
          }
          closed.iterator
      }
  }

  case class FunnelEvent(userId: Long, step: Int, tsMillis: Long)
  /** Buffered step events the watermark has not yet ruled in or out. */
  case class FunnelBuffer(events: Seq[(Int, Long)])
  /** One row per user: stepTimes(k) = completion millis of step k+1, -1
    * where the chain stopped. */
  case class FunnelResult(userId: Long, stepTimes: Seq[Long], maxStep: Int)

  /** The greedy-earliest chain over buffered events — EXACTLY
    * [[graft.ops.Funnel.funnelTimes]]'s semantics (t₁ = min first-step
    * ts; tₖ = min step-k ts with tₖ > tₖ₋₁ and tₖ ≤ t₁ + window). */
  private def funnelChain(evts: Seq[(Int, Long)], nSteps: Int,
                          windowMillis: Long): FunnelResult = {
    val times = Array.fill(nSteps)(-1L)
    times(0) = evts.collect { case (0, ts) => ts }.min
    var k = 1
    var done = false
    while (k < nSteps && !done) {
      val cand = evts.collect {
        case (s, ts) if s == k && ts > times(k - 1) &&
          ts <= times(0) + windowMillis => ts
      }
      if (cand.isEmpty) done = true else { times(k) = cand.min; k += 1 }
    }
    FunnelResult(0L, times.toSeq, k) // userId filled by the caller
  }

  /** Streaming [[graft.ops.Funnel.funnelTimes]]: per-user step events are
    * BUFFERED until the event-time watermark proves the chain immutable,
    * then the batch chain computation runs once and emits — so the live
    * result is bit-equal to a batch replay of the admitted events
    * (asserted in StreamingSpec). Emitting any earlier would be wrong
    * under a nonzero watermark delay: an out-of-order earlier first-step
    * event re-anchors the window and can change every later step.
    *
    * Seal/eviction discipline (all event-time, deterministic):
    *  - a user WITH a first-step event seals once `wm > t1 + window` —
    *    no admissible event can lower t1 (it would be older than the
    *    watermark) or join the window (likewise);
    *  - a user with only later-step events keeps them while `wm < max
    *    ts`: a future first-step must arrive at ts ≥ wm and chains only
    *    strictly forward, so older buffered events become dead state and
    *    are dropped at their own timestamps.
    * State per user is its step-relevant events inside the out-of-order
    * horizon — bounded by delivery skew, never the full history. One
    * result row per user per chain lifetime (the batch operator is the
    * re-analysis path). */
  def streamingFunnel(events: Dataset[FunnelEvent], nSteps: Int,
                      windowMillis: Long,
                      watermarkDelay: String = "0 milliseconds"): Dataset[FunnelResult] = {
    import events.sparkSession.implicits._
    eventTimed(events, col("tsMillis"), watermarkDelay)
      .as[FunnelEvent]
      .groupByKey(_.userId)
      .flatMapGroupsWithState[FunnelBuffer, FunnelResult](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelBuffer]) =>
          val wm = state.getCurrentWatermarkMs()
          val buf = state.getOption.map(_.events).getOrElse(Seq.empty) ++
            rows.filter(e => e.step >= 0 && e.step < nSteps)
              .map(e => (e.step, e.tsMillis))
          val firsts = buf.collect { case (0, ts) => ts }
          if (firsts.nonEmpty && wm > firsts.min + windowMillis) {
            state.remove()
            Iterator.single(
              funnelChain(buf, nSteps, windowMillis).copy(userId = userId))
          } else {
            // drop dead later-step events (no buffered t1 at or before
            // them, and any future t1 arrives at ts ≥ wm)
            val live = buf.filter { case (s, ts) =>
              s == 0 || ts >= wm || firsts.exists(_ <= ts)
            }
            if (live.isEmpty) { state.remove(); Iterator.empty }
            else {
              state.update(FunnelBuffer(live))
              val sealAt =
                if (firsts.nonEmpty) firsts.min + windowMillis + 1
                else live.map(_._2).max
              state.setTimeoutTimestamp(math.max(sealAt, wm + 1))
              Iterator.empty
            }
          }
      }
  }

  case class ActivityEvent(userId: Long, tsMillis: Long)
  /** Distinct contributors the watermark has not yet sealed, per target
    * bucket. */
  case class BucketContributors(users: Seq[Long])
  case class ActiveCount(bucket: Long, nActive: Long)
  /** Internal fan-out row of [[streamingRollingActive]] (public for the
    * typed deserializer's codegen). */
  case class FanRow(userId: Long, bucket: Long, tsMillis: Long)

  /** The rolling-active fan-out: each event goes STATELESSLY to the
    * `windowBuckets` window ends its activity bucket contributes to. */
  private def activityFan(events: Dataset[ActivityEvent], bucketMillis: Long,
                          windowBuckets: Int,
                          watermarkDelay: String): Dataset[FanRow] = {
    import events.sparkSession.implicits._
    require(windowBuckets >= 1, "window must span at least one bucket")
    val first = expr(s"tsMillis div ${bucketMillis}L")
    eventTimed(events, col("tsMillis"), watermarkDelay)
      // eventTime stays in the projection: the analyzer requires the
      // watermark-tagged attribute in the fMGWS input (the typed
      // deserializer reads only FanRow's fields)
      .select(col("userId"),
        explode(sequence(first, first + lit(windowBuckets - 1L))).as("bucket"),
        col("tsMillis"), col("eventTime"))
      .as[FanRow]
  }

  /** Streaming [[graft.ops.Funnel.rollingActive]]: each event fans out
    * STATELESSLY to the `windowBuckets` window ends its activity bucket
    * contributes to; per target bucket a distinct-contributor set
    * accumulates until the event-time watermark passes the last
    * admissible contributor (`(bucket+1)·bucketMillis`), then the count
    * emits ONCE — equal to the batch operator over the admitted events
    * (asserted in StreamingSpec). Buckets whose seal time lies past the
    * watermark stay pending, which is the stream-edge analogue of the
    * batch operator's newest-bucket clamp. Seals per the
    * [[StreamingViews]] seal contract.
    *
    * State per in-flight bucket is its EXACT distinct key set — the
    * irreducible cost of an exact streaming distinct (≤ window + delay
    * horizon buckets in flight, × that bucket's actives); swap the set
    * for a sketch to trade exactness for O(1) state, as the batch sketch
    * layer does with HLL. */
  def streamingRollingActive(events: Dataset[ActivityEvent],
                             bucketMillis: Long, windowBuckets: Int,
                             watermarkDelay: String = "0 milliseconds")
      : Dataset[ActiveCount] = {
    import events.sparkSession.implicits._
    sealedBuckets[FanRow, Long, BucketContributors, mutable.LinkedHashSet[Long], ActiveCount](
      activityFan(events, bucketMillis, windowBuckets, watermarkDelay),
      _.tsMillis, _.bucket, b => (b + 1L) * bucketMillis)(
      // carried state is ALREADY distinct: new keys dedup against it in
      // O(1) each, never a re-distinct of the whole set per micro-batch
      load = st => mutable.LinkedHashSet.empty[Long] ++=
        st.fold(Seq.empty[Long])(_.users),
      add = (users, r) => users += r.userId,
      isEmpty = _.isEmpty,
      save = users => BucketContributors(users.toSeq),
      emit = (b, users) => Iterator.single(ActiveCount(b, users.size.toLong)))
  }

  /** The watermark-sealed HLL sketch for one in-flight bucket —
    * DataSketches updatable serialization, O(2^lgK) bytes regardless of
    * key cardinality. */
  case class BucketSketch(sketch: Array[Byte])
  case class ActiveEstimate(bucket: Long, nActiveApprox: Long)

  /** [[streamingRollingActive]]'s sketch path — the streaming twin of
    * [[graft.ops.Funnel.rollingActiveApprox]]: the same stateless
    * `sequence` fan-out to window ends, but per-bucket state is ONE
    * updatable HLL sketch (the same DataSketches `HllSketch(lgK,
    * HLL_8)` Spark's `hll_sketch_agg` builds, so stream and batch
    * estimates agree exactly — HLL registers are order-independent
    * maxima, asserted in StreamingSpec) instead of the exact distinct
    * key set. State per in-flight bucket drops from O(actives) to
    * O(2^lgK) bytes — the 10⁹-actives regime the batch sketch path
    * exists for; the exact operator remains the verification path.
    * Seals per the [[StreamingViews]] seal contract, like the exact
    * variant. */
  def streamingRollingActiveApprox(events: Dataset[ActivityEvent],
                                   bucketMillis: Long, windowBuckets: Int,
                                   lgConfigK: Int = 12,
                                   watermarkDelay: String = "0 milliseconds")
      : Dataset[ActiveEstimate] = {
    import events.sparkSession.implicits._
    import org.apache.datasketches.hll.{HllSketch, TgtHllType}
    sealedBuckets[FanRow, Long, BucketSketch, HllSketch, ActiveEstimate](
      activityFan(events, bucketMillis, windowBuckets, watermarkDelay),
      _.tsMillis, _.bucket, b => (b + 1L) * bucketMillis)(
      load = _.fold(new HllSketch(lgConfigK, TgtHllType.HLL_8))(s =>
        HllSketch.heapify(s.sketch)),
      add = (sketch, r) => { sketch.update(r.userId); sketch },
      isEmpty = _.isEmpty,
      save = sketch => BucketSketch(sketch.toUpdatableByteArray),
      emit = (b, sketch) =>
        Iterator.single(ActiveEstimate(b, Math.round(sketch.getEstimate))))
  }

  /** Per-key EWMA state: the running smoothed level (one long for the
    * key's whole lifetime — EWMA memory is the point) plus the counts
    * of buckets the watermark has not yet sealed. */
  case class EwmaState(e: Option[Long], pending: Map[Long, Long])
  case class EwmaPoint(key: Long, bucket: Long, n: Long,
                       ewmaPrev: Option[Long], spike: Option[Boolean])

  /** Streaming [[graft.ops.Timeseries.ewmaAnomalies]]: per-key bucket
    * counts accumulate until the event-time watermark seals a bucket,
    * then buckets fold into the integer half-life EWMA IN ORDER (the
    * [[StreamingViews]] seal contract for sequential folds) and emit
    * with the prior level + spike verdict — equal to the batch fold
    * over the admitted events (asserted in StreamingSpec).
    *
    * State per key is the pending in-horizon bucket counts (bounded by
    * delivery skew) plus ONE long of smoothed history — the streaming
    * EWMA's whole memory, regardless of how long the key lives. */
  def streamingEwma(events: Dataset[ActivityEvent], bucketMillis: Long,
                    spikeFactor: Long = 3L,
                    watermarkDelay: String = "0 milliseconds")
      : Dataset[EwmaPoint] = {
    import events.sparkSession.implicits._
    require(spikeFactor >= 1L, s"spikeFactor must be >= 1: $spikeFactor")
    orderedBuckets[ActivityEvent, Long, EwmaState, EwmaPoint](
      eventTimed(events, col("tsMillis"), watermarkDelay).as[ActivityEvent],
      _.tsMillis, _.userId, bucketMillis, EwmaState(None, Map.empty),
      _.pending, countIn) { (key, st, ripe, open) =>
      var e = st.e
      val out = ripe.map { case (b, n) =>
        val prev = e
        e = Some(prev.fold(n)(p => (p + n) / 2))
        EwmaPoint(key, b, n, prev, prev.map(p => n > spikeFactor * p))
      }
      (EwmaState(e, open), out)
    }
  }

  /** Per-key CUSUM state: the warmup accumulator until μ exists, then
    * the two one-sided sums — plus the unsealed bucket counts. */
  case class CusumState(warmCount: Int, warmSum: Long, mu: Option[Long],
                        sPos: Long, sNeg: Long, pending: Map[Long, Long])
  case class CusumPoint(key: Long, bucket: Long, n: Long, mu: Option[Long],
                        sPos: Option[Long], sNeg: Option[Long],
                        shiftUp: Option[Boolean], shiftDown: Option[Boolean])

  /** Streaming [[graft.ops.Timeseries.cusumShifts]]: buckets seal at
    * the watermark IN ORDER (the [[streamingEwma]] discipline — the
    * fold is sequential) and feed the same integer CUSUM — μ from the
    * first `warmup` sealed buckets, then `S⁺/S⁻` accumulate and flag.
    * Equal to the batch fold over the admitted events on every sum and
    * verdict column (StreamingSpec); the ONE divergence is μ on warmup
    * rows — batch backfills it retroactively, the stream cannot know
    * it yet, and both leave the sums/verdicts null there. State per
    * key is three longs + the in-horizon pending counts. */
  def streamingCusum(events: Dataset[ActivityEvent], bucketMillis: Long,
                     warmup: Int, slack: Long, threshold: Long,
                     watermarkDelay: String = "0 milliseconds")
      : Dataset[CusumPoint] = {
    import events.sparkSession.implicits._
    require(warmup >= 1, s"warmup must be positive: $warmup")
    require(slack >= 0L, s"slack must be non-negative: $slack")
    require(threshold >= 1L, s"threshold must be positive: $threshold")
    orderedBuckets[ActivityEvent, Long, CusumState, CusumPoint](
      eventTimed(events, col("tsMillis"), watermarkDelay).as[ActivityEvent],
      _.tsMillis, _.userId, bucketMillis,
      CusumState(0, 0L, None, 0L, 0L, Map.empty), _.pending, countIn) {
      (key, st, ripe, open) =>
        var (wc, ws, mu, sp, sn) =
          (st.warmCount, st.warmSum, st.mu, st.sPos, st.sNeg)
        val out = ripe.map { case (b, n) =>
          if (mu.isEmpty) {
            wc += 1; ws += n
            if (wc == warmup) mu = Some(ws / warmup)
            CusumPoint(key, b, n, None, None, None, None, None)
          } else {
            sp = math.max(0L, sp + n - mu.get - slack)
            sn = math.max(0L, sn + mu.get - n - slack)
            CusumPoint(key, b, n, mu, Some(sp), Some(sn),
              Some(sp > threshold), Some(sn > threshold))
          }
        }
        (CusumState(wc, ws, mu, sp, sn, open), out)
    }
  }

  case class SegmentEvent(seg: String, userId: Long, tsMillis: Long)
  /** One in-flight (segment, bucket) theta sketch — DataSketches
    * updatable serialization, O(2^lgK) bytes at any key cardinality. */
  case class SegSketch(sketch: Array[Byte])
  /** A watermark-sealed per-(segment, bucket) audience sketch: compact
    * bytes ready for [[graft.ops.Audience.mergeSegmentSketches]] /
    * `theta_union_agg`, plus the distinct estimate. */
  case class SealedSegmentSketch(seg: String, bucket: Long,
                                 sketch: Array[Byte], nApprox: Long)

  /** Streaming producer of [[graft.ops.Audience]]'s daily artifacts:
    * per-(segment, time-bucket) THETA sketches accumulate in state and
    * emit ONCE the event-time watermark seals the bucket — the sealed
    * compact bytes are exactly what the batch set-algebra layer
    * consumes (`mergeSegmentSketches` unions them across days, then
    * `segmentOverlap` answers ∩/∪/∖ — spec-pinned equal to a batch
    * build over the same events). Seals per the [[StreamingViews]] seal
    * contract. State per in-flight (segment, bucket) is one updatable
    * theta sketch — bounded by the out-of-order horizon × segment
    * count, never by user cardinality. */
  def streamingSegmentSketches(events: Dataset[SegmentEvent],
                               bucketMillis: Long, lgK: Int = 12,
                               watermarkDelay: String = "0 milliseconds")
      : Dataset[SealedSegmentSketch] = {
    import events.sparkSession.implicits._
    import org.apache.datasketches.memory.Memory
    import org.apache.datasketches.theta.UpdateSketch
    sealedBuckets[SegmentEvent, (String, Long), SegSketch, UpdateSketch, SealedSegmentSketch](
      eventTimed(events, col("tsMillis"), watermarkDelay).as[SegmentEvent],
      _.tsMillis, e => (e.seg, Math.floorDiv(e.tsMillis, bucketMillis)),
      k => (k._2 + 1L) * bucketMillis)(
      load = _.fold(UpdateSketch.builder().setNominalEntries(1 << lgK).build())(
        s => UpdateSketch.heapify(Memory.wrap(s.sketch))),
      add = (sketch, r) => { sketch.update(r.userId); sketch },
      isEmpty = _.getRetainedEntries(true) == 0,
      save = sketch => SegSketch(sketch.toByteArray),
      emit = { case ((seg, bucket), sketch) =>
        val compact = sketch.compact()
        Iterator.single(SealedSegmentSketch(seg, bucket,
          compact.toByteArray, Math.round(compact.getEstimate)))
      })
  }

  case class MeasureEvent(value: Double, tsMillis: Long)
  /** One in-flight per-bucket KLL sketch — DataSketches serialization,
    * O(k) bytes at any event volume. */
  case class BucketKll(sketch: Array[Byte])
  /** A watermark-sealed per-bucket quantile sketch: bytes ready for
    * `kll_merge_agg_double` /
    * [[graft.ops.Timeseries.rollingQuantileFromSketches]], plus the
    * sealed value count. */
  case class SealedBucketQuantile(bucket: Long, sketch: Array[Byte], n: Long)

  /** Streaming producer of [[graft.ops.Timeseries.bucketQuantileSketches]]'s
    * daily artifacts — completing the sketch-family symmetry (HLL
    * actives, theta segments and EWMA all have streaming twins): one
    * KLL doubles sketch per time bucket accumulates in state and emits
    * ONCE the event-time watermark seals the bucket; the sealed bytes
    * are exactly what the batch window layer consumes
    * (`rollingQuantileFromSketches` — spec-pinned equal to a batch
    * build over the same admitted events in the below-k exact regime,
    * where KLL retains everything and no randomized compaction runs).
    * Seals per the [[StreamingViews]] seal contract. State per in-flight
    * bucket is O(k) bytes regardless of event volume — the irreducible
    * cost of streaming quantiles, vs O(events) for an exact buffer. */
  def streamingBucketQuantileSketches(events: Dataset[MeasureEvent],
                                      bucketMillis: Long, kllK: Int = 200,
                                      watermarkDelay: String = "0 milliseconds")
      : Dataset[SealedBucketQuantile] = {
    import events.sparkSession.implicits._
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    sealedBuckets[MeasureEvent, Long, BucketKll, KllDoublesSketch, SealedBucketQuantile](
      eventTimed(events, col("tsMillis"), watermarkDelay).as[MeasureEvent],
      _.tsMillis, e => Math.floorDiv(e.tsMillis, bucketMillis),
      b => (b + 1L) * bucketMillis)(
      load = _.fold(KllDoublesSketch.newHeapInstance(kllK))(s =>
        KllDoublesSketch.heapify(Memory.wrap(s.sketch))),
      add = (sketch, r) => { sketch.update(r.value); sketch },
      isEmpty = _.isEmpty,
      save = sketch => BucketKll(sketch.toByteArray),
      emit = (b, sketch) => Iterator.single(
        SealedBucketQuantile(b, sketch.toByteArray, sketch.getN)))
  }

  /** Internal fan row of [[streamingTokenCms]] (public for the typed
    * deserializer's codegen). */
  case class TokenFreqEvent(token: String, tsMillis: Long)
  /** One in-flight per-bucket count-min sketch — Spark's
    * `util.sketch.CountMinSketch` serialization, O(depth·width)
    * counters at any token volume. */
  case class BucketCmsState(sketch: Array[Byte])
  /** A watermark-sealed per-bucket token-frequency sketch plus the
    * sealed token count. Bytes are `CountMinSketch.readFrom`-able and
    * `mergeInPlace`-compatible with the batch
    * [[graft.udafs.Sketches.tokenCms]] artifacts (same eps/confidence/
    * seed). */
  case class SealedBucketCms(bucket: Long, sketch: Array[Byte], nTokens: Long)

  /** The token fan-out of the frequency and join-size sketches: one
    * [[TokenFreqEvent]] per `token` value (a generator or a plain
    * column) at the row's epoch-millis `tsCol`. */
  private def tokenEvents(rows: DataFrame, token: Column, tsCol: String,
                          watermarkDelay: String): Dataset[TokenFreqEvent] = {
    import rows.sparkSession.implicits._
    eventTimed(rows, col(tsCol).cast("long"), watermarkDelay)
      .select(token.as("token"),
        col(tsCol).cast("long").as("tsMillis"), col("eventTime"))
      .as[TokenFreqEvent]
  }

  private def cmsBytes(sketch: org.apache.spark.util.sketch.CountMinSketch)
      : Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    sketch.writeTo(bos)
    bos.toByteArray
  }

  /** Streaming producer of the token-frequency CMS — the FREQUENCY
    * family's streaming twin (HLL actives, theta segments, EWMA and
    * KLL quantiles all have one): docs tokenize STATELESSLY with the
    * same `TextOps.tokens` expression the batch sketch uses, each
    * token fans to its time bucket, and one updatable count-min sketch
    * per in-flight bucket accumulates until the event-time watermark
    * seals it. CMS counters are SUMS — commutative and
    * order-independent — so sealed per-bucket sketches `mergeInPlace`
    * to BYTE-IDENTICAL artifacts vs a batch [[graft.udafs.Sketches
    * .tokenCms]] build over the same admitted docs (spec-pinned),
    * exactness no other sketch family's twin can claim. Seals per the
    * [[StreamingViews]] seal contract. State per in-flight bucket is
    * the fixed counter grid — O(depth·width) bytes at any token
    * volume. */
  def streamingTokenCms(docs: DataFrame, textCol: String, tsCol: String,
                        bucketMillis: Long, eps: Double, confidence: Double,
                        seed: Int,
                        watermarkDelay: String = "0 milliseconds")
      : Dataset[SealedBucketCms] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.util.sketch.CountMinSketch
    sealedBuckets[TokenFreqEvent, Long, BucketCmsState, CountMinSketch, SealedBucketCms](
      tokenEvents(docs, explode(graft.text.TextOps.tokens(col(textCol))),
        tsCol, watermarkDelay),
      _.tsMillis, e => Math.floorDiv(e.tsMillis, bucketMillis),
      b => (b + 1L) * bucketMillis)(
      load = _.fold(CountMinSketch.create(eps, confidence, seed))(s =>
        CountMinSketch.readFrom(new java.io.ByteArrayInputStream(s.sketch))),
      add = (sketch, r) => { sketch.addString(r.token); sketch },
      isEmpty = _.totalCount() == 0L,
      save = sketch => BucketCmsState(cmsBytes(sketch)),
      emit = (b, sketch) => Iterator.single(
        SealedBucketCms(b, cmsBytes(sketch), sketch.totalCount())))
  }

  /** One in-flight per-bucket Misra–Gries summary (≤ k counters). */
  case class BucketMgState(summary: Map[String, Long])
  /** A watermark-sealed per-bucket frequent-items summary. Maps are
    * [[graft.udafs.FreqItems.mgMergeAgg]]-compatible with batch
    * artifacts built under the same k. */
  case class SealedBucketMg(bucket: Long, summary: Map[String, Long])

  /** Streaming producer of per-bucket Misra–Gries frequent-items
    * summaries — the HEAVY-HITTER family's streaming twin (HLL actives,
    * theta segments, CMS frequencies, EWMA, CUSUM and KLL quantiles all
    * have one): docs tokenize statelessly with the same
    * `TextOps.tokens` expression the batch aggregator consumes, each
    * token fans to its time bucket, and one ≤ k-counter summary per
    * in-flight bucket accumulates until the event-time watermark seals
    * it. The deterministic MG guarantee (est ≤ true, true − est ≤
    * N_bucket/(k+1), heavy ⇒ present) is ORDER-FREE, so it holds for
    * sealed buckets regardless of arrival order; while a bucket's
    * vocabulary stays ≤ k no trim fires and the sealed summary is
    * bit-exact equal to a batch [[graft.udafs.FreqItems.mgAgg]] build
    * over the same admitted docs (spec-pinned — the KLL below-capacity
    * convention). Seals per the [[StreamingViews]] seal contract. State
    * per in-flight bucket is AT MOST k counters at any token volume. */
  def streamingTokenHeavyHitters(docs: DataFrame, textCol: String,
                                 tsCol: String, bucketMillis: Long, k: Int,
                                 watermarkDelay: String = "0 milliseconds")
      : Dataset[SealedBucketMg] = {
    import docs.sparkSession.implicits._
    require(k >= 1, s"summary size must be positive: $k")
    sealedBuckets[TokenFreqEvent, Long, BucketMgState, Map[String, Long], SealedBucketMg](
      tokenEvents(docs, explode(graft.text.TextOps.tokens(col(textCol))),
        tsCol, watermarkDelay),
      _.tsMillis, e => Math.floorDiv(e.tsMillis, bucketMillis),
      b => (b + 1L) * bucketMillis)(
      load = _.fold(Map.empty[String, Long])(_.summary),
      add = (m, r) => graft.udafs.FreqItems.trim(
        m.updated(r.token, m.getOrElse(r.token, 0L) + 1L), k),
      isEmpty = _.isEmpty,
      save = BucketMgState(_),
      emit = (b, m) => Iterator.single(SealedBucketMg(b, m)))
  }

  /** One in-flight per-bucket AGMS counter grid + admitted-row count. */
  case class BucketAgmsState(sketch: Array[Byte], n: Long)
  /** A watermark-sealed per-bucket AGMS join-size sketch plus the
    * sealed row count. Bytes are [[graft.udafs.JoinSize.deserialize]]-
    * able and merge counter-wise with batch artifacts under the same
    * (depth, width, seed). */
  case class SealedBucketAgms(bucket: Long, sketch: Array[Byte], n: Long)

  /** Streaming producer of per-bucket AGMS join-size sketches — the
    * OPTIMIZER-STATISTICS family's streaming twin (HLL actives, theta
    * segments, CMS frequencies, MG heavy hitters, EWMA, CUSUM and KLL
    * quantiles all have one): each row's key updates one signed-counter
    * grid per in-flight time bucket until the event-time watermark
    * seals it. AGMS updates are signed SUMS — commutative and
    * order-independent — so sealed per-bucket sketches merge
    * counter-wise to BYTE-IDENTICAL artifacts vs a batch
    * [[graft.udafs.JoinSize.agmsAgg]] build over the same admitted rows
    * (spec-pinned, the CMS twin's exactness claim): the day's
    * join-cardinality planning questions ("should this broadcast, is it
    * skew-exploded") answer from kilobytes of streamed artifacts with
    * no batch re-scan. Seals per the [[StreamingViews]] seal contract;
    * NULL keys are not admitted. State per in-flight bucket is the
    * fixed depth×width grid at any row volume. */
  def streamingKeyAgms(rows: DataFrame, keyCol: String, tsCol: String,
                       bucketMillis: Long, depth: Int, width: Int, seed: Int,
                       watermarkDelay: String = "0 milliseconds")
      : Dataset[SealedBucketAgms] = {
    import rows.sparkSession.implicits._
    import graft.udafs.JoinSize
    sealedBuckets[TokenFreqEvent, Long, BucketAgmsState, (Array[Long], Long), SealedBucketAgms](
      tokenEvents(rows, col(keyCol).cast("string"), tsCol, watermarkDelay),
      _.tsMillis, e => Math.floorDiv(e.tsMillis, bucketMillis),
      b => (b + 1L) * bucketMillis)(
      load = _.fold((new Array[Long](depth * width), 0L))(s =>
        (JoinSize.deserialize(s.sketch)._4, s.n)),
      add = { case (acc @ (counters, n), r) =>
        if (r.token == null) acc
        else {
          JoinSize.addInto(counters, r.token, 1L, depth, width, seed)
          (counters, n + 1L)
        }
      },
      isEmpty = _._2 == 0L,
      save = { case (counters, n) =>
        BucketAgmsState(JoinSize.serialize(depth, width, seed, counters), n) },
      emit = { case (b, (counters, n)) => Iterator.single(SealedBucketAgms(
        b, JoinSize.serialize(depth, width, seed, counters), n)) })
  }

  /** Internal fan row of [[streamingCentroidSums]]. */
  case class VecEvent(embedding: Seq[Float], tsMillis: Long)
  /** One in-flight per-bucket centroid accumulator: micro element sums
    * + vector count. */
  case class BucketVecState(sums: Seq[Long], n: Long)
  /** A watermark-sealed per-bucket centroid-sum artifact — exactly
    * [[graft.sim.VectorAgg.vectorSumElements]]'s row shape, one row
    * per dimension. */
  case class SealedBucketVec(bucket: Long, pos: Int, elem_sum_micro: Long,
                             n_vectors: Long)

  /** Streaming producer of per-bucket centroid-sum artifacts — the
    * VECTOR family's streaming twin: embeddings quantize to micro
    * longs with the same `round(v·10⁶)` the batch layer uses, each
    * vector adds into its time bucket's element-sum accumulator, and
    * the watermark seals the bucket into
    * [[graft.sim.VectorAgg.vectorSumElements]]-shaped rows. Integer
    * element sums are order-free, so sealed artifacts are BIT-EXACT
    * equal to a batch build over the same admitted vectors
    * (spec-pinned) — [[graft.sim.VectorAgg.centroidDrift]] and the
    * outlier screen consume them unchanged, so the drift alarm runs
    * live off the stream with state = one long per dimension per
    * in-flight bucket. Ragged lengths extend the accumulator
    * (the batch zero-pad convention). Seals per the [[StreamingViews]]
    * seal contract. */
  def streamingCentroidSums(vecs: DataFrame, vecCol: String, tsCol: String,
                            bucketMillis: Long,
                            watermarkDelay: String = "0 milliseconds")
      : Dataset[SealedBucketVec] = {
    import vecs.sparkSession.implicits._
    sealedBuckets[VecEvent, Long, BucketVecState, BucketVecState, SealedBucketVec](
      eventTimed(vecs.where(col(vecCol).isNotNull), col(tsCol).cast("long"),
        watermarkDelay)
        .select(col(vecCol).as("embedding"),
          col(tsCol).cast("long").as("tsMillis"), col("eventTime"))
        .as[VecEvent],
      _.tsMillis, e => Math.floorDiv(e.tsMillis, bucketMillis),
      b => (b + 1L) * bucketMillis)(
      load = _.getOrElse(BucketVecState(Vector.empty, 0L)),
      add = (st, r) =>
        if (r.embedding == null) st
        else {
          // BigDecimal HALF_UP matches Spark's `round` exactly —
          // math.round floors half-values toward +∞ on negatives
          val micro = r.embedding.map(v =>
            BigDecimal(v.toDouble * 1e6)
              .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
          val base =
            if (st.sums.length >= micro.length) st.sums
            else st.sums ++ Vector.fill(micro.length - st.sums.length)(0L)
          val sums = base.zipWithIndex.map { case (s, i) =>
            if (i < micro.length) s + micro(i) else s
          }
          BucketVecState(sums, st.n + 1L)
        },
      isEmpty = _.n == 0L,
      save = identity,
      emit = (b, st) => st.sums.iterator.zipWithIndex.map { case (s, i) =>
        SealedBucketVec(b, i, s, st.n)
      })
  }

  /** Input row of [[streamingScd2]]. */
  case class ChangeEvent(key: Long, tsMillis: Long, attr: String)
  /** Per-key SCD2 state: the currently-open interval + the in-horizon
    * pending changes (ts → attr). */
  case class Scd2State(openFrom: Option[Long], openAttr: Option[String],
                       pending: Map[Long, String])
  /** A CLOSED validity interval ([[streamingScd2]] emits nothing for a
    * key's still-open current row — append mode cannot retract it). */
  case class Scd2Interval(key: Long, attr: String,
                          validFrom: Long, validTo: Long)

  /** Streaming twin of [[graft.ops.Relational.scd2]]: closed validity
    * intervals sealed live from a change stream. Like
    * [[streamingEwma]], sealing is STRICTLY ORDERED — interval bounds
    * depend on each key's change order, so each change is its own
    * 1 ms bucket and processes only once the watermark passes it (any
    * still-missing earlier change would be late-and-dropped by then).
    * Consecutive unchanged attrs collapse exactly like the batch
    * operator; each key's current open interval lives in state (O(1) +
    * the in-horizon pending changes) and is never emitted — the batch
    * operator over the compacted log owns the point-in-time read
    * including open rows. Duplicate (key, ts) changes fail the query
    * loudly (the batch guard's discipline — silent last-write-wins
    * would corrupt bounds). */
  def streamingScd2(changes: Dataset[ChangeEvent],
                    watermarkDelay: String = "0 milliseconds")
      : Dataset[Scd2Interval] = {
    import changes.sparkSession.implicits._
    orderedBuckets[ChangeEvent, String, Scd2State, Scd2Interval](
      eventTimed(changes, col("tsMillis"), watermarkDelay).as[ChangeEvent],
      _.tsMillis, _.key, bucketMillis = 1L, Scd2State(None, None, Map.empty),
      _.pending, admit = (m, ts, r) => {
        if (m.contains(ts))
          throw new IllegalStateException(
            s"duplicate change at (key=${r.key}, ts=$ts) — " +
              "interval bounds would be ambiguous; dedupe upstream")
        m.updated(ts, r.attr)
      }) { (key, st, ripe, open) =>
      var from = st.openFrom
      var attr = st.openAttr
      val out = Vector.newBuilder[Scd2Interval]
      ripe.foreach { case (ts, a) =>
        (from, attr) match {
          case (Some(_), Some(pa)) if pa == a => () // unchanged: collapse
          case (Some(f), Some(pa)) =>
            out += Scd2Interval(key, pa, f, ts); from = Some(ts); attr = Some(a)
          case _ => from = Some(ts); attr = Some(a)
        }
      }
      (Scd2State(from, attr, open), out.result())
    }
  }

  case class CdcChangeEvent(key: Long, tsMillis: Long, op: String, value: Long)
  /** The in-flight best change of one `(key, day)` — O(1) state. */
  case class DayChangeState(tsMillis: Long, op: String, value: Long)
  /** A watermark-sealed net change: the day's WINNING op/payload for
    * one key, `seq` carrying the winning change's timestamp so
    * downstream [[graft.ops.Cdc.cdcApply]] replays latest-wins across
    * days exactly. */
  case class SealedDayChange(key: Long, day: Long, seq: Long, op: String,
                             value: Long)

  /** Streaming producer of the DAILY COMPACTED CHANGELOG — the CDC
    * family's streaming twin ([[graft.ops.Cdc]]): a change stream
    * compacts to one net change per `(key, day)`, sealed once the
    * event-time watermark passes the day boundary; the sealed rows are
    * exactly what the batch [[graft.ops.Cdc.cdcApply]] consumes to roll
    * a snapshot forward day by day (spec-pinned: applying a sealed day
    * == applying that day's raw changes). Latest-wins is ORDER-FREE —
    * the winner is the max `(tsMillis, op, value)` tuple, the same
    * total order as `cdcApply`'s `max_by struct(seq, op, payload)`
    * (ASCII op codes compare identically in both) — so unlike the
    * EWMA/SCD2 twins no ordered sealing is needed; any arrival order
    * inside the horizon yields the same sealed row. Seals per the
    * [[StreamingViews]] seal contract (the batch operator over the raw
    * log is the corrector for dropped late rows). State per in-flight
    * `(key, day)` is ONE change — O(keys churning today), not
    * O(changes). */
  def streamingDailyChangelog(changes: Dataset[CdcChangeEvent],
                              bucketMillis: Long,
                              watermarkDelay: String = "0 milliseconds")
      : Dataset[SealedDayChange] = {
    import changes.sparkSession.implicits._
    require(bucketMillis > 0L, s"bucketMillis must be positive: $bucketMillis")
    def beats(a: DayChangeState, b: DayChangeState): Boolean =
      Ordering.Tuple3[Long, String, Long].gt(
        (a.tsMillis, a.op, a.value), (b.tsMillis, b.op, b.value))
    sealedBuckets[CdcChangeEvent, (Long, Long), DayChangeState,
        Option[DayChangeState], SealedDayChange](
      eventTimed(changes, col("tsMillis"), watermarkDelay).as[CdcChangeEvent],
      _.tsMillis, e => (e.key, Math.floorDiv(e.tsMillis, bucketMillis)),
      k => (k._2 + 1L) * bucketMillis)(
      load = identity,
      add = (best, r) => {
        val cand = DayChangeState(r.tsMillis, r.op, r.value)
        if (best.forall(beats(cand, _))) Some(cand) else best
      },
      isEmpty = _.isEmpty,
      save = _.get,
      emit = { case ((key, day), best) =>
        best.map(b => SealedDayChange(key, day, b.tsMillis, b.op, b.value))
          .iterator
      })
  }


  /** Streaming twin of [[graft.ops.Relational.intervalJoin]]: match
    * each point event to the live intervals containing it — session
    * windows enriching their clicks, deployment windows claiming their
    * errors — as a native STREAM-STREAM inner join. Spark's state
    * cleanup needs a time-range bound between the two EVENT-TIME
    * columns, so the caller declares `maxIntervalLen` (an interval
    * literal, e.g. `"3 days"`): the join condition carries
    * `point < start + maxIntervalLen` alongside the exact containment
    * `start ≤ point < end`, all as event-time timestamp comparisons, which
    * lets both sides' buffers purge at the watermark instead of growing
    * forever: once the watermark (the min over both sides) passes
    * `start + maxIntervalLen`, that interval leaves state, and a point
    * leaves state once the watermark passes it. Intervals longer than
    * `maxIntervalLen` are truncated (matches past the bound drop) —
    * size it at the schema's maximum interval length. Both inputs
    * carry epoch-MILLIS longs (`startCol`/`endCol`/`tsCol`); output is
    * every interval column + the point `payload` columns, exactly the
    * batch operator's shape. */
  def streamingIntervalJoin(intervals: DataFrame, points: DataFrame,
                            keys: Seq[String], startCol: String,
                            endCol: String, tsCol: String,
                            payload: Seq[String], maxIntervalLen: String,
                            watermarkDelay: String = "0 milliseconds")
      : DataFrame = {
    require(keys.nonEmpty, "interval join needs at least one equi-key")
    val iCols = intervals.columns.toSeq
    require(!iCols.exists(payload.contains),
      s"payload ${payload.mkString(",")} collides with an interval column")
    val i = intervals
      .withColumn("__istart", timestamp_millis(col(startCol).cast("long")))
      .withColumn("__iend", timestamp_millis(col(endCol).cast("long")))
      .withWatermark("__istart", watermarkDelay)
    val p = points
      .select(keys.map(k => col(k).as(s"__k_$k")) ++ Seq(
        timestamp_millis(col(tsCol).cast("long")).as("__pts"),
        struct(payload.map(col): _*).as("__p")): _*)
      .withWatermark("__pts", watermarkDelay)
    // every range term compares event-time timestamps (exact: millis map
    // to timestamps one-to-one), so the state-eviction planner can bound
    // both sides from the condition
    val cond = keys.map(k => col(k) === col(s"__k_$k")).reduce(_ && _) &&
      col("__pts") >= col("__istart") && col("__pts") < col("__iend") &&
      col("__pts") < col("__istart") + expr(s"INTERVAL $maxIntervalLen")
    i.join(p, cond)
      .select(iCols.map(col) ++ payload.map(c => col(s"__p.$c").as(c)): _*)
  }

  /** Streaming domain-blocklist gate — the robots/opt-out check a live
    * crawl frontier runs before fetching: the streaming twin of
    * [[graft.text.UrlOps.domainBlocklistFilter]]. Entirely STATELESS: the
    * host's label-suffix chain is a scan-side HOF over the projected
    * label array, and the verdict is one codegen `arrays_overlap` against
    * the pattern list as an array literal (opt-out lists are rows of
    * domains — driver-list-sized by nature; re-deploy the query to pick
    * up list changes). No stream-static join, no watermark, no state
    * store: the gate adds zero bytes of streaming state and cannot delay
    * the frontier. Emits input columns plus `blocked` (append-safe — a
    * flag never needs retracting); filter `!blocked` for the gate. Same
    * matching rules as the batch form: lowercased, port-blind,
    * dot-boundary suffixes only, blank patterns dropped. */
  def streamingDomainBlocklist(docs: DataFrame, urlCol: String,
                               patterns: Seq[String]): DataFrame = {
    // same loud guard as the batch twin — "same matching rules as the
    // batch form" includes not silently overwriting caller columns
    require(!docs.columns.contains("blocked"),
      "input already has the reserved output column 'blocked'")
    require(!docs.columns.contains("__lbl"),
      "input already has the reserved intermediate column '__lbl'")
    // patterns normalize through the SAME SQL lower(trim(...)) the batch
    // gate applies — inside the expression, not Java trim/toLowerCase:
    // SQL trim strips only U+0020 while String.trim eats all controls,
    // and SQL lower's one-to-one mapping differs from Java's full
    // casefold on e.g. dotted-capital İ — either gap would break the
    // pinned batch==streaming equality on non-ASCII patterns
    val pats = array_distinct(filter(
      transform(typedLit(patterns), p => lower(trim(p))),
      p => length(p) > 0))
    val labels = split(graft.text.UrlOps.urlHost(col(urlCol)), "\\.")
    val suffixes = transform(sequence(lit(0), size(col("__lbl")) - 1),
      i => array_join(slice(col("__lbl"), i + 1, size(col("__lbl")) - i), "."))
    docs.withColumn("__lbl", labels)
      // coalesce: a null URL must report blocked=false like the batch
      // twin's left-join arm, not a NULL that a !blocked filter drops
      .withColumn("blocked",
        coalesce(arrays_overlap(suffixes, pats), lit(false)))
      .drop("__lbl")
  }
}
