package graft

import org.apache.spark.sql.DataFrame

/** The plan-hygiene GATE, in `sbt test` so a scale-killer turns red
  * before the driver ever runs a query: every declared query's plan must
  * be free of CartesianProducts, condition-less joins between two
  * non-single-row sides, and single-partition windows outside
  * [[PlanAudit.globalWindowAllowlist]]. Plus pinned window budgets for
  * the flagship clean/assemble family — the round-6 regression was a
  * PARTITIONED corpus-wide window sneaking into `Corpus.clean`
  * (`min().over(partitionBy(fp))`), which no global-window check sees;
  * pinning the total WindowExec count per query makes that class of
  * reintroduction fail loudly here. */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Total-WindowExec budgets for the clean/assemble compositions. A
    * bump above budget means someone added a window to a pipeline whose
    * dedup stages are deliberately groupBy+flag-back — raise only with a
    * written scale argument (SCALE.md). */
  private val windowBudget: Map[String, Int] = Map(
    "q49_corpus_clean" -> 0,
    "q68_incremental_clean" -> 0,
    "q84_clean_repetition" -> 0,
    "q73_assemble" -> 1,      // tokenBudgetSample's per-partition prefix-sum window
    "q76_assemble_decon" -> 1 // same
  )

  /** [[PlanAudit.inspect]] at the LOGICAL level, for STREAMING frames: physical
    * planning of a streaming query exists only inside a started
    * micro-batch (IncrementalExecution injects the state info physical
    * planning needs), but the optimized LOGICAL plan is fully buildable
    * pre-start — and it carries the same scale-killer signatures.
    * Two logical join checks stand in for the physical cartesian match:
    * a condition-LESS Join between two non-single-row sides, and — the
    * case the physical planner ALSO lowers to CartesianProduct /
    * nested-loop — a join whose condition carries NO equi-key conjunct
    * spanning both sides (a pure range/theta predicate re-evaluates the
    * full static side per stream row every micro-batch). A logical
    * Window with an empty partitionSpec is the single-partition funnel.
    * `cartesians` is structurally 0 here (physical-only node); the two
    * join checks subsume it for the streaming surface.
    * Caller must disable `spark.sql.streaming.unsupportedOperationCheck`
    * around the call (the batch-execution guard fires in optimizedPlan's
    * withCachedData otherwise). */
  private def inspectLogical(df: DataFrame): PlanAudit.PlanStats = {
    import org.apache.spark.sql.catalyst.expressions.{And, EqualNullSafe, EqualTo, Expression}
    import org.apache.spark.sql.catalyst.plans.logical
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conjuncts(a) ++ conjuncts(b)
      case x => Seq(x)
    }
    def spansBothSides(j: logical.Join, l: Expression, r: Expression): Boolean =
      (l.references.subsetOf(j.left.outputSet) &&
        r.references.subsetOf(j.right.outputSet)) ||
        (l.references.subsetOf(j.right.outputSet) &&
          r.references.subsetOf(j.left.outputSet))
    def hasEquiKey(j: logical.Join): Boolean =
      j.condition.map(conjuncts).getOrElse(Nil).exists {
        case EqualTo(l, r) => spansBothSides(j, l, r)
        case EqualNullSafe(l, r) => spansBothSides(j, l, r)
        case _ => false
      }
    def bothSidesBig(j: logical.Join): Boolean =
      j.left.maxRows.getOrElse(Long.MaxValue) > 1L &&
        j.right.maxRows.getOrElse(Long.MaxValue) > 1L
    val plan = df.queryExecution.optimizedPlan
    val bigCross = plan.collect {
      case j: logical.Join if j.condition.isEmpty && bothSidesBig(j) => j
    }.size
    val nonEqui = plan.collect {
      case j: logical.Join
          if j.condition.isDefined && !hasEquiKey(j) && bothSidesBig(j) => j
    }.size
    val globalWindows = plan.collect {
      case w: logical.Window if w.partitionSpec.isEmpty => w
    }.size
    val windows = plan.collect { case w: logical.Window => w }.size
    PlanAudit.PlanStats(0, bigCross, globalWindows, windows, nonEqui)
  }

  test("streaming twins pass the structural plan gate (pre-start plans)") {
    // The batch==streaming parity pins (StreamingSpec) check VALUES; this
    // checks STRUCTURE: the optimized logical plan of every
    // DataFrame-shaped streaming view must be free of the same
    // scale-killers the batch gate rejects (condition-less two-sided
    // join — the logical precursor of every CartesianProduct — and
    // single-partition windows). Logical-level on purpose: streaming
    // PHYSICAL plans exist only inside a started micro-batch
    // (IncrementalExecution injects state info), but the scale-killer
    // signatures are visible before planning — so the audit needs no
    // checkpoint, no sink, no micro-batch execution.
    import spark.implicits._
    import graft.streaming.StreamingViews
    import org.apache.spark.sql.functions._
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // the internal guard that rejects batch-planning a streaming frame —
    // StreamExecution itself disables it per micro-batch; disabling it
    // here lets optimizedPlan materialize pre-start (inspectLogical's
    // documented contract)
    spark.conf.set("spark.sql.streaming.unsupportedOperationCheck", "false")
    try {
      val dir = SparkSpec.tempDir("graft_plan_stream")
        .toString
      def stream(name: String, sample: org.apache.spark.sql.DataFrame)
          : org.apache.spark.sql.DataFrame = {
        sample.write.mode("overwrite").parquet(s"$dir/$name")
        spark.readStream.schema(sample.schema).parquet(s"$dir/$name")
      }
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val events = stream("events",
        Seq((t0, "click", 1.0, 1L)).toDF("ts", "event_type", "value", "k"))
      val docsT = stream("docs_t",
        Seq((1L, "some text body here", "https://ex.com/a", t0))
          .toDF("doc_id", "text", "url", "ts"))
      val docsL = stream("docs_l",
        Seq((1L, "some text body here", 1000L)).toDF("doc_id", "text", "ts"))
      val vecs = stream("vecs",
        Seq((Array(1.0f, 2.0f), 1000L)).toDF("vec", "ts"))
      val intervals = stream("intervals",
        Seq((1L, 0L, 5000L)).toDF("k", "start_ms", "end_ms"))
      val points = stream("points",
        Seq((1L, 100L, "v1")).toDF("k", "ts_ms", "payload"))
      import StreamingViews._
      val activity = stream("activity",
        Seq(ActivityEvent(1L, 1000L)).toDF()).as[ActivityEvent]
      val sessions = stream("sessions",
        Seq(SessionEvent(1L, 1000L, 1.0)).toDF()).as[SessionEvent]
      val steps = stream("steps",
        Seq(FunnelEvent(1L, 0, 1000L)).toDF()).as[FunnelEvent]
      val segments = stream("segments",
        Seq(SegmentEvent("s", 1L, 1000L)).toDF()).as[SegmentEvent]
      val measures = stream("measures",
        Seq(MeasureEvent(1.0, 1000L)).toDF()).as[MeasureEvent]
      val changes = stream("changes",
        Seq(ChangeEvent(1L, 1000L, "a")).toDF()).as[ChangeEvent]
      val cdc = stream("cdc",
        Seq(CdcChangeEvent(1L, 1000L, "u", 1L)).toDF()).as[CdcChangeEvent]
      val history = Seq(Tuple1(1L)).toDF("k")
      val bloom = graft.dedup.Dedup.keyBloom(
        Seq("x").toDF("fp"), col("fp"), expectedItems = 1)
      val corpusIdx = graft.dedup.Dedup.shingleRows(
        Seq((10L, "corpus text body here")).toDF("doc_id", "text"),
        "text", "doc_id", Nil, 3)
      val lm = graft.text.NgramLm.fit(
        Seq((100L, "the fast scan the fast scan")).toDF("doc_id", "text"),
        "text")
      val views: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
        "windowedCounts" ->
          StreamingViews.windowedCounts(events, "ts", "event_type"),
        "streamingDedupe" ->
          StreamingViews.streamingDedupe(events, "ts", Seq("k")),
        "streamingDedupeAgainstHistory" ->
          StreamingViews.streamingDedupeAgainstHistory(
            events, history, "ts", Seq("k")),
        "streamingDedupeBloom" ->
          StreamingViews.streamingDedupeBloom(events, bloom, "ts", Seq("k")),
        "streamingDomainBlocklist" ->
          StreamingViews.streamingDomainBlocklist(docsT, "url",
            Seq("bad.example.com")),
        "streamingIntervalJoin" ->
          StreamingViews.streamingIntervalJoin(intervals, points, Seq("k"),
            "start_ms", "end_ms", "ts_ms", Seq("payload"), "1 hour"),
        "streamingTokenCms" ->
          StreamingViews.streamingTokenCms(docsL, "text", "ts",
            60000L, 0.01, 0.99, 42).toDF(),
        "streamingTokenHeavyHitters" ->
          StreamingViews.streamingTokenHeavyHitters(docsL, "text", "ts",
            60000L, 8).toDF(),
        "streamingKeyAgms" ->
          StreamingViews.streamingKeyAgms(docsL, "doc_id", "ts",
            60000L, 3, 16, 42).toDF(),
        "streamingCentroidSums" ->
          StreamingViews.streamingCentroidSums(vecs, "vec", "ts",
            60000L).toDF(),
        "sessionize" -> sessionize(sessions, 60000L).toDF(),
        "streamingFunnel" -> streamingFunnel(steps, 3, 60000L).toDF(),
        "streamingRollingActive" ->
          streamingRollingActive(activity, 60000L, 7).toDF(),
        "streamingRollingActiveApprox" ->
          streamingRollingActiveApprox(activity, 60000L, 7).toDF(),
        "streamingEwma" -> streamingEwma(activity, 60000L).toDF(),
        "streamingCusum" -> streamingCusum(activity, 60000L, warmup = 2,
          slack = 0L, threshold = 2L).toDF(),
        "streamingSegmentSketches" ->
          streamingSegmentSketches(segments, 60000L).toDF(),
        "streamingBucketQuantileSketches" ->
          streamingBucketQuantileSketches(measures, 60000L).toDF(),
        "streamingScd2" -> streamingScd2(changes).toDF(),
        "streamingDailyChangelog" ->
          streamingDailyChangelog(cdc, 86400000L).toDF(),
        "streamingContaminationHits" ->
          graft.dedup.Dedup.streamingContaminationHits(docsT, corpusIdx,
            "text", "doc_id", "ts", 3, 0.7),
        "streamingFilterByScore" ->
          graft.text.NgramLm.streamingFilterByScore(docsT, lm, "text",
            "doc_id", "ts", tauNum = 1L, tauDen = 2L)
      )
      val violations = scala.collection.mutable.ArrayBuffer.empty[String]
      views.foreach { case (name, df) =>
        val stats =
          try inspectLogical(df)
          catch { case e: Throwable =>
            fail(s"$name failed to plan: ${e.getMessage.take(200)}")
          }
        violations ++= PlanAudit.violations(name, stats)
      }
      assert(violations.isEmpty, s"\n${violations.mkString("\n")}")
      // negative control: a stream-static join on a PURE RANGE predicate
      // (no equi keys) is the cartesian-class defect the logical gate
      // must catch — the physical planner lowers exactly this to a
      // nested-loop over the full static side per micro-batch
      val staticRanges = Seq((0L, 5000L), (5000L, 9000L)).toDF("lo_b", "hi_b")
      val bad = docsL.join(staticRanges,
        col("ts") >= col("lo_b") && col("ts") < col("hi_b"))
      val badStats = inspectLogical(bad)
      assert(PlanAudit.violations("rangeOnlyJoin", badStats)
        .exists(_.contains("no equi-key conjunct")))
      // ...while the equi-keyed interval join above stays clean (its
      // stats are part of the main loop) and a 1-row broadcast side
      // auto-passes via maxRows
      val oneRow = Seq(Tuple1(7L)).toDF("threshold").limit(1)
      val ok = docsL.join(oneRow, col("ts") >= col("threshold"))
      assert(PlanAudit.violations("scalarRangeJoin",
        inspectLogical(ok)).isEmpty)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.streaming.unsupportedOperationCheck", "true")
    }
  }

  test("every declared query passes the structural plan gate") {
    // audit the STATIC plan: under AQE collect() sees only the adaptive
    // placeholder (PlanAudit.inspect's contract)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val violations = scala.collection.mutable.ArrayBuffer.empty[String]
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        val stats =
          try PlanAudit.inspect(fn(spark, sf))
          catch { case e: Throwable =>
            fail(s"$name failed to plan: ${e.getMessage.take(200)}")
          }
        violations ++= PlanAudit.violations(name, stats)
        windowBudget.get(name).foreach { budget =>
          if (stats.windows > budget)
            violations += s"$name: ${stats.windows} WindowExec > pinned budget $budget"
        }
      }
      assert(violations.isEmpty, s"\n${violations.mkString("\n")}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }
}
