package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Plan hygiene audit — and GATE. For each query: scan pushdown
  * (PushedFilters / ReadSchema), join strategies, exchange count, codegen
  * coverage — the checklist from the build plan ("explain until it's the
  * plan you'd want") — plus structural violations that are defects at
  * scale, enforced both here (nonzero exit) and in `sbt test`
  * (PlanAuditSpec walks the same checks), so a scale-killer turns red
  * BEFORE the driver runs:
  *
  *   - a CartesianProduct, or a condition-less logical join where
  *     NEITHER side is provably ≤ 1 row (1-row broadcast merges — the
  *     threshold/centroid crossJoin pattern — are fine and auto-pass via
  *     `maxRows`);
  *   - a single-partition window (`WindowExec` with empty partitionSpec)
  *     outside the named allowlist: the whole input funnels through ONE
  *     task. The allowlist is EMPTY — every former exception now rides
  *     a distributed exclusive prefix sum (packing:
  *     [[graft.text.Packing.withExclusivePrefixSumBy]]; budget
  *     sampling: the 256-bucket md5-prefix form inside
  *     [[graft.ops.Sampling.tokenBudgetSample]]); keep it empty.
  *
  * Run: `sbt "runMain graft.PlanAudit [sfDir]"` — exits 1 on violations.
  */
object PlanAudit {

  /** Queries allowed a global (single-partition) window, with why.
    * Empty since round 14 (tokenBudgetSample's exact pass moved onto the
    * distributed prefix sum) — additions need a written scale argument. */
  val globalWindowAllowlist: Set[String] = Set.empty

  /** Queries allowed a no-equi-key join between two non-single-row
    * sides, with why — the escape hatch the global-window gate already
    * has, so a future DELIBERATE bounded range-only join (e.g. a small
    * broadcast side that isn't provably 1 row via `maxRows`) can ship
    * without weakening the gate itself. Empty — additions need a
    * written scale argument, same contract as the window allowlist. */
  val nonEquiJoinAllowlist: Set[String] = Set.empty

  final case class PlanStats(cartesians: Int, bigCrossJoins: Int,
                             globalWindows: Int, windows: Int,
                             nonEquiJoins: Int = 0)

  /** Structural stats for the gate. Call with AQE DISABLED in the
    * session — under AQE the executed plan is an adaptive placeholder
    * whose physical operators are not yet visible to `collect`. */
  def inspect(df: DataFrame): PlanStats = {
    val physical = df.queryExecution.executedPlan
    val cartesians = physical.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.size
    val globalWindows = physical.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }.size
    val windows = physical.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.size
    // logical view: a join with no condition is a cross product; benign
    // iff one side is provably single-row (Aggregate with no grouping,
    // limit(1), …) — `maxRows` carries that proof through Project/Filter
    val bigCross = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.condition.isEmpty &&
            j.left.maxRows.getOrElse(Long.MaxValue) > 1L &&
            j.right.maxRows.getOrElse(Long.MaxValue) > 1L => j
    }.size
    PlanStats(cartesians, bigCross, globalWindows, windows)
  }

  /** The gate: violations for one query's plan (empty = clean). */
  def violations(name: String, stats: PlanStats): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    if (stats.cartesians > 0)
      out += s"$name: ${stats.cartesians} CartesianProduct in physical plan"
    if (stats.bigCrossJoins > 0)
      out += s"$name: ${stats.bigCrossJoins} condition-less join(s) where neither side is provably 1 row"
    if (stats.globalWindows > 0 && !globalWindowAllowlist.contains(name))
      out += s"$name: ${stats.globalWindows} single-partition window(s) outside the allowlist"
    if (stats.nonEquiJoins > 0 && !nonEquiJoinAllowlist.contains(name))
      out += s"$name: ${stats.nonEquiJoins} join(s) with no equi-key conjunct where neither side is provably 1 row"
    out.toSeq
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // audit the STATIC plan: under AQE the formatted explain prints the
    // un-executed adaptive placeholder, which carries no codegen ids and
    // hides the join strategy picked at runtime
    val spark = GraftSession.local(
      overrides = Seq("spark.sql.adaptive.enabled" -> "false"))
    spark.sparkContext.setLogLevel("ERROR")
    val allViolations = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        val pushed = "PushedFilters: \\[[^\\]]*\\]".r.findAllIn(plan).toSeq.distinct
        val schemas = "ReadSchema: struct<[^>]*".r.findAllIn(plan)
          .map(_.take(90)).toSeq.distinct
        val joins = "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)".r
          .findAllIn(plan).toSeq.groupBy(identity).map { case (k, v) => s"$k×${v.size}" }
        val exchanges = "\\bExchange\\b".r.findAllIn(plan).size
        // formatted mode tags operators with "[codegen id : N]" — distinct
        // ids = whole-stage spans ("WholeStageCodegen" only appears in the
        // simple mode tree and always counted 0 here)
        val codegen = "codegen id : (\\d+)".r.findAllMatchIn(plan)
          .map(_.group(1)).toSet.size
        val stats = inspect(df)
        val v = violations(name, stats)
        allViolations ++= v
        println(s"== $name${if (v.nonEmpty) " [VIOLATION]" else ""}")
        println(s"   joins=${joins.mkString(",")} exchanges=$exchanges " +
          s"codegenSpans=$codegen globalWindows=${stats.globalWindows} " +
          s"windows=${stats.windows}")
        v.foreach(x => println(s"   VIOLATION: $x"))
        pushed.foreach(p => println(s"   $p"))
        schemas.foreach(s => println(s"   $s"))
      } catch { case e: Throwable =>
        allViolations += s"$name: FAILED ${e.getMessage.take(120)}"
        println(s"== $name FAILED: ${e.getMessage.take(120)}")
      }
    }
    spark.stop()
    if (allViolations.nonEmpty) {
      println(s"PLAN GATE: ${allViolations.size} violation(s)")
      allViolations.foreach(v => println(s"  $v"))
      sys.exit(1)
    }
  }
}
