package graft

import org.apache.spark.sql.SparkSession

/** The one place the session config lives: every main and the test
  * `SparkSpec` build through here, so the copies cannot drift apart.
  * AQE, partition coalescing and its 1 MB floor are Spark's defaults and
  * deliberately not set (`GraftSessionSpec` pins the effective values).
  * The floor stays at 1 MB: a 64k floor was measured to help
  * single-aggregate kernels but to inflate multi-exchange pipelines
  * (q104 9.7 -> 15.5 s); the library pins parallelism where it matters
  * via the size-guarded spreads (TextOps.spreadByKey). */
object GraftSession {

  private def envCpus: Option[Int] = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)

  /** The SQL settings of every session, local or cluster. */
  private def build(b: SparkSession.Builder, partitions: Int,
                    more: Seq[(String, String)]): SparkSession =
    (Seq("spark.sql.shuffle.partitions" -> partitions.toString,
      // InferFiltersFromGenerate re-inlines generator expressions into a
      // pushed-down filter, re-evaluating interpreted HOF lambdas per row
      // (O(n^2) for shingles) - semantics-neutral to exclude.
      "spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
      // Some testdata generations store events.ts as TIMESTAMP(NANOS),
      // which Spark 4 rejects by default — this reads that variant as a
      // nanos-epoch LongType and is inert on timestamp[us] fixtures;
      // queries dispatch on the arrived type via Tables.tsNanos.
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // day/date rendering (TimeNorm F4/F5/F7) documents UTC — pin it, or
      // a host in another zone shifts every midnight-window event a day
      "spark.sql.session.timeZone" -> "UTC") ++ more)
      .foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }.getOrCreate()

  /** `local[cpus]`, one shuffle partition per core, UI off, log level
    * WARN; `cpus` defaults to `SPARK_GRAFT_CPUS`, else the JVM's. The
    * `overrides` go last (PlanAudit turns AQE off; the tests move the
    * warehouse dir). */
  def local(cpus: Int = envCpus.getOrElse(Runtime.getRuntime.availableProcessors),
            overrides: Seq[(String, String)] = Nil): SparkSession = {
    val spark = build(SparkSession.builder().master(s"local[$cpus]"), cpus,
      ("spark.ui.enabled" -> "false") +: overrides)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** For spark-submit: no master. The partition default stays 32 — the
    * driver's own core count says nothing about the executors. */
  def cluster(appName: String): SparkSession =
    build(SparkSession.builder().appName(appName),
      envCpus.getOrElse(32), Nil)
}
