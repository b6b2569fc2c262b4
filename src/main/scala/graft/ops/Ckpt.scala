package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** The two checkpoint primitives the iterative operators share. Plain
  * `.localCheckpoint(eager = …)` stays a direct call at each site; this
  * object only holds what a bare checkpoint can't say.
  *
  * Release contract: call [[release]] only after EVERY consumer of the
  * frame has materialized (its own eager checkpoint ran, or its
  * downstream eager checkpoint did). A local checkpoint has no lineage
  * to fall back on, so a later read of a released frame fails with a
  * `SparkException` (missing checkpoint block) instead of recomputing. */
private[graft] object Ckpt {

  /** Eager local checkpoint that ALSO evaluates named row-count metrics
    * inside the materialization job (`Dataset.observe`): the null-id /
    * emptiness / size scalars every graph operator needs stop costing a
    * second full pass over the just-checkpointed data — at corpus scale
    * that second pass re-reads the entire edge list. Each flag column
    * counts the rows where it is true. Returns the checkpointed frame
    * plus the counts by name. */
  def counts(df: DataFrame, flags: (String, Column)*): (DataFrame, Map[String, Long]) = {
    val obs = Observation()
    val metrics = flags.map { case (n, c) =>
      sum(when(c, 1L).otherwise(0L)).as(n) }
    val out = df.observe(obs, metrics.head, metrics.tail: _*)
      .localCheckpoint(eager = true)
    val got = obs.get
    (out, flags.map { case (n, _) =>
      n -> (got.get(n) match {
        case Some(x: java.lang.Number) => x.longValue()
        case _ => 0L // sum over zero rows observes as null
      })
    }.toMap)
  }

  /** Release a checkpointed frame's executor blocks (see the release
    * contract above). A checkpointed Dataset's plan is a LogicalRDD over
    * the persisted RDD; Dataset.unpersist only covers CacheManager
    * entries, so the release must go through that RDD directly. The
    * fallthrough must be OBSERVABLE: if a Spark upgrade stops wrapping
    * checkpoint output in LogicalRDD, every caller's blocks would
    * silently leak and pin executor storage for the job's life. */
  def release(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case other =>
        org.slf4j.LoggerFactory.getLogger(Ckpt.getClass).warn(
          s"Ckpt.release: checkpointed plan is ${other.getClass.getSimpleName}, " +
            "not LogicalRDD — blocks cannot be released (storage leak)")
    }
}
