package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Change-data-capture primitives — the snapshot⇄changelog algebra every
  * incremental 100 TB pipeline runs on (the Delta/Hudi MERGE shape,
  * re-expressed as plain DataFrame transforms over immutable parquet).
  * Extension beyond the reference (its ingestion is append/overwrite
  * only; see `BatchView` for the day-partition discipline these ops
  * compose with).
  *
  * The two operators are mutual inverses and are spec-pinned that way:
  * `cdcApply(base, snapshotDiff(base, next)) == next`. A pipeline that
  * ships diffs instead of full snapshots moves only the changed rows —
  * at a 1 % daily churn that is a 100× write saving — and a consumer
  * replays them with one join-shaped pass, never a row-at-a-time loop.
  *
  * Scale shape: both operators are single-shuffle on the natural key.
  * `snapshotDiff` is ONE full-outer hash join of the two snapshots;
  * `cdcApply` is one changelog-sized aggregate (latest op per key,
  * `max_by` — partial-aggregable, map-side combined) plus one
  * base-sized left-anti join and a union. Key-bucketed snapshots
  * (`BatchView.writeBucketed`) make every exchange here vanish.
  */
object Cdc {

  /** Diff two snapshots of the same table into a changelog:
    * `(keys…, payload…, op)` with `op ∈ {I, U, D}` — rows of `next`
    * absent from `base` (I), rows present in both whose payload differs
    * (U, carrying `next`'s values), and rows of `base` absent from
    * `next` (D, carrying `base`'s last-known values so the changelog is
    * self-describing). Unchanged rows emit nothing. Payload comparison
    * is null-safe (`<=>`): a null→value or value→null transition is an
    * update, null→null is unchanged.
    *
    * Schemas must agree (same columns, any order). Null-key rows are
    * EXCLUDED from the diff on both sides (a null key identifies no
    * row; it would false-match nothing in the full-outer join and emit
    * a phantom I+D pair) — gate with `Checks.nullViolations` upstream
    * when null keys should fail the pipeline instead. */
  def snapshotDiff(base: DataFrame, next: DataFrame,
                   keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "snapshotDiff needs at least one key column")
    val cols = base.columns.toSeq
    require(next.columns.sorted.sameElements(base.columns.sorted),
      s"snapshot schemas differ: base ${base.columns.mkString(",")} vs " +
        s"next ${next.columns.mkString(",")}")
    val payload = cols.filterNot(keys.contains)
    val keyNotNull = keys.map(k => col(k).isNotNull).reduce(_ && _)
    val b = base.select(cols.map(col): _*).where(keyNotNull)
      .withColumn("__b", lit(true))
    val n = next.select(keys.map(col) ++
        payload.map(c => col(c).as(s"__n_$c")): _*)
      .where(keyNotNull).withColumn("__n", lit(true))
    val joined = b.join(n, keys, "full_outer")
    val changed =
      if (payload.isEmpty) lit(false)
      else payload.map(c => !(col(c) <=> col(s"__n_$c"))).reduce(_ || _)
    val op = when(col("__n").isNull, lit("D"))
      .when(col("__b").isNull, lit("I"))
      .when(changed, lit("U"))
    joined
      .withColumn("op", op)
      .where(col("op").isNotNull)
      .select(keys.map(col) ++ payload.map(c =>
        when(col("op") === "D", col(c))
          .otherwise(col(s"__n_$c")).as(c)) :+ col("op"): _*)
  }

  /** Apply a changelog (`keys`, `seqCol`, an `op` column and `base`'s
    * payload) to a snapshot: keys touched by the changelog
    * take their LATEST change (max `seqCol` per key; I and U are both
    * upserts — tolerant of an I on an existing key or a U on an absent
    * one, the Delta/Hudi MERGE convention — and D removes the row);
    * untouched base rows pass through. Returns the next snapshot with
    * `base`'s columns.
    *
    * Ties on `(key, seqCol)` resolve deterministically by the greatest
    * `(op, payload…)` tuple — order-free, so the result is replayable;
    * give changes a unique sequence per key (ingest offset, commit LSN)
    * if tie semantics matter. */
  def cdcApply(base: DataFrame, changes: DataFrame, keys: Seq[String],
               seqCol: String): DataFrame = {
    require(keys.nonEmpty, "cdcApply needs at least one key column")
    val cols = base.columns.toSeq
    val payload = cols.filterNot(keys.contains)
    val missing = (keys :+ seqCol :+ "op").filterNot(changes.columns.contains)
    require(missing.isEmpty,
      s"changelog is missing columns: ${missing.mkString(",")}")
    val latest = changes
      .groupBy(keys.map(col): _*)
      .agg(max_by(
        struct(col("op") +: payload.map(col): _*),
        struct(col(seqCol) +: col("op") +: payload.map(col): _*)).as("__c"))
    val untouched = base.join(latest.select(keys.map(col): _*),
      keys, "left_anti")
    val applied = latest
      .where(col("__c.op") =!= "D")
      .select(keys.map(col) ++ payload.map(c => col(s"__c.$c").as(c)): _*)
    untouched.select(cols.map(col): _*)
      .unionByName(applied.select(cols.map(col): _*))
  }
}
