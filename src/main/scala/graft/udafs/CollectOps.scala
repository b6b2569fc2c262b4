package graft.udafs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Null-retaining sorted multi-column collect + struct-array dedupe,
  * re-expressed with pure built-ins (stays inside whole-stage codegen;
  * no UDAF buffer serialization in the hot path).
  */
object CollectOps {

  /** A9 — null-retaining top-k collect across parallel columns.
    *
    * The reference's CollectList UDAF exists because built-in `collect_list`
    * drops nulls (reference: src/main/scala/com/mozilla/telemetry/utils/udfs/CollectList.scala:17-20);
    * it then sorts all collected arrays by the order-columns (descending,
    * nulls-last) and trims to `maxLength` (CollectList.scala:56-125).
    *
    * Spark-first equivalent: pack sort keys + payload into a struct —
    * `collect_list` keeps nulls *inside* structs — then `sort_array(desc)`
    * (struct ordering in desc places nulls last, matching the reference),
    * `slice` to k, and unzip payload fields with `transform`.
    *
    * Ties on `sortCols` fall through to payload-field comparison (the
    * reference instead keeps encounter order, which is nondeterministic
    * after a shuffle anyway); pass a unique tiebreaker as the last sortCol
    * for fully deterministic output.
    *
    * @return one array Column per payload name, aliased to it
    */
  def sortedCollect(sortCols: Seq[Column], payload: Seq[(String, Column)],
                    maxLength: Int): Seq[Column] = {
    val fields = sortCols.zipWithIndex.map { case (c, i) => c.as(s"s$i") } ++
      payload.zipWithIndex.map { case ((_, c), i) => c.as(s"p$i") }
    val packed = slice(
      sort_array(collect_list(struct(fields: _*)), asc = false),
      1, maxLength)
    payload.zipWithIndex.map { case ((name, _), i) =>
      transform(packed, s => s.getField(s"p$i")).as(name)
    }
  }

  /** A7 — AggRowFirst: dedupe an array-of-structs column by an id field,
    * keeping the first struct per id in array order.
    * Reference: src/main/scala/com/mozilla/telemetry/utils/udfs/AggRowFirst.scala:11-49.
    *
    * This per-row HOF form is O(n²) per array and runs interpreted
    * (CodegenFallback) — fine for short arrays inside a row, WRONG for
    * unbounded per-group arrays. For those use [[rowFirstByPos]], which
    * stays relational: one hash aggregate, map-side partial agg, no array
    * ever crosses a shuffle.
    */
  def arrayDedupeById(arr: Column, idField: String): Column = {
    // null-safe first-occurrence keep: array_position can't locate null
    // ids (it returns null), which silently dropped EVERY null-keyed
    // struct — the reference keeps the first one like any other key
    val ids = transform(arr, x => x.getField(idField))
    filter(arr, (s, i) =>
      !exists(slice(ids, lit(1), i), v => v <=> s.getField(idField)))
  }

  /** A7 at scale: the grouped "first struct per id in array order" as a
    * relational plan — `posexplode` turns array order into a `pos`
    * attribute, then `min_by(e, pos)` per (keys, id) picks the earliest
    * occurrence. One shuffle keyed on (keys, id) carrying single structs
    * (never whole arrays), partial-aggregated map-side; survives arbitrary
    * array sizes where the HOF form is quadratic. Output: `keys` + `first`
    * (the kept struct). NOTE: rows whose array is null or empty produce NO
    * output row (there is no first struct to keep) — callers needing every
    * key group back should left-join this result to the key set. */
  def rowFirstByPos(df: DataFrame, keys: Seq[String], arrCol: String,
                    idField: String): DataFrame = {
    val exploded = df.select(keys.map(col) :+ posexplode(col(arrCol)).as(Seq("pos", "e")): _*)
    exploded
      .groupBy(keys.map(col) :+ col("e").getField(idField).as("__dedupe_id"): _*)
      .agg(min_by(col("e"), col("pos")).as("first"))
      .drop("__dedupe_id")
  }
}
