package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Audience set algebra over theta sketches — the distinct-count
  * capability HLL cannot give: HLL unions only, while theta sketches
  * (Spark 4 ships the DataSketches implementations as built-ins)
  * support INTERSECTION and DIFFERENCE, i.e. "users active in segment A
  * and B", "in A but not B" — the overlap/exclusivity questions every
  * event-analytics surface asks. Extension beyond the reference (its
  * distinct counting is the HLL layer, [[graft.udafs.Sketches]]).
  *
  * Scale shape: one hash aggregate over the events builds a
  * segment-sized sketch table (O(2^lgK) bytes per segment — the
  * persistable daily artifact: [[mergeSegmentSketches]] re-aggregates
  * stored sketches without rescanning raw events, the same discipline
  * as the HLL and KLL layers). Pairwise set algebra then touches ONLY
  * the sketch table: segment counts are inherently low-cardinality, so
  * the pair frame is driver-built (capped and guarded) and the whole
  * overlap matrix costs two broadcast-sized equi-joins — never a
  * second pass over the events. Estimates are EXACT while segments stay
  * under the sketch's nominal capacity (2^lgK entries) and ~2 % RSE
  * beyond it — the oracle gate runs in the exact regime; the
  * approximate regime is spec-banded in ScalaTest. */
object Audience {

  /** Sketch size (log2 of nominal entries) of every sketch built or
    * unioned here; the segment-pair frame's driver-side cap. */
  private val LgK = 12
  private val MaxSegments = 1000

  /** One theta sketch per segment: `(seg, sk)` — the persistable
    * artifact. `seg` is cast to string (the pair frame is driver-built;
    * a typed key adds nothing downstream). Null-segment rows are
    * DROPPED here: a null is not an audience, and letting it through
    * would NPE the driver-side pair build in [[segmentOverlap]]. */
  def segmentSketches(events: DataFrame, keyCol: String, segCol: String): DataFrame =
    events.where(col(segCol).isNotNull)
      .groupBy(col(segCol).cast("string").as("seg"))
      .agg(theta_sketch_agg(col(keyCol), lit(LgK)).as("sk"))

  /** Merge per-day sketch tables into corpus totals — sketch-sized
    * input, no raw-event rescan. */
  def mergeSegmentSketches(sketchTables: Seq[DataFrame], lgK: Int = 12): DataFrame = {
    require(sketchTables.nonEmpty, "need at least one sketch table")
    sketchTables.reduce(_.unionByName(_))
      .groupBy(col("seg"))
      .agg(theta_union_agg(col("sk"), lit(lgK)).as("sk"))
  }

  /** The pairwise overlap matrix over a prebuilt sketch table:
    * `(seg_a, seg_b, n_a, n_b, n_both, n_union, n_only_a)` for every
    * unordered segment pair (seg_a < seg_b lexicographically). The
    * segment list is collected to the driver (guarded by `MaxSegments`
    * — segments are dashboard-cardinality by construction; the guard
    * turns a mis-keyed call into a loud error instead of a driver OOM)
    * and the pair frame joins the sketch table twice on equality. */
  def segmentOverlap(sketches: DataFrame): DataFrame = {
    val spark = sketches.sparkSession
    import spark.implicits._
    val sk = sketches.localCheckpoint(eager = true) // both join sides reuse it
    val segs = sk.select(col("seg")).as[String].collect()
    require(!segs.contains(null),
      "sketch table contains a null segment key — filter nulls upstream " +
        "(segmentSketches drops them) or fix the segment column")
    val sorted = segs.sorted
    val pairsSeq = sorted.flatMap(a => sorted.collect { case b if a < b => (a, b) })
    require(segs.length <= MaxSegments,
      s"${segs.length} segments exceed maxSegments=$MaxSegments — " +
        "is the segment column actually a key column?")
    val pairs = pairsSeq.toSeq.toDF("seg_a", "seg_b")
    pairs
      .join(sk.select(col("seg").as("seg_a"), col("sk").as("sk_a")), Seq("seg_a"))
      .join(sk.select(col("seg").as("seg_b"), col("sk").as("sk_b")), Seq("seg_b"))
      .select(col("seg_a"), col("seg_b"),
        theta_sketch_estimate(col("sk_a")).cast("long").as("n_a"),
        theta_sketch_estimate(col("sk_b")).cast("long").as("n_b"),
        theta_sketch_estimate(theta_intersection(col("sk_a"), col("sk_b")))
          .cast("long").as("n_both"),
        theta_sketch_estimate(theta_union(col("sk_a"), col("sk_b"), lit(LgK)))
          .cast("long").as("n_union"),
        theta_sketch_estimate(theta_difference(col("sk_a"), col("sk_b")))
          .cast("long").as("n_only_a"))
  }

  /** Events → overlap matrix in one call (the one-shot form). */
  def segmentOverlapFromEvents(events: DataFrame, keyCol: String,
                               segCol: String): DataFrame =
    segmentOverlap(segmentSketches(events, keyCol, segCol))

  /** Day-over-day churn from a per-BUCKET theta sketch table
    * (`(bucket, sk)` — [[segmentSketches]] keyed on the day works):
    * for every consecutive present pair, `n_prev`, `n_next`,
    * `n_kept` (∩ — retention), `n_gone` (prev ∖ next), `n_new`
    * (next ∖ prev). THE corpus-ops / DAU question — "how much of
    * yesterday survived, how much is fresh" — answered from kilobyte
    * artifacts with no raw rescans and no key-level join: set algebra
    * touches sketch bytes only, so 10⁹-user days cost the same as
    * 10³-user days. A missing day breaks the chain rather than
    * pretending adjacency (the centroid-drift convention); exact
    * while days stay under 2^lgK distinct keys, ~2 % RSE beyond. Both
    * join sides are fully renamed (the streaming-view self-join
    * lesson). */
  def bucketChurn(sketches: DataFrame, bucketCol: String): DataFrame = {
    val left = sketches.select(col(bucketCol).cast("long").as("__xb"),
      col("sk").as("__xs"))
    val right = sketches.select(col(bucketCol).cast("long").as("__yb"),
      col("sk").as("__ys"))
    left.join(right, col("__yb") === col("__xb") + 1L)
      .select(col("__xb").as("bucket"), col("__yb").as("bucket_next"),
        theta_sketch_estimate(col("__xs")).cast("long").as("n_prev"),
        theta_sketch_estimate(col("__ys")).cast("long").as("n_next"),
        theta_sketch_estimate(theta_intersection(col("__xs"), col("__ys")))
          .cast("long").as("n_kept"),
        theta_sketch_estimate(theta_difference(col("__xs"), col("__ys")))
          .cast("long").as("n_gone"),
        theta_sketch_estimate(theta_difference(col("__ys"), col("__xs")))
          .cast("long").as("n_new"))
  }
}
