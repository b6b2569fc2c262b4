package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Approximate STRING matching — the entity-resolution / fuzzy-dedup
  * capability that complements the token-level near-dup family
  * (MinHash/SimHash work on token sets; edit distance catches
  * character-level noise: typos, OCR errors, transliteration drift —
  * the record-linkage shape every ingest pipeline hits on names, titles
  * and identifiers). Extension beyond the reference (its string utils
  * stop at normalization, e.g. utils/package.scala's camelize/snakify).
  *
  * Scale shape — the classic blocking discipline: an unblocked fuzzy
  * join is O(|A|·|B|) string comparisons, dead at any scale. Candidates
  * here must share a cheap EQUI-JOIN key (a character suffix — chosen
  * over a prefix because shared prefixes are how structured identifiers
  * and titles pile up in one block) plus a length band, so the pairs
  * that reach the edit-distance kernel are block-bounded and the join
  * itself is a plain hash join on the block key. The kernel is Spark's
  * built-in `levenshtein` WITH the threshold argument — the banded
  * O(len·maxDist) early-exit form, not the full O(len²) matrix.
  *
  * Blocking trades recall, stated plainly: a pair whose edits touch the
  * suffix lands in different blocks and is never compared (the standard
  * multi-pass answer — union a second pass on a prefix or sorted-
  * neighborhood key — composes by unioning two calls' outputs).
  */
object Fuzzy {

  /** Suffix-blocked edit-distance join: `(id_a, id_b, dist)` for every
    * cross-set pair sharing the last-`suffixLen`-chars block whose
    * lengths differ by ≤ `lenTol` and whose Levenshtein distance is
    * ≤ `maxDist`. `dist` is the exact distance (the threshold only
    * bounds the kernel's work). */
  def blockedEditJoin(a: DataFrame, aText: String, aId: String,
                      b: DataFrame, bText: String, bId: String,
                      suffixLen: Int, lenTol: Int, maxDist: Int): DataFrame = {
    require(suffixLen >= 1, s"suffixLen must be positive: $suffixLen")
    require(lenTol >= 0 && maxDist >= 0, "tolerances must be non-negative")
    // Spread the PROBE side before the kernel join (r17,
    // TextOps.spreadByKey): the banded Levenshtein runs per candidate
    // pair inside the join stage, whose parallelism is the probe side's
    // partitioning — a single-split input serializes the whole O(pairs ·
    // len·maxDist) kernel on 1-2 tasks while the cluster idles (measured
    // 6.7 s on 2 of 32 cores at sf0.1). Size-guarded: a corpus-scale
    // side is already wide and pays nothing.
    val left = TextOps.spreadByKey(
      a.select(col(aId).as("id_a"), col(aText).as("s_a"),
        substring(col(aText), -suffixLen, suffixLen).as("__blk")),
      col("id_a"))
    val right = b.select(col(bId).as("id_b"), col(bText).as("s_b"),
      substring(col(bText), -suffixLen, suffixLen).as("__blk"))
    // length band BEFORE the kernel: a length gap > maxDist can never
    // pass, and the cheap filter keeps the banded kernel off those pairs
    val d = levenshtein(col("s_a"), col("s_b"), maxDist)
    left.join(right, Seq("__blk"))
      .where(abs(length(col("s_a")) - length(col("s_b"))) <= lit(lenTol))
      .select(col("id_a"), col("id_b"), d.as("dist"))
      .where(col("dist") >= 0) // threshold form returns -1 above maxDist
  }

  /** Self-join form for fuzzy DEDUP candidate pairs: `(id_a, id_b,
    * dist)` with `id_a < id_b` (each unordered pair once, no self
    * pairs). Feed the pairs into [[graft.dedup.Dedup]]'s connected
    * components for cluster assignment — same composition as the
    * MinHash/SimHash families. */
  def editDistancePairs(df: DataFrame, textCol: String, idCol: String,
                        suffixLen: Int, lenTol: Int, maxDist: Int): DataFrame =
    blockedEditJoin(df, textCol, idCol, df, textCol, idCol,
      suffixLen, lenTol, maxDist)
      .where(col("id_a") < col("id_b"))

  /** Sorted-neighborhood blocking (Hernández & Stolfo 1995) — the
    * second standard blocking pass, recovering exactly the pairs a
    * character-block pass can miss (edits touching the block key):
    * rows are totally ordered by `(text, id)` and every row is paired
    * with its next `window` neighbors in that order, then the banded
    * kernel filters to `dist ≤ maxDist`. Union with
    * [[editDistancePairs]] for the classic multi-pass candidate set.
    *
    * Shape: NO global window function AND no RDD seam — the total order
    * comes from a range repartition + within-partition sort, and the
    * global position is Catalyst-native two-pass arithmetic: one small
    * per-partition COUNT pass (collected — bounded by `numPartitions`,
    * the Audience-guard discipline) builds the partition offset table,
    * and `monotonically_increasing_id` (partition id in the upper 31
    * bits, partition-local row number in the lower 33) supplies the
    * local index, so `pos = offset(pid) + local`. Both passes MUST see
    * identical partitioning, so the range-partitioned frame is
    * `persist`ed and materialized by the counts action before anything
    * else reads it: the range partitioner's boundaries come from
    * SAMPLING, and without the pin a recomputation (speculative retry,
    * lost executor, the position pass running as a separate job) could
    * re-sample different boundaries — the collected offsets would then
    * describe partitions the main query no longer has and every global
    * position after the drift point silently shifts. With the pin the
    * counts action, the position assignment, and BOTH sides of the
    * self-join read the same cached blocks (`MEMORY_AND_DISK`, so
    * memory pressure spills instead of dropping the pin). The cache is
    * deliberately NOT unpersisted here: the returned plan is lazy, and
    * every downstream action must still see the pinned partitioning —
    * it lives until the session drops it (LRU) or the caller clears it
    * after consuming the result. The neighbor pairing is a `sequence`
    * explode (×window)
    * equi-joined on position — the rolling-actives fan-out pattern, so
    * hot regions split across tasks and candidate volume is exactly
    * n·window. */
  def sortedNeighborPairs(df: DataFrame, textCol: String, idCol: String,
                          window: Int, maxDist: Int,
                          numPartitions: Int = 32): DataFrame = {
    require(window >= 1, s"window must be positive: $window")
    val spark = df.sparkSession
    import spark.implicits._
    val sorted = df
      .select(col(textCol).cast("string").as("s"), col(idCol).cast("long").as("id"))
      .repartitionByRange(numPartitions, col("s"), col("id"))
      .sortWithinPartitions(col("s"), col("id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the counts action materializes the cache — the single evaluation
    // of the sampled range partitioning that every later pass reuses
    val counts = sorted.groupBy(spark_partition_id().as("__pid"))
      .agg(count(lit(1)).as("__cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets = counts.map(_._1)
      .zip(counts.scanLeft(0L)(_ + _._2)).toSeq
    val offDf = offsets.toDF("__pid", "__off")
    val withPos = sorted
      .withColumn("__mid", monotonically_increasing_id())
      .withColumn("__pid", shiftright(col("__mid"), 33).cast("int"))
      .join(broadcast(offDf), Seq("__pid"))
      .select(col("s"), col("id"),
        (col("__off") + col("__mid").bitwiseAND(lit((1L << 33) - 1L)))
          .as("pos"))
    val d = levenshtein(col("s_a"), col("s_b"), maxDist)
    withPos
      .select(col("id").as("id_a"), col("s").as("s_a"),
        explode(sequence(col("pos") + 1L, col("pos") + window.toLong))
          .as("__tgt"))
      .join(withPos.select(col("id").as("id_b"), col("s").as("s_b"),
        col("pos").as("__tgt")), Seq("__tgt"))
      .select(col("id_a"), col("id_b"), d.as("dist"))
      .where(col("dist") >= 0)
  }

  /** The classic MULTI-PASS candidate set (Hernández & Stolfo's
    * composition): suffix-block pass ∪ sorted-neighborhood pass, each
    * recovering exactly the pairs the other's blocking key misses.
    * Sorted-neighborhood pairs are normalized to `id_a < id_b` (their
    * order is positional) and the union dedups on the pair key — the
    * distance is the exact Levenshtein in both passes, so a pair seen
    * twice agrees and `min` is just the dedup. Feed into
    * [[graft.dedup.Dedup.dedupeByPairs]] for cluster assignment. */
  def multiPassPairs(df: DataFrame, textCol: String, idCol: String,
                     suffixLen: Int, lenTol: Int, maxDist: Int,
                     window: Int): DataFrame = {
    val bySuffix = editDistancePairs(df, textCol, idCol,
      suffixLen, lenTol, maxDist)
    val byNeighbor = sortedNeighborPairs(df, textCol, idCol,
      window, maxDist, 32)
      .where(col("id_a") =!= col("id_b")) // duplicate ids pair positionally
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("dist"))
    bySuffix.unionByName(byNeighbor)
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("dist")).as("dist"))
  }
}
