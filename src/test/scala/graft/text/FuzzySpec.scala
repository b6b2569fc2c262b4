package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.util.Random

/** Blocked edit-distance matching ([[Fuzzy]]): the banded kernel + the
  * blocking discipline against a driver-side model. */
class FuzzySpec extends SparkSpec {
  import spark.implicits._

  /** Classic DP Levenshtein — the model the banded kernel must match. */
  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
      if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("blockedEditJoin equals the driver model on random strings") {
    val rnd = new Random(404)
    val alpha = "abcde"
    def word() = Seq.fill(4 + rnd.nextInt(5))(alpha(rnd.nextInt(5))).mkString
    val as = (0L until 60L).map(i => i -> word())
    val bs = (1000L until 1060L).map(i => i -> word())
    val got = Fuzzy.blockedEditJoin(
        as.toDF("id", "s"), "s", "id", bs.toDF("id", "s"), "s", "id",
        suffixLen = 2, lenTol = 2, maxDist = 2)
      .as[(Long, Long, Int)].collect().toSet
    val want = (for {
      (ia, sa) <- as
      (ib, sb) <- bs
      if sa.takeRight(2) == sb.takeRight(2)
      if math.abs(sa.length - sb.length) <= 2
      d = lev(sa, sb)
      if d <= 2
    } yield (ia, ib, d)).toSet
    assert(got === want)
    assert(want.nonEmpty, "fixture must exercise the match path")
  }

  test("blocking is the only recall loss: in-block pairs are never missed") {
    // same suffix, distance exactly at the threshold boundary
    val a = Seq(1L -> "kitten_zz").toDF("id", "s")
    val b = Seq(10L -> "sitten_zz", 11L -> "sittin_zz", 12L -> "kitten_qq")
      .toDF("id", "s")
    val got = Fuzzy.blockedEditJoin(a, "s", "id", b, "s", "id",
        suffixLen = 2, lenTol = 1, maxDist = 2)
      .as[(Long, Long, Int)].collect().toSet
    // 10: one substitution; 11: two; 12: same string but different
    // block suffix — the documented recall trade, never compared
    assert(got === Set((1L, 10L, 1), (1L, 11L, 2)))
  }

  test("sortedNeighborPairs equals the global sliding-window model") {
    val rnd = new Random(808)
    val alpha = "abcd"
    def word() = Seq.fill(5 + rnd.nextInt(3))(alpha(rnd.nextInt(4))).mkString
    val rows = (0L until 80L).map(i => i -> word())
    val got = Fuzzy.sortedNeighborPairs(rows.toDF("id", "s"), "s", "id",
        window = 3, maxDist = 2, numPartitions = 7)
      .as[(Long, Long, Int)].collect().toSet
    val ordered = rows.map { case (i, s) => (s, i) }.sorted
    val want = (for {
      a <- ordered.indices
      b <- (a + 1) to math.min(a + 3, ordered.size - 1)
      d = lev(ordered(a)._1, ordered(b)._1)
      if d <= 2
    } yield (ordered(a)._2, ordered(b)._2, d)).toSet
    assert(got === want)
    assert(want.nonEmpty)
  }

  test("multi-pass union: sorted neighborhood recovers suffix-edit pairs") {
    // the edit touches the SUFFIX, so suffix blocking can never compare
    // the pair — but the strings sort adjacently
    val df = Seq(1L -> "kitten_aa", 2L -> "kitten_ab").toDF("id", "s")
    val bySuffix = Fuzzy.editDistancePairs(df, "s", "id",
      suffixLen = 2, lenTol = 0, maxDist = 2)
    assert(bySuffix.count() === 0L, "suffix pass must miss the suffix edit")
    val byNeighbor = Fuzzy.sortedNeighborPairs(df, "s", "id",
      window = 1, maxDist = 2)
    assert(byNeighbor.as[(Long, Long, Int)].collect().toSet ===
      Set((1L, 2L, 1)))
    // the classic composition: union of the two passes
    val union = bySuffix.unionByName(byNeighbor).distinct()
    assert(union.count() === 1L)
  }

  test("multiPassPairs equals the union of both pass models, deduped") {
    val rnd = new Random(909)
    val alpha = "abc"
    def word() = Seq.fill(5 + rnd.nextInt(2))(alpha(rnd.nextInt(3))).mkString
    val rows = (0L until 70L).map(i => i -> word())
    val got = Fuzzy.multiPassPairs(rows.toDF("id", "s"), "s", "id",
        suffixLen = 2, lenTol = 1, maxDist = 2, window = 3)
      .as[(Long, Long, Int)].collect().toSet
    val p1 = (for {
      (ia, sa) <- rows; (ib, sb) <- rows
      if ia < ib && sa.takeRight(2) == sb.takeRight(2)
      if math.abs(sa.length - sb.length) <= 1
      d = lev(sa, sb) if d <= 2
    } yield (ia, ib, d)).toSet
    val ordered = rows.map { case (i, s) => (s, i) }.sorted
    val p2 = (for {
      a <- ordered.indices
      b <- (a + 1) to math.min(a + 3, ordered.size - 1)
      d = lev(ordered(a)._1, ordered(b)._1) if d <= 2
    } yield (math.min(ordered(a)._2, ordered(b)._2),
      math.max(ordered(a)._2, ordered(b)._2), d)).toSet
    assert(got === (p1 ++ p2))
    // both passes must contribute pairs the other misses for the
    // fixture to actually exercise the composition
    assert((p1 -- p2).nonEmpty && (p2 -- p1).nonEmpty)
  }

  test("sortedNeighborPairs stays Catalyst-native: no RDD scan boundary") {
    val rows = (0L until 20L).map(i => i -> s"w${i % 7}x")
    val plan = Fuzzy.sortedNeighborPairs(rows.toDF("id", "s"), "s", "id",
        window = 2, maxDist = 2, numPartitions = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ExistingRDD"),
      s"RDD seam reintroduced:\n$plan")
  }

  test("sortedNeighborPairs pins its frame: every pass reads ONE cached " +
      "evaluation of the sampled range partitioning") {
    // The range partitioner's boundaries come from sampling; the collected
    // per-partition counts are only valid for the evaluation they were
    // collected from. The guard: the pairing plan must read the frame
    // through the cache (InMemoryTableScan) on BOTH join sides — never
    // recompute the repartitionByRange, whose re-sampled boundaries could
    // silently shift every global position (missed/duplicated pairs).
    val rows = (0L until 40L).map(i => i -> s"v${i % 11}y")
    val result = Fuzzy.sortedNeighborPairs(rows.toDF("id", "s"), "s", "id",
      window = 2, maxDist = 2, numPartitions = 3)
    val plan = result.queryExecution.executedPlan.toString
    val cacheScans = "InMemoryTableScan".r.findAllIn(plan).size
    assert(cacheScans >= 2,
      s"expected both self-join sides to scan the pinned cache, " +
        s"got $cacheScans InMemoryTableScan(s):\n$plan")
    assert(!plan.contains("RangePartitioning"),
      s"range exchange re-evaluated downstream of the pin:\n$plan")
  }

  test("editDistancePairs emits each unordered pair once, no self pairs") {
    val df = Seq(1L -> "abcd_x", 2L -> "abcf_x", 3L -> "abcd_x", 4L -> "qqqq_y")
      .toDF("id", "s")
    val got = Fuzzy.editDistancePairs(df, "s", "id",
        suffixLen = 2, lenTol = 0, maxDist = 1)
      .as[(Long, Long, Int)].collect().toSet
    assert(got === Set((1L, 2L, 1), (1L, 3L, 0), (2L, 3L, 1)))
  }
}
