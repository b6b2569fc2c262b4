package graft.udafs

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.util.Random

/** AGMS join-size sketch ([[JoinSize]]): linearity (merge == rebuild,
  * byte-exact), determinism, estimator accuracy against exact join
  * sizes, and the loud shape guards. */
class JoinSizeSpec extends SparkSpec {
  import spark.implicits._

  private val (depth, width, seed) = (7, 1024, 7)

  private def sketchOf(counts: Seq[(String, Long)]): Array[Byte] =
    counts.toDF("k", "n")
      .agg(JoinSize.agmsAgg(col("k"), col("n"), depth, width, seed))
      .head().getAs[Array[Byte]](0)

  test("deterministic: same counts in any order, same bytes") {
    val counts = (0 until 500).map(i => (s"key$i", (i % 13 + 1).toLong))
    val a = sketchOf(counts)
    val b = sketchOf(Random.shuffle(counts))
    assert(java.util.Arrays.equals(a, b))
  }

  test("linearity: counter-wise merge == sketch of the summed vectors") {
    val d1 = (0 until 300).map(i => (s"k${i % 70}", 1L))
    val d2 = (0 until 200).map(i => (s"k${i % 90 + 40}", 2L))
    // per-day sketches merged...
    val merged = Seq(sketchOf(aggregate(d1)), sketchOf(aggregate(d2)))
      .toDF("sk")
      .agg(JoinSize.agmsMergeAgg(col("sk"), depth, width, seed))
      .head().getAs[Array[Byte]](0)
    // ...equal the one-pass sketch of the union, byte for byte
    val onePass = sketchOf(aggregate(d1 ++ d2))
    assert(java.util.Arrays.equals(merged, onePass))
  }

  private def aggregate(rows: Seq[(String, Long)]): Seq[(String, Long)] =
    rows.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq

  test("estimate tracks the exact join size inside the 4-sigma band") {
    val rnd = new Random(31337)
    // Zipf-ish frequencies on overlapping key ranges
    val a = aggregate((0 until 3000).map(_ =>
      (s"k${rnd.nextInt(400)}", 1L)))
    val b = aggregate((0 until 4000).map(_ =>
      (s"k${rnd.nextInt(400) + 150}", 1L)))
    val exact = a.toMap.foldLeft(0L) { case (s, (k, n)) =>
      s + n * b.toMap.getOrElse(k, 0L) }
    val est = JoinSize.estimate(sketchOf(a), sketchOf(b))
    val f2 = (x: Seq[(String, Long)]) => x.map(t => t._2 * t._2).sum
    val band = 4.0 * math.sqrt(f2(a).toDouble * f2(b) / width)
    assert(math.abs(est - exact) <= band,
      s"est $est vs exact $exact, band $band")
    // F2 self-estimate obeys the same band against the exact F2
    val estF2 = JoinSize.estimate(sketchOf(a), sketchOf(a))
    assert(math.abs(estF2 - f2(a)) <= 4.0 * f2(a) / math.sqrt(width.toDouble))
  }

  test("disjoint keys estimate near zero; shape mismatches fail loudly") {
    val a = sketchOf((0 until 100).map(i => (s"a$i", 3L)))
    val b = sketchOf((0 until 100).map(i => (s"b$i", 3L)))
    val est = JoinSize.estimate(a, b)
    // F2 of each side = 100 keys · 3² = 900
    assert(math.abs(est) <= 4.0 * math.sqrt(900.0 * 900.0 / width))
    val other = Seq(("x", 1L)).toDF("k", "n")
      .agg(JoinSize.agmsAgg(col("k"), col("n"), depth, width, seed + 1))
      .head().getAs[Array[Byte]](0)
    val e1 = intercept[IllegalArgumentException] {
      JoinSize.estimate(a, other)
    }
    assert(e1.getMessage.contains("disagree"))
    val e2 = intercept[IllegalArgumentException] {
      JoinSize.deserialize("garbage-bytes-not-a-sketch".getBytes)
    }
    assert(e2.getMessage.contains("magic"))
  }

  test("wire format v2: AGM2 magic; v1 bit-0-sign blobs rejected loudly") {
    val sk = sketchOf(Seq(("k", 1L)))
    assert(new String(sk.take(4), "US-ASCII") === "AGM2")
    // a v1 blob (magic "AGMS", sign = bit 0 of the bucket hash) must not
    // deserialize — merging across the two hash families would corrupt
    // estimates silently, so the header versioning makes it loud
    val v1 = sk.clone(); v1(3) = 'S'.toByte
    val e = intercept[IllegalArgumentException] { JoinSize.deserialize(v1) }
    assert(e.getMessage.contains("rebuilt"))
  }
}
