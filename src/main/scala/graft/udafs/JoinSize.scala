package graft.udafs

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** AGMS / CountSketch join-size estimation — the optimizer-statistics
  * sketch the sketch-artifact family was missing: a LINEAR sketch of a
  * key-frequency vector whose inner products estimate JOIN CARDINALITY
  * (`|A ⋈ B| = Σ_k n_A(k)·n_B(k)`, Alon–Gilbert–Matias–Szegedy 1999 /
  * Charikar–Chen–Farach-Colton 2002) without executing the join. At
  * 100 TB the use is planning: persist one per day per table beside
  * the HLL/KLL/CMS artifacts (linearity makes day merges exact —
  * counter-wise sums), and answer "how big would this join be, should
  * it broadcast, is it skew-exploded" from kilobytes, never a scan.
  * The median-of-rows estimator is unbiased with
  * `stddev ≤ √(F₂(A)·F₂(B) / width)` per row — CMS could not serve
  * here (its inner product only OVERestimates, and badly under skew).
  *
  * The sketch is `depth × width` SIGNED counters: each key lands in one
  * counter per row (`h_r(k)`) with sign `s_r(k)`, weighted by its
  * count. Updates commute ⇒ order-free; fixed `seed` ⇒ deterministic,
  * so two tables sketched in different runs estimate consistently and
  * gates replay. Input is the exact per-(key, count) table — same
  * pre-aggregation contract as [[Sketches.CmsAgg]]: an ordinary
  * codegen'd `count` collapses the raw stream first, map-side combined;
  * the aggregator sees each distinct key once. */
object JoinSize {

  // Wire format v2, magic "AGM2": the ±1 sign comes from an INDEPENDENT
  // seeded hash, not bit 0 of the bucket hash. v1 ("AGMS") derived sign
  // and bucket from disjoint bits of ONE MurmurHash — not an independent
  // sign family, so the documented variance bound's independence
  // assumption could be exceeded on adversarial key sets. v1 blobs are
  // rejected loudly (merging across the two hash families would corrupt
  // estimates silently); rebuild artifacts on upgrade.
  private val MAGIC = 0x41474d32 // "AGM2"

  /** Stable per-(row, key) BUCKET hash — MurmurHash3 with a row-salted
    * seed (Scala 2.13's implementation; pinned by the build, documented
    * as part of the sketch's wire contract along with the layout). */
  private def hash(key: String, seed: Int, row: Int): Int =
    scala.util.hashing.MurmurHash3.stringHash(key, seed * 31 + row)

  /** Independent per-(row, key) SIGN hash — a SEPARATELY seeded
    * MurmurHash (golden-ratio-xored seed space, disjoint from the
    * bucket family for every (seed, row)), so sign and bucket are
    * independent draws and the `stddev ≤ √(F₂(A)·F₂(B)/width)` bound's
    * independence assumption actually holds. */
  private def signHash(key: String, seed: Int, row: Int): Int =
    scala.util.hashing.MurmurHash3.stringHash(
      key, (seed * 31 + row) ^ 0x9e3779b9)

  private[udafs] def bucketOf(h: Int, width: Int): Int =
    java.lang.Math.floorMod(h, width)
  private[udafs] def signOf(hs: Int): Long = if ((hs & 1) == 0) 1L else -1L

  /** v2 header: MAGIC "AGM2" (the version note — see above), then
    * depth, width, seed, then the row-major signed counters. */
  def serialize(depth: Int, width: Int, seed: Int,
                counters: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(16 + 8 * counters.length)
    bb.putInt(MAGIC).putInt(depth).putInt(width).putInt(seed)
    counters.foreach(bb.putLong)
    bb.array()
  }

  /** `(depth, width, seed, counters)` — loud on a foreign byte blob. */
  def deserialize(bytes: Array[Byte]): (Int, Int, Int, Array[Long]) = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    require(bb.remaining >= 16 && bb.getInt() == MAGIC,
      "not an AGMS v2 sketch (bad magic) — v1 'AGMS' blobs (bit-0 sign) " +
        "use a different hash family and must be rebuilt, not merged")
    val (d, w, s) = (bb.getInt(), bb.getInt(), bb.getInt())
    require(bb.remaining == 8 * d * w,
      s"AGMS sketch truncated: ${bb.remaining} bytes for $d×$w counters")
    val c = new Array[Long](d * w)
    var i = 0
    while (i < c.length) { c(i) = bb.getLong(); i += 1 }
    (d, w, s, c)
  }

  /** Add `n` occurrences of `key` into a raw counter array — the single
    * update primitive [[AgmsAgg]] and the streaming producer share
    * (updates are signed SUMS: commutative, so arrival order and
    * raw-vs-precounted feeding land identical counters). */
  private[graft] def addInto(counters: Array[Long], key: String, n: Long,
                             depth: Int, width: Int, seed: Int): Unit = {
    var r = 0
    while (r < depth) {
      val h = hash(key, seed, r)
      counters(r * width + bucketOf(h, width)) +=
        signOf(signHash(key, seed, r)) * n
      r += 1
    }
  }

  /** Per-group AGMS sketch from exact `(key, count)` rows. `depth` must
    * be odd (the estimator is the median over rows — an even middle
    * would interpolate and break integer replay). */
  class AgmsAgg(depth: Int, width: Int, seed: Int)
      extends Aggregator[(String, Long), Array[Long], Array[Byte]] {
    require(depth >= 1 && depth % 2 == 1, s"depth must be odd: $depth")
    require(width >= 2, s"width must be >= 2: $width")
    def zero: Array[Long] = new Array[Long](depth * width)
    def reduce(b: Array[Long], in: (String, Long)): Array[Long] = {
      if (in != null && in._1 != null) addInto(b, in._1, in._2, depth, width, seed)
      b
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    def finish(b: Array[Long]): Array[Byte] = serialize(depth, width, seed, b)
    def bufferEncoder: Encoder[Array[Long]] = Encoders.kryo[Array[Long]]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Merge serialized sketches counter-wise (the day-rollup path —
    * linearity makes the merged sketch EXACTLY the sketch of the summed
    * frequency vectors). Shape/seed mismatch fails loudly. */
  class AgmsMergeAgg(depth: Int, width: Int, seed: Int)
      extends Aggregator[Array[Byte], Array[Long], Array[Byte]] {
    def zero: Array[Long] = new Array[Long](depth * width)
    def reduce(b: Array[Long], in: Array[Byte]): Array[Long] = {
      if (in != null) {
        val (d, w, s, c) = deserialize(in)
        require(d == depth && w == width && s == seed,
          s"AGMS shape/seed mismatch: got $d×$w seed $s, " +
            s"expected $depth×$width seed $seed")
        merge(b, c)
      } else b
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    def finish(b: Array[Long]): Array[Byte] = serialize(depth, width, seed, b)
    def bufferEncoder: Encoder[Array[Long]] = Encoders.kryo[Array[Long]]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** `(key, count)` columns → sketch bytes. */
  def agmsAgg(key: Column, n: Column, depth: Int, width: Int,
              seed: Int): Column =
    udaf(new AgmsAgg(depth, width, seed),
      Encoders.tuple(Encoders.STRING, Encoders.scalaLong)).apply(key, n)

  /** Serialized-sketch column → counter-wise merged sketch bytes. */
  def agmsMergeAgg(sketch: Column, depth: Int, width: Int,
                   seed: Int): Column =
    udaf(new AgmsMergeAgg(depth, width, seed), Encoders.BINARY).apply(sketch)

  /** Join-size estimate: median over rows of the per-row inner
    * products. Unbiased; `stddev ≤ √(F₂(a)·F₂(b) / width)` per row and
    * the median concentrates it. Deterministic for fixed inputs. */
  def estimate(a: Array[Byte], b: Array[Byte]): Long = {
    val (da, wa, sa, ca) = deserialize(a)
    val (db, wb, sb, cb) = deserialize(b)
    require(da == db && wa == wb && sa == sb,
      s"AGMS sketches disagree on shape/seed: $da×$wa/$sa vs $db×$wb/$sb")
    val dots = (0 until da).map { r =>
      var s = 0L
      var j = 0
      while (j < wa) { s += ca(r * wa + j) * cb(r * wa + j); j += 1 }
      s
    }.sorted
    dots(da / 2)
  }

  /** Column form for query use (runs once per row AFTER the aggregates,
    * never per event — the [[Sketches.cmsEstimates]] size argument). */
  def estimateCol(a: Column, b: Column): Column = {
    val f = org.apache.spark.sql.functions.udf(
      (x: Array[Byte], y: Array[Byte]) =>
        if (x == null || y == null) None else Some(estimate(x, y)))
    f(a, b)
  }
}
