package graft.udafs

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** A10 — HyperLogLog sketch layer + F12 bucketing.
  *
  * The reference registers `hllCreate`/`hllCardinality` scalar functions and
  * HLL merge aggregates from the external spark-hyperloglog library
  * (reference: src/main/scala/com/mozilla/telemetry/utils/udfs.scala:6-27).
  * Spark ≥3.5 ships Apache DataSketches HLL natively — persistable,
  * mergeable sketch columns with codegen'd implementations — so the rebuild
  * uses those instead of a custom TypedImperativeAggregate:
  *
  *  - create+merge in one agg:   `hllSketch(c)`   (hll_sketch_agg)
  *  - merge stored sketches:     `hllMerge(c)`    (hll_union_agg)
  *  - sketch → cardinality:      `hllCardinality` (hll_sketch_estimate)
  *
  * At 100 TB this is the key pattern: per-partition/day sketch tables are
  * small and re-aggregable without rescanning raw data.
  */
object Sketches {
  /** Aggregate raw values into a binary HLL sketch. lgK 12 ⇒ ~1.6% stderr. */
  def hllSketch(c: Column): Column =
    hll_sketch_agg(c, lit(12))

  /** Merge a column of serialized sketches into one. */
  def hllMerge(c: Column): Column =
    hll_union_agg(c, lit(false))

  /** Condition-gated sketch union — the reference's
    * `FilteredHyperLogLogMerge` (registered at utils/udfs.scala:15): only
    * sketches from rows where `cond` holds join the union. `hll_union_agg`
    * ignores nulls, so gating with `when` keeps the whole aggregate
    * codegen'd — no separate filtered pre-pass over the sketch table. */
  def hllMergeFiltered(cond: Column, sk: Column): Column =
    hll_union_agg(when(cond, sk), lit(false))

  /** Estimated distinct count from a serialized sketch. */
  def hllCardinality(c: Column): Column = hll_sketch_estimate(c)

  /** Count-min sketch over the whitespace tokens of `textCol` — the
    * mergeable POINT-FREQUENCY sketch (Cormode & Muthukrishnan 2005),
    * complementing HLL (cardinalities) and approx_top_k (heavy hitters):
    * `estimateCount(w)` is never below the true count and exceeds it by
    * at most ε·N with probability 1−δ. Built distributed through the
    * public `DataFrameStatFunctions` API (one explode + one mergeable
    * aggregate, O(width·depth) state per task). At 100 TB the pattern is
    * the HLL one for frequencies: per-day sketches persist small and
    * `mergeInPlace` into corpus totals without rescanning raw data —
    * same (eps, confidence, seed) ⇒ merge is exact. */
  def tokenCms(docs: org.apache.spark.sql.DataFrame, textCol: String,
               eps: Double, confidence: Double,
               seed: Int): org.apache.spark.util.sketch.CountMinSketch =
    docs.select(explode(graft.text.TextOps.tokens(col(textCol))).as("__w"))
      .stat.countMinSketch("__w", eps, confidence, seed)

  /** Per-GROUP count-min sketch aggregate over pre-counted `(token,
    * count)` pairs — [[tokenCms]] is whole-frame only (the
    * `DataFrameStatFunctions` API has no groupBy form), and the
    * per-bucket sketch tables the rolling-frequency layer consumes need
    * one sketch per group. Input is the exact per-(group, token) count,
    * NOT the raw token stream: the caller pre-aggregates with an
    * ordinary codegen'd `count` (partial-aggregable, map-side combined)
    * and this aggregator sees only distinct tokens — `add(w, n)` lands
    * the identical counter table as n separate adds (CMS counters are
    * sums), so the result is byte-compatible with [[tokenCms]] and the
    * streaming sealed artifacts under the same (eps, confidence, seed).
    * The buffer is the live sketch (Kryo-encoded only across shuffle
    * boundaries — unavoidable: a counter grid has no product encoder). */
  class CmsAgg(eps: Double, confidence: Double, seed: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        (String, Long),
        org.apache.spark.util.sketch.CountMinSketch, Array[Byte]] {
    import org.apache.spark.util.sketch.CountMinSketch
    def zero: CountMinSketch = CountMinSketch.create(eps, confidence, seed)
    def reduce(b: CountMinSketch, in: (String, Long)): CountMinSketch = {
      if (in != null && in._1 != null) b.addString(in._1, in._2)
      b
    }
    def merge(a: CountMinSketch, b: CountMinSketch): CountMinSketch = {
      a.mergeInPlace(b); a
    }
    def finish(b: CountMinSketch): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      b.writeTo(bos)
      bos.toByteArray
    }
    def bufferEncoder: org.apache.spark.sql.Encoder[CountMinSketch] =
      org.apache.spark.sql.Encoders.kryo[CountMinSketch]
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
  }

  /** Merge a column of serialized CMS sketches into one — the
    * `hll_union_agg` analog for frequencies. All inputs must share
    * (eps, confidence, seed) (CMS merge is undefined otherwise;
    * `mergeInPlace` throws on shape mismatch — loud, not silent). */
  class CmsMergeAgg(eps: Double, confidence: Double, seed: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        Array[Byte],
        org.apache.spark.util.sketch.CountMinSketch, Array[Byte]] {
    import org.apache.spark.util.sketch.CountMinSketch
    def zero: CountMinSketch = CountMinSketch.create(eps, confidence, seed)
    def reduce(b: CountMinSketch, in: Array[Byte]): CountMinSketch = {
      if (in != null)
        b.mergeInPlace(CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(in)))
      b
    }
    def merge(a: CountMinSketch, b: CountMinSketch): CountMinSketch = {
      a.mergeInPlace(b); a
    }
    def finish(b: CountMinSketch): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      b.writeTo(bos)
      bos.toByteArray
    }
    def bufferEncoder: org.apache.spark.sql.Encoder[CountMinSketch] =
      org.apache.spark.sql.Encoders.kryo[CountMinSketch]
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
  }

  /** `(token, count)` columns → per-group CMS sketch bytes. */
  def cmsAgg(token: Column, n: Column, eps: Double, confidence: Double,
             seed: Int): Column =
    udaf(new CmsAgg(eps, confidence, seed),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong))
      .apply(token, n)

  /** Serialized-sketch column → merged sketch bytes. */
  def cmsMergeAgg(sketch: Column, eps: Double, confidence: Double,
                  seed: Int): Column =
    udaf(new CmsMergeAgg(eps, confidence, seed),
      org.apache.spark.sql.Encoders.BINARY)
      .apply(sketch)

  /** Point-frequency estimates for a fixed token watchlist from one
    * serialized sketch: `map(token → estimate)`. A UDF is acceptable
    * here by size: it runs once per WINDOW row (after the merge
    * aggregate), never per event. */
  def cmsEstimates(sketch: Column, tokens: Seq[String]): Column = {
    val f = udf((bytes: Array[Byte]) =>
      if (bytes == null) Map.empty[String, Long]
      else {
        val s = org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(bytes))
        tokens.map(t => t -> s.estimateCount(t)).toMap
      })
    f(sketch)
  }

  /** F12 — `bucketed(value, splits)`: first split ≥ value, else max+1.
    * Reference: src/main/scala/com/mozilla/telemetry/utils/udfs.scala:17-19.
    * Expressed as a when-chain (codegen'd), not a UDF. */
  def bucketed(c: Column, splits: Seq[Double]): Column = {
    require(splits.nonEmpty, "bucketed needs at least one split")
    val sorted = splits.sorted
    val chain = sorted.foldRight(lit(sorted.max + 1)) { (split, rest) =>
      when(c <= split, lit(split)).otherwise(rest)
    }
    // a null value must stay null — every `c <= split` is null for it, so
    // the raw chain would fall through to the overflow bucket
    when(c.isNull, lit(null).cast("double")).otherwise(chain)
  }
}
