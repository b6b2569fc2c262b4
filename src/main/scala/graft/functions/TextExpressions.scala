package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodeGenerator, CodegenContext, ExprCode, ExprValue, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native expressions for the token-array statistics the quality gate
  * evaluates on EVERY document. The composable forms are higher-order
  * functions (`filter(t, w -> ...)`, `aggregate(t, 0, ...)`) — interpreted
  * per element (CodegenFallback), which puts a lambda interpreter in the
  * hottest scan of the corpus-clean pipeline. Same values, compiled loops,
  * full codegen.
  *
  * The rule for every native expression in `graft.functions`: its
  * algorithm is ONE Scala kernel on its companion object. Interpreted
  * eval calls the kernel, and `doGenCode` emits a single call to the same
  * kernel (referenced arrays ride through `ctx.addReferenceObj`, the
  * float-vs-double choice as an argument) — generated code is never a
  * second, hand-written copy of the loop, so the interpreted path
  * (`ConvertToLocalRelation`, codegen fallback) and whole-stage codegen
  * cannot drift apart. `KernelCodegenSpec` pins both paths equal for
  * every expression and fails on a hand-built Java body in this
  * package. */

/** Unary expressions over one `array<string>` input: the type check and
  * its failure text, written once. */
private[functions] trait StringArrayInput extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$nodeName needs array<string>, got $t")
  }
}

private[functions] object StringArrayInput {
  /** Element `i` of a string array, or null. */
  def elem(arr: ArrayData, i: Int): UTF8String =
    if (arr.isNullAt(i)) null else arr.getUTF8String(i)
}

/** Binary expressions over two `array<string>` inputs. */
private[functions] trait StringArrayPair extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$nodeName needs two array<string> inputs, got ($l, $r)")
    }
}

/** Count of array elements contained in a FIXED string set (occurrences,
  * not distinct — `array_except` dedupes and cannot express this). The
  * set rides as one referenced UTF8String HashSet, so membership is O(1)
  * per element. Null elements don't count (the tokenizer never produces
  * them; defensive). */
case class ArrayCountInSet(child: Expression, set: Seq[String])
    extends UnaryExpression with StringArrayInput {

  @transient private lazy val utf8Set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](math.max(16, set.size * 2))
    set.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  override def dataType: DataType = IntegerType

  override def nullSafeEval(input: Any): Any =
    ArrayCountInSet.count(input.asInstanceOf[ArrayData], utf8Set)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("wordSet", utf8Set, "java.util.HashSet")
    defineCodeGen(ctx, ev, arr =>
      s"graft.functions.ArrayCountInSet$$.MODULE$$.count($arr, $setRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ArrayCountInSet {
  private[functions] def count(arr: ArrayData, set: java.util.HashSet[UTF8String]): Int = {
    var n = 0
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i) && set.contains(arr.getUTF8String(i))) n += 1
      i += 1
    }
    n
  }
}

/** Sum of string lengths (in characters) over an array — the numerator of
  * mean-token-length, as one compiled loop. Null elements contribute 0. */
case class ArrayStringLenSum(child: Expression)
    extends UnaryExpression with StringArrayInput {
  import org.apache.spark.sql.types.LongType

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    ArrayStringLenSum.lenSum(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, arr =>
      s"graft.functions.ArrayStringLenSum$$.MODULE$$.lenSum($arr)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ArrayStringLenSum {
  private[functions] def lenSum(arr: ArrayData): Long = {
    var acc = 0L
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) acc += arr.getUTF8String(i).numChars()
      i += 1
    }
    acc
  }
}

/** Unicode NFC normalization (composed canonical form) — no Spark
  * built-in exists. Crawled text mixes composed and decomposed forms of
  * the same glyph ("é" as one codepoint vs "e"+U+0301); every
  * downstream equality — fingerprints, shingles, paragraph hashes —
  * silently misses duplicates until forms are canonicalized, so this
  * belongs at ingest, on every document.
  *
  * Fast paths keep the hot loop allocation-free for the common case:
  * pure-ASCII strings (numBytes == numChars) are NFC by definition and
  * return the input reference; non-ASCII strings already in NFC (the
  * vast majority of real UTF-8 text) return the input after an
  * `isNormalized` scan. Only genuinely decomposed strings pay the
  * normalize-and-reencode. */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"NfcNormalize needs string, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    NfcNormalize.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.NfcNormalize$$.MODULE$$.nfc($s);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NfcNormalize {
  def nfc(s: UTF8String): UTF8String = {
    if (s.numBytes == s.numChars) s // pure ASCII: NFC is the identity
    else {
      val str = s.toString
      if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
      else UTF8String.fromString(
        java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
    }
  }
}

/** Hashing-trick document vectors (feature hashing, Weinberger et al.
  * 2009 / Vowpal Wabbit): token → md5-prefix bucket → per-bucket counts
  * as one `array<long>` of length `dim`. Gives every downstream vector
  * operator (cosine pairs, ANN, semantic dedup, centroids) a document
  * representation WITHOUT an external embedder, and stays engine-
  * replayable: the bucket is the first 8 md5 hex digits taken as an
  * unsigned int mod dim — `CAST('0x' || substr(md5(w),1,8) AS BIGINT) %
  * dim` in DuckDB, `conv(substring(md5(w),1,8),16,10) % dim` in SQL
  * Spark. Counts are exact integers, so parity cannot break on floats.
  *
  * A native expression rather than HOFs because the HOF form is
  * O(dim × tokens) per document (filter per bucket) and interpreted;
  * this is one compiled O(tokens) pass with a long[dim] accumulator. */
case class HashingVector(child: Expression, dim: Int)
    extends UnaryExpression with StringArrayInput {
  require(dim > 0, s"dim must be positive: $dim")

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    HashingVector.count(input.asInstanceOf[ArrayData], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.functions.HashingVector$$.MODULE$$.count($arr, $dim);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HashingVector {
  /** One md5 digest and its 16-byte output buffer per thread, reused at
    * every position. */
  private final class Md5 {
    val digest: java.security.MessageDigest = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Byte](16)
  }
  private val md5 = ThreadLocal.withInitial[Md5](() => new Md5)

  /** Bucket = first 4 digest bytes as an unsigned 32-bit int, mod dim —
    * exactly the value of the first 8 md5 HEX DIGITS, so any engine with
    * md5 + hex parsing replays it. */
  def bucket(w: UTF8String, dim: Int): Int = bucket(w, null, dim)

  /** The md5-prefix bucket of `a ++ " " ++ b` — a unigram when `b` is
    * null, a bigram otherwise — without materializing the gram. A null
    * part contributes nothing (concat_ws semantics: the separator only
    * between two non-null parts). The one md5-prefix fold under
    * [[HashingVector]], [[DsirWeight]] and [[DsirBuckets]]; it allocates
    * nothing for on-heap strings. */
  private[functions] def bucket(a: UTF8String, b: UTF8String, dim: Int): Int = {
    val s = md5.get()
    val d = s.digest
    d.reset()
    if (a != null) update(d, a)
    if (a != null && b != null) d.update(' '.toByte)
    if (b != null) update(d, b)
    d.digest(s.out, 0, 16)
    val h = s.out
    val v = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
      ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
    (v % dim).toInt
  }

  /** Feeds the string's UTF-8 bytes in place when they live in a byte
    * array (every on-heap row); copies only for off-heap memory. */
  private def update(d: java.security.MessageDigest, s: UTF8String): Unit =
    s.getBaseObject match {
      case bytes: Array[Byte] => d.update(bytes,
        (s.getBaseOffset - org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET).toInt,
        s.numBytes)
      case _ => d.update(s.getBytes)
    }

  def count(arr: ArrayData, dim: Int): ArrayData = {
    val counts = new Array[Long](dim)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) counts(bucket(arr.getUTF8String(i), dim)) += 1
      i += 1
    }
    new GenericArrayData(counts)
  }
}

/** DSIR importance weight (Xie et al. 2023) over a token array: the
  * left-to-right product of per-bigram bucket ratios,
  * `Π_i ratios[bucket(t[i] + " " + t[i+1])]`, as ONE compiled pass.
  *
  * Replaces the interpreted `aggregate(bigrams(text), 1.0, (acc,g) =>
  * acc * element_at(...))` HOF form — same values to the last bit (same
  * md5-prefix bucket as [[HashingVector.bucket]], same sequential fold
  * order, same double multiplies) but codegen'd: the HOF lambda
  * interpreter made DSIR scoring the single most expensive scan in the
  * bench (q105 at ~13 s vs ~0.5 s for the equivalently-shaped q103
  * compiled scan; round-6 verdict What's-wrong #3). The dim-sized ratio
  * model rides as one referenced `double[]` — no join, no shuffle, no
  * per-row literal array.
  *
  * Bigram bytes are `utf8(a) ++ 0x20 ++ utf8(b)` — exactly the
  * `concat_ws(" ", a, b)` encoding the HOF hashed, so DuckDB's
  * `md5(a || ' ' || b)` replay still matches. Fewer than 2 tokens →
  * neutral weight 1.0 (matches the HOF's empty-array fold). */
case class DsirWeight(child: Expression, ratios: Array[Double])
    extends UnaryExpression with StringArrayInput {
  require(ratios.nonEmpty, "ratios must be non-empty")

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType

  override def nullSafeEval(input: Any): Any =
    DsirWeight.weight(input.asInstanceOf[ArrayData], ratios)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r = ctx.addReferenceObj("dsirRatios", ratios, "double[]")
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.functions.DsirWeight$$.MODULE$$.weight($arr, $r);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DsirWeight {
  /** A null token contributes nothing to its bigram (concat_ws
    * semantics; the tokenizer never emits nulls — defensive parity with
    * the HOF form). */
  def weight(arr: ArrayData, ratios: Array[Double]): Double = {
    val n = arr.numElements()
    var acc = 1.0
    var i = 0
    while (i < n - 1) {
      acc *= ratios(HashingVector.bucket(StringArrayInput.elem(arr, i),
        StringArrayInput.elem(arr, i + 1), ratios.length))
      i += 1
    }
    acc
  }
}

/** Adjacent-pair bigram strings of a token array — `[t0+" "+t1,
  * t1+" "+t2, …]`, `n-1` elements, empty for fewer than 2 tokens. One
  * compiled pass; replaces the `transform(sequence(...), i =>
  * concat_ws(" ", element_at(t,i+1), element_at(t,i+2)))` HOF whose
  * lambda interpreter dominated the DSIR fit scan (the model-fitting
  * side of the same round-6 q105 finding the [[DsirWeight]] scorer
  * fixed). Null tokens follow concat_ws semantics (skipped, separator
  * only between non-null parts) for parity with the HOF form. NULL
  * INPUT (null text → null token array) yields the EMPTY array, not
  * null — the HOF twin's `when(...).otherwise(array())` does the same
  * (a null condition falls to the otherwise branch), so both forms are
  * ratio-neutral on null docs and callers need no isNotNull pre-filter
  * for agreement. */
case class BigramArray(child: Expression)
    extends UnaryExpression with NullToEmptyGrams with StringArrayInput {
  override protected def kernel: GramKernel = BigramArray
  override protected def grams(v: Any): ArrayData =
    BigramArray.bigrams(v.asInstanceOf[ArrayData])
  override protected def gramsCall(v: ExprValue): Block = code"bigrams($v)"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BigramArray extends GramKernel {
  /** The n=2 case of [[TokenNgrams.grams]] (identical concat_ws
    * null-skip semantics) — one window-join implementation to keep in
    * behavioral lockstep, not two. */
  def bigrams(arr: ArrayData): ArrayData = TokenNgrams.grams(arr, 2)
}

/** Bigram bucket ids of a token array: `bucket(t[i]+" "+t[i+1])` for each
  * adjacent pair, as one compiled `array<int>` pass — the md5-prefix
  * bucket of [[HashingVector.bucket]]/[[DsirWeight]], without
  * materializing gram strings or routing through the SQL
  * `conv(substring(md5(..),1,8),16,10)` chain (hex encode + substring +
  * radix parse per gram). Feeds the DSIR fit scan: `explode` over ints,
  * then a dim-bounded groupBy. Values replay in DuckDB as
  * `CAST('0x' || substr(md5(a || ' ' || b),1,8) AS BIGINT) % dim`. */
case class DsirBuckets(child: Expression, dim: Int)
    extends UnaryExpression with StringArrayInput {
  require(dim > 0, s"dim must be positive: $dim")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    DsirBuckets.buckets(input.asInstanceOf[ArrayData], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.functions.DsirBuckets$$.MODULE$$.buckets($arr, $dim);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DsirBuckets {
  def buckets(arr: ArrayData, dim: Int): ArrayData = {
    val out = new Array[Int](math.max(0, arr.numElements() - 1))
    var i = 0
    while (i < out.length) {
      out(i) = HashingVector.bucket(StringArrayInput.elem(arr, i),
        StringArrayInput.elem(arr, i + 1), dim)
      i += 1
    }
    new GenericArrayData(out)
  }
}


/** Token-sequence LCS length — the ROUGE-L kernel (Lin 2004 §3.2). The
  * classic O(C·R) two-row DP, doc-bounded: both sides are single
  * documents (summaries/references by contract), so the quadratic cost
  * is per ROW and never touches the corpus dimension. A HOF encoding
  * would need a fold-within-a-fold building O(R) arrays per candidate
  * token — O(C·R²) interpreted allocations; this is the (c) rung of the
  * extension ladder instead: a native BinaryExpression whose codegen
  * calls one compiled kernel, keeping the scan inside whole-stage
  * codegen. Null TOKENS (never produced by the tokenizer; defensive)
  * match nothing. Null ARRAY on either side → null out (BinaryExpression
  * null intolerance — [[graft.text.EvalOps.rougeL]] feeds it non-null
  * staged token arrays). */
case class LcsTokenLength(left: Expression, right: Expression)
    extends BinaryExpression with StringArrayPair {
  import org.apache.spark.sql.types.LongType

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any =
    LcsKernel.lcs(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.LcsKernel$$.MODULE$$.lcs($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object LcsKernel {
  /** Two-row DP over UTF8String token equality: O(C·R) time, O(R) space,
    * zero allocations beyond the two int rows and the materialized
    * right-side token view. */
  def lcs(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    val m = b.numElements()
    if (n == 0 || m == 0) return 0L
    val bt = new Array[UTF8String](m)
    var j = 0
    while (j < m) {
      bt(j) = StringArrayInput.elem(b, j)
      j += 1
    }
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    var i = 0
    while (i < n) {
      val ai = StringArrayInput.elem(a, i)
      var jj = 0
      while (jj < m) {
        cur(jj + 1) =
          if (ai != null && ai.equals(bt(jj))) prev(jj) + 1
          else math.max(prev(jj + 1), cur(jj))
        jj += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m).toLong
  }
}

/** Token-sequence Levenshtein edit distance — the WER kernel: unit-cost
  * insert/delete/substitute over TOKENS (never characters — "cat" vs
  * "bat" is ONE word error), the classic O(C·R) two-row DP with the
  * same doc-bounded cost argument as [[LcsTokenLength]] (both sides are
  * single documents by contract; the corpus dimension never enters).
  * Null TOKENS match nothing (defensive — tokenizers never emit them);
  * null ARRAYS → null out (BinaryExpression null intolerance — callers
  * stage non-null token arrays). Satisfies `d ≥ max(|a|,|b|) − LCS`
  * (KernelParitySpec pins the bound against [[LcsTokenLength]]). */
case class TokenEditDistance(left: Expression, right: Expression)
    extends BinaryExpression with StringArrayPair {
  import org.apache.spark.sql.types.LongType

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any =
    EditDistanceKernel.dist(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.EditDistanceKernel$$.MODULE$$.dist($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object EditDistanceKernel {
  /** Two-row Levenshtein DP over UTF8String token equality: O(C·R)
    * time, O(R) space (the [[LcsKernel]] memory discipline). */
  def dist(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    val m = b.numElements()
    if (n == 0) return m.toLong
    if (m == 0) return n.toLong
    val bt = new Array[UTF8String](m)
    var j = 0
    while (j < m) {
      bt(j) = StringArrayInput.elem(b, j)
      j += 1
    }
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    j = 0
    while (j <= m) { prev(j) = j; j += 1 }
    var i = 0
    while (i < n) {
      cur(0) = i + 1
      val ai = StringArrayInput.elem(a, i)
      var jj = 0
      while (jj < m) {
        val sub = prev(jj) + (if (ai != null && ai.equals(bt(jj))) 0 else 1)
        val del = prev(jj + 1) + 1
        val ins = cur(jj) + 1
        cur(jj + 1) = math.min(sub, math.min(del, ins))
        jj += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m).toLong
  }
}

/** Clipped multiset-intersection count `Σ_g min(count_a(g), count_b(g))`
  * — the ROUGE/BLEU/chrF overlap numerator as ONE compiled O(C+R) pass
  * (hash-count the smaller side, stream the other, decrement-on-hit;
  * symmetric by construction). Replaces the interpreted sorted-run
  * `aggregate` fold, which paid an array_sort plus per-element lambda
  * interpretation — at six chrF orders per row that fold was 40 s at
  * sf0.1 where this kernel is ~2 s (BENCH_NOTES round 16). Null
  * ELEMENTS don't count (gram builders never emit them; defensive);
  * null ARRAYS → null out (callers coalesce — the EvalOps gram
  * builders already produce empty, never null). */
case class ClippedOverlapCount(left: Expression, right: Expression)
    extends BinaryExpression with StringArrayPair {
  import org.apache.spark.sql.types.LongType

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any =
    ClippedOverlapKernel.count(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.ClippedOverlapKernel$$.MODULE$$.count($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ClippedOverlapKernel {
  def count(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 || nb == 0) return 0L
    // hash-count the SMALLER side (min-memory); min() is symmetric
    val (small, large) = if (na <= nb) (a, b) else (b, a)
    val ns = small.numElements()
    val counts = new java.util.HashMap[UTF8String, Integer](ns * 2)
    var i = 0
    while (i < ns) {
      if (!small.isNullAt(i)) {
        val k = small.getUTF8String(i)
        val c = counts.get(k)
        counts.put(k, if (c == null) 1 else c + 1)
      }
      i += 1
    }
    var acc = 0L
    val nl = large.numElements()
    var j = 0
    while (j < nl) {
      if (!large.isNullAt(j)) {
        val k = large.getUTF8String(j)
        val c = counts.get(k)
        if (c != null && c > 0) {
          acc += 1L
          counts.put(k, c - 1)
        }
      }
      j += 1
    }
    acc
  }
}

/** Multi-reference clipped overlap `Σ_g min(count_cand(g),
  * max_r count_ref_r(g))` — the Papineni 2002 §2.1 MULTI-reference
  * modified-precision numerator: each candidate gram is clipped against
  * the MAXIMUM count of that gram in any single reference (NOT the sum —
  * concatenating references would inflate the clip; and NOT the max of
  * pairwise clipped sums — `min` distributes over `max` per GRAM, but
  * the per-gram maxima can come from different references, so no
  * composition of [[ClippedOverlapCount]] calls can express this). One
  * compiled pass: hash-count the candidate, then stream each reference
  * keeping a per-reference count only for grams the candidate has,
  * folding the per-gram max; O(C + Σ Rᵢ) time, O(distinct-C) space.
  * Null gram ELEMENTS don't count (gram builders never emit them;
  * defensive); a null INNER reference array contributes nothing (an
  * absent reference clips nothing); null OUTER arrays → null out
  * (BinaryExpression null intolerance — [[graft.text.EvalOps]] stages
  * non-null arrays). */
case class ClippedOverlapMaxCount(left: Expression, right: Expression)
    extends BinaryExpression {
  import org.apache.spark.sql.types.LongType

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(ArrayType(StringType, _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"ClippedOverlapMaxCount needs (array<string>, " +
          s"array<array<string>>), got ($l, $r)")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    ClippedOverlapMaxKernel.count(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.ClippedOverlapMaxKernel$$.MODULE$$.count($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ClippedOverlapMaxKernel {
  def count(cand: ArrayData, refs: ArrayData): Long = {
    val nc = cand.numElements()
    val nr = refs.numElements()
    if (nc == 0 || nr == 0) return 0L
    val candCounts = new java.util.HashMap[UTF8String, Integer](nc * 2)
    var i = 0
    while (i < nc) {
      if (!cand.isNullAt(i)) {
        val k = cand.getUTF8String(i)
        val c = candCounts.get(k)
        candCounts.put(k, if (c == null) 1 else c + 1)
      }
      i += 1
    }
    if (candCounts.isEmpty) return 0L
    // per-gram max over references, tracked only for candidate grams
    val best = new java.util.HashMap[UTF8String, Integer](candCounts.size() * 2)
    val refCounts = new java.util.HashMap[UTF8String, Integer](candCounts.size() * 2)
    var r = 0
    while (r < nr) {
      if (!refs.isNullAt(r)) {
        val ref = refs.getArray(r)
        refCounts.clear()
        var j = 0
        val m = ref.numElements()
        while (j < m) {
          if (!ref.isNullAt(j)) {
            val k = ref.getUTF8String(j)
            if (candCounts.containsKey(k)) {
              val c = refCounts.get(k)
              refCounts.put(k, if (c == null) 1 else c + 1)
            }
          }
          j += 1
        }
        val it = refCounts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val b = best.get(e.getKey)
          if (b == null || e.getValue > b) best.put(e.getKey, e.getValue)
        }
      }
      r += 1
    }
    var acc = 0L
    val it = candCounts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val b = best.get(e.getKey)
      if (b != null) acc += math.min(e.getValue.intValue(), b.intValue()).toLong
    }
    acc
  }
}



/** The null-to-empty gram expressions ([[BigramArray]], [[CharNgrams]],
  * [[TokenNgrams]]): `array<string>` out, never null — NULL input yields
  * the companion's shared empty array (the ratio-neutral
  * null contract) and any other input goes to the companion's kernel, in
  * eval and in generated code alike. */
private[functions] trait NullToEmptyGrams extends UnaryExpression {
  /** The companion holding the kernel and `emptyArray()`. */
  protected def kernel: GramKernel
  /** The kernel on a non-null input. */
  protected def grams(v: Any): ArrayData
  /** The same kernel call in Java, on the companion, for the value `v`. */
  protected def gramsCall(v: ExprValue): Block

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) kernel.emptyArray() else grams(v)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = s"${kernel.getClass.getName}.MODULE$$"
    val childGen = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(
      code = childGen.code +
        code"""
        $javaType ${ev.value} = ${childGen.isNull}
          ? $k.emptyArray()
          : $k.${gramsCall(childGen.value)};""",
      isNull = FalseLiteral)
  }
}

private[functions] trait GramKernel {
  /** Shared empty result — one immutable instance for every null or
    * too-short input, not an allocation per row. */
  def emptyArray(): ArrayData = GramKernel.Empty
}

private[functions] object GramKernel {
  val Empty: ArrayData = new GenericArrayData(Array.empty[Any])
}

/** Character n-gram array of a string — the chrF gram builder as one
  * compiled pass: gram i is the CODEPOINT substring [i, i+n) (the
  * `substring`/`length` char notion; NOTE this is deliberately NOT
  * `split(s, "")`, which runs a Java regex over UTF-16 units and
  * splits supplementary-plane codepoints into broken surrogate
  * halves — the codepoint walk grams "𝄞" as one character). The HOF form
  * (`transform(sequence, i -> concat_ws(slice(chars...)))`) interprets
  * per GRAM and re-slices an array per position — at six chrF orders it
  * dominated the scan (BENCH_NOTES round 16). Strings shorter than `n`
  * have no grams; NULL input yields the EMPTY array (the gram builders'
  * ratio-neutral null contract, like [[BigramArray]]). Caller removes
  * whitespace first (the chrF convention) — this builder grams exactly
  * what it is given. */
case class CharNgrams(child: Expression, n: Int)
    extends UnaryExpression with NullToEmptyGrams {
  require(n >= 1, s"n-gram order must be positive: $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"CharNgrams needs string, got $t")
  }

  override protected def kernel: GramKernel = CharNgrams
  override protected def grams(v: Any): ArrayData =
    CharNgrams.grams(v.asInstanceOf[UTF8String], n)
  override protected def gramsCall(v: ExprValue): Block = code"grams($v, $n)"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CharNgrams extends GramKernel {
  /** O(bytes) total: one private byte copy + one codepoint-offset walk,
    * then each gram is a zero-copy view into the private buffer —
    * `substring(i, i+n)` per gram would re-walk the buffer from byte 0
    * per call (O(len²) per order) AND copy per gram. The buffer is a
    * fresh copy owned by the output array, so input-row buffer reuse
    * can never corrupt emitted grams. */
  def grams(s: UTF8String, n: Int): ArrayData = {
    val numChars = s.numChars()
    if (numChars < n) emptyArray()
    else {
      val nb = s.numBytes()
      val bytes = new Array[Byte](nb)
      s.writeToMemory(bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET)
      val offsets = new Array[Int](numChars + 1)
      var i = 0
      var k = 0
      while (k < numChars) {
        offsets(k) = i
        i += UTF8String.numBytesForFirstByte(bytes(i))
        k += 1
      }
      offsets(numChars) = nb
      val out = new Array[Any](numChars - n + 1)
      var g = 0
      while (g <= numChars - n) {
        out(g) = UTF8String.fromBytes(bytes, offsets(g),
          offsets(g + n) - offsets(g))
        g += 1
      }
      new GenericArrayData(out)
    }
  }
}

/** Word n-gram array of a token array — [[BigramArray]] generalized to
  * order `n`, as one compiled pass: gram i joins tokens [i, i+n) with a
  * single space, skipping nulls (exact `concat_ws` semantics, for
  * drop-in parity with the HOF form `transform(sequence, i ->
  * concat_ws(" ", slice(toks, i, n)))`, which interprets per gram and
  * re-slices an array per position). Fewer than `n` tokens → empty
  * array; NULL input → empty array (the gram builders' ratio-neutral
  * null contract). */
case class TokenNgrams(child: Expression, n: Int)
    extends UnaryExpression with NullToEmptyGrams with StringArrayInput {
  require(n >= 1, s"n-gram order must be positive: $n")

  override protected def kernel: GramKernel = TokenNgrams
  override protected def grams(v: Any): ArrayData =
    TokenNgrams.grams(v.asInstanceOf[ArrayData], n)
  override protected def gramsCall(v: ExprValue): Block = code"grams($v, $n)"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenNgrams extends GramKernel {
  private val SPACE = UTF8String.fromString(" ")

  def grams(arr: ArrayData, n: Int): ArrayData = {
    val len = arr.numElements()
    if (len < n) emptyArray()
    else {
      val toks = new Array[UTF8String](len)
      var i = 0
      while (i < len) {
        toks(i) = StringArrayInput.elem(arr, i)
        i += 1
      }
      val out = new Array[Any](len - n + 1)
      val window = new Array[UTF8String](n)
      i = 0
      while (i <= len - n) {
        var j = 0
        while (j < n) { window(j) = toks(i + j); j += 1 }
        // concatWs skips nulls — exact concat_ws parity
        out(i) = UTF8String.concatWs(SPACE, window: _*)
        i += 1
      }
      new GenericArrayData(out)
    }
  }
}

object TextExpressions {
  import org.apache.spark.sql.graft.ColumnBridge

  /** Occurrences of `set` members in a string array (codegen). */
  def countInSet(arr: Column, set: Seq[String]): Column =
    ColumnBridge.column(ArrayCountInSet(ColumnBridge.expression(arr), set))

  /** Character-length sum of a string array (codegen). */
  def lenSum(arr: Column): Column =
    ColumnBridge.column(ArrayStringLenSum(ColumnBridge.expression(arr)))

  /** Unicode NFC canonicalization (codegen). */
  def nfc(text: Column): Column =
    ColumnBridge.column(NfcNormalize(ColumnBridge.expression(text)))

  /** Feature-hashed token-count vector (codegen). */
  def hashingVector(arr: Column, dim: Int): Column =
    ColumnBridge.column(HashingVector(ColumnBridge.expression(arr), dim))

  /** DSIR bigram importance-ratio product over a token array (codegen). */
  def dsirWeight(arr: Column, ratios: Array[Double]): Column =
    ColumnBridge.column(DsirWeight(ColumnBridge.expression(arr), ratios))

  /** Adjacent-pair bigram strings of a token array (codegen). */
  def bigramArray(arr: Column): Column =
    ColumnBridge.column(BigramArray(ColumnBridge.expression(arr)))

  /** Bigram md5-prefix bucket ids of a token array (codegen). */
  def dsirBuckets(arr: Column, dim: Int): Column =
    ColumnBridge.column(DsirBuckets(ColumnBridge.expression(arr), dim))

  /** Token-sequence LCS length (codegen) — the ROUGE-L kernel. */
  def lcsLen(cand: Column, ref: Column): Column =
    ColumnBridge.column(LcsTokenLength(
      ColumnBridge.expression(cand), ColumnBridge.expression(ref)))

  /** Token-sequence Levenshtein distance (codegen) — the WER kernel. */
  def tokenEditDistance(cand: Column, ref: Column): Column =
    ColumnBridge.column(TokenEditDistance(
      ColumnBridge.expression(cand), ColumnBridge.expression(ref)))

  /** Clipped multiset-intersection count (codegen) — the
    * ROUGE/BLEU/chrF overlap numerator. */
  def clippedOverlapCount(a: Column, b: Column): Column =
    ColumnBridge.column(ClippedOverlapCount(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Multi-reference clipped overlap (codegen) — the Papineni
    * max-over-references modified-precision numerator. */
  def clippedOverlapMaxCount(cand: Column, refs: Column): Column =
    ColumnBridge.column(ClippedOverlapMaxCount(
      ColumnBridge.expression(cand), ColumnBridge.expression(refs)))

  /** Character n-gram array (codegen) — the chrF gram builder. */
  def charNgrams(s: Column, n: Int): Column =
    ColumnBridge.column(CharNgrams(ColumnBridge.expression(s), n))

  /** Word n-gram array (codegen) — the ROUGE/BLEU gram builder. */
  def tokenNgrams(toks: Column, n: Int): Column =
    ColumnBridge.column(TokenNgrams(ColumnBridge.expression(toks), n))
}
