package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for vector dot products over
  * `array<float>` / `array<double>` columns.
  *
  * The composable form (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`) is a
  * higher-order function — interpreted per element (CodegenFallback), which
  * dominates CPU in pairwise-similarity joins. This expression computes the
  * SAME left-to-right sequential double fold (bit-identical results) as a
  * tight compiled loop whose generated code calls the same kernel, so
  * cosine stays inside whole-stage codegen.
  */
case class FloatVectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = VectorInput.check(
    VectorInput.floatElems(left.dataType).isDefined &&
      VectorInput.floatElems(right.dataType).isDefined,
    s"FloatVectorDot needs array<float|double> args, got ${left.dataType} / ${right.dataType}")

  private def lf = VectorInput.floatElems(left.dataType).contains(true)
  private def rf = VectorInput.floatElems(right.dataType).contains(true)

  override def nullSafeEval(a: Any, b: Any): Any =
    FloatVectorDot.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], lf, rf)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) =>
      s"graft.functions.FloatVectorDot$$.MODULE$$.dot($x, $y, $lf, $rf)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object FloatVectorDot {
  /** Left-to-right double fold over the common prefix. */
  private[functions] def dot(x: ArrayData, y: ArrayData, xFloat: Boolean,
                             yFloat: Boolean): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += VectorInput.get(x, i, xFloat) * VectorInput.get(y, i, yFloat)
      i += 1
    }
    acc
  }
}

/** The `array<float|double>` input of the vector expressions: its
  * element-type test, its element read and its dot against a row of a
  * referenced matrix, each written once. Each expression decides float
  * vs double once, from its input type, and passes the flag to its
  * kernel. */
private[functions] object VectorInput {
  /** Some(true) for array<float>, Some(false) for array<double>, None
    * for anything else. */
  def floatElems(t: DataType): Option[Boolean] = t match {
    case ArrayType(FloatType, _)  => Some(true)
    case ArrayType(DoubleType, _) => Some(false)
    case _                        => None
  }

  /** Element `i` as a double (float widening is exact). */
  @inline def get(v: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)

  /** `Σ_{i<n} m(base+i) · v_i`, the [[FloatVectorDot]] fold against one
    * row of a flattened matrix. */
  def rowDot(m: Array[Double], base: Int, v: ArrayData, n: Int,
             isFloat: Boolean): Double = {
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += m(base + i) * get(v, i, isFloat)
      i += 1
    }
    acc
  }

  def check(ok: Boolean, failure: => String): TypeCheckResult =
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(failure)
}

/** All random-hyperplane LSH band signatures of a vector in ONE pass.
  *
  * `planes` is the flattened (bands × planesPerBand × dim) projection
  * matrix; the result is `array<long>` of length bands, bit p of band b set
  * iff plane (b, p) has positive dot product with the vector. Accumulation
  * is the same left-to-right double fold as [[FloatVectorDot]], so
  * signatures are bit-identical to composing `fdot(vec, plane) > 0`.
  *
  * Why an expression and not 64 composed `fdot`s: one `when(fdot(...))`
  * chain per plane builds an expression tree with thousands of literal
  * leaves — the generated projection blows past JVM method/constant-pool
  * limits, Janino fails, and the whole stage falls back to interpreted
  * evaluation (~100× slower; this dominated the LSH-banding benchmarks).
  * Here the matrix rides along as ONE referenced `double[]` and the
  * generated code is one kernel call — small, JIT-friendly, and the
  * matrix is read from the reference array instead of the constant pool.
  */
case class HyperplaneSignatures(child: Expression, planes: Seq[Double],
                                planesPerBand: Int, dim: Int)
    extends UnaryExpression {
  import org.apache.spark.sql.types.LongType

  @transient private lazy val planeArr: Array[Double] = planes.toArray

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def isFloat = VectorInput.floatElems(child.dataType).contains(true)

  override def checkInputDataTypes(): TypeCheckResult = VectorInput.check(
    VectorInput.floatElems(child.dataType).isDefined &&
      planesPerBand > 0 && planesPerBand <= 64 && dim > 0 &&
      planes.nonEmpty && planes.size % (planesPerBand * dim) == 0,
    s"HyperplaneSignatures needs array<float|double> input and a plane " +
      s"matrix divisible into 1..64 planes per band of dim > 0, got " +
      s"${child.dataType}, ${planes.size} coefficients, " +
      s"$planesPerBand planes/band, dim $dim")

  override def nullSafeEval(input: Any): Any = HyperplaneSignatures.signatures(
    input.asInstanceOf[ArrayData], planeArr, planesPerBand, dim, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planeArr, "double[]")
    defineCodeGen(ctx, ev, v => "graft.functions.HyperplaneSignatures$.MODULE$" +
      s".signatures($v, $planesRef, $planesPerBand, $dim, $isFloat)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HyperplaneSignatures {
  /** `dim` is the declared plane dimension: bands derive from it, never
    * from the row (a row of deviant length would silently misalign plane
    * offsets). Rows shorter than dim are zero-padded (same result as the
    * composed min-length dot); longer rows ignore the tail. */
  private[functions] def signatures(v: ArrayData, planes: Array[Double],
                                    planesPerBand: Int, dim: Int,
                                    isFloat: Boolean): ArrayData = {
    val n = math.min(dim, v.numElements())
    val bands = planes.length / (planesPerBand * dim)
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var sig = 0L
      var p = 0
      while (p < planesPerBand) {
        val base = (b * planesPerBand + p) * dim
        if (VectorInput.rowDot(planes, base, v, n, isFloat) > 0) sig |= 1L << p
        p += 1
      }
      out(b) = sig
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** Nearest-centroid cell id (IVF assignment) in one codegen pass: argmax
  * over cells of `x·c − |c|²/2` (the monotone form of nearest euclidean
  * centroid). `centroids` is the flattened (nCells × dim) matrix,
  * `halfNorms` the per-cell `|c|²/2`. Ties resolve to the LOWEST cell id
  * (strict-greater comparison scanning cells in order).
  *
  * Same rationale as [[HyperplaneSignatures]]: the per-cell-literal-array
  * composition (`array_max` over nCells structs of `fdot(vec, lit-array)`)
  * carries nCells × dim literal leaves through codegen — at a realistic
  * 256-cell index that overflows generated-method limits and drops the
  * stage to interpreted evaluation. Here both matrices ride as referenced
  * arrays and the scan is one pair of nested loops. */
case class NearestCentroid(child: Expression, centroids: Seq[Double],
                           halfNorms: Seq[Double])
    extends UnaryExpression {
  import org.apache.spark.sql.types.IntegerType

  @transient private lazy val centArr: Array[Double] = centroids.toArray
  @transient private lazy val normArr: Array[Double] = halfNorms.toArray
  // declared centroid dimension — row offsets derive from this, never
  // from the row's own length (a deviant row must not misalign the scan)
  private def dim: Int = centroids.size / halfNorms.size

  override def dataType: DataType = IntegerType

  private def isFloat = VectorInput.floatElems(child.dataType).contains(true)

  override def checkInputDataTypes(): TypeCheckResult = VectorInput.check(
    VectorInput.floatElems(child.dataType).isDefined &&
      halfNorms.nonEmpty && centroids.nonEmpty &&
      centroids.size % halfNorms.size == 0,
    s"NearestCentroid needs array<float|double> input and a non-empty " +
      s"centroid matrix divisible by ${halfNorms.size} cells, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = NearestCentroid.cell(
    input.asInstanceOf[ArrayData], centArr, normArr, dim, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("centroids", centArr, "double[]")
    val normsRef = ctx.addReferenceObj("halfNorms", normArr, "double[]")
    defineCodeGen(ctx, ev, v => "graft.functions.NearestCentroid$.MODULE$" +
      s".cell($v, $centsRef, $normsRef, $dim, $isFloat)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestCentroid {
  /** Rows shorter than dim zero-pad (min-length dot, like FloatVectorDot);
    * longer rows ignore the tail — never an out-of-bounds read. */
  private[functions] def cell(v: ArrayData, centroids: Array[Double],
                              halfNorms: Array[Double], dim: Int,
                              isFloat: Boolean): Int = {
    val n = math.min(dim, v.numElements())
    var best = 0
    var bestScore = Double.NegativeInfinity
    var c = 0
    while (c < halfNorms.length) {
      val score = VectorInput.rowDot(centroids, c * dim, v, n, isFloat) - halfNorms(c)
      if (score > bestScore) { bestScore = score; best = c }
      c += 1
    }
    best
  }
}

/** Product-quantization encoder: one codegen pass maps a vector to its `m`
  * subspace code ids (array<int>). `codebooks` is the flattened
  * (m × k × dsub) centroid tensor — subspace-major, then code, then
  * coefficient. Per subspace the code is the nearest centroid of the
  * (optionally L2-normalized) subvector by euclidean distance, computed in
  * the monotone `x·c − |c|²/2` form (ties → lowest code id, matching
  * [[NearestCentroid]]).
  *
  * Same referenced-matrix rationale as [[NearestCentroid]]: a realistic
  * codebook (m=16, k=256, dsub=48) is 196k coefficients — composed as
  * literals it would overflow generated-method limits and drop the stage
  * to interpreted evaluation. Here the tensor rides as ONE referenced
  * double[] and encoding is three nested loops.
  *
  * Rows shorter than the declared dim zero-pad (missing tail coefficients
  * contribute nothing to any score); longer rows ignore the tail — offsets
  * always derive from the DECLARED geometry, never the row's length. */
case class PqEncode(child: Expression, codebooks: Seq[Double], m: Int, k: Int,
                    normalize: Boolean)
    extends UnaryExpression {
  import org.apache.spark.sql.types.IntegerType

  @transient private lazy val bookArr: Array[Double] = codebooks.toArray
  // per-code |c|²/2, [sub][code] flattened — derived once from the tensor
  @transient private lazy val halfArr: Array[Double] = {
    val h = new Array[Double](m * k)
    var sc = 0
    while (sc < m * k) {
      var acc = 0.0; var i = 0; val base = sc * dsub
      while (i < dsub) { val v = bookArr(base + i); acc += v * v; i += 1 }
      h(sc) = acc / 2.0
      sc += 1
    }
    h
  }
  private def dsub: Int = codebooks.size / (m * k)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  private def isFloat = VectorInput.floatElems(child.dataType).contains(true)

  override def checkInputDataTypes(): TypeCheckResult = VectorInput.check(
    VectorInput.floatElems(child.dataType).isDefined &&
      m > 0 && k > 0 && codebooks.nonEmpty && codebooks.size % (m * k) == 0,
    s"PqEncode needs array<float|double> input and a codebook tensor " +
      s"divisible into m=$m × k=$k codes, got ${child.dataType}, " +
      s"${codebooks.size} coefficients")

  override def nullSafeEval(input: Any): Any = PqEncode.encode(
    input.asInstanceOf[ArrayData], bookArr, halfArr, m, k, normalize, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bookRef = ctx.addReferenceObj("codebooks", bookArr, "double[]")
    val halfRef = ctx.addReferenceObj("halfNorms", halfArr, "double[]")
    defineCodeGen(ctx, ev, v => "graft.functions.PqEncode$.MODULE$" +
      s".encode($v, $bookRef, $halfRef, $m, $k, $normalize, $isFloat)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqEncode {
  private[functions] def encode(v: ArrayData, books: Array[Double],
                                halfNorms: Array[Double], m: Int, k: Int,
                                normalize: Boolean, isFloat: Boolean): ArrayData = {
    val dsub = books.length / (m * k)
    val n = math.min(dsub * m, v.numElements())
    var inv = 1.0
    if (normalize) {
      var acc = 0.0; var i = 0
      while (i < n) { val e = VectorInput.get(v, i, isFloat); acc += e * e; i += 1 }
      if (acc > 0) inv = 1.0 / math.sqrt(acc)
    }
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      val off = s * dsub
      val lim = math.min(dsub, math.max(0, n - off))
      var best = 0
      var bestScore = Double.NegativeInfinity
      var c = 0
      while (c < k) {
        val base = (s * k + c) * dsub
        var acc = 0.0
        var i = 0
        while (i < lim) {
          acc += books(base + i) * (VectorInput.get(v, off + i, isFloat) * inv)
          i += 1
        }
        val score = acc - halfNorms(s * k + c)
        if (score > bestScore) { bestScore = score; best = c }
        c += 1
      }
      codes(s) = best
      s += 1
    }
    new GenericArrayData(codes)
  }
}

/** Asymmetric-distance (ADC) scorer: sums the per-subspace lookup table at
  * each code id — `Σ_s table[s*k + codes[s]]` — turning a query-vs-encoded
  * comparison into `m` array reads instead of a `dim`-wide dot product.
  * The table is query-specific (built driver-side:
  * `table[s*k+c] = q̂_sub(s) · codebook(s,c)`), so the score is the exact
  * inner product of the query with the RECONSTRUCTED (decoded) vector.
  * Codes outside [0, k) and rows with fewer than m codes contribute
  * nothing (defensive: a corrupt code must not read out of bounds). */
case class PqAdcScore(child: Expression, table: Seq[Double], k: Int)
    extends UnaryExpression {
  import org.apache.spark.sql.types.IntegerType

  @transient private lazy val tabArr: Array[Double] = table.toArray

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _)
      if k > 0 && table.nonEmpty && table.size % k == 0 =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"PqAdcScore needs array<int> codes and a table divisible by k=$k, " +
        s"got ${child.dataType}, ${table.size} entries")
  }

  override def nullSafeEval(input: Any): Any =
    PqAdcScore.score(input.asInstanceOf[ArrayData], tabArr, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tabRef = ctx.addReferenceObj("adcTable", tabArr, "double[]")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.PqAdcScore$$.MODULE$$.score($v, $tabRef, $k)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqAdcScore {
  private[functions] def score(codes: ArrayData, table: Array[Double], k: Int): Double = {
    val n = math.min(table.length / k, codes.numElements())
    var acc = 0.0
    var s = 0
    while (s < n) {
      val code = codes.getInt(s)
      if (code >= 0 && code < k) acc += table(s * k + code)
      s += 1
    }
    acc
  }
}

/** Symmetric int8 scalar-quantization scale of a vector: `max|v_i| / 127`
  * in double. Zero for the all-zero vector (callers treat scale 0 as "all
  * codes 0"). One codegen loop; float inputs widen exactly to double.
  *
  * Why per-vector (not per-corpus) scale: the scale rides next to the
  * codes as ONE double, quantization needs no corpus-wide statistics
  * pass, and the operator stays embarrassingly parallel — the property
  * that makes int8 compression free at 100 TB. */
case class Int8Scale(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType

  private def isFloat = VectorInput.floatElems(child.dataType).contains(true)

  override def checkInputDataTypes(): TypeCheckResult = VectorInput.check(
    VectorInput.floatElems(child.dataType).isDefined,
    s"Int8Scale needs array<float|double>, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    Int8Scale.scale(input.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.Int8Scale$$.MODULE$$.scale($v, $isFloat)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Int8Scale {
  private[functions] def scale(v: ArrayData, isFloat: Boolean): Double = {
    val n = v.numElements()
    var m = 0.0
    var i = 0
    while (i < n) {
      val x = math.abs(VectorInput.get(v, i, isFloat))
      if (x > m) m = x
      i += 1
    }
    m / 127.0
  }
}

/** Int8 codes of a vector given its quantization scale:
  * `clamp(round(v_i / scale), ±127)` as `array<tinyint>` — 4× smaller
  * than the float vector it replaces. Scale 0 (the all-zero vector)
  * yields all-zero codes, never a division by zero.
  *
  * Rounding is half-AWAY-FROM-ZERO — the semantics of both Spark SQL
  * `round` (BigDecimal HALF_UP) and DuckDB `round`, so the codes replay
  * exactly in an ANSI-SQL oracle. (The `floor(x+0.5)` form can disagree
  * with true half-away only when `v/scale` lands within half an ulp of a
  * `k+0.5` boundary — the same accepted 1-ulp class as the documented
  * ccnetBuckets tertile note; the fixture pin makes a silent flip
  * impossible.) The clamp exists because `maxabs/scale` can exceed 127 by
  * a rounding ulp, and 128 must saturate, not wrap to −128. */
case class Int8Codes(left: Expression, right: Expression)
    extends BinaryExpression {
  import org.apache.spark.sql.types.ByteType

  override def dataType: DataType = ArrayType(ByteType, containsNull = false)

  private def isFloat = VectorInput.floatElems(left.dataType).contains(true)

  override def checkInputDataTypes(): TypeCheckResult = VectorInput.check(
    VectorInput.floatElems(left.dataType).isDefined && right.dataType == DoubleType,
    s"Int8Codes needs (array<float|double>, double), got " +
      s"${left.dataType} / ${right.dataType}")

  override def nullSafeEval(a: Any, b: Any): Any =
    Int8Codes.codes(a.asInstanceOf[ArrayData], b.asInstanceOf[Double], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, scale) =>
      s"graft.functions.Int8Codes$$.MODULE$$.codes($v, $scale, $isFloat)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object Int8Codes {
  private[functions] def codes(v: ArrayData, scale: Double, isFloat: Boolean): ArrayData = {
    val n = v.numElements()
    val out = new Array[Byte](n)
    if (scale != 0.0) {
      var i = 0
      while (i < n) {
        val x = VectorInput.get(v, i, isFloat) / scale
        val r = if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)
        out(i) = math.max(-127.0, math.min(127.0, r)).toByte
        i += 1
      }
    }
    new GenericArrayData(out)
  }
}

/** Exact integer dot product of two `array<tinyint>` code columns — the
  * int8 similarity kernel. Accumulates in long (127²·dim never
  * overflows); unequal lengths fold over the common prefix, mirroring
  * [[FloatVectorDot]]. Quantized cosine needs no scales:
  * `dot(qa,qb) / (‖qa‖·‖qb‖)` — the per-vector scales cancel. */
case class Int8Dot(left: Expression, right: Expression)
    extends BinaryExpression {
  import org.apache.spark.sql.types.{ByteType, LongType}

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(ByteType, _), ArrayType(ByteType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"Int8Dot needs two array<tinyint> args, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    Int8Dot.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"graft.functions.Int8Dot$$.MODULE$$.dot($x, $y)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object Int8Dot {
  private[functions] def dot(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += x.getByte(i).toLong * y.getByte(i).toLong
      i += 1
    }
    acc
  }
}

/** Int8 dot product against a FIXED query-code vector (the ANN serving
  * shape): the query rides as ONE referenced `byte[]`, not a literal
  * array column — same rationale as [[HyperplaneSignatures]]'s referenced
  * matrix (a per-element literal would bloat generated code, and Spark
  * `lit` has no `array<tinyint>` form at all — `Array[Byte]` literals
  * become BinaryType). */
case class Int8QueryDot(child: Expression, query: Seq[Byte])
    extends UnaryExpression {
  import org.apache.spark.sql.types.{ByteType, LongType}

  @transient private lazy val qArr: Array[Byte] = query.toArray

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(ByteType, _) if query.nonEmpty =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"Int8QueryDot needs array<tinyint> input and a nonempty query, " +
        s"got ${child.dataType}, ${query.size} query codes")
  }

  override def nullSafeEval(input: Any): Any =
    Int8QueryDot.dot(input.asInstanceOf[ArrayData], qArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val qRef = ctx.addReferenceObj("queryCodes", qArr, "byte[]")
    defineCodeGen(ctx, ev, v => s"graft.functions.Int8QueryDot$$.MODULE$$.dot($v, $qRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Int8QueryDot {
  private[functions] def dot(v: ArrayData, q: Array[Byte]): Long = {
    val n = math.min(q.length, v.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += v.getByte(i).toLong * q(i).toLong
      i += 1
    }
    acc
  }
}

object VectorExpressions {
  import org.apache.spark.sql.graft.ColumnBridge
  /** Column wrapper over the native dot product. */
  def fdot(a: Column, b: Column): Column =
    ColumnBridge.column(FloatVectorDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column wrapper: all LSH band signatures in one pass (array<long>,
    * one element per band of `planesPerBand` sign bits of dimension
    * `dim`). */
  def hyperplaneSigs(vec: Column, planes: Seq[Double], planesPerBand: Int,
                     dim: Int): Column =
    ColumnBridge.column(
      HyperplaneSignatures(ColumnBridge.expression(vec), planes, planesPerBand, dim))

  /** Column wrapper: IVF nearest-centroid cell id in one pass. */
  def nearestCentroid(vec: Column, centroids: Seq[Double], halfNorms: Seq[Double]): Column =
    ColumnBridge.column(
      NearestCentroid(ColumnBridge.expression(vec), centroids, halfNorms))

  /** Column wrapper: PQ subspace codes in one pass. */
  def pqEncode(vec: Column, codebooks: Seq[Double], m: Int, k: Int,
               normalize: Boolean): Column =
    ColumnBridge.column(
      PqEncode(ColumnBridge.expression(vec), codebooks, m, k, normalize))

  /** Column wrapper: ADC score of an `array<int>` code column. */
  def pqAdcScore(codes: Column, table: Seq[Double], k: Int): Column =
    ColumnBridge.column(PqAdcScore(ColumnBridge.expression(codes), table, k))

  /** Column wrapper: int8 quantization scale (`max|v|/127`). */
  def int8Scale(vec: Column): Column =
    ColumnBridge.column(Int8Scale(ColumnBridge.expression(vec)))

  /** Column wrapper: int8 codes given a scale column. */
  def int8Codes(vec: Column, scale: Column): Column =
    ColumnBridge.column(
      Int8Codes(ColumnBridge.expression(vec), ColumnBridge.expression(scale)))

  /** Column wrapper: exact integer dot of two code columns. */
  def int8Dot(a: Column, b: Column): Column =
    ColumnBridge.column(Int8Dot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column wrapper: int8 dot against a fixed query-code vector. */
  def int8QueryDot(codes: Column, query: Seq[Byte]): Column =
    ColumnBridge.column(Int8QueryDot(ColumnBridge.expression(codes), query))
}
