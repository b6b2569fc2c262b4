package graft.functions

import java.lang.reflect.Modifier
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenFallback, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** One eval-vs-codegen table over every native expression in
  * `graft.functions`: each runs interpreted (`expr.eval`, the
  * `ConvertToLocalRelation` / codegen-fallback path) and generated (a
  * compiled `UnsafeProjection`, the whole-stage path) on the same rows,
  * fed both as generic rows and as their unsafe copies, and the two
  * results must be equal — null and empty results included, doubles to
  * the bit. The rows cover float and double vectors, rows shorter and
  * longer than the declared dim, empty arrays, null elements, null
  * inputs and the int8 half-away ties. A new expression class without a
  * table entry fails the suite. */
class KernelCodegenSpec extends AnyFunSuite {

  private val strArr = ArrayType(StringType, containsNull = true)
  private val byteArr = ArrayType(ByteType, containsNull = true)
  private def vecType(float: Boolean) =
    ArrayType(if (float) FloatType else DoubleType, containsNull = true)
  private def in(i: Int, t: DataType) = BoundReference(i, t, nullable = true)

  private def strs(xs: String*): ArrayData = new GenericArrayData(
    xs.map(s => if (s == null) null else UTF8String.fromString(s)).toArray[Any])
  private def arr(xs: Any*): ArrayData = new GenericArrayData(xs.toArray)
  /** A vector as array<float> or array<double>; null stays null. */
  private def vec(float: Boolean)(xs: Any*): ArrayData = arr(xs.map {
    case null      => null
    case d: Double => if (float) d.toFloat: Any else d
  }: _*)

  private val tokenArrays: Seq[ArrayData] = Seq(
    strs("the", "quick", "the", "fox", "é", "中", "𝄞", "the"),
    strs("the", null, "a", null, "fox"),
    strs(null, null),
    strs("solo"), strs(), null)

  private val strings: Seq[UTF8String] =
    Seq("café naïve", "café naïve", "plain ascii", "𝄞ab", "a", "", null)
      .map(s => if (s == null) null else UTF8String.fromString(s))

  private val dim = 4
  /** Declared dim, shorter, longer, empty, null elements, null input. */
  private def vectors(float: Boolean): Seq[ArrayData] = Seq(
    vec(float)(0.5, -1.25, 2.0, 0.75),
    vec(float)(0.3, -0.2),
    vec(float)(0.1, 0.2, -0.3, 0.4, 9.0, -9.0),
    vec(float)(),
    vec(float)(1.0, null, -2.0, 3.0),
    vec(float)(0.0, 0.0, 0.0, 0.0),
    null)

  private val codeArrays: Seq[ArrayData] = Seq(
    arr(1.toByte, (-2).toByte, 3.toByte), arr(4.toByte, 5.toByte, (-6).toByte),
    arr(127.toByte, (-127).toByte), arr(1.toByte, null, 3.toByte), arr(), null)

  private def coefficients(n: Int, seed: Long): Seq[Double] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(rnd.nextGaussian())
  }

  private def rows1(xs: Seq[Any]): Seq[InternalRow] = xs.map(x => InternalRow(x))
  private def rows2(xs: Seq[Any], ys: Seq[Any]): Seq[InternalRow] =
    for (x <- xs; y <- ys) yield InternalRow(x, y)

  private val sketch: Array[Byte] = {
    val sk = KllDoublesSketch.newHeapInstance(200)
    (1 to 10).foreach(v => sk.update(v.toDouble))
    sk.toByteArray
  }

  /** Every expression with the rows it runs on. */
  private val table: Seq[(Expression, Seq[InternalRow])] = {
    val tokens = rows1(tokenArrays)
    val tokenPairs = rows2(tokenArrays, tokenArrays)
    val refSets = Seq(arr(strs("the", "the"), strs("fox", "quick", "a")),
      arr(strs("é"), null, strs()), arr(), null)
    val books = coefficients(2 * 3 * 2, 7L) // m=2, k=3, dsub=2
    val cents = coefficients(3 * dim, 5L)
    val halfNorms = cents.grouped(dim).map(c => c.map(x => x * x).sum / 2).toSeq
    val codes = rows1(Seq(arr(1, 2), arr(0, 99), arr(-1, 1), arr(2), arr(0, null),
      arr(), null))
    val vectorExprs = Seq(true, false).flatMap { f =>
      val v = in(0, vecType(f))
      val ties = vec(f)(0.5, -0.5, 2.5, -2.5, 1.5, -1.5, 200.0, -200.0)
      val vs = rows1(vectors(f))
      Seq(
        HyperplaneSignatures(v, coefficients(2 * 3 * dim, 3L), 3, dim) -> vs,
        NearestCentroid(v, cents, halfNorms) -> vs,
        PqEncode(v, books, 2, 3, normalize = true) -> vs,
        PqEncode(v, books, 2, 3, normalize = false) -> vs,
        Int8Scale(v) -> vs,
        Int8Codes(v, in(1, DoubleType)) ->
          (rows2(vectors(f), Seq(1.0 / 127.0, 0.0, 0.3, null)) ++
            rows2(Seq(ties), Seq(1.0, 1.0 / 127.0))))
    }
    val dots = for (lf <- Seq(true, false); rf <- Seq(true, false)) yield
      FloatVectorDot(in(0, vecType(lf)), in(1, vecType(rf))) ->
        rows2(vectors(lf), vectors(rf))
    Seq(
      ArrayCountInSet(in(0, strArr), Seq("the", "a", "é")) -> tokens,
      ArrayStringLenSum(in(0, strArr)) -> tokens,
      NfcNormalize(in(0, StringType)) -> rows1(strings),
      HashingVector(in(0, strArr), 16) -> tokens,
      DsirWeight(in(0, strArr), coefficients(16, 11L).map(math.abs).toArray) -> tokens,
      BigramArray(in(0, strArr)) -> tokens,
      DsirBuckets(in(0, strArr), 16) -> tokens,
      LcsTokenLength(in(0, strArr), in(1, strArr)) -> tokenPairs,
      TokenEditDistance(in(0, strArr), in(1, strArr)) -> tokenPairs,
      ClippedOverlapCount(in(0, strArr), in(1, strArr)) -> tokenPairs,
      ClippedOverlapMaxCount(in(0, strArr), in(1, ArrayType(strArr))) ->
        rows2(tokenArrays, refSets),
      CharNgrams(in(0, StringType), 1) -> rows1(strings),
      CharNgrams(in(0, StringType), 3) -> rows1(strings),
      TokenNgrams(in(0, strArr), 1) -> tokens,
      TokenNgrams(in(0, strArr), 3) -> tokens,
      PqAdcScore(in(0, ArrayType(IntegerType)), Seq(0.5, 0.25, 0.125, 1.0, 2.0, 4.0), 3) ->
        codes,
      Int8Dot(in(0, byteArr), in(1, byteArr)) -> rows2(codeArrays, codeArrays),
      Int8QueryDot(in(0, byteArr), Seq[Byte](4, 5, -6)) -> rows1(codeArrays),
      KllRank(in(0, BinaryType), in(1, DoubleType)) ->
        rows2(Seq(sketch, null), Seq(3.0, 0.5, 10.0, null))
    ) ++ dots ++ vectorExprs
  }

  /** Scala value with every double as its bit pattern (NaN-safe,
    * signed-zero-exact). */
  private def norm(v: Any): Any = v match {
    case d: Double => ("bits", java.lang.Double.doubleToRawLongBits(d))
    case s: scala.collection.Seq[_] => s.map(norm).toList
    case a: Array[_] => a.toList.map(norm)
    case other => other
  }

  test("eval and generated code agree for every native expression") {
    table.foreach { case (e, rows) =>
      assert(!e.isInstanceOf[CodegenFallback], s"${e.nodeName} falls back")
      assert(e.checkInputDataTypes().isSuccess, e.toString)
      // generate directly: UnsafeProjection.create would quietly fall
      // back to interpretation if the generated code failed to compile
      val gen = GenerateUnsafeProjection.generate(Seq(e))
      val refs = e.collect { case b: BoundReference => b }.distinct.sortBy(_.ordinal)
      val unsafeInput = UnsafeProjection.create(refs)
      for (row <- rows; input <- Seq(row, unsafeInput(row).copy())) {
        val interpreted = CatalystTypeConverters.convertToScala(e.eval(input), e.dataType)
        val out = gen(input)
        val generated = if (out.isNullAt(0)) null
          else CatalystTypeConverters.convertToScala(out.get(0, e.dataType), e.dataType)
        assert(norm(generated) === norm(interpreted),
          s"${e.nodeName} on ${refs.map(r => CatalystTypeConverters
            .convertToScala(row.get(r.ordinal, r.dataType), r.dataType))}")
      }
    }
  }

  test("type-check failures keep their texts") {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure
    val str = in(0, StringType)
    val f = in(0, vecType(true))
    val one = "needs array<string>, got StringType"
    val two = "needs two array<string> inputs, got (StringType, ArrayType(StringType,true))"
    val cases: Seq[(Expression, String)] = Seq(
      ArrayCountInSet(str, Seq("a")) -> s"ArrayCountInSet $one",
      ArrayStringLenSum(str) -> s"ArrayStringLenSum $one",
      HashingVector(str, 4) -> s"HashingVector $one",
      DsirWeight(str, Array(1.0)) -> s"DsirWeight $one",
      BigramArray(str) -> s"BigramArray $one",
      DsirBuckets(str, 4) -> s"DsirBuckets $one",
      TokenNgrams(str, 2) -> s"TokenNgrams $one",
      LcsTokenLength(str, in(1, strArr)) -> s"LcsTokenLength $two",
      TokenEditDistance(str, in(1, strArr)) -> s"TokenEditDistance $two",
      ClippedOverlapCount(str, in(1, strArr)) -> s"ClippedOverlapCount $two",
      CharNgrams(in(0, strArr), 1) -> "CharNgrams needs string, got ArrayType(StringType,true)",
      FloatVectorDot(str, f) -> ("FloatVectorDot needs array<float|double> args, got " +
        "StringType / ArrayType(FloatType,true)"),
      HyperplaneSignatures(f, Seq(1.0, 2.0), 3, 4) -> ("HyperplaneSignatures needs " +
        "array<float|double> input and a plane matrix divisible into 1..64 planes per " +
        "band of dim > 0, got ArrayType(FloatType,true), 2 coefficients, 3 planes/band, dim 4"),
      NearestCentroid(str, Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0)) -> ("NearestCentroid needs " +
        "array<float|double> input and a non-empty centroid matrix divisible by 2 cells, " +
        "got StringType"),
      PqEncode(str, Seq(1.0, 2.0), 2, 3, normalize = true) -> ("PqEncode needs " +
        "array<float|double> input and a codebook tensor divisible into m=2 × k=3 codes, " +
        "got StringType, 2 coefficients"),
      Int8Scale(str) -> "Int8Scale needs array<float|double>, got StringType",
      Int8Codes(f, in(1, StringType)) -> ("Int8Codes needs (array<float|double>, double), " +
        "got ArrayType(FloatType,true) / StringType"))
    cases.foreach { case (e, msg) =>
      assert(e.checkInputDataTypes() === TypeCheckFailure(msg), e.nodeName)
    }
  }

  test("the table covers every expression class in graft.functions") {
    val dir = Paths.get(classOf[FloatVectorDot].getProtectionDomain
      .getCodeSource.getLocation.toURI).resolve("graft/functions")
    assert(Files.isDirectory(dir), s"compiled classes not found: $dir")
    val declared = Files.list(dir).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.endsWith(".class") && !n.contains("$"))
      .map(n => Class.forName(s"graft.functions.${n.stripSuffix(".class")}"))
      .filter(c => classOf[Expression].isAssignableFrom(c) &&
        !c.isInterface && !Modifier.isAbstract(c.getModifiers))
      .toSet
    assert(declared.size >= 23, declared)
    val covered = table.map(_._1.getClass).toSet
    assert((declared -- covered).isEmpty,
      s"no eval-vs-codegen rows for: ${(declared -- covered).map(_.getSimpleName)}")
  }

  test("generated code only calls kernels: no hand-built Java in graft.functions") {
    val root = Paths.get("src/main/scala/graft/functions")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val offenders = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("freshName(") || line.contains(".stripMargin") =>
            s"${root.relativize(p: Path)}:${i + 1}"
        }
      }.toSeq
    assert(offenders.isEmpty,
      "doGenCode must emit one call to the expression's Scala kernel, not a " +
        s"Java loop body: ${offenders.mkString(", ")}")
  }
}
