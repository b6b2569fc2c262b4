package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench artifact's compact per-query encoding: the ONLY per-query
  * record that survives the driver's ~2000-char tail capture whole, so
  * its invariants are load-bearing for cross-round regression diffs.
  * Pure JVM — no Spark session. */
class BenchQmsSpec extends AnyFunSuite {

  private def parse(lines: Seq[String]): Map[Int, Option[Long]] =
    lines.flatMap { ln =>
      val lo = """"lo":(\d+)""".r.findFirstMatchIn(ln).get.group(1).toInt
      val vs = """"v":\[([^\]]*)\]""".r.findFirstMatchIn(ln).get.group(1)
        .split(",").toSeq
      vs.zipWithIndex.map { case (v, i) =>
        (lo + i) -> (if (v == "null") None else Some(v.toLong)) }
    }.toMap

  test("every query lands exactly once at ms precision; errors are null; " +
      "all 227-style maps fit the tail budget") {
    val results: Map[String, Either[String, Double]] =
      (1 to 227).map { n =>
        val name = f"q$n%02d_op$n"
        name -> (if (n % 50 == 0) Left("Boom"): Either[String, Double]
                 else Right(n * 0.0137))
      }.toMap
    val lines = Bench.qmsLines(results)
    assert(lines.forall(_.startsWith("""{"metric":"qms"""")))
    // chunked: every line stays far inside the 2000-char window even
    // together with the errors/total lines (~250 chars)
    assert(lines.map(_.length).sum <= 1700, s"${lines.map(_.length)}")
    assert(lines.forall(_.length <= 700))
    val got = parse(lines)
    assert(got.keySet === (1 to 227).toSet)
    (1 to 227).foreach { n =>
      if (n % 50 == 0) assert(got(n).isEmpty, s"q$n")
      else assert(got(n) === Some(math.round(n * 13.7)), s"q$n")
    }
  }

  test("numbering gaps emit null (parseable), never shift positions") {
    val results: Map[String, Either[String, Double]] = Map(
      "q01_a" -> Right(0.1), "q03_c" -> Right(0.3), "q05_e" -> Right(0.5))
    val got = parse(Bench.qmsLines(results))
    assert(got === Map(1 -> Some(100L), 2 -> None, 3 -> Some(300L),
      4 -> None, 5 -> Some(500L)))
  }

  test("an outlier number gets its own small chunk — a gap never " +
      "inflates one line past the tail window") {
    val results: Map[String, Either[String, Double]] =
      ((1 to 227).map(n => f"q$n%02d_x" -> (Right(0.5): Either[String, Double]))
        :+ ("q900_outlier" -> (Right(1.0): Either[String, Double]))).toMap
    val lines = Bench.qmsLines(results)
    assert(lines.forall(_.length <= 700), s"${lines.map(_.length)}")
    val got = parse(lines)
    assert(got.size >= 228 && got(900) === Some(1000L) && got(227) === Some(500L))
  }

  test("unnumbered or colliding names fall back to one loud skip line") {
    assert(Bench.qmsLines(Map("total_agg" -> Right(1.0)))
      === Seq("""{"metric":"qms_skipped","reason":"non-unique or unnumbered query names"}"""))
    assert(Bench.qmsLines(Map("q07_a" -> Right(1.0), "q07_b" -> Right(2.0)))
      .head.contains("qms_skipped"))
  }

  test("quote escapes quotes, backslashes and control chars into one JSON line") {
    assert(Bench.quote("a\"b\\c\nd\te\u0001f") === "\"a\\\"b\\\\c\\nd\\te\\u0001f\"")
    assert(Bench.quote("") === "\"\"")
  }
}
