package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.util.Random

/** Integer EWMA smoothing + spike flags ([[Timeseries]]) against a
  * driver-side fold. */
class TimeseriesSpec extends SparkSpec {
  import spark.implicits._

  private def model(series: Seq[(Long, Long)], factor: Long)
      : Seq[(Long, Long, Option[Long], Boolean)] = {
    var e: Option[Long] = None
    series.sortBy(_._1).map { case (b, n) =>
      val prev = e
      e = Some(prev.fold(n)(p => (p + n) / 2))
      (b, n, prev, prev.exists(p => n > factor * p))
    }
  }

  test("ewmaAnomalies equals the sequential integer fold per key") {
    val rnd = new Random(55)
    val counts = for (k <- 0L until 6L; b <- 0L until 30L if rnd.nextInt(10) > 1)
      yield (k, b, rnd.nextInt(100).toLong + 1L)
    val got = Timeseries.ewmaAnomalies(
        counts.toDF("k", "bucket", "n"), "k", "bucket", "n")
      .as[(Long, Long, Long, Option[Long], Option[Boolean])]
      .collect().toSeq
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(r => (r._2, r._3, r._4,
        r._5.getOrElse(false)))).toMap
    val want = counts.groupBy(_._1).view
      .mapValues(s => model(s.map(x => (x._2, x._3)), 3L)).toMap
    assert(got.keySet === want.keySet)
    got.keySet.foreach(k => assert(got(k) === want(k), s"key $k"))
  }

  test("a genuine spike flags against the PRIOR level, first bucket never flags") {
    val counts = Seq(
      (1L, 0L, 10L), (1L, 1L, 12L), (1L, 2L, 100L), // spike at bucket 2
      (1L, 3L, 12L))                                // post-spike, vs raised level
    val got = Timeseries.ewmaAnomalies(
        counts.toDF("k", "bucket", "n"), "k", "bucket", "n")
      .orderBy(col("bucket"))
      .as[(Long, Long, Long, Option[Long], Option[Boolean])]
      .collect().toSeq
    // E: 10, (10+12)/2=11, (11+100)/2=55, (55+12)/2=33
    assert(got.map(_._4) === Seq(None, Some(10L), Some(11L), Some(55L)))
    assert(got.map(_._5) === Seq(None, Some(false), Some(true), Some(false)))
  }

  test("rollingQuantileSketch rank error stays inside the band") {
    val rnd = new Random(91)
    // two buckets, window 2: bucket-1's window merges both sketches;
    // 8000 values per bucket forces real compaction
    val events = (0 until 16000).map { i =>
      (rnd.nextDouble() * 1000.0, (i % 2).toLong * 10L)
    }
    val est = Timeseries.rollingQuantileSketch(
        events.toDF("value", "tn"), "value", "tn",
        bucketNanos = 10L, windowBuckets = 2, q = 0.95)
      .as[(Long, Double)].collect().toMap
    assert(est.keySet === Set(0L, 1L))
    def rankOf(vals: Seq[Double], x: Double): Double =
      vals.count(_ <= x).toDouble / vals.size
    val b0 = events.filter(_._2 == 0L).map(_._1)
    val all = events.map(_._1)
    assert(math.abs(rankOf(b0, est(0L)) - 0.95) <= 0.04,
      s"bucket-0 rank ${rankOf(b0, est(0L))}")
    assert(math.abs(rankOf(all, est(1L)) - 0.95) <= 0.04,
      s"window rank ${rankOf(all, est(1L))}")
  }

  test("rollingQuantileSketch is the exact order statistic below capacity") {
    // 50 values < k=200: no compaction, the sketch retains everything
    val events = (1 to 50).map(i => (i.toDouble, 0L))
    val est = Timeseries.rollingQuantileSketch(
        events.toDF("value", "tn"), "value", "tn",
        bucketNanos = 10L, windowBuckets = 1, q = 0.5)
      .as[(Long, Double)].collect().toMap
    // exact-mode median of 1..50 under either rank convention
    assert(est(0L) === 25.0 || est(0L) === 26.0, s"got ${est(0L)}")
  }

  test("bucketCounts uses FLOOR-division bucketing (calendar-aligned)") {
    val events = Seq((1L, 999L), (1L, 1000L), (1L, 1999L), (2L, 0L))
      .toDF("k", "tn")
    val got = Timeseries.bucketCounts(events, "k", "tn", bucketNanos = 1000L)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 0L, 1L), (1L, 1L, 2L), (2L, 0L, 1L)))
    // pre-epoch timestamps floor DOWN (plain `div` would truncate
    // -1..-999 into bucket 0, merging the day before epoch into day 0;
    // DuckDB's integer `//` truncates too, so the oracles additionally
    // assume non-negative timestamps — see floorDivExpr's doc)
    val neg = Seq((1L, -1L), (1L, -1000L), (1L, -1001L), (1L, 1L))
      .toDF("k", "tn")
    val gotNeg = Timeseries.bucketCounts(neg, "k", "tn", bucketNanos = 1000L)
      .as[(Long, Long, Long)].collect().toSet
    assert(gotNeg === Set((1L, -1L, 2L), (1L, -2L, 1L), (1L, 0L, 1L)))
  }

  /** The documented Holt fold, replayed sequentially (truncating /). */
  private def modelHolt(series: Seq[(Long, Long)], factorDeci: Long)
      : Seq[(Long, Long, Option[Long], Option[Boolean])] = {
    var lt: Option[(Long, Long)] = None
    series.sortBy(_._1).map { case (b, n) =>
      val f = lt.map { case (l, t) => l + t }
      lt = Some(lt.fold((n, 0L)) { case (l, t) =>
        val ln = (n + l + t) / 2 // Long / truncates toward zero, like div
        (ln, (ln - l + t) / 2)
      })
      (b, n, f, f.map(fv => (n - fv).abs * 10L > factorDeci * math.max(fv.abs, 1L)))
    }
  }

  test("holtAnomalies equals the sequential (level, trend) fold per key") {
    val rnd = new Random(99)
    val counts = for (k <- 0L until 5L; b <- 0L until 40L if rnd.nextInt(10) > 1)
      yield (k, b, rnd.nextInt(200).toLong)
    val got = Timeseries.holtAnomalies(
        counts.toDF("k", "bucket", "n"), "k", "bucket", "n")
      .as[(Long, Long, Long, Option[Long], Option[Boolean])]
      .collect().toSeq
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(r => (r._2, r._3, r._4, r._5))).toMap
    val want = counts.groupBy(_._1).view
      .mapValues(s => modelHolt(s.map(x => (x._2, x._3)), 20L)).toMap
    assert(got.keySet === want.keySet)
    got.keySet.foreach(k => assert(got(k) === want(k), s"key $k"))
  }

  test("holt tracks a linear ramp the flat EWMA would false-flag") {
    // doubling-ish growth 10,20,30..90: the trend term keeps forecasts
    // near the actual, so nothing flags at 2× deviation
    val ramp = (0L until 9L).map(b => (1L, b, 10L * (b + 1)))
    val holt = Timeseries.holtAnomalies(
        ramp.toDF("k", "bucket", "n"), "k", "bucket", "n")
      .as[(Long, Long, Long, Option[Long], Option[Boolean])]
      .collect().toSeq.sortBy(_._2)
    assert(holt.flatMap(_._5).forall(_ == false))
    // the late forecasts stay within 40% of the actual (trend absorbed)
    val tail = holt.drop(4).flatMap(r => r._4.map(f => (r._3, f)))
    assert(tail.forall { case (n, f) => (n - f).abs * 10 <= 4 * n })
    // a jump off the learned trend line flags: 400 against the forecast
    // 100 is a 3.0× deviation, past the 2.0× threshold
    val stop = ramp ++ Seq((1L, 9L, 400L))
    val last = Timeseries.holtAnomalies(
        stop.toDF("k", "bucket", "n"), "k", "bucket", "n")
      .where(col("bucket") === 9L)
      .as[(Long, Long, Long, Option[Long], Option[Boolean])]
      .collect().head
    assert(last._4 === Some(100L)) // forecast carried the trend: 90 + 10
    assert(last._5 === Some(true))
  }

  test("zeroFill reinstates absent buckets as n=0 within each key's span") {
    val counts = Seq((1L, 3L, 10L), (1L, 6L, 7L), (2L, 5L, 1L))
      .toDF("k", "bucket", "n")
    val got = Timeseries.zeroFill(counts, "k", "bucket", "n")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set(
      (1L, 3L, 10L), (1L, 4L, 0L), (1L, 5L, 0L), (1L, 6L, 7L),
      (2L, 5L, 1L)))
  }

  test("zeroFill fails loudly on duplicate (key, bucket) rows") {
    val dup = Seq((1L, 3L, 10L), (1L, 3L, 4L)).toDF("k", "bucket", "n")
    val e = quietTaskFailures(intercept[Exception] {
      Timeseries.zeroFill(dup, "k", "bucket", "n").collect()
    })
    assert(e.getMessage.toLowerCase.contains("duplicate"))
  }

  test("ewmaAnomaliesSigned flags the outage: zero-filled silent bucket dips") {
    // hand-checked: counts 10, 12, (missing), 11 → zeroFill inserts b2=0
    // E: 10, (10+12)/2=11, (11+0)/2=5, …; dip at b2: 0 < 11 div 3 = 3
    val counts = Seq((1L, 0L, 10L), (1L, 1L, 12L), (1L, 3L, 11L))
      .toDF("k", "bucket", "n")
    val got = Timeseries.ewmaAnomaliesSigned(
        Timeseries.zeroFill(counts, "k", "bucket", "n"),
        "k", "bucket", "n")
      .orderBy(col("bucket"))
      .as[(Long, Long, Long, Option[Long], Option[Boolean], Option[Boolean])]
      .collect().toSeq
    assert(got.map(_._4) === Seq(None, Some(10L), Some(11L), Some(5L)))
    assert(got.map(_._6) === Seq(None, Some(false), Some(true), Some(false)))
    // spike verdicts agree with the unsigned operator on the same input
    assert(got.map(_._5) ===
      Timeseries.ewmaAnomalies(
          Timeseries.zeroFill(counts, "k", "bucket", "n"),
          "k", "bucket", "n")
        .orderBy(col("bucket"))
        .as[(Long, Long, Long, Option[Long], Option[Boolean])]
        .collect().toSeq.map(_._5))
  }

  test("ewmaAnomaliesSigned: a collapse (not just zero) dips; recovery clears") {
    // 100, 90, 10 (collapse), 95: E = 100, 95, 52; dip at b2 (10 < 95//3
    // = 31), cleared at b3 (95 > 52//3); b3 is ALSO not a spike
    val counts = Seq((1L, 0L, 100L), (1L, 1L, 90L), (1L, 2L, 10L),
      (1L, 3L, 95L)).toDF("k", "bucket", "n")
    val got = Timeseries.ewmaAnomaliesSigned(counts, "k", "bucket", "n")
      .orderBy(col("bucket"))
      .as[(Long, Long, Long, Option[Long], Option[Boolean], Option[Boolean])]
      .collect().toSeq
    assert(got.map(_._6) === Seq(None, Some(false), Some(true), Some(false)))
    assert(got.map(_._5) === Seq(None, Some(false), Some(false), Some(false)))
  }

  test("cusum: a small persistent up-shift accumulates to the threshold") {
    // each 14 is inside the 3× spike band, but +3/bucket accumulates:
    // μ=10, slack 1 → S⁺ = 0,0,3,6,9 — crosses 5 at the SECOND shifted
    // bucket
    val counts = Seq((1L, 10L), (2L, 11L), (3L, 9L), (4L, 10L), (5L, 10L),
      (6L, 14L), (7L, 14L), (8L, 14L))
      .map { case (b, n) => ("a", b, n) }.toDF("k", "bucket", "n")
    val got = Timeseries.cusumShifts(counts, "k", "bucket", "n",
        warmup = 3, slack = 1L, threshold = 5L)
      .orderBy(col("bucket"))
      .as[(String, Long, Long, Option[Long], Option[Long], Option[Long],
        Option[Boolean], Option[Boolean])].collect().toSeq
    assert(got.map(_._4).forall(_ === Some(10L))) // μ on every row
    assert(got.map(_._5) === Seq(None, None, None, Some(0L), Some(0L),
      Some(3L), Some(6L), Some(9L)))
    assert(got.map(_._7) === Seq(None, None, None, Some(false), Some(false),
      Some(false), Some(true), Some(true)))
    assert(got.flatMap(_._8).forall(!_)) // no downward verdicts
  }

  test("cusum: a collapse drives the one-sided lower sum") {
    val counts = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 4L), (5L, 4L),
      (6L, 4L)).map { case (b, n) => ("b", b, n) }.toDF("k", "bucket", "n")
    val got = Timeseries.cusumShifts(counts, "k", "bucket", "n",
        warmup = 3, slack = 1L, threshold = 5L)
      .orderBy(col("bucket"))
      .as[(String, Long, Long, Option[Long], Option[Long], Option[Long],
        Option[Boolean], Option[Boolean])].collect().toSeq
    assert(got.map(_._6) === Seq(None, None, None, Some(5L), Some(10L),
      Some(15L)))
    assert(got.map(_._8) === Seq(None, None, None, Some(false), Some(true),
      Some(true)))
  }

  test("cusum: a key shorter than the warmup gets no reference and no verdicts") {
    val counts = Seq(("c", 1L, 7L), ("c", 2L, 8L)).toDF("k", "bucket", "n")
    val got = Timeseries.cusumShifts(counts, "k", "bucket", "n",
        warmup = 3, slack = 1L, threshold = 5L)
      .as[(String, Long, Long, Option[Long], Option[Long], Option[Long],
        Option[Boolean], Option[Boolean])].collect().toSeq
    assert(got.forall(r => r._4.isEmpty && r._5.isEmpty && r._7.isEmpty))
  }

  test("autocorr: periodic, anti-phase, constant, and the double model") {
    def series(key: String, xs: Seq[Long]) =
      xs.zipWithIndex.map { case (x, b) => (key, b.toLong, x) }
    // p2: exact period 2 over an even horizon → lag-2 ACF tends to 1;
    // anti: alternating at lag 1 is negative; flat: zero variance
    val data =
      series("p2", Seq.fill(6)(Seq(10L, 2L)).flatten) ++
        series("anti", Seq.fill(6)(Seq(10L, 2L)).flatten) ++
        series("flat", Seq.fill(8)(5L))
    val df = data.toDF("k", "bucket", "n")
    val byKey = (lag: Int) => Timeseries.autocorr(df, "k", "bucket", "n", lag)
      .as[(String, Long, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> r).toMap
    val at2 = byKey(2)
    // lag-2 pairs of a period-2 series correlate perfectly on the
    // matched subset: num/den < 1 only because den spans ALL buckets
    assert(at2("p2")._5.get > 800L)
    assert(at2("flat")._5 === None && at2("flat")._4 === 0L)
    val at1 = byKey(1)
    assert(at1("anti")._5.get < -800L)
    // double-precision model agreement (within integer rounding): the
    // same truncated-ACF definition evaluated in floating point
    val rnd = new scala.util.Random(5)
    val xs = (0 until 40).map(_ => rnd.nextInt(100).toLong)
    val got = Timeseries.autocorr(
        series("r", xs).toDF("k", "bucket", "n"), "k", "bucket", "n", 7)
      .as[(String, Long, Long, Long, Option[Long])].head()
    val mu = xs.sum.toDouble / xs.size
    val num = (0 until 33).map(t => (xs(t) - mu) * (xs(t + 7) - mu)).sum
    val den = xs.map(x => (x - mu) * (x - mu)).sum
    val model = num / den * 1000.0
    assert(math.abs(got._5.get - model) <= 2.0,
      s"integer ACF ${got._5.get} vs double model $model")
  }
}
