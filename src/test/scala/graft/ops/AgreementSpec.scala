package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class AgreementSpec extends SparkSpec {
  import spark.implicits._

  private def fleiss(rows: Seq[(String, String, String)]) =
    Agreement.fleissKappa(rows.toDF("item", "rater", "label"),
        "item", "rater", "label")
      .as[(Long, Long, Long, Long, Long, Option[Long])].head()

  test("fleissKappa hand-computed: 4 items, 3 raters, 3 categories") {
    // i1 aaa, i2 aab, i3 bbb, i4 abc:
    // A = 9+5+9+3 = 26, NR = 12, C = (6,5,1), ΣC² = 62
    // X = (26−12)·12 − 2·62 = 44 ; Y = 2·(144−62) = 164 ; κ = 11/41
    val rows = Seq(
      ("i1", "r1", "a"), ("i1", "r2", "a"), ("i1", "r3", "a"),
      ("i2", "r1", "a"), ("i2", "r2", "a"), ("i2", "r3", "b"),
      ("i3", "r1", "b"), ("i3", "r2", "b"), ("i3", "r3", "b"),
      ("i4", "r1", "a"), ("i4", "r2", "b"), ("i4", "r3", "c"))
    val (n, r, k, num, den, micro) = fleiss(rows)
    assert(n === 4L && r === 3L && k === 3L)
    assert(num === 44L && den === 164L)
    assert(micro === Some(268292L)) // floor(11/41 · 10⁶)
  }

  test("fleissKappa: perfect agreement over 2 categories is exactly 1") {
    val rows = for {
      (i, l) <- Seq("i1" -> "a", "i2" -> "a", "i3" -> "b", "i4" -> "b")
      r <- Seq("r1", "r2", "r3")
    } yield (i, r, l)
    assert(fleiss(rows)._6 === Some(1000000L))
  }

  test("fleissKappa: total two-rater disagreement is exactly −1") {
    val rows = Seq(
      ("i1", "r1", "a"), ("i1", "r2", "b"),
      ("i2", "r1", "a"), ("i2", "r2", "b"))
    assert(fleiss(rows)._6 === Some(-1000000L))
  }

  test("fleissKappa: single used category → chance = 1 → NULL, not 0") {
    val rows = for (i <- Seq("i1", "i2"); r <- Seq("r1", "r2"))
      yield (i, r, "only")
    val (_, _, k, _, den, micro) = fleiss(rows)
    assert(k === 1L && den === 0L && micro === None)
  }

  test("fleissKappa misuse fails loudly: unequal raters, dup pair, null label") {
    val unequal = Seq(("i1", "r1", "a"), ("i1", "r2", "a"), ("i2", "r1", "a"))
    val e1 = quietTaskFailures(intercept[Exception] { fleiss(unequal) })
    assert(e1.getMessage.contains("constant rater count"))
    val dup = Seq(("i1", "r1", "a"), ("i1", "r1", "b"),
      ("i2", "r1", "a"), ("i2", "r2", "b"))
    val e2 = quietTaskFailures(intercept[Exception] { fleiss(dup) })
    assert(e2.getMessage.contains("duplicate"))
    val e3 = quietTaskFailures(intercept[Exception] {
      Agreement.fleissKappa(
        Seq(("i1", "r1", null.asInstanceOf[String]),
          ("i1", "r2", "a")).toDF("item", "rater", "label"),
        "item", "rater", "label").collect()
    })
    assert(e3.getMessage.contains("null label"))
  }

  private def cohen(rows: Seq[(String, String)]) =
    Agreement.cohenKappa(rows.toDF("la", "lb"), "la", "lb")
      .as[(Long, Long, Long, Long, Long, Option[Long])].head()

  test("cohenKappa hand-computed: 6 items, 3 categories") {
    // agree 4/6; Ca = Cb = (3,2,1) → pe_num 14
    // num = 24−14 = 10, den = 36−14 = 22 → κ = 5/11
    val rows = Seq(("a", "a"), ("a", "a"), ("b", "b"),
      ("a", "b"), ("b", "a"), ("c", "c"))
    val (n, agree, pe, num, den, micro) = cohen(rows)
    assert(n === 6L && agree === 4L && pe === 14L)
    assert(num === 10L && den === 22L)
    assert(micro === Some(454545L))
  }

  test("cohenKappa: anti-correlated binary raters reach −1") {
    val rows = Seq(("a", "b"), ("b", "a"), ("a", "b"), ("b", "a"))
    assert(cohen(rows)._6 === Some(-1000000L))
  }

  test("cohenKappa: disjoint label vocabularies → pe 0, κ = agreement") {
    // raters never use the same label: pe_num = 0, agree 0 → κ = 0
    val rows = Seq(("a", "x"), ("b", "y"), ("a", "y"))
    val (_, agree, pe, _, _, micro) = cohen(rows)
    assert(agree === 0L && pe === 0L && micro === Some(0L))
  }

  test("cohenKappa: both raters constant and identical → NULL") {
    val (_, _, _, _, den, micro) = cohen(Seq(("a", "a"), ("a", "a")))
    assert(den === 0L && micro === None)
  }

  test("annotatorReport: consensus agreement per rater, ties, guards") {
    val ann = Seq(
      ("i1", "a", "x"), ("i1", "b", "x"), ("i1", "c", "y"),
      ("i2", "a", "x"), ("i2", "b", "y"), ("i2", "c", "y"),
      ("i3", "a", "z"), ("i3", "b", "z")) // c missing: unequal counts OK
      .toDF("item", "rater", "label")
    val out = Agreement.annotatorReport(ann, "item", "rater", "label")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out("a") === ((3L, 2L, 666666L)))
    assert(out("b") === ((3L, 3L, 1000000L)))
    assert(out("c") === ((2L, 1L, 500000L)))
    // 1-1 tie resolves to the lexicographically smaller label
    val tie = Seq(("i1", "a", "x"), ("i1", "b", "y")).toDF("item", "rater", "label")
    val t = Agreement.annotatorReport(tie, "item", "rater", "label")
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(t("a") === 1L && t("b") === 0L)
    val dup = Seq(("i1", "a", "x"), ("i1", "a", "y")).toDF("item", "rater", "label")
    val e = quietTaskFailures(intercept[Exception] {
      Agreement.annotatorReport(dup, "item", "rater", "label").collect()
    })
    assert(e.getMessage.contains("duplicate (item, rater)"))
  }

  private def alpha(rows: Seq[(String, String, String)]) =
    Agreement.krippendorffAlpha(rows.toDF("item", "rater", "label"),
        "item", "rater", "label")
      .as[(Long, Long, Long, Long, Long, Option[Long])].head()

  test("krippendorffAlpha hand-computed on an incomplete design") {
    // i1 aa (2 raters), i2 ab (2), i3 bbb (3), i4 a (1 — DROPPED)
    // kept: n = 7; n_a = 3, n_b = 4 → Σn_c² = 25; de = 49−25 = 24
    // do_scaled = 10⁶·[(4−4)/1 + (4−2)/1 + (9−9)/2] = 2·10⁶
    // α = 1 − (6·2·10⁶)/24·10⁻⁶ = 1 − 1/2 = 0.5 exactly
    val rows = Seq(
      ("i1", "r1", "a"), ("i1", "r2", "a"),
      ("i2", "r1", "a"), ("i2", "r3", "b"),
      ("i3", "r1", "b"), ("i3", "r2", "b"), ("i3", "r3", "b"),
      ("i4", "r9", "a"))
    val (ni, n, k, doS, de, a) = alpha(rows)
    assert(ni === 3L && n === 7L && k === 2L)
    assert(doS === 2000000L && de === 24L)
    assert(a === Some(500000L))
  }

  test("krippendorffAlpha: perfect agreement is exactly 1; one used " +
      "category → chance undefined → NULL") {
    val perfect = Seq(
      ("i1", "r1", "a"), ("i1", "r2", "a"),
      ("i2", "r1", "b"), ("i2", "r2", "b"), ("i2", "r3", "b"))
    val (_, _, _, doS, _, a) = alpha(perfect)
    assert(doS === 0L && a === Some(1000000L))
    val oneCat = Seq(("i1", "r1", "x"), ("i1", "r2", "x"),
      ("i2", "r1", "x"), ("i2", "r2", "x"))
    val (_, _, k1, _, de1, a1) = alpha(oneCat)
    assert(k1 === 1L && de1 === 0L && a1 === None)
  }

  test("krippendorffAlpha: total two-rater disagreement on a balanced " +
      "binary table is −1") {
    // i1 ab, i2 ab: n=4, do_scaled = 2·2·10⁶·... per item (4−2)/1 → 2·10⁶ each
    // de = 16 − (4+4) = 8; α = 1 − 3·4·10⁶/8·10⁻⁶ = 1 − 1.5 = −0.5? No:
    // Krippendorff's α on two items of pure ab disagreement: D_o=1,
    // D_e = (n²−Σn_c²)/(n(n−1)) = 8/12 = 2/3 → α = 1 − 3/2 = −0.5.
    val rows = Seq(("i1", "r1", "a"), ("i1", "r2", "b"),
      ("i2", "r1", "a"), ("i2", "r2", "b"))
    assert(alpha(rows)._6 === Some(-500000L))
  }

  private def alphaI(rows: Seq[(String, String, Long)]) =
    Agreement.krippendorffAlphaInterval(rows.toDF("item", "rater", "v"),
        "item", "rater", "v")
      .as[(Long, Long, Long, Long, Long, Option[Long])].head()

  test("krippendorffAlphaInterval hand-computed: squared-distance " +
      "disagreement, closeness matters") {
    // i1 (1,2), i2 (1,5): A_1 = 2(2·5−9) = 2, A_2 = 2(2·26−36) = 32
    // n=4, ΣX=9, ΣX²=31 → de = 2(4·31−81) = 86
    // α = 1 − 3·34·10⁶/86·10⁻⁶ → 10⁶ − 1186046 = −186046
    val a = Seq(("i1", "r1", 1L), ("i1", "r2", 2L),
      ("i2", "r1", 1L), ("i2", "r2", 5L))
    val (ni, n, nv, doS, de, av) = alphaI(a)
    assert(ni === 2L && n === 4L && nv === 3L)
    assert(doS === 34000000L && de === 86L)
    assert(av === Some(-186046L))
    // the same disagreements at larger distance score strictly lower
    val worse = Seq(("i1", "r1", 1L), ("i1", "r2", 5L),
      ("i2", "r1", 1L), ("i2", "r2", 5L))
    assert(alphaI(worse)._6.get < av.get)
    // and the NOMINAL metric can't see the difference in 'a': it reads
    // both items as plain disagreement and scores below the interval α
    val nom = Agreement.krippendorffAlpha(
      a.map { case (i, r, v) => (i, r, v.toString) }
        .toDF("item", "rater", "label"), "item", "rater", "label")
      .as[(Long, Long, Long, Long, Long, Option[Long])].head()._6
    assert(nom === Some(-200000L) && av.get > nom.get)
  }

  test("krippendorffAlphaInterval: perfect agreement 10⁶, one value NULL, " +
      "misuse loud") {
    val perfect = Seq(("i1", "r1", 3L), ("i1", "r2", 3L),
      ("i2", "r1", 7L), ("i2", "r2", 7L))
    assert(alphaI(perfect)._6 === Some(1000000L))
    val one = Seq(("i1", "r1", 4L), ("i1", "r2", 4L))
    val (_, _, nv1, _, de1, a1) = alphaI(one)
    assert(nv1 === 1L && de1 === 0L && a1 === None)
    val dup = Seq(("i1", "r1", 1L), ("i1", "r1", 2L), ("i2", "r1", 1L),
      ("i2", "r2", 2L))
    val e1 = quietTaskFailures(intercept[Exception] {
      Agreement.krippendorffAlphaInterval(dup.toDF("item", "rater", "v"),
        "item", "rater", "v").select("alpha_micro").collect()
    })
    assert(e1.getMessage.contains("duplicate (item, rater)"))
    val e2 = quietTaskFailures(intercept[Exception] { alphaI(Seq(("i1", "r1", 1L))) })
    assert(e2.getMessage.contains("no item has 2 or more ratings"))
    val e3 = quietTaskFailures(intercept[Exception] {
      Agreement.krippendorffAlphaInterval(
        Seq(("i1", "r1", null.asInstanceOf[java.lang.Long]),
          ("i1", "r2", java.lang.Long.valueOf(1L)))
          .toDF("item", "rater", "v"),
        "item", "rater", "v").collect()
    })
    assert(e3.getMessage.contains("null value"))
  }

  private def alphaO(rows: Seq[(String, String, Long)]) =
    Agreement.krippendorffAlphaOrdinal(rows.toDF("item", "rater", "v"),
        "item", "rater", "v")
      .as[(Long, Long, Long, Long, Long, Option[Long])].head()

  test("krippendorffAlphaOrdinal: ordering sensitivity — ordinal sits " +
      "BETWEEN nominal and interval on a graded-disagreement fixture") {
    // adjacent disagreements (1,2)(2,3)(4,5) + one extreme (1,5):
    // nominal reads every pair as equally wrong (α = −0.12); interval's
    // equal spacing rewards the adjacent pairs most (α = +0.119);
    // ordinal's cumulative-marginal weights land in between (values
    // pinned against the python/DuckDB reference prototypes)
    val graded = Seq(
      ("i1", "r1", 1L), ("i1", "r2", 2L), ("i2", "r1", 2L), ("i2", "r2", 3L),
      ("i3", "r1", 4L), ("i3", "r2", 5L), ("i4", "r1", 1L), ("i4", "r2", 5L))
    val (ni, n, nv, doS, deS, a) = alphaO(graded)
    assert(ni === 4L && n === 8L && nv === 5L)
    assert(doS === 1390625000000L && deS === 10125000L)
    assert(a === Some(38581L))
    val nom = Agreement.krippendorffAlpha(
      graded.map { case (i, r, v) => (i, r, v.toString) }
        .toDF("item", "rater", "label"), "item", "rater", "label")
      .as[(Long, Long, Long, Long, Long, Option[Long])].head()._6
    val intv = alphaI(graded)._6
    assert(nom === Some(-120000L) && intv === Some(119206L))
    assert(nom.get < a.get && a.get < intv.get)
  }

  test("krippendorffAlphaOrdinal: adjacent-category disagreement scores " +
      "far above extreme disagreement (what nominal cannot see)") {
    val adj = Seq(
      ("i1", "r1", 1L), ("i1", "r2", 2L), ("i2", "r1", 1L), ("i2", "r2", 2L),
      ("i3", "r1", 4L), ("i3", "r2", 5L), ("i4", "r1", 4L), ("i4", "r2", 5L))
    val ext = Seq(
      ("i1", "r1", 1L), ("i1", "r2", 5L), ("i2", "r1", 1L), ("i2", "r2", 5L),
      ("i3", "r1", 1L), ("i3", "r2", 5L), ("i4", "r1", 1L), ("i4", "r2", 5L))
    assert(alphaO(adj)._6 === Some(650000L))
    // with exactly TWO used categories the single pair weight cancels in
    // D_o/D_e and ordinal coincides with nominal — a clean invariant pin
    assert(alphaO(ext)._6 === Some(-750000L))
  }

  test("krippendorffAlphaOrdinal: perfect agreement 10⁶; one value NULL; " +
      "misuse loud incl. the non-integral gate; guards survive pruning") {
    val perfect = Seq(("i1", "r1", 2L), ("i1", "r2", 2L),
      ("i2", "r1", 4L), ("i2", "r2", 4L))
    val (_, _, _, doP, deP, aP) = alphaO(perfect)
    assert(doP === 0L && deP === 2000000L && aP === Some(1000000L))
    val one = Seq(("i1", "r1", 3L), ("i1", "r2", 3L))
    val (_, _, nv1, _, de1, a1) = alphaO(one)
    assert(nv1 === 1L && de1 === 0L && a1 === None)
    val dup = Seq(("i1", "r1", 1L), ("i1", "r1", 2L),
      ("i2", "r1", 1L), ("i2", "r2", 2L))
    val e1 = quietTaskFailures(intercept[Exception] {
      Agreement.krippendorffAlphaOrdinal(dup.toDF("item", "rater", "v"),
        "item", "rater", "v").select("n_values").collect()
    })
    assert(e1.getMessage.contains("duplicate (item, rater)"))
    val e2 = quietTaskFailures(intercept[Exception] { alphaO(Seq(("i1", "r1", 1L))) })
    assert(e2.getMessage.contains("no item has 2 or more ratings"))
    val frac = Seq(("i1", "r1", 4.5), ("i1", "r2", 4.0))
      .toDF("item", "rater", "v")
    val e3 = quietTaskFailures(intercept[Exception] {
      Agreement.krippendorffAlphaOrdinal(frac, "item", "rater", "v").collect()
    })
    assert(e3.getMessage.contains("non-integral rating"))
  }

  private def alphaR(rows: Seq[(String, String, Long)]) =
    Agreement.krippendorffAlphaRatio(rows.toDF("item", "rater", "v"),
        "item", "rater", "v")
      .as[(Long, Long, Long, Long, Long, Option[Long])].head()

  test("krippendorffAlphaRatio: the ratio-scale signature — equal " +
      "RELATIVE errors score identically under scale permutation, " +
      "where interval α flips") {
    // (1 vs 2) and (10 vs 20) carry the same relative-distance weight
    // (1/3)², so swapping WHICH magnitude class disagrees leaves ratio
    // α unchanged; interval α (absolute distance) moves 997574→716554
    val mixA = Seq(("i1", "r1", 1L), ("i1", "r2", 2L),
      ("i2", "r1", 10L), ("i2", "r2", 10L),
      ("i3", "r1", 20L), ("i3", "r2", 20L))
    val mixB = Seq(("i1", "r1", 10L), ("i1", "r2", 20L),
      ("i2", "r1", 1L), ("i2", "r2", 1L),
      ("i3", "r1", 2L), ("i3", "r2", 2L))
    val (ni, n, nv, doS, deS, a) = alphaR(mixA)
    assert(ni === 3L && n === 6L && nv === 4L)
    assert(doS === 222221777778L && deS === 11518614L)
    assert(a === Some(903538L))
    assert(alphaR(mixB)._6 === Some(903538L))
    assert(alphaI(mixA)._6 === Some(997574L))
    assert(alphaI(mixB)._6 === Some(716554L))
  }

  test("krippendorffAlphaRatio: zero is a legitimate ratio value " +
      "(weight vs any positive is exactly 1 — the two-category nominal " +
      "invariant); perfect 10⁶; one value NULL; negatives loud") {
    // (0 vs 3) everywhere: single pair class, weight cancels → nominal
    val z = Seq(("i1", "r1", 0L), ("i1", "r2", 3L),
      ("i2", "r1", 0L), ("i2", "r2", 3L))
    assert(alphaR(z)._6 === Some(-500000L))
    val perfect = Seq(("i1", "r1", 2L), ("i1", "r2", 2L),
      ("i2", "r1", 4L), ("i2", "r2", 4L))
    val (_, _, _, doP, _, aP) = alphaR(perfect)
    assert(doP === 0L && aP === Some(1000000L))
    val one = Seq(("i1", "r1", 3L), ("i1", "r2", 3L))
    val (_, _, nv1, _, de1, a1) = alphaR(one)
    assert(nv1 === 1L && de1 === 0L && a1 === None)
    val neg = Seq(("i1", "r1", -1L), ("i1", "r2", 2L))
    val e1 = quietTaskFailures(intercept[Exception] { alphaR(neg) })
    assert(e1.getMessage.contains("negative rating"))
    val dup = Seq(("i1", "r1", 1L), ("i1", "r1", 2L),
      ("i2", "r1", 1L), ("i2", "r2", 2L))
    val e2 = quietTaskFailures(intercept[Exception] {
      Agreement.krippendorffAlphaRatio(dup.toDF("item", "rater", "v"),
        "item", "rater", "v").select("n_values").collect()
    })
    assert(e2.getMessage.contains("duplicate (item, rater)"))
    val frac = Seq(("i1", "r1", 4.5), ("i1", "r2", 4.0))
      .toDF("item", "rater", "v")
    val e3 = quietTaskFailures(intercept[Exception] {
      Agreement.krippendorffAlphaRatio(frac, "item", "rater", "v").collect()
    })
    assert(e3.getMessage.contains("non-integral rating"))
  }

  test("pair-weighted α survives per-item sums past 64 bits: a " +
      "5000-vs-5000 split item (A_i ≈ 1.25·10¹⁹ > Long.Max) computes " +
      "through the DECIMAL do-side instead of ANSI-overflowing") {
    val rows = (1 to 5000).map(_ => ("big", 0L)) ++
      (1 to 5000).map(_ => ("big", 1L)) ++ Seq(("s", 3L), ("s", 3L))
    val ann = rows.zipWithIndex
      .map { case ((i, v), k) => (i, s"r$k", v) }
      .toDF("item", "rater", "v")
    val (ni, n, nv, doS, deS, a) =
      Agreement.krippendorffAlphaOrdinal(ann, "item", "rater", "v")
        .as[(Long, Long, Long, Long, Long, Option[Long])].head()
    // pinned against the python integer-model replay of the same scheme
    assert(ni === 2L && n === 10002L && nv === 3L)
    assert(doS === 1249625012501250L && deS === 12507499490098L)
    assert(a === Some(800L))
  }

  test("krippendorffAlphaInterval: non-integral ratings fail loudly " +
      "instead of silently truncating; count guards survive pruning") {
    val frac = Seq(("i1", "r1", 4.5), ("i1", "r2", 4.0))
      .toDF("item", "rater", "v")
    val e = quietTaskFailures(intercept[Exception] {
      Agreement.krippendorffAlphaInterval(frac, "item", "rater", "v").collect()
    })
    assert(e.getMessage.contains("non-integral rating"))
    // integral doubles pass the gate (4.0 is an exact 4)
    val okD = Seq(("i1", "r1", 3.0), ("i1", "r2", 4.0))
      .toDF("item", "rater", "v")
    assert(Agreement.krippendorffAlphaInterval(okD, "item", "rater", "v")
      .select("n_ratings").as[Long].head() === 2L)
    // n_items / n_categories / n_values carry the dup guard too — a bare
    // count from a duplicate-keyed table must still raise
    val dupS = Seq(("i1", "r1", "a"), ("i1", "r1", "b"),
      ("i2", "r1", "a"), ("i2", "r2", "b")).toDF("item", "rater", "label")
    val eN = quietTaskFailures(intercept[Exception] {
      Agreement.krippendorffAlpha(dupS, "item", "rater", "label")
        .select("n_items", "n_categories").collect()
    })
    assert(eN.getMessage.contains("duplicate"))
    val dupV = Seq(("i1", "r1", 1L), ("i1", "r1", 2L),
      ("i2", "r1", 1L), ("i2", "r2", 2L)).toDF("item", "rater", "v")
    val eV = quietTaskFailures(intercept[Exception] {
      Agreement.krippendorffAlphaInterval(dupV, "item", "rater", "v")
        .select("n_values").collect()
    })
    assert(eV.getMessage.contains("duplicate"))
  }

  test("krippendorffAlpha misuse fails loudly; guards survive pruning") {
    val dup = Seq(("i1", "r1", "a"), ("i1", "r1", "b"), ("i2", "r1", "a"),
      ("i2", "r2", "b"))
    val e1 = quietTaskFailures(intercept[Exception] {
      Agreement.krippendorffAlpha(dup.toDF("item", "rater", "label"),
        "item", "rater", "label").select("alpha_micro").collect()
    })
    assert(e1.getMessage.contains("duplicate (item, rater)"))
    val singles = Seq(("i1", "r1", "a"), ("i2", "r2", "b"))
    val e2 = quietTaskFailures(intercept[Exception] { alpha(singles) })
    assert(e2.getMessage.contains("no item has 2 or more ratings"))
    val e3 = quietTaskFailures(intercept[Exception] {
      Agreement.krippendorffAlpha(
        Seq(("i1", "r1", null.asInstanceOf[String]), ("i1", "r2", "a"))
          .toDF("item", "rater", "label"),
        "item", "rater", "label").collect()
    })
    assert(e3.getMessage.contains("null label"))
  }

  test("guards survive column pruning: selecting ONLY kappa_micro still " +
      "raises on unequal raters / dup pairs / empty tables") {
    // the guards are threaded through the R (resp. N) expression every
    // value column reads — pruning a sibling column must not drop them
    val unequal = Seq(("i1", "r1", "a"), ("i1", "r2", "a"), ("i2", "r1", "a"))
      .toDF("item", "rater", "label")
    val e1 = quietTaskFailures(intercept[Exception] {
      Agreement.fleissKappa(unequal, "item", "rater", "label")
        .select("kappa_micro").collect()
    })
    assert(e1.getMessage.contains("constant rater count"))
    assert(e1.getMessage.contains("krippendorffAlpha"))
    val dup = Seq(("i1", "r1", "a"), ("i1", "r1", "b"),
      ("i2", "r1", "a"), ("i2", "r2", "b")).toDF("item", "rater", "label")
    val e2 = quietTaskFailures(intercept[Exception] {
      Agreement.fleissKappa(dup, "item", "rater", "label")
        .select("kappa_den").collect()
    })
    assert(e2.getMessage.contains("duplicate"))
    // n_items carries its OWN dup guard: a bare item count from a
    // duplicate-keyed table is still a lie
    val e2b = quietTaskFailures(intercept[Exception] {
      Agreement.fleissKappa(dup, "item", "rater", "label")
        .select("n_items").collect()
    })
    assert(e2b.getMessage.contains("duplicate"))
    val e3 = quietTaskFailures(intercept[Exception] {
      Agreement.cohenKappa(Seq.empty[(String, String)].toDF("la", "lb"),
        "la", "lb").select("kappa_micro").collect()
    })
    assert(e3.getMessage.contains("empty annotation table"))
  }

  test("empty annotation tables fail loudly on both kappas") {
    val ef = quietTaskFailures(intercept[Exception] { fleiss(Seq.empty) })
    assert(ef.getMessage.contains("empty annotation table"))
    val ec = quietTaskFailures(intercept[Exception] { cohen(Seq.empty) })
    assert(ec.getMessage.contains("empty annotation table"))
  }

  test("cohenKappa: null label fails loudly") {
    val e = quietTaskFailures(intercept[Exception] {
      cohen(Seq(("a", null.asInstanceOf[String]), ("a", "a")))
    })
    assert(e.getMessage.contains("null label"))
  }
}
