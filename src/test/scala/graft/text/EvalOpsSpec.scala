package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class EvalOpsSpec extends SparkSpec {
  import spark.implicits._

  private def rouge(cand: String, ref: String, n: Int) =
    EvalOps.rougeN(Seq((cand, ref)).toDF("cand", "ref"), "cand", "ref", n)
      .drop("cand", "ref")
      .as[(Long, Long, Long, Option[Long], Option[Long], Option[Long])]
      .head()

  test("rougeN bigrams: hand-computed partial overlap") {
    // cand bigrams: "the cat"|"cat sat"|"sat down"   (3)
    // ref  bigrams: "the cat"|"cat sat"|"sat there"  (3)
    // overlap 2 -> P = R = 2/3, F = 2*2/(3+3) = 2/3 -> 666666 micro
    val (c, r, o, p, rr, f) = rouge("the cat sat down", "the cat sat there", 2)
    assert(c === 3L && r === 3L && o === 2L)
    assert(p === Some(666666L) && rr === Some(666666L) && f === Some(666666L))
  }

  test("rougeN clips repeated grams to the reference count") {
    // cand unigrams: the,the,the,cat (the×3); ref: the,cat
    // clipped overlap = min(3,1) + min(1,1) = 2; P = 2/4, R = 2/2, F = 4/6
    val (c, r, o, p, rr, f) = rouge("the the the cat", "the cat", 1)
    assert(c === 4L && r === 2L && o === 2L)
    assert(p === Some(500000L) && rr === Some(1000000L))
    assert(f === Some(666666L))
  }

  test("rougeN: disjoint texts score zero; identical score 1.0") {
    val (_, _, o0, p0, r0, f0) = rouge("aa bb cc", "dd ee ff", 2)
    assert(o0 === 0L && p0 === Some(0L) && r0 === Some(0L) && f0 === Some(0L))
    val (_, _, _, p1, r1, f1) = rouge("x y z w", "x y z w", 2)
    assert(p1 === Some(1000000L) && r1 === Some(1000000L) && f1 === Some(1000000L))
  }

  test("rougeN null contract: null/empty/short sides yield 0 grams, null ratios") {
    // null cand: no grams -> P null, R defined (0), F defined (0)
    val all = Seq((null.asInstanceOf[String], "a b c", 1L),
        ("", "a b c", 2L), ("one", "a b c two", 3L), (null, null, 4L))
      .toDF("cand", "ref", "id")
    val out = EvalOps.rougeN(all, "cand", "ref", 2)
      .drop("cand", "ref")
      .as[(Long, Long, Long, Long, Option[Long], Option[Long], Option[Long])]
      .collect().map(t => t._1 -> t).toMap
    // (id, nC, nR, o, p, r, f)
    assert(out(1L)._2 === 0L && out(1L)._5 === None && out(1L)._6.isDefined)
    assert(out(2L)._2 === 0L && out(2L)._5 === None)
    // "one" has < 2 tokens: zero bigrams (no whole-text pseudo-gram)
    assert(out(3L)._2 === 0L)
    // both sides empty: every ratio undefined
    assert(out(4L)._5 === None && out(4L)._6 === None && out(4L)._7 === None)
  }

  test("clippedOverlap is symmetric and bounded by both sides") {
    val rnd = new scala.util.Random(7)
    val docs = (1 to 40).map { i =>
      def txt() = (1 to rnd.nextInt(30)).map(_ => s"w${rnd.nextInt(8)}").mkString(" ")
      (i.toLong, txt(), txt())
    }
    val df = docs.toDF("id", "a", "b")
    val ga = EvalOps.ngramsOfTokens(TextOps.tokens(col("a")), 2)
    val gb = EvalOps.ngramsOfTokens(TextOps.tokens(col("b")), 2)
    val rows = df.select(col("id"), EvalOps.clippedOverlap(ga, gb).as("ab"),
        EvalOps.clippedOverlap(gb, ga).as("ba"),
        size(ga).as("na"), size(gb).as("nb"))
      .as[(Long, Long, Long, Int, Int)].collect()
    rows.foreach { case (_, ab, ba, na, nb) =>
      assert(ab === ba)
      assert(ab <= na && ab <= nb)
    }
    // model check against a driver-side multiset intersection
    val model = docs.map { case (id, a, b) =>
      def grams(s: String) = s.split("\\s+").filter(_.nonEmpty).sliding(2)
        .filter(_.size == 2).map(_.mkString(" ")).toSeq
      val (ca, cb) = (grams(a).groupBy(identity), grams(b).groupBy(identity))
      id -> ca.keys.toSeq
        .map(g => math.min(ca(g).size, cb.getOrElse(g, Nil).size)).sum
    }.toMap
    rows.foreach { case (id, ab, _, _, _) => assert(ab === model(id).toLong) }
  }

  private def rougel(cand: String, ref: String) =
    EvalOps.rougeL(Seq((cand, ref)).toDF("cand", "ref"), "cand", "ref")
      .drop("cand", "ref")
      .as[(Long, Long, Long, Option[Long], Option[Long], Option[Long])]
      .head()

  test("rougeL: LCS skips gaps that break every n-gram") {
    // cand a b c d e / ref a x b y c: LCS = "a b c" (3)
    val (c, r, l, p, rr, f) = rougel("a b c d e", "a x b y c")
    assert(c === 5L && r === 5L && l === 3L)
    assert(p === Some(600000L) && rr === Some(600000L) && f === Some(600000L))
    // subsequence, not substring: interleaved extra words don't reset it
    assert(rougel("the cat sat", "the big cat quietly sat")._3 === 3L)
  }

  test("rougeL: reordering is penalized (subsequence must be in-order)") {
    // c a b vs a b c: best in-order common subsequence is "a b" (2)
    val (_, _, l, _, _, f) = rougel("c a b", "a b c")
    assert(l === 2L && f === Some(666666L))
    // full reversal of distinct tokens: only a single token survives
    assert(rougel("e d c b a", "a b c d e")._3 === 1L)
  }

  test("rougeL: repeated tokens follow the DP, not distinct-gram logic") {
    // a a b a vs a b a a: LCS = 3 ("a a a" or "a b a"), not 4
    assert(rougel("a a b a", "a b a a")._3 === 3L)
    // repetition can't inflate past the shorter side
    val (c, _, l, p, _, _) = rougel("a a a a a a", "a a")
    assert(c === 6L && l === 2L && p === Some(333333L))
  }

  test("rougeL: identical / disjoint / null-contract rows") {
    val (_, _, _, p1, r1, f1) = rougel("x y z w", "x y z w")
    assert(p1 === Some(1000000L) && r1 === Some(1000000L) && f1 === Some(1000000L))
    val (_, _, l0, p0, r0, f0) = rougel("aa bb cc", "dd ee ff")
    assert(l0 === 0L && p0 === Some(0L) && r0 === Some(0L) && f0 === Some(0L))
    val rows = Seq((1L, null.asInstanceOf[String], "some ref text"),
        (2L, "  ", "some ref text"), (3L, "cand here", null.asInstanceOf[String]),
        (4L, null.asInstanceOf[String], null.asInstanceOf[String]))
      .toDF("id", "cand", "ref")
    val out = EvalOps.rougeL(rows, "cand", "ref").drop("cand", "ref")
      .as[(Long, Long, Long, Long, Option[Long], Option[Long], Option[Long])]
      .collect().map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, 0L, 3L, 0L, None, Some(0L), Some(0L))))
    assert(out(2L) === ((2L, 0L, 3L, 0L, None, Some(0L), Some(0L))))
    assert(out(3L) === ((3L, 2L, 0L, 0L, Some(0L), None, Some(0L))))
    assert(out(4L) === ((4L, 0L, 0L, 0L, None, None, None)))
    val e = intercept[IllegalArgumentException] {
      EvalOps.rougeL(rows.withColumnRenamed("id", "lcs_len"), "cand", "ref")
    }
    assert(e.getMessage.contains("reserves column names"))
  }

  test("rougeL agrees with a driver-side DP model on random token soup") {
    val rnd = new scala.util.Random(11)
    val docs = (1 to 60).map { i =>
      def txt() = (1 to (1 + rnd.nextInt(25))).map(_ => s"w${rnd.nextInt(5)}").mkString(" ")
      (i.toLong, txt(), txt())
    }
    def lcsModel(a: Seq[String], b: Seq[String]): Int = {
      val dp = Array.ofDim[Int](a.size + 1, b.size + 1)
      for (i <- 1 to a.size; j <- 1 to b.size)
        dp(i)(j) = if (a(i - 1) == b(j - 1)) dp(i - 1)(j - 1) + 1
          else math.max(dp(i - 1)(j), dp(i)(j - 1))
      dp(a.size)(b.size)
    }
    val out = EvalOps.rougeL(docs.toDF("id", "cand", "ref"), "cand", "ref")
      .select(col("id"), col("lcs_len")).as[(Long, Long)].collect().toMap
    docs.foreach { case (id, a, b) =>
      assert(out(id) ===
        lcsModel(a.split("\\s+").toSeq, b.split("\\s+").toSeq).toLong)
    }
  }

  test("bleuComponents: hand-computed clipped precisions per order") {
    // cand: the cat sat on the mat / ref: the cat is on the mat
    // p1 5/6 (the×2, cat, on, mat), p2 3/5, p3 1/4, p4 0/3
    val out = EvalOps.bleuComponents(
        Seq((1L, "the cat sat on the mat", "the cat is on the mat"))
          .toDF("id", "cand", "ref"), "cand", "ref")
      .drop("cand", "ref")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .head()
    assert(out === ((1L, 6L, 6L, 5L, 6L, 3L, 5L, 1L, 4L, 0L, 3L)))
    val e = intercept[IllegalArgumentException] {
      EvalOps.bleuComponents(
        Seq((1L, "a", "b")).toDF("p1_num", "cand", "ref"), "cand", "ref")
    }
    assert(e.getMessage.contains("reserves column names"))
  }

  test("rougeL is uncapped: documents far past the q256 fixture's " +
      "120-token oracle bound score through the same DP") {
    // the 120-token cap in the q256 gate exists only to bound the
    // closed-form oracle classes — the operator itself has no cap
    val long = (1 to 150).map(i => s"tok$i").mkString(" ")
    val half = (1 to 150).filter(_ % 2 == 0).map(i => s"tok$i").mkString(" ")
    val (c, r, l, p, rr, f) = rougel(long, long)
    assert(c === 150L && r === 150L && l === 150L && f === Some(1000000L))
    val (_, _, l2, p2, _, _) = rougel(half, long)
    assert(l2 === 75L && p2 === Some(1000000L))
  }

  test("tokens13a: the WMT/mteval-v13a conventions — decimals joined, " +
      "punctuation split, digit-dash split, word-hyphen kept, trailing " +
      "period split via the mteval space padding, entities restored") {
    def tok(s: String): Seq[String] =
      Seq(Tuple1(s)).toDF("t")
        .select(TextOps.tokens13a(col("t"))).as[Seq[String]].head()
    assert(tok("Hello, world! It costs 3.50 dollars (really).") ===
      Seq("Hello", ",", "world", "!", "It", "costs", "3.50",
        "dollars", "(", "really", ")", "."))
    assert(tok("A-B and 3-4.") === Seq("A-B", "and", "3", "-", "4", "."))
    assert(tok("&quot;x&amp;y&lt;z&gt;&quot;") ===
      Seq("\"", "x", "&", "y", "<", "z", ">", "\""))
    assert(tok("1,000.5 vs 1, 2") ===
      Seq("1,000.5", "vs", "1", ",", "2"))
    assert(tok(null) === Seq.empty[String])
    assert(tok("") === Seq.empty[String])
    // scores over 13a tokens compose with the metric family unchanged
    val f = EvalOps.rougeN(
        Seq(("it costs 3.50 now.", "it costs 3.50 today."))
          .toDF("cand", "ref").select(
            array_join(TextOps.tokens13a(col("cand")), " ").as("cand"),
            array_join(TextOps.tokens13a(col("ref")), " ").as("ref")),
        "cand", "ref", 2)
      .select("n_cand_grams", "n_overlap")
      .as[(Long, Long)].head()
    // bigrams: "it costs" + "costs 3.50" shared; "3.50 now|today" and
    // "now|today ." differ → 2 of 4
    assert(f === ((4L, 2L)))
  }

  private def werOne(cand: String, ref: String) =
    EvalOps.wer(Seq((cand, ref)).toDF("cand", "ref"), "cand", "ref")
      .drop("cand", "ref")
      .as[(Long, Long, Long, Option[Long])].head()

  test("wer: hand-computed substitutions / deletions / insertions; " +
      "rate can exceed 10⁶; TOKEN errors, never characters") {
    // one substitution in four: d=1, wer = 250000
    assert(werOne("the cat sat down", "the dog sat down") ===
      ((4L, 4L, 1L, Some(250000L))))
    // pure deletions: prefix candidate
    assert(werOne("a b", "a b c d") === ((2L, 4L, 2L, Some(500000L))))
    // insertions past the reference push WER over 1.0
    assert(werOne("a b c d e f", "a b")._4 === Some(2000000L))
    // word-internal character edits count ONE token error
    assert(werOne("cart", "cat")._3 === 1L)
    // reorder costs 2 (delete + insert), not the hamming 3
    assert(werOne("c a b", "a b c")._3 === 2L)
  }

  test("werMulti: min-error reference wins (the NIST convention), ties " +
      "to the shorter reference; loud/null contracts") {
    def run(cand: String, refs: Seq[String]) = EvalOps.werMulti(
        Seq((1L, cand, refs)).toDF("id", "cand", "refs"), "cand", "refs")
      .select("n_cand_tokens", "n_refs", "edit_dist_best", "ref_len_best",
        "wer_best_micro")
      .as[(Long, Long, Long, Long, Option[Long])].head()
    // d=1 vs ref1, d=3 vs ref2 → ref1 wins, rate over ITS length
    assert(run("the cat sat", Seq("the cat sits", "dogs bark loud")) ===
      ((3L, 2L, 1L, 3L, Some(333333L))))
    // equal distance (1 each), lengths 4 vs 2 → shorter ref breaks the tie
    assert(run("a b c", Seq("a b c d", "a b")) ===
      ((3L, 2L, 1L, 2L, Some(500000L))))
    // null cand → pure insertions; closest ref is the shortest
    assert(run(null, Seq("x y z", "x")) === ((0L, 2L, 1L, 1L, Some(1000000L))))
    // null ref element reads as the empty reference — and WINS for an
    // empty cand, with the undefined (NULL) rate reported honestly
    assert(run(null, Seq(null, "x y")) === ((0L, 2L, 0L, 0L, None)))
    val e = quietTaskFailures(intercept[Exception] {
      EvalOps.werMulti(
        Seq((1L, "a b", Seq.empty[String])).toDF("id", "cand", "refs"),
        "cand", "refs").select("n_refs").collect()
    })
    assert(e.getMessage.contains("no references"))
    val e2 = intercept[IllegalArgumentException] {
      EvalOps.werMulti(
        Seq((1L, "a", Seq("b"))).toDF("ref_len_best", "cand", "refs"),
        "cand", "refs")
    }
    assert(e2.getMessage.contains("reserves column names"))
  }

  test("wer: identical is 0; null/empty contract; empty ref → NULL rate " +
      "with the insertion count still reported; reserved clash") {
    assert(werOne("x y z", "x y z") === ((3L, 3L, 0L, Some(0L))))
    assert(werOne(null, "x y z") === ((0L, 3L, 3L, Some(1000000L))))
    assert(werOne("   ", "x y") === ((0L, 2L, 2L, Some(1000000L))))
    assert(werOne("x y", null) === ((2L, 0L, 2L, None)))
    assert(werOne(null, null) === ((0L, 0L, 0L, None)))
    val e = intercept[IllegalArgumentException] {
      EvalOps.wer(Seq(("a", "b")).toDF("edit_dist", "ref"), "edit_dist", "ref")
    }
    assert(e.getMessage.contains("reserves column names"))
  }

  private def bleuMulti(cand: String, refs: Seq[String], maxN: Int = 4) = {
    val df = EvalOps.bleuComponentsMulti(
      Seq((1L, cand, refs)).toDF("id", "cand", "refs"), "cand", "refs", maxN)
      .drop("cand", "refs")
    val row = df.head()
    df.columns.zipWithIndex.map { case (c, i) => c -> row.getLong(i) }.toMap
  }

  test("bleuComponentsMulti: the Papineni 2002 clip example — a " +
      "degenerate candidate clips against the MAX per-reference count") {
    // §2.1: cand 'the'×7 vs refs with 'the'×2 and 'the'×1 → p1 = 2/7
    val m = bleuMulti("the the the the the the the",
      Seq("the cat is on the mat", "there is a cat on the mat"))
    assert(m("p1_num") === 2L && m("p1_den") === 7L)
    assert(m("p2_num") === 0L && m("p2_den") === 6L)
    // brevity length: cand_len 7, ref lens (6, 7) → closest is 7
    assert(m("cand_len") === 7L && m("ref_len") === 7L)
  }

  test("bleuComponentsMulti: per-gram maxima can come from DIFFERENT " +
      "references — no single-reference clip can reproduce it") {
    // cand 'a a b b': ref1 has a×2, ref2 has b×2 → multi-ref p1 = 4/4,
    // while clipping against either single ref alone gives 2/4
    val m = bleuMulti("a a b b", Seq("a a", "b b"))
    assert(m("p1_num") === 4L && m("p1_den") === 4L)
    val s1 = bleuMulti("a a b b", Seq("a a"))
    val s2 = bleuMulti("a a b b", Seq("b b"))
    assert(s1("p1_num") === 2L && s2("p1_num") === 2L)
  }

  test("bleuComponentsMulti: closest-length BP ties resolve to the " +
      "SHORTER reference; single-ref agrees with bleuComponents") {
    // cand 3 tokens, ref lens 2 and 4: both |len−3| = 1 → ref_len 2
    val m = bleuMulti("x y z", Seq("x y z w", "x y"))
    assert(m("ref_len") === 2L)
    // the single-reference special case is bleuComponents column-for-column
    val single = EvalOps.bleuComponents(
        Seq((1L, "the cat sat on the mat", "the cat is on the mat"))
          .toDF("id", "cand", "ref"), "cand", "ref")
      .drop("cand", "ref")
    val multi = EvalOps.bleuComponentsMulti(
        Seq((1L, "the cat sat on the mat", Seq("the cat is on the mat")))
          .toDF("id", "cand", "refs"), "cand", "refs")
      .drop("cand", "refs")
    assert(single.columns.toSeq === multi.columns.toSeq)
    assert(single.head() === multi.head())
  }

  test("bleuComponentsMulti: null contract — null cand reads empty, a " +
      "null reference ELEMENT is the empty reference, NO references is " +
      "loud even under pruning") {
    val m = bleuMulti(null, Seq("x y z"))
    assert(m("cand_len") === 0L && m("p1_num") === 0L && m("ref_len") === 3L)
    // null element: contributes zero grams and length 0 (closest to an
    // empty candidate), never poisons the real reference's clip
    val m2 = bleuMulti("a b", Seq(null, "a b"))
    assert(m2("p1_num") === 2L && m2("p2_num") === 1L && m2("ref_len") === 2L)
    val empty = Seq((1L, "a b", Seq.empty[String])).toDF("id", "cand", "refs")
    val e = quietTaskFailures(intercept[Exception] {
      EvalOps.bleuComponentsMulti(empty, "cand", "refs")
        .select("p1_den").collect()
    })
    assert(e.getMessage.contains("no references"))
    val e2 = intercept[IllegalArgumentException] {
      EvalOps.bleuComponentsMulti(
        Seq((1L, "a", Seq("b"))).toDF("ref_len", "cand", "refs"),
        "cand", "refs")
    }
    assert(e2.getMessage.contains("reserves column names"))
  }

  test("rougeNMulti/rougeLMulti: best-match over references (Lin 2004 " +
      "§5); single-ref agrees with the pairwise form; loud/null contracts") {
    // ref2 matches the candidate's bigrams far better than ref1 → best
    // picks it; single-ref calls reproduce each pairwise F exactly
    val cand = "the cat sat on the mat"
    val r1 = "dogs bark loudly outside"
    val r2 = "the cat sat on a mat"
    def nb(refs: Seq[String]) = EvalOps.rougeNMulti(
        Seq((1L, cand, refs)).toDF("id", "cand", "refs"), "cand", "refs", 2)
      .select("n_cand_grams", "n_refs", "rougen_best_micro")
      .as[(Long, Long, Option[Long])].head()
    def pairF(ref: String) = EvalOps.rougeN(
        Seq((cand, ref)).toDF("cand", "ref"), "cand", "ref", 2)
      .select("rouge_f_micro").as[Option[Long]].head()
    val (ncg, nr, best) = nb(Seq(r1, r2))
    assert(ncg === 5L && nr === 2L)
    assert(best === Some(math.max(pairF(r1).get, pairF(r2).get)))
    assert(nb(Seq(r2))._3 === pairF(r2))
    // L variant: prefixes of one base have LCS = min length
    val lBest = EvalOps.rougeLMulti(
        Seq((1L, "a b c", Seq("a b c d e f", "a b"))).toDF("id", "cand", "refs"),
        "cand", "refs")
      .select("rougel_best_micro").as[Option[Long]].head()
    // vs 6-prefix: 2·3/(3+6) = 666666; vs 2-prefix: 2·2/(3+2) = 800000
    assert(lBest === Some(800000L))
    // null candidate + a null ref element: measurable refs still score
    val nulls = EvalOps.rougeNMulti(
        Seq((1L, null.asInstanceOf[String], Seq(null, "x y z")))
          .toDF("id", "cand", "refs"), "cand", "refs", 2)
      .select("n_cand_grams", "rougen_best_micro")
      .as[(Long, Option[Long])].head()
    assert(nulls === ((0L, Some(0L)))) // cand gramless vs 2-gram ref → F 0
    // both sides gramless everywhere → NULL, not 0
    val allNull = EvalOps.rougeLMulti(
        Seq((1L, null.asInstanceOf[String], Seq(null.asInstanceOf[String])))
          .toDF("id", "cand", "refs"), "cand", "refs")
      .select("rougel_best_micro").as[Option[Long]].head()
    assert(allNull === None)
    val e = quietTaskFailures(intercept[Exception] {
      EvalOps.rougeNMulti(
        Seq((1L, "a b", Seq.empty[String])).toDF("id", "cand", "refs"),
        "cand", "refs", 2).select("n_cand_grams").collect()
    })
    assert(e.getMessage.contains("no references"))
    val e2 = intercept[IllegalArgumentException] {
      EvalOps.rougeLMulti(
        Seq((1L, "a", Seq("b"))).toDF("n_refs", "cand", "refs"),
        "cand", "refs")
    }
    assert(e2.getMessage.contains("reserves column names"))
  }

  test("rougeNMulti jackknife: mean of leave-one-out best matches (the " +
      "DUC protocol); NULL for single-reference rows") {
    val cand = "the cat sat on the mat"
    val refs = Seq("the cat sat on a mat",      // strong match
      "a cat sat quietly nearby",               // weak match
      "dogs bark loudly outside")               // no match
    def pairF(ref: String): Long = EvalOps.rougeN(
        Seq((cand, ref)).toDF("cand", "ref"), "cand", "ref", 2)
      .select("rouge_f_micro").as[Option[Long]].head().get
    val fs = refs.map(pairF)
    val expectedJk = (Seq(math.max(fs(1), fs(2)), math.max(fs(0), fs(2)),
      math.max(fs(0), fs(1))).sum) / 3L
    val (best, jk) = EvalOps.rougeNMulti(
        Seq((1L, cand, refs)).toDF("id", "cand", "refs"), "cand", "refs",
        n = 2, jackknife = true)
      .select("rougen_best_micro", "rougen_jk_micro")
      .as[(Option[Long], Option[Long])].head()
    assert(best === Some(fs.max))
    assert(jk === Some(expectedJk))
    // the jackknife statistic is ≤ the best-match score by construction
    assert(jk.get <= best.get)
    // one reference: leave-one-out is empty → NULL, best still computed
    val single = EvalOps.rougeNMulti(
        Seq((1L, cand, Seq(refs.head))).toDF("id", "cand", "refs"),
        "cand", "refs", n = 2, jackknife = true)
      .select("rougen_best_micro", "rougen_jk_micro")
      .as[(Option[Long], Option[Long])].head()
    assert(single._1 === Some(fs.head) && single._2 === None)
    // jackknife off: the column is absent (schema unchanged for q269)
    assert(!EvalOps.rougeNMulti(
        Seq((1L, cand, refs)).toDF("id", "cand", "refs"), "cand", "refs", 2)
      .columns.contains("rougen_jk_micro"))
  }

  test("chrFpp: word orders join the mean (Popović 2017) — word " +
      "reorder is penalized through the word-2 component; wordN = 0 " +
      "degenerates to exactly chrF") {
    def run(cand: String, ref: String): Map[String, Long] = {
      val df = EvalOps.chrFpp(Seq((cand, ref)).toDF("cand", "ref"),
        "cand", "ref").drop("cand", "ref")
      val row = df.head()
      df.columns.zipWithIndex.map { case (c, i) => c -> row.getLong(i) }.toMap
    }
    // identical 'ab xy': char orders 1-4 on 'abxy' → 10⁶ each, 5-6 → 0;
    // word orders 1-2 → 10⁶ each; mean over 8 = 750000
    val same = run("ab xy", "ab xy")
    assert(same("chrfw1_f_micro") === 1000000L &&
      same("chrfw2_f_micro") === 1000000L)
    assert(same("chrfpp_micro") === 750000L)
    // word-reordered 'xy ab': chars o1 4/4 → 10⁶, o2 grams ab,bx,xy vs
    // xy,ya,ab → 2 of 3 → 666666, o3+ → 0; word-1 → 10⁶, word-2 → 0
    val reord = run("ab xy", "xy ab")
    assert(reord("chrf2_f_micro") === 666666L)
    assert(reord("chrfw1_f_micro") === 1000000L &&
      reord("chrfw2_f_micro") === 0L)
    assert(reord("chrfpp_micro") === (1000000L + 666666L + 1000000L) / 8L)
    assert(reord("chrfpp_micro") < same("chrfpp_micro"))
    // wordN = 0 is chrF: same per-order components, same mean
    val pp0 = EvalOps.chrFpp(Seq(("abc", "abd")).toDF("cand", "ref"),
        "cand", "ref", maxN = 6, wordN = 0)
      .select("chrfpp_micro").as[Long].head()
    val base = EvalOps.chrF(Seq(("abc", "abd")).toDF("cand", "ref"),
        "cand", "ref")
      .select("chrf_micro").as[Long].head()
    assert(pp0 === base)
    val e = intercept[IllegalArgumentException] {
      EvalOps.chrFpp(Seq(("a", "b")).toDF("chrfw1_o", "ref"), "chrfw1_o", "ref")
    }
    assert(e.getMessage.contains("reserves column names"))
  }

  test("corpusBleu: summed statistics, not a mean of segment scores — " +
      "a zero-match segment dents but cannot zero the corpus; bleuScore " +
      "composes on the one-row result; empty loud") {
    val rows = Seq(
      (1L, "x y z w v u", "x y z w v u"),            // perfect segment
      (2L, "a b", "c d"))                             // zero-match segment
      .toDF("id", "cand", "ref")
    val comp = EvalOps.bleuComponents(rows, "cand", "ref")
    val corpus = EvalOps.corpusBleu(comp)
    val row = corpus.select("n_segments", "cand_len", "ref_len",
        "p1_num", "p1_den", "p4_num", "p4_den")
      .as[(Long, Long, Long, Long, Long, Long, Long)].head()
    assert(row === ((2L, 8L, 8L, 6L, 8L, 3L, 3L)))
    // per-segment means would average in a 0 (segment 2 has p1 = 0);
    // the corpus ratio is 6/8 — and bleuScore reads the summed row
    val score = corpus.select(EvalOps.bleuScore().as("b"))
      .as[Option[Long]].head()
    assert(score.nonEmpty && score.get > 0L && score.get < 1000000L)
    val e = quietTaskFailures(intercept[Exception] {
      EvalOps.corpusBleu(EvalOps.bleuComponents(
        Seq.empty[(String, String)].toDF("cand", "ref"), "cand", "ref"))
        .select("p1_den").collect()
    })
    assert(e.getMessage.contains("empty components table"))
    // order mismatch is loud: BLEU-6 parts rolled up as BLEU-4 would be
    // a silently different statistic
    val e2 = intercept[IllegalArgumentException] {
      EvalOps.corpusBleu(
        EvalOps.bleuComponents(rows, "cand", "ref", maxN = 6))
    }
    assert(e2.getMessage.contains("order-5"))
  }

  test("corpusChrf: F on the summed gram counts (the sacrebleu corpus " +
      "aggregation) differs from the mean of segment Fs; empty loud") {
    val rows = Seq(
      (1L, "abcd", "abcd"),   // perfect, 4 chars
      (2L, "xy", "zw"))       // disjoint, 2 chars
      .toDF("id", "cand", "ref")
    val seg = EvalOps.chrF(rows, "cand", "ref")
    val corpus = EvalOps.corpusChrf(seg)
    val (nseg, o1, c1, r1, f1) = corpus
      .select("n_segments", "chrf1_o", "chrf1_c", "chrf1_r", "chrf1_f_micro")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(nseg === 2L && o1 === 4L && c1 === 6L && r1 === 6L)
    // F1 on totals: 5·4/(4·6+6) = 20/30 = 666666; the segment-F mean
    // would be (10⁶ + 0)/2 = 500000 — different statistics, by design
    assert(f1 === 666666L)
    val segF1s = seg.select("chrf1_f_micro").as[Long].collect().sorted
    assert(segF1s.sum / 2 === 500000L)
    val e = quietTaskFailures(intercept[Exception] {
      EvalOps.corpusChrf(EvalOps.chrF(
        Seq.empty[(String, String)].toDF("cand", "ref"), "cand", "ref"))
        .select("chrf_micro").collect()
    })
    assert(e.getMessage.contains("empty components table"))
    // a chrF++ table rolled up as chrF would drop the word-order
    // components silently — loud instead
    val ppSeg = EvalOps.chrFpp(rows, "cand", "ref", maxN = 2, wordN = 2)
    val e2 = intercept[IllegalArgumentException] {
      EvalOps.corpusChrf(ppSeg)
    }
    assert(e2.getMessage.contains("word order 1"))
  }

  test("corpusWer: total operations over total reference tokens — short " +
      "utterances don't over-weight as they would in a mean of rates; " +
      "empty loud; zero-token corpus → NULL rate") {
    // seg1: 1 error / 10 tokens; seg2: 1 error / 1 token.
    // mean of rates = (0.1 + 1.0)/2 = 0.55; corpus = 2/11 ≈ 0.18
    val rows = Seq(
      (1L, "a b c d e f g h i X", "a b c d e f g h i j"),
      (2L, "y", "z"))
      .toDF("id", "cand", "ref")
    val (n, d, r, w) = EvalOps.corpusWer(EvalOps.wer(rows, "cand", "ref"))
      .as[(Long, Long, Long, Option[Long])].head()
    assert(n === 2L && d === 2L && r === 11L)
    assert(w === Some(181818L))
    // composes with werMulti output, its columns renamed to wer's
    val multi = EvalOps.werMulti(
        Seq((1L, "a b", Seq("a b c"))).toDF("id", "cand", "refs"),
        "cand", "refs")
      .withColumnRenamed("edit_dist_best", "edit_dist")
      .withColumnRenamed("ref_len_best", "n_ref_tokens")
    val wm = EvalOps.corpusWer(multi)
      .select("wer_micro").as[Option[Long]].head()
    assert(wm === Some(333333L))
    val e = quietTaskFailures(intercept[Exception] {
      EvalOps.corpusWer(EvalOps.wer(
        Seq.empty[(String, String)].toDF("cand", "ref"), "cand", "ref"))
        .select("wer_micro").collect()
    })
    assert(e.getMessage.contains("empty components table"))
    val z = EvalOps.corpusWer(EvalOps.wer(
        Seq(("a b", null.asInstanceOf[String])).toDF("cand", "ref"),
        "cand", "ref"))
      .select("ref_len", "wer_micro").as[(Long, Option[Long])].head()
    assert(z === ((0L, None)))
  }

  test("eceReport: item-weighted mean gap + max gap over the reliability " +
      "table; empty report fails loudly even under pruning") {
    // bucket 0: 2 items, acc 0, mean conf 100000 → gap 100000
    // bucket 1: 2 items, acc 500000, mean conf 900000 → gap 400000
    val rows = Seq((100000L, false), (100000L, false),
      (900000L, true), (900000L, false)).toDF("conf", "ok")
    val rep = EvalOps.calibrationReport(rows, "conf", "ok", 500000L)
    val (n, ece, mce) = EvalOps.eceReport(rep)
      .as[(Long, Long, Long)].head()
    assert(n === 4L && ece === 250000L && mce === 400000L)
    val empty = EvalOps.calibrationReport(
      Seq.empty[(Long, Boolean)].toDF("conf", "ok"), "conf", "ok", 500000L)
    val e = quietTaskFailures(intercept[Exception] {
      EvalOps.eceReport(empty).select("mce_micro").collect()
    })
    assert(e.getMessage.contains("empty calibration report"))
  }

  test("bleuScore: identical text scores 10⁶; a zero order zeroes it; " +
      "brevity penalizes short candidates; null contract") {
    val rows = Seq(
      (1L, "x y z w v u", "x y z w v u"),                 // perfect
      (2L, "the cat sat on the mat", "the cat is on the mat"), // p4=0
      (3L, "x y z w", "x y z w v u v u"),                 // short cand
      (4L, null.asInstanceOf[String], "x y z w"),         // null cand
      (5L, "a b", "a b"))                                 // no 4-grams
      .toDF("id", "cand", "ref")
    val out = EvalOps.bleuComponents(rows, "cand", "ref")
      .select(col("id"), EvalOps.bleuScore().as("bleu"))
      .as[(Long, Option[Long])].collect().toMap
    assert(out(1L) === Some(1000000L))
    assert(out(2L) === Some(0L))
    // cand 4/8 of ref: all grams match, BP = e^(1-2) = e^-1
    assert(out(3L) === Some(math.floor(1000000.0 * math.exp(-1.0)).toLong))
    assert(out(4L) === None)
    assert(out(5L) === None) // p3/p4 undefined on a 2-token pair
  }

  test("chrF: hand-computed per-order F and mean; whitespace removed; " +
      "null contract; reserved clash") {
    def run(cand: String, ref: String): Map[String, Long] = {
      val df = EvalOps.chrF(Seq((cand, ref)).toDF("cand", "ref"),
        "cand", "ref").drop("cand", "ref")
      val row = df.head()
      df.columns.zipWithIndex.map { case (c, i) => c -> row.getLong(i) }.toMap
    }
    // "abc" vs "abd": F1 = 5·2/(4·3+3) = 2/3, F2 = 5·1/(4·2+2) = 1/2,
    // F3 = 0/(4+1), orders 4-6 gramless → 0; mean = 1166666/6
    val m = run("abc", "abd")
    assert(m("chrf1_o") === 2L && m("chrf1_c") === 3L && m("chrf1_r") === 3L)
    assert(m("chrf1_f_micro") === 666666L)
    assert(m("chrf2_f_micro") === 500000L && m("chrf3_f_micro") === 0L)
    assert(m("chrf6_f_micro") === 0L)
    assert(m("chrf_micro") === (666666L + 500000L) / 6L)
    // whitespace is removed before gramming: "a b" == "ab"
    assert(run("a b", "ab")("chrf_micro") === run("ab", "ab")("chrf_micro"))
    // identical short strings: orders beyond the length contribute 0
    assert(run("ab", "ab")("chrf_micro") === 2000000L / 6L)
    // null candidate → zero everywhere (measured against a real ref)
    val nullCand = EvalOps.chrF(
        Seq((1L, null.asInstanceOf[String], "abcd")).toDF("id", "cand", "ref"),
        "cand", "ref")
      .select("chrf1_o", "chrf1_r", "chrf_micro")
      .as[(Long, Long, Long)].head()
    assert(nullCand === ((0L, 4L, 0L)))
    val e = intercept[IllegalArgumentException] {
      EvalOps.chrF(Seq((1L, "a", "b")).toDF("chrf_micro", "cand", "ref"),
        "cand", "ref")
    }
    assert(e.getMessage.contains("reserves column names"))
  }

  private def passk(rows: Seq[(String, Boolean)], k: Int) =
    EvalOps.passAtK(rows.toDF("p", "ok"), "p", "ok", k)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap

  test("passAtK hand-computed: 1 − C(n−c,k)/C(n,k) in exact micro") {
    // p1: n=5, c=2 -> 1 − C(3,3)/C(5,3) = 1 − 1/10 = 0.9
    // p2: n=5, c=0 -> 0 ; p3: n=5, c=4 (< k failures) -> exactly 1
    // p4: n=3 = k, c=1 -> 1 − C(2,3)/C(3,3) = 1 (clamped numerator)
    val rows =
      Seq.fill(2)(("p1", true)) ++ Seq.fill(3)(("p1", false)) ++
        Seq.fill(5)(("p2", false)) ++
        Seq.fill(4)(("p3", true)) ++ Seq(("p3", false)) ++
        Seq(("p4", true), ("p4", false), ("p4", false))
    val out = passk(rows, 3)
    assert(out("p1") === ((5L, 2L, 900000L)))
    assert(out("p2") === ((5L, 0L, 0L)))
    assert(out("p3") === ((5L, 4L, 1000000L)))
    assert(out("p4") === ((3L, 1L, 1000000L)))
  }

  test("passAtK agrees with a driver-side combinatorial model") {
    val rnd = new scala.util.Random(3)
    val rows = (1 to 30).flatMap { p =>
      val n = 4 + rnd.nextInt(8)
      (1 to n).map(_ => (s"p$p", rnd.nextBoolean()))
    }
    def comb(n: Long, r: Long): Long =
      if (r > n) 0L else (0L until r).map(i => n - i).product /
        (1L to r).product
    val model = rows.groupBy(_._1).map { case (p, v) =>
      val (n, c) = (v.size.toLong, v.count(_._2).toLong)
      // same truncation: 10⁶ − floor(10⁶·falling(n−c)/falling(n))
      val num = (0 until 4).map(i => math.max(n - c - i, 0L)).product
      val den = (0 until 4).map(i => n - i).product
      p -> (1000000L - 1000000L * num / den)
    }
    val out = passk(rows, 4)
    model.foreach { case (p, v) => assert(out(p)._3 === v, p) }
    assert(comb(5, 3) === 10L) // sanity on the model's combinatorics
  }

  test("passAtK misuse fails loudly: under-sampled problem, null verdict") {
    val e1 = quietTaskFailures(intercept[Exception] {
      passk(Seq(("p1", true), ("p1", false)), 3)
    })
    assert(e1.getMessage.contains("fewer than k=3"))
    val e2 = quietTaskFailures(intercept[Exception] {
      EvalOps.passAtK(Seq(("p1", Some(true)), ("p1", None), ("p1", Some(false)))
        .toDF("p", "ok"), "p", "ok", 2).collect()
    })
    assert(e2.getMessage.contains("null ok"))
  }

  test("distinctNgramRatio: hand bigram counts, degenerate repeat, nulls") {
    val rows = Seq(
      (1L, "a b a b c"),       // bigrams: ab, ba, ab, bc -> 3/4 distinct
      (2L, "x x x x x"),       // xx ×4 -> 1/4 (the degenerate-decode look)
      (3L, "one"),             // < 2 tokens: no bigrams
      (4L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val out = EvalOps.distinctNgramRatio(rows, "text", "id", 2)
      .as[(Long, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(1L) === ((4L, 3L, Some(750000L))))
    assert(out(2L) === ((4L, 1L, Some(250000L))))
    assert(out(3L) === ((0L, 0L, None)))
    assert(out(4L) === ((0L, 0L, None)))
    val e = intercept[IllegalArgumentException] {
      EvalOps.distinctNgramRatio(rows.withColumnRenamed("text", "n_grams"),
        "n_grams", "id", 2)
    }
    assert(e.getMessage.contains("reserves"))
  }

  test("selfConsistency: majority, deterministic ties, gold verdicts, guards") {
    val rows = Seq(
      ("p1", "x", "x"), ("p1", "x", "x"), ("p1", "y", "x"),
      ("p2", "b", "a"), ("p2", "a", "a"), ("p2", "b", "a"), ("p2", "a", "a"))
      .toDF("p", "ans", "gold")
    val out = EvalOps.selfConsistency(rows, "p", "ans", Some("gold"))
      .as[(String, Long, String, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(out("p1") === (("p1", 3L, "x", 2L, 666666L, true)))
    // 2-2 tie resolves to the lexicographically smaller answer "a"
    assert(out("p2") === (("p2", 4L, "a", 2L, 500000L, true)))
    // no gold column requested -> no correct column
    assert(EvalOps.selfConsistency(rows, "p", "ans", None).columns.toSeq ===
      Seq("p", "n_samples", "majority_answer", "n_votes", "majority_micro"))
    val conflict = Seq(("p1", "x", "g1"), ("p1", "x", "g2")).toDF("p", "ans", "gold")
    val e1 = quietTaskFailures(intercept[Exception] {
      EvalOps.selfConsistency(conflict, "p", "ans", Some("gold")).collect()
    })
    assert(e1.getMessage.contains("conflicting gold"))
    val e2 = quietTaskFailures(intercept[Exception] {
      EvalOps.selfConsistency(
        Seq(("p1", null.asInstanceOf[String], "g")).toDF("p", "ans", "gold"),
        "p", "ans", Some("gold")).collect()
    })
    assert(e2.getMessage.contains("null ans"))
  }

  test("calibrationReport: hand buckets, top-bucket edge, loud guards") {
    val rows = Seq.fill(9)((950000L, true)) ++ Seq((950000L, false)) ++
      Seq((1000000L, true)) ++ // exact 1.0 joins the top bucket
      Seq((120000L, false), (180000L, true))
    val out = EvalOps.calibrationReport(rows.toDF("conf", "ok"),
        "conf", "ok", 100000L)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // bucket 9: ten 0.95s + the 1.0 -> acc 10/11, mean (9.5M+1M)/11
    val (_, n9, c9, acc9, mc9, gap9) = out(9L)
    assert(n9 === 11L && c9 === 10L)
    assert(acc9 === 10000000L / 11L && mc9 === 10500000L / 11L)
    assert(gap9 === math.abs(acc9 - mc9))
    // bucket 1: one miss one hit -> acc 500000, mean conf 150000
    assert(out(1L) === ((1L, 2L, 1L, 500000L, 150000L, 350000L)))
    assert(!out.contains(10L)) // no one-value bucket for exact 1.0
    val e1 = quietTaskFailures(intercept[Exception] {
      EvalOps.calibrationReport(Seq((1000001L, true)).toDF("conf", "ok"),
        "conf", "ok", 100000L).collect()
    })
    assert(e1.getMessage.contains("confidence out of"))
    val e2 = quietTaskFailures(intercept[Exception] {
      EvalOps.calibrationReport(
        Seq((Some(5L), None: Option[Boolean])).toDF("conf", "ok"),
        "conf", "ok", 100000L).collect()
    })
    assert(e2.getMessage.contains("null ok"))
  }

  test("memorizationRate: hand case with universe reinstatement") {
    val corpus = Seq((100L, "alpha beta gamma delta epsilon")).toDF("id", "text")
    val gens = Seq(
      (1L, "alpha beta gamma"),          // both trigrams memorized
      (2L, "alpha beta zeta"),           // its one trigram missing
      (3L, "beta gamma delta novel alpha beta gamma"), // partial
      (4L, null.asInstanceOf[String]),   // content-less: 0 grams, null rate
      (5L, "zz")                         // short doc: whole text = 1 gram, miss
    ).toDF("id", "text")
    val out = EvalOps.memorizationRate(gens, "text", "id", corpus, "text", 3)
      .as[(Long, Long, Long, Option[Long])].collect()
      .map(t => t._1 -> (t._2, t._3, t._4)).toMap
    assert(out(1L) === ((1L, 1L, Some(1000000L))))
    assert(out(2L) === ((1L, 0L, Some(0L))))
    // distinct trigrams of gen 3: "beta gamma delta", "gamma delta novel",
    // "delta novel alpha", "novel alpha beta", "alpha beta gamma" -> 2 hits
    assert(out(3L) === ((5L, 2L, Some(400000L))))
    assert(out(4L) === ((0L, 0L, None)))
    assert(out(5L) === ((1L, 0L, Some(0L))))
  }

  test("memorizationRateFromRows matches the inline corpus form") {
    val docs = spark.range(1, 60).select(col("id"),
      concat_ws(" ", lit("tok"), (col("id") % 7).cast("string"),
        lit("mid"), (col("id") % 3).cast("string"),
        lit("end"), (col("id") % 5).cast("string")).as("text"))
    val corpus = docs.where(col("id") % 2 === 0)
    val gens = docs.where(col("id") % 2 === 1)
    val direct = EvalOps.memorizationRate(gens, "text", "id", corpus, "text", 3)
    val prebuilt = EvalOps.memorizationRateFromRows(gens, "text", "id",
      graft.dedup.Dedup.shingleRows(corpus, "text", "id", Nil, 3)
        .select(col("g")).distinct(), 3)
    assert(direct.orderBy("id").collect().toSeq ===
      prebuilt.orderBy("id").collect().toSeq)
  }
}
