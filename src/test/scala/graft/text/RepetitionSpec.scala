package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RepetitionSpec extends SparkSpec {
  import spark.implicits._

  private def signals(rows: Seq[(Long, String)]) =
    TextOps.repetitionSignals(rows.toDF("doc_id", "text"), "text", "doc_id")
      .as[(Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap

  test("hand-computed document: line duplication and top-bigram coverage") {
    // 4 non-empty lines; "a b" (3 chars) appears twice, others once.
    // tokens: a b a b c d e -> top bigram "a b"/"b a": "a b" count 2,
    // "b a" count 1, "b c" 1, ... -> top = ("a b", cnt 2, cover 2)
    val doc = "a b\na b\n\n  \nc d e\nxx yy"
    val out = signals(Seq((1L, doc)))
    val (nLines, dupLine, dupChar, topBig) = out(1L)
    assert(nLines === 4L)
    assert(math.abs(dupLine - (1.0 - 3.0 / 4.0)) < 1e-12)
    // chars: "a b"×2 = 6 dup chars; total = 6 + 5 + 5 = 16
    assert(math.abs(dupChar - 6.0 / 16.0) < 1e-12)
    // tokens a,b,a,b,c,d,e,xx,yy -> chars 1*7+2+2 = 11; top bigram
    // "a b" cnt=2 cover=2 -> 4/11
    assert(math.abs(topBig - 4.0 / 11.0) < 1e-12)
  }

  test("degenerate documents: empty, whitespace, single token, all-duplicate lines") {
    val out = signals(Seq(
      (1L, ""), (2L, "   \n \n"), (3L, "word"),
      (4L, "same line\nsame line\nsame line")))
    assert(out(1L) === ((0L, 0.0, 0.0, 0.0)))
    assert(out(2L) === ((0L, 0.0, 0.0, 0.0)))
    // one line, no bigram
    assert(out(3L) === ((1L, 0.0, 0.0, 0.0)))
    val (n4, dl4, dc4, tb4) = out(4L)
    assert(n4 === 3L && math.abs(dl4 - (1.0 - 1.0 / 3.0)) < 1e-12 && dc4 === 1.0)
    // tokens: same,line,same,line,same,line (chars 24); bigrams:
    // "same line"×3 (cover 8), "line same"×2 -> 3*8/24 = 1.0
    assert(tb4 === 1.0)
  }

  test("coverage cap: overlapping repeats cannot exceed 1.0") {
    val (_, _, _, tb) = signals(Seq((1L, "a a a a a a a a")))(1L)
    // bigram "a a" cnt=7, cover=2 -> 14/8 capped at 1.0
    assert(tb === 1.0)
  }

  test("cleanLines: C4 predicates, order-preserving reassembly, counts") {
    val docs = Seq(
      (1L, "This line is properly terminated.\nshort.\nNo terminal punctuation here\n" +
        "Check Javascript is required.\nAnother good line stays here!\n\n   "),
      (2L, ""),
      (3L, "all dropped")).toDF("doc_id", "text")
    val out = TextOps.cleanLines(docs, "text", "doc_id")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // doc 1: "short." < 3 words; "No terminal..." lacks punctuation;
    // "…Javascript…" hits a banned marker (case-insensitive)
    assert(out(1L) === (("This line is properly terminated.\nAnother good line stays here!",
      2L, 3L)))
    assert(out(2L) === (("", 0L, 0L)))
    assert(out(3L) === (("", 0L, 1L)))
  }

  test("cleanLines randomized model check vs a direct Scala reference") {
    val rnd = new scala.util.Random(813L)
    val words = Vector("alpha", "beta", "Lorem", "ipsum", "javascript", "x")
    def line(): String = {
      val body = (0 until rnd.nextInt(5)).map(_ => words(rnd.nextInt(words.size))).mkString(" ")
      body + (if (rnd.nextBoolean()) "." else "")
    }
    val docs = (1L to 30L).map(i =>
      (i, (0 until rnd.nextInt(6)).map(_ => line()).mkString("\n")))
    val got = TextOps.cleanLines(docs.toDF("doc_id", "text"), "text", "doc_id")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val banned = Seq("lorem ipsum", "javascript", "{")
    docs.foreach { case (id, text) =>
      val lines = text.split("\n", -1).map(_.trim).filter(_.nonEmpty)
      val (kept, dropped) = lines.partition { l =>
        l.split("\\s+").length >= 3 &&
          l.matches(".*[.!?\"']$") &&
          !banned.exists(b => l.toLowerCase.contains(b))
      }
      assert(got(id) === ((kept.mkString("\n"), kept.length.toLong, dropped.length.toLong)),
        s"doc $id: [$text]")
    }
  }

  test("rareTokenRatio: corpus-relative df over occurrences, integer-exact") {
    val docs = Seq(
      (1L, "common common rare1"),
      (2L, "common unique2"),
      (3L, "common gibberishxyz qqq"),
      (4L, "")).toDF("doc_id", "text")
    // df: common appears in 3 docs; every other token in exactly 1
    val out = TextOps.rareTokenRatio(docs, "text", "doc_id", minDocFreq = 2)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) === ((3L, 1L, 1.0 / 3.0))) // common×2 occurrences not rare
    assert(out(2L) === ((2L, 1L, 0.5)))
    assert(out(3L) === ((3L, 2L, 2.0 / 3.0)))
    assert(out(4L) === ((0L, 0L, 0.0)))
  }

  test("bpeTokenCount: GPT-2-style pre-token segmentation") {
    val cases = Seq(
      (1L, "don't stop"),          // don | 't | _stop
      (2L, "hello world 123!"),    // hello | _world | _123 | !
      (3L, "a1b"),                 // a | 1 | b
      (4L, ""),                    // no tokens
      (5L, "we'll we've it's"))    // we|'ll|_we|'ve|_it|'s
    val out = TextOps.bpeTokens(col("text"))
    val got = cases.toDF("doc_id", "text")
      .select(col("doc_id"), out.as("t"), TextOps.bpeTokenCount(col("text")).as("n"))
      .as[(Long, Seq[String], Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) === ((Seq("don", "'t", " stop"), 3)))
    assert(got(2L) === ((Seq("hello", " world", " 123", "!"), 4)))
    assert(got(3L) === ((Seq("a", "1", "b"), 3)))
    assert(got(4L)._2 === 0)
    assert(got(5L) === ((Seq("we", "'ll", " we", "'ve", " it", "'s"), 6)))
  }

  test("randomized model check vs a direct Scala reference") {
    val rnd = new scala.util.Random(20260813L)
    val vocab = Vector("a", "bb", "ccc", "dddd", "ee")
    def line(): String =
      (0 until (1 + rnd.nextInt(4))).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val docs = (1L to 40L).map { i =>
      (i, (0 until rnd.nextInt(8)).map(_ => if (rnd.nextBoolean()) line() else "").mkString("\n"))
    }
    val got = signals(docs)
    docs.foreach { case (id, text) =>
      val lines = text.split("\n", -1).map(_.trim).filter(_.nonEmpty)
      val toks = text.trim.split("\\s+").filter(_.nonEmpty)
      val expN = lines.length.toLong
      val lineCnt = lines.groupBy(identity).view.mapValues(_.length).toMap
      val expDupLine = if (lines.isEmpty) 0.0 else 1.0 - lineCnt.size.toDouble / lines.length
      val totalCh = lines.map(_.length.toLong).sum
      val dupCh = lineCnt.collect { case (l, c) if c > 1 => c.toLong * l.length }.sum
      val expDupChar = if (lines.isEmpty) 0.0 else dupCh.toDouble / totalCh
      val expTop = if (toks.length < 2) 0.0 else {
        val bigs = toks.sliding(2).map(p => (p.mkString(" "), p.map(_.length).sum.toLong)).toSeq
        val counts = bigs.groupBy(identity).view.mapValues(_.size.toLong).toMap
        val (cnt, cover) = counts.toSeq.map { case ((_, cov), c) => (c, cov) }
          .max // (cnt, cover) lexicographic — matches struct max
        math.min(1.0, (cnt * cover).toDouble / toks.map(_.length.toLong).sum)
      }
      val (n, dl, dc, tb) = got(id)
      assert(n === expN, s"doc $id n_lines")
      assert(math.abs(dl - expDupLine) < 1e-12, s"doc $id dup_line_frac")
      assert(math.abs(dc - expDupChar) < 1e-12, s"doc $id dup_line_char_frac")
      assert(math.abs(tb - expTop) < 1e-12, s"doc $id top_bigram: $tb vs $expTop")
    }
  }

  test("dupNgramCharFrac: hand-computed coverage, cap, and short docs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      // "a b" repeats: dup bigram cover 2*2 = 4 of 5 token chars; all
      // 3/4-grams unique
      (1L, "a b a b c"),
      // overlapping duplicates overcount → capped at 1.0 (bigrams AND
      // trigram "x x x" at n=3? only one trigram → unique → 0)
      (2L, "x x x"),
      // shorter than every n → all zeros
      (3L, "solo"),
      (4L, "no repeats at all here")
    ).toDF("doc_id", "text")
    val got = TextOps.dupNgramCharFrac(docs, "text", "doc_id")
      .select(col("doc_id"), col("dup_2gram_char_frac"),
        col("dup_3gram_char_frac"), col("dup_4gram_char_frac"))
      .as[(Long, Double, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(math.abs(got(1L)._1 - 0.8) < 1e-12)
    assert(got(1L)._2 === 0.0 && got(1L)._3 === 0.0)
    assert(got(2L)._1 === 1.0) // 2*2/3 capped
    assert(got(2L)._2 === 0.0)
    assert(got(3L) === ((0.0, 0.0, 0.0)))
    assert(got(4L) === ((0.0, 0.0, 0.0)))
  }

  test("lexicalDiversity: hand-computed Simpson/TTR, content-less docs NULL") {
    import spark.implicits._
    val docs = Seq(
      (1L, Option("a a a a")),          // zero diversity
      (2L, Option("a b c d")),          // max diversity at N=4: 1 − 1/N
      (3L, Option("a a b")),            // sumsq 5, N 3
      (4L, Option.empty[String]),       // NULL text
      (5L, Option("")),                 // empty
      (6L, Option("   "))               // whitespace-only
    ).toDF("doc_id", "text")
    val sigs = graft.text.TextOps.lexicalDiversity(col("text"))
    val got = docs
      .select(col("doc_id") +: sigs.map { case (n, c) => c.as(n) }: _*)
      .as[(Long, Long, Long, Option[Long], Option[Long])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(1L) === ((4L, 1L, Some(250000L), Some(0L))))
    assert(got(2L) === ((4L, 4L, Some(1000000L), Some(750000L))))
    // ttr = 10⁶·2 div 3 = 666666; simpson = 10⁶ − 5·10⁶ div 9 = 444445
    assert(got(3L) === ((3L, 2L, Some(666666L), Some(444445L))))
    Seq(4L, 5L, 6L).foreach(id =>
      assert(got(id) === ((0L, 0L, None, None)), s"doc $id"))
  }

  test("lexicalDiversity: randomized sorted-run fold equals a driver count model") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242L)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    val docs = (1L to 40L).map { i =>
      val n = rnd.nextInt(30)
      (i, (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val sigs = graft.text.TextOps.lexicalDiversity(col("text"))
    val got = docs.toDF("doc_id", "text")
      .select(col("doc_id") +: sigs.map { case (n, c) => c.as(n) }: _*)
      .as[(Long, Long, Long, Option[Long], Option[Long])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    docs.foreach { case (id, text) =>
      val toks = text.split("\\s+").filter(_.nonEmpty).toSeq
      val n = toks.length.toLong
      val counts = toks.groupBy(identity).map(_._2.length.toLong)
      val want =
        if (n == 0L) (0L, 0L, None, None)
        else (n, counts.size.toLong,
          Some(1000000L * counts.size / n),
          Some(1000000L - 1000000L * counts.map(c => c * c).sum / (n * n)))
      assert(got(id) === want, s"doc $id: '$text'")
    }
  }
}
