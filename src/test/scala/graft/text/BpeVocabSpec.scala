package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** BPE merge learning: hand-computed merges on a tiny corpus, the greedy
  * overlap semantics, early stop, and doc-level segmentation rollup. */
class BpeVocabSpec extends SparkSpec {
  import spark.implicits._

  test("train learns hand-computed merges and stops when no pair repeats") {
    // word counts: "ab" ×3, "ac" ×2 → pairs (a,b):3, (a,c):2
    val docs = Seq((1L, "ab ab ac"), (2L, "ab ac")).toDF("doc_id", "text")
    val merges = BpeVocab.train(docs, "text", numMerges = 5)
    assert(merges.map(m => (m.left, m.right, m.count)) ===
      Seq(("a", "b", 3L), ("a", "c", 2L)))
    // after both merges every word is a single symbol → early stop at 2
  }

  test("greedy pass counts overlaps per position but merges non-overlapping") {
    // "aaa": pairs (a,a) at two positions → count 2; the merge pass is
    // greedy left-to-right, so aaa → [aa, a] (not [a, aa])
    val docs = Seq((1L, "aaa aaa")).toDF("doc_id", "text")
    val merges = BpeVocab.train(docs, "text", numMerges = 1)
    assert(merges.map(m => (m.left, m.right, m.count)) === Seq(("a", "a", 4L)))
    assert(BpeVocab.applyMerge(Vector("a", "a", "a"), "a", "a") === Vector("aa", "a"))
  }

  test("tie-break is (count desc, left, right) binary order") {
    // (a,b) and (b,a) both occur twice → (a,b) wins the tie
    val docs = Seq((1L, "ab ab ba ba")).toDF("doc_id", "text")
    val merges = BpeVocab.train(docs, "text", numMerges = 1)
    assert(merges.head.left === "a" && merges.head.right === "b")
  }

  test("subwordStats rolls segmentation back to documents") {
    val docs = Seq((1L, "ab ab ac"), (2L, "ab ac")).toDF("doc_id", "text")
    val merges = BpeVocab.train(docs, "text", numMerges = 5)
    val out = BpeVocab.subwordStats(docs, "text", "doc_id", merges)
      .orderBy(col("doc_id"))
      .as[(Long, Long, Long)].collect().toSeq
    // ab → [ab] (1 subword), ac → [ac] (1 subword after merge 2)
    assert(out === Seq((1L, 3L, 3L), (2L, 2L, 2L)))
    // with NO merges every word splits to characters
    val raw = BpeVocab.subwordStats(docs, "text", "doc_id", Nil)
      .orderBy(col("doc_id"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(raw === Seq((1L, 3L, 6L), (2L, 2L, 4L)))
  }

  test("encode emits ordered ids that decode back to the documents") {
    // "ab ab ac" → merges (a,b), (a,c) → every word one symbol
    val docs = Seq((1L, "ab ab ac"), (2L, "ac ab"), (3L, "b")).toDF("doc_id", "text")
    val merges = BpeVocab.train(docs, "text", numMerges = 5)
    val out = BpeVocab.encode(docs, "text", "doc_id", merges)
      .orderBy(col("doc_id"))
      .as[(Long, Seq[Long], Long)].collect().toSeq
    // final subwords across the corpus: {ab, ac, b} → UTF-8 sorted:
    // ab=0, ac=1, b=2
    assert(out === Seq((1L, Seq(0L, 0L, 1L), 3L), (2L, Seq(1L, 0L), 2L),
      (3L, Seq(2L), 1L)))
    // decode round-trip: id → subword concatenated per doc == the words
    val vocabInv = Map(0L -> "ab", 1L -> "ac", 2L -> "b")
    assert(out.map(_._2.map(vocabInv).mkString(" ")) ===
      Seq("ab ab ac", "ac ab", "b"))
  }

  test("encode token counts equal subwordStats rollups on a mixed corpus") {
    val docs = Seq((1L, "banana band ban"), (2L, "an an banana"),
      (3L, "unrelated words here")).toDF("doc_id", "text")
    val merges = BpeVocab.train(docs, "text", numMerges = 3)
    val enc = BpeVocab.encode(docs, "text", "doc_id", merges)
      .select(col("doc_id"), col("n_tokens"))
      .as[(Long, Long)].collect().toMap
    val stats = BpeVocab.subwordStats(docs, "text", "doc_id", merges)
      .select(col("doc_id"), col("n_subwords"))
      .as[(Long, Long)].collect().toMap
    assert(enc === stats)
    // and the id stream preserves word order: same words, different order
    val pair = Seq((10L, "banana band"), (11L, "band banana")).toDF("doc_id", "text")
    val e2 = BpeVocab.encode(pair, "text", "doc_id", merges)
      .orderBy(col("doc_id")).as[(Long, Seq[Long], Long)].collect()
    val (b1, b2) = (e2(0)._2, e2(1)._2)
    assert(b1 !== b2) // order matters
    assert(b1.sorted === b2.sorted) // same multiset
  }

  test("segmentByRank equals the sequential merge replay on random corpora") {
    val rnd = new scala.util.Random(400)
    for (round <- 1 to 8) {
      val alpha = "ab" + ("cde".take(rnd.nextInt(3)))
      val words = Seq.fill(30)(
        Seq.fill(1 + rnd.nextInt(8))(alpha(rnd.nextInt(alpha.length))).mkString)
      val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
      val merges = BpeVocab.train(docs, "text", numMerges = 6)
      val ranks = BpeVocab.mergeRanks(merges)
      words.distinct.foreach { w =>
        var ss = BpeVocab.codepoints(w)
        merges.foreach(m => ss = BpeVocab.applyMerge(ss, m.left, m.right))
        assert(BpeVocab.segmentByRank(w, ranks) === ss,
          s"round $round word '$w' merges $merges")
      }
    }
  }

  test("codepoints splits astral-plane characters whole") {
    assert(BpeVocab.codepoints("a😀b") === Vector("a", "😀", "b"))
  }

  test("trainLocal produces identical merges to train on the q111 fixture") {
    // the driver-local loop is the production mode for 30-50k-merge
    // vocabularies; merge-for-merge identity with the distributed form
    // is the contract that lets it ride q111's oracle transitively
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val dist = BpeVocab.train(docs, "text", numMerges = 8)
    val local = BpeVocab.trainLocal(docs, "text", numMerges = 8)
    assert(local === dist)
  }

  test("trainLocal matches train merge-for-merge on random corpora") {
    val rnd = new scala.util.Random(20260816L)
    for (trial <- 1 to 3) {
      // skewed small alphabet → deep merge chains, ties, overlaps, and
      // merged-pair REAPPEARANCE (a,b re-adjacent after a later merge)
      val alpha = "aabbbcdde"
      def word(): String =
        (0 until (1 + rnd.nextInt(6))).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      val docs = (1L to 40L)
        .map(i => (i, (0 until (3 + rnd.nextInt(5))).map(_ => word()).mkString(" ")))
        .toDF("doc_id", "text")
      val dist = BpeVocab.train(docs, "text", numMerges = 12)
      val local = BpeVocab.trainLocal(docs, "text", numMerges = 12)
      assert(local === dist, s"trial $trial")
      assert(dist.nonEmpty, s"trial $trial degenerate draw")
    }
  }

  test("utf8Compare orders supplementary characters by UTF-8 bytes") {
    // U+FFFD (efbfbd) vs U+10400 (f0 90 90 80): UTF-16 code-unit order
    // says FFFD > surrogate pair start D801, but UTF-8 bytes say ef < f0
    assert(BpeVocab.utf8Compare("�", new String(Character.toChars(0x10400))) < 0)
    assert("�".compareTo(new String(Character.toChars(0x10400))) > 0)
    assert(BpeVocab.utf8Compare("ab", "ab") === 0)
    assert(BpeVocab.utf8Compare("a", "ab") < 0)
  }

  test("wordTable fails loudly on a token containing U+001F") {
    val docs = Seq((1L, "ok bad\u001ftoken")).toDF("doc_id", "text")
    val e = quietTaskFailures(intercept[Exception] {
      BpeVocab.wordTable(docs, "text").collect()
    })
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null && m.contains("U+001F")))
  }
}
