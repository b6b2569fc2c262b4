package graft.text

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.dedup.Dedup
import graft.sim.{Ivf, Similarity}

class TextDedupSimSpec extends SparkSpec {
  import spark.implicits._

  test("tokens/counts/ratios handle extra whitespace") {
    val df = Seq("  the quick  brown fox ").toDF("text")
    val r = df.select(
      TextOps.tokenCount(col("text")).as("n"),
      TextOps.meanTokenLen(col("text")).as("ml"),
      TextOps.wordSetRatio(col("text"), Seq("the", "a")).as("sw")).head()
    assert(r.getInt(0) === 4)
    assert(r.getDouble(1) === (3 + 5 + 5 + 3) / 4.0)
    assert(r.getDouble(2) === 0.25)
  }

  test("langId votes by marker words with alphabetical tiebreak") {
    val markers = Map("en" -> Seq("the"), "fr" -> Seq("le"), "de" -> Seq("der"))
    val r = Seq("the le x", "le le the", "nothing matches").toDF("text")
      .select(TextOps.langId(col("text"), markers).as("l")).as[String].collect().toSeq
    assert(r === Seq("en", "fr", "de")) // tie 1-1 → alphabetical; zero-score → alphabetical
  }

  test("fingerprint is whitespace/case-insensitive; rollingHash is order-sensitive") {
    val df = Seq(("A  b C", "a b c", "c b a")).toDF("t1", "t2", "t3")
    val r = df.select(
      TextOps.fingerprint(col("t1")) === TextOps.fingerprint(col("t2")),
      TextOps.rollingHash(col("t2")) === TextOps.rollingHash(col("t3"))).head()
    assert(r.getBoolean(0) === true)
    assert(r.getBoolean(1) === false)
  }

  test("shingles + jaccard: identical docs 1.0, disjoint 0.0") {
    val df = Seq(("a b c d", "a b c d", "x y z w")).toDF("t1", "t2", "t3")
    val r = df.select(
      Dedup.jaccard(Dedup.shingles(TextOps.tokens(col("t1")), 3), Dedup.shingles(TextOps.tokens(col("t2")), 3)).as("same"),
      Dedup.jaccard(Dedup.shingles(TextOps.tokens(col("t1")), 3), Dedup.shingles(TextOps.tokens(col("t3")), 3)).as("diff")).head()
    assert(r.getDouble(0) === 1.0 && r.getDouble(1) === 0.0)
  }

  test("exact dedupe keeps min id per normalized text") {
    val docs = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other")).toDF("doc_id", "text")
    val out = Dedup.exact(docs, "text", "doc_id")
      .select("doc_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(out === Set((1L, 2L), (3L, 1L)))
  }

  test("ngram-jaccard prefix filter stays exact under a hot shared shingle") {
    // every doc shares the same hot prefix phrase (a high-df shingle that
    // must NOT generate all-pairs candidates); only docs 1 and 2 are true
    // near-dups above t=0.8
    val hot = "common header phrase here"
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, s"$hot $base"),
      (2L, s"$hot $base extra"),
      (3L, s"$hot " + (100 to 130).map(i => s"x$i").mkString(" ")),
      (4L, s"$hot " + (200 to 230).map(i => s"y$i").mkString(" "))
    ).toDF("doc_id", "text").withColumn("blk", lit(1))
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", Seq("blk"), 3, 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("minhash LSH finds the near-duplicate pair and skips unrelated docs") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 39).map(i => s"w$i").mkString(" ") + " wX"
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(docs, "text", "doc_id",
      n = 3, bands = 16, rowsPerBand = 4, confirmThreshold = Some(0.5))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("simhash pigeonhole banding finds every pair within maxDist, any bit positions") {
    // base sig + variants differing in exactly 1-3 bits, deliberately
    // including flips in the HIGH bits (single-prefix blocking missed
    // those) and spread across distinct 16-bit blocks; one far variant.
    val base = 0x5DEECE66D1234567L
    val sigs = Seq(
      1L -> base,
      2L -> (base ^ (1L << 63)),                              // top bit only
      3L -> (base ^ (1L << 63) ^ (1L << 31) ^ (1L << 0)),     // 3 bits, 3 blocks
      4L -> (base ^ (1L << 40) ^ (1L << 41) ^ (1L << 42)),    // 3 bits, 1 block
      5L -> (base ^ 0x00FF00FF00FF00FFL)                      // 32 bits away
    ).toDF("doc_id", "sig")
    val pairs = Dedup.simhashPairsFromSigs(sigs, "doc_id", "sig", maxDist = 3, tables = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // pairwise distances: (1,2)=1 (1,3)=3 (1,4)=3 (2,3)=2 (2,4)=4 (3,4)=6,
    // so exactly the four pairs <= 3 must surface
    assert(pairs === Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L)))
  }

  test("simhash: identical texts distance 0; near-dup small; unrelated large") {
    val docs = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "a b c d e f g X"), (4L, "q r s t u v w z")).toDF("doc_id", "text")
    val sig = Dedup.simhashDF(docs, "text", "doc_id").as[(Long, Long)].collect().toMap
    def sh(id: Long) = lit(sig(id))
    val r = Seq(1).toDF("x").select(
      Dedup.hamming(sh(1L), sh(2L)).as("same"),
      Dedup.hamming(sh(1L), sh(3L)).as("near"),
      Dedup.hamming(sh(1L), sh(4L)).as("far")).head()
    assert(r.getInt(0) === 0)
    assert(r.getInt(1) < r.getInt(2))
  }

  test("cosine: identity 1.0, orthogonal 0.0; bruteForceTopK orders correctly") {
    val vecs = Seq(
      (1L, Seq(1f, 0f, 0f)), (2L, Seq(0f, 1f, 0f)),
      (3L, Seq(0.9f, 0.1f, 0f)), (4L, Seq(-1f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, "embedding", "vec_id", Seq(1f, 0f, 0f), 3)
      .select("vec_id").as[Long].collect().toSeq
    assert(top === Seq(1L, 3L, 2L))
    val cos = vecs.where(col("vec_id") === 1)
      .select(Similarity.cosine(col("embedding"), array(lit(1f), lit(0f), lit(0f)))).head().getDouble(0)
    assert(cos === 1.0)
  }

  test("cosineJoin pairs across corpora only, within blocks, above threshold") {
    val newBatch = Seq(
      (1L, Seq(1f, 0f, 0f), "a"), (3L, Seq(0f, 1f, 0f), "a"),
      (5L, Seq(1f, 0f, 0f), "b")).toDF("vec_id", "embedding", "label")
    val history = Seq(
      (2L, Seq(0.9f, 0.1f, 0f), "a"), (4L, Seq(1f, 0f, 0f), "b"),
      (6L, Seq(0f, 0f, 1f), "b")).toDF("vec_id", "embedding", "label")
    val out = Similarity.cosineJoin(newBatch, history, "embedding", "vec_id",
        "label", threshold = 0.5)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // 1↔2 near-parallel in block a; 5↔4 identical in block b; 3 is
    // orthogonal to 2; cross-block (1,4) never pairs; no history
    // self-pairs (2,4,6 never appear on the left)
    assert(out.keySet === Set((1L, 2L), (5L, 4L)))
    assert(out((5L, 4L)) === 1.0 && out((1L, 2L)) > 0.99)
  }

  test("annTopK finds the identical vector through its LSH bucket") {
    val vecs = (1 to 50).map(i => (i.toLong, Seq(math.sin(i).toFloat, math.cos(i).toFloat,
      math.sin(i * 2).toFloat, math.cos(i * 3).toFloat))).toDF("vec_id", "embedding")
    val q = Seq(math.sin(7).toFloat, math.cos(7).toFloat,
      math.sin(14).toFloat, math.cos(21).toFloat)
    val top = Similarity.annTopK(vecs, "embedding", "vec_id", q, 1, numPlanes = 4)
      .select("vec_id").as[Long].collect().toSeq
    assert(top === Seq(7L))
  }

  test("multi-probe ANN: recall rises with probes; all-bucket probe = brute force") {
    val sf = "/root/testdata/sf0.001"
    val emb = graft.Tables.embeddings(spark, sf)
    val q = emb.where(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val others = emb.where(col("vec_id") =!= 0)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id").as[Long].collect().toSet
    val truth = ids(Similarity.bruteForceTopK(others, "embedding", "vec_id", q, 10))
    val r1 = ids(Similarity.annTopK(others, "embedding", "vec_id", q, 10,
      numPlanes = 6, probes = 1))
    val r8 = ids(Similarity.annTopK(others, "embedding", "vec_id", q, 10,
      numPlanes = 6, probes = 8))
    val rAll = ids(Similarity.annTopK(others, "embedding", "vec_id", q, 10,
      numPlanes = 6, probes = 64)) // every bucket probed -> exact
    assert((r8 & truth).size >= (r1 & truth).size)
    assert(rAll === truth)
    // probe order puts the query's own bucket first
    assert(Similarity.probeSignatures(q, 6, 1, 42L).head ===
      Similarity.probeSignatures(q, 6, 64, 42L).head)
  }

  test("cosinePairsLsh: exact precision, high recall vs blockless truth") {
    val sf = "/root/testdata/sf0.001"
    val emb = graft.Tables.embeddings(spark, sf)
    val dim = emb.select("embedding").head().getSeq[Float](0).size
    // ground truth: all pairs >= t via a single-block exact pair join
    val truth = Similarity.cosinePairs(
      emb.withColumn("one", lit(1)), "embedding", "vec_id", "one", threshold = 0.35)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Similarity.cosinePairsLsh(emb, "embedding", "vec_id",
      threshold = 0.35, dim = dim, bands = 16, planesPerBand = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(truth))                 // exact verification: no false pairs
    assert(truth.nonEmpty)
    assert(lsh.size.toDouble / truth.size >= 0.75) // banding recall (theory ~0.9 at t)
  }

  test("IVF ANN: all-cell probe = brute force; recall rises with nProbe") {
    val sf = "/root/testdata/sf0.001"
    val emb = graft.Tables.embeddings(spark, sf)
    val q = emb.where(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val others = emb.where(col("vec_id") =!= 0)
    val (model, assigned) = Ivf.build(others, "embedding", "vec_id", nCells = 8)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id").as[Long].collect().toSet
    val truth = ids(Similarity.bruteForceTopK(others, "embedding", "vec_id", q, 10))
    val r1 = ids(Ivf.topK(assigned, model, "embedding", "vec_id", q, 10, nProbe = 1))
    val r4 = ids(Ivf.topK(assigned, model, "embedding", "vec_id", q, 10, nProbe = 4))
    val rAll = ids(Ivf.topK(assigned, model, "embedding", "vec_id", q, 10, nProbe = 8))
    assert((r4 & truth).size >= (r1 & truth).size)
    assert(rAll === truth)
    // every vector landed in exactly one of the 8 cells
    assert(assigned.select("ivf_cell").distinct().count() <= 8)
    assert(assigned.count() === others.count())
  }

  test("connectedComponents: chains, cycles, singleton pairs, empty input") {
    // path 1-2-3-4-5 (diameter forces >1 round), triangle 10-11-12 with a
    // redundant edge, isolated pair (20,21), reversed/self/dup edges
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (21L, 20L), (7L, 7L), (2L, 1L)).toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toSet
    assert(out === Set(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L)) // self-loop (7,7) is no edge
    assert(Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b")).count() === 0L)
  }

  test("connectedComponents releases prior rounds' checkpoint blocks") {
    // a 200-node path needs several large-star/small-star rounds: without
    // per-round unpersist, every round's edge set stays pinned in executor
    // storage; with it, only the final frame remains
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val path = (0L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(path).as[(Long, Long)].collect()
    assert(out.length === 201 && out.forall(_._2 == 0L))
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.size <= 2,
      s"expected at most the final round's checkpoint to stay persisted, " +
        s"found ${added.size} new persistent RDDs — prior rounds leaked")
  }

  test("ngramJaccardJoin: cross-corpus pairs match brute-force expectations") {
    val long = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val left = Seq((1L, long), (3L, "one two three four five six"),
      (5L, "unrelated words here entirely now")).toDF("doc_id", "text")
    val right = Seq((2L, long), (4L, long + " extra"),
      (6L, "one two three four five six")).toDF("doc_id", "text")
    val out = Dedup.ngramJaccardJoin(left, right, "text", "doc_id", 3, 0.5)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // 1↔2 identical (J=1); 1↔4 share 8 of 9 shingles (8/9); 3↔6 identical;
    // 5 matches nothing; no within-side pairs ever appear
    assert(out.keySet === Set((1L, 2L), (1L, 4L), (3L, 6L)))
    assert(out((1L, 2L)) === 1.0 && out((3L, 6L)) === 1.0)
    assert(math.abs(out((1L, 4L)) - 8.0 / 9.0) < 1e-12)
  }

  test("cleanIncremental: stage flags against an existing history corpus") {
    val long = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val hist = Seq((100L, long),
      (102L, "completely different history document with many unique tokens here"))
      .toDF("doc_id", "text")
    val inc = Seq(
      (1L, long),                 // exact dup of history → out at keep_exact
      (2L, "too short"),          // quality fail
      (3L, long + " changed"),    // near-dup of history → out at keep_vs_history
      (5L, "one two three four five six seven eight nine ten eleven"),
      (7L, "one two three four five six seven eight nine ten eleven"), // exact dup of 5
      (9L, "one two three four five six seven eight nine ten eleven twelve")) // near-dup of 5
      .toDF("doc_id", "text")
    val out = graft.text.Corpus.cleanIncremental(inc, hist, "text", "doc_id",
        stopwords = Seq("the"), n = 3, threshold = 0.5)
      .select("doc_id", "keep_quality", "keep_exact", "keep_vs_history", "keep")
      .as[(Long, Boolean, Boolean, Boolean, Boolean)].collect().toSet
    assert(out === Set(
      (1L, true, false, false, false),
      (2L, false, false, false, false),
      (3L, true, true, false, false),
      (5L, true, true, true, true),
      (7L, true, false, false, false),
      (9L, true, true, true, false)))
  }

  test("cleanIncrementalPrebuilt: stage flags match cleanIncremental exactly") {
    // the prebuilt form must reproduce the streaming form's flags on the
    // same corpus — fingerprint stage via the persisted fp table, near-dup
    // stage via the prebuilt Jaccard index
    val long = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val hist = Seq((100L, long),
      (102L, "completely different history document with many unique tokens here"))
      .toDF("doc_id", "text")
    val inc = Seq(
      (1L, long), (2L, "too short"), (3L, long + " changed"),
      (5L, "one two three four five six seven eight nine ten eleven"),
      (7L, "one two three four five six seven eight nine ten eleven"),
      (9L, "one two three four five six seven eight nine ten eleven twelve"))
      .toDF("doc_id", "text")
    def flags(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "keep_quality", "keep_exact", "keep_vs_history", "keep")
      .as[(Long, Boolean, Boolean, Boolean, Boolean)].collect().toSet
    val idx = graft.text.Corpus.buildHistoryIndex(hist, "text", "doc_id",
      n = 3, threshold = 0.5)
    val got = flags(graft.text.Corpus.cleanIncrementalPrebuilt(
      inc, idx, "text", "doc_id", Seq("the"), 3, 0.5))
    val expected = flags(graft.text.Corpus.cleanIncremental(
      inc, hist, "text", "doc_id", Seq("the"), 3, 0.5))
    assert(got === expected)
    assert(got.exists { case (id, _, _, _, keep) => id == 5L && keep })
  }

  test("chunkRows: overlapping windows, suppressed tail, short docs whole") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (2L, "a b c")).toDF("doc_id", "text")
    // size=8, overlap=4 → step 4; starts < max(10-4,1)=6 → [0, 4]; the
    // tail window at 8 (tokens 9..10, fully covered by the chunk at 4)
    // must NOT be emitted
    val out = TextOps.chunkRows(docs, "text", "doc_id", chunkSize = 8, overlap = 4)
      .as[(Long, Int, String, Int)].collect().toSet
    assert(out === Set(
      (1L, 0, (1 to 8).map(i => s"w$i").mkString(" "), 8),
      (1L, 1, (5 to 10).map(i => s"w$i").mkString(" "), 6),
      (2L, 0, "a b c", 3)))
    intercept[IllegalArgumentException] {
      TextOps.chunkRows(docs, "text", "doc_id", chunkSize = 4, overlap = 4)
    }
    // null text yields no chunk rows (not a malformed empty chunk)
    val withNull = Seq((1L, Option("a b")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    assert(TextOps.chunkRows(withNull, "text", "doc_id", 4, 1)
      .select("doc_id").as[Long].collect().toSeq === Seq(1L))
  }

  test("redact scrubs URLs then emails, leaves clean text untouched") {
    val df = Seq(
      (1L, "reach me at a.b+c@mail-host.org today"),
      (2L, "see https://ex.com/p?q=1#f and http://plain.io next"),
      (3L, "mixed https://ex.com/u x@y.io tail"),
      (4L, "nothing to scrub here")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), TextOps.redact(col("text")).as("c"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) === "reach me at <EMAIL> today")
    assert(out(2L) === "see <URL> and <URL> next")
    assert(out(3L) === "mixed <URL> <EMAIL> tail")
    assert(out(4L) === "nothing to scrub here")
  }

  test("assemble: mixture -> clean -> budget -> chunks composes end-to-end") {
    val long = (1 to 40).map(i => s"tok$i").mkString(" ")
    val a = Seq((1L, long), (2L, long), (3L, "too short")).toDF("doc_id", "text")
    val b = Seq((10L, (1 to 12).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val out = graft.text.Corpus.assemble(
        Seq((a, 1.0), (b, 1.0)), "text", "doc_id", Nil, Seq("the"),
        n = 3, threshold = 0.5, tokenBudget = 100L, chunkSize = 16, overlap = 4)
      .as[(Long, Int, String, Int)].collect()
    val byDoc = out.groupBy(_._1)
    // doc 2 (exact dup of 1) and doc 3 (quality fail) are gone; doc 1 (40
    // tokens) chunks into 3 full windows of 16 stepping 12 (starts 0, 12,
    // 24 — tokens 25..40 are exactly 16); doc 10 fits whole
    assert(byDoc.keySet === Set(1L, 10L))
    assert(byDoc(1L).length === 3 && byDoc(1L).map(_._4).toSeq === Seq(16, 16, 16))
    assert(byDoc(10L).map(c => (c._2, c._4)).toSeq === Seq((0, 12)))
  }

  test("assemblePacked: chunks pack whole in shuffle order; stream is loader-ready") {
    val long = (1 to 40).map(i => s"tok$i").mkString(" ")
    val a = Seq((1L, long), (2L, long), (3L, "too short")).toDF("doc_id", "text")
    val b = Seq((10L, (1 to 12).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val out = graft.text.Corpus.assemblePacked(
        Seq((a, 1.0), (b, 1.0)), "text", "doc_id", Nil, Seq("the"),
        capacity = 32L, n = 3, threshold = 0.5, tokenBudget = 100L,
        chunkSize = 16, overlap = 4)
      .as[(Long, Long, Long, Int, String, Int)].collect()
    // the same 4 chunks as the assemble test (3×16 from doc 1, 1×12 from
    // doc 10), each appearing WHOLE exactly once
    assert(out.map(r => (r._3, r._4)).sorted.toSeq ===
      Seq((1L, 0), (1L, 1), (1L, 2), (10L, 0)))
    out.foreach(r => assert(r._6 == r._5.split("\\s+").length))
    // greedy semantics: (seq, seq_tok_start) addresses the VIRTUAL token
    // stream (an overflowing chunk consumes the next sequence's leading
    // tokens); the stream must tile [0, total) with no gap or overlap,
    // and every chunk must START inside its own sequence
    val stream = out.map(r => (r._1 * 32L + r._2, r._6.toLong)).sortBy(_._1)
    assert(stream.head._1 == 0L)
    stream.sliding(2).foreach {
      case Array((c, n0), (c2, _)) => assert(c + n0 == c2, s"gap after $c")
      case _ =>
    }
    out.foreach(r => assert(r._2 < 32L, s"chunk starts past capacity: $r"))
    // deterministic: a re-run packs identically
    val again = graft.text.Corpus.assemblePacked(
        Seq((a, 1.0), (b, 1.0)), "text", "doc_id", Nil, Seq("the"),
        capacity = 32L, n = 3, threshold = 0.5, tokenBudget = 100L,
        chunkSize = 16, overlap = 4)
      .as[(Long, Long, Long, Int, String, Int)].collect()
    assert(again.sortBy(r => (r._3, r._4)).toSeq === out.sortBy(r => (r._3, r._4)).toSeq)
  }

  test("assemble: repetition gate drops boilerplate the base quality gate passes") {
    val varied = (1 to 40).map(i => s"tok$i").mkString(" ")
    // "spam ham" ×8 + 8 distinct fillers: 24 tokens, distinct ratio 10/24
    // (passes the base 0.3 gate), but the top bigram covers 8×7 = 56 of
    // 72 token chars (0.78 — fails the 0.5 repetition gate)
    val spammy = ((1 to 8).flatMap(_ => Seq("spam", "ham")) ++
      (1 to 8).map(i => s"f$i")).mkString(" ")
    val docs = Seq((1L, varied), (2L, spammy)).toDF("doc_id", "text")
    val ungated = graft.text.Corpus.assemble(Seq((docs, 1.0)), "text", "doc_id",
        Nil, Seq("the"), n = 3, threshold = 0.5, chunkSize = 64)
      .select("doc_id").as[Long].collect().toSet
    val gated = graft.text.Corpus.assemble(Seq((docs, 1.0)), "text", "doc_id",
        Nil, Seq("the"), n = 3, threshold = 0.5, chunkSize = 64,
        repetition = Some((0.3, 0.5)))
      .select("doc_id").as[Long].collect().toSet
    assert(ungated === Set(1L, 2L), "spammy doc passes the base gate")
    assert(gated === Set(1L), "the repetition gate must catch it")
  }

  test("assemble: decontamination drops docs covering an eval-suite doc") {
    val long = (1 to 40).map(i => s"tok$i").mkString(" ")
    val other = (1 to 30).map(i => s"w$i").mkString(" ")
    val a = Seq((1L, long), (5L, other)).toDF("doc_id", "text")
    // the eval doc is an 8-token slice of doc 1 → doc 1 covers 100% of its
    // shingles (containment, not Jaccard — the slice is tiny vs doc 1)
    val eval = Seq((900L, (10 to 17).map(i => s"tok$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = graft.text.Corpus.assemble(Seq((a, 1.0)), "text", "doc_id",
        Nil, Seq("the"), n = 3, threshold = 0.5, tokenBudget = 1000L,
        chunkSize = 16, overlap = 0, decontaminate = Some((eval, 0.7)))
      .select("doc_id").as[Long].collect().toSet
    assert(out === Set(5L), "doc 1 contains the eval doc and must be dropped")
    val undecon = graft.text.Corpus.assemble(Seq((a, 1.0)), "text", "doc_id",
        Nil, Seq("the"), n = 3, threshold = 0.5, tokenBudget = 1000L,
        chunkSize = 16, overlap = 0)
      .select("doc_id").as[Long].collect().toSet
    assert(undecon === Set(1L, 5L))
  }

  test("assemble: finite budget seals clean stages behind a checkpoint") {
    // tokenBudgetSample fires two driver-side sizing aggregates — without
    // the lazy checkpoint each one re-executes the whole clean pipeline.
    // Sealed = none of clean()'s operators (the exact-dedupe groupBy on
    // `fp`; it is a groupBy + flag-back join, never a window) appear
    // above the checkpoint in the budgeted plan; the unbounded path
    // skips both the checkpoint and the sizing actions entirely.
    val long = (1 to 40).map(i => s"tok$i").mkString(" ")
    val a = Seq((1L, long), (2L, "short")).toDF("doc_id", "text")
    def hasFpAgg(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect {
        case g: org.apache.spark.sql.catalyst.plans.logical.Aggregate
          if g.groupingExpressions.flatMap(_.references.toSeq).exists(_.name == "fp") => g
      }.nonEmpty
    val budgeted = graft.text.Corpus.assemble(Seq((a, 1.0)), "text", "doc_id",
      Nil, Seq("the"), tokenBudget = 10L, chunkSize = 16, overlap = 0)
    assert(!hasFpAgg(budgeted),
      "finite budget: clean stages must be sealed behind the lazy checkpoint")
    val unbounded = graft.text.Corpus.assemble(Seq((a, 1.0)), "text", "doc_id",
      Nil, Seq("the"), chunkSize = 16, overlap = 0)
    assert(hasFpAgg(unbounded),
      "unbounded budget: identity sample, no checkpoint interposed")
    // and the identity really is an identity — zero actions, same frame
    val df = Seq((1L, 5L)).toDF("doc_id", "n")
    assert(graft.ops.Sampling.tokenBudgetSample(df, "doc_id", "n", Long.MaxValue) eq df)
  }

  test("shingle-join family: degenerate inputs give the brute-force answer") {
    // Every operator runs on (left = batch/probe, right = history/corpus);
    // the self-join forms run on left ∪ right. Each case's true pairs are
    // identical shingle sets and every other pair sits far below t, so
    // MinHash banding (identical sets ⇒ identical signatures) must find
    // exactly the brute-force pairs too.
    type Docs = Seq[(Long, Option[String])]
    val (n, t) = (3, 0.5)
    val hotL: Docs = Seq((1L, Some("h1 h2 h3 a1 a2")), (2L, Some("h1 h2 h3 b1 b2")))
    val hotR: Docs = Seq((101L, Some("h1 h2 h3 a1 a2")), (102L, Some("h1 h2 h3 c1 c2")))
    val cases: Seq[(String, Docs, Docs)] = Seq(
      ("both sides empty", Nil, Nil),
      ("empty left", Nil, hotR),
      ("empty right", hotL, Nil),
      ("one doc per side", Seq((1L, Some("a b c d e"))), Seq((101L, Some("a b c d e")))),
      ("docs shorter than n", Seq((1L, Some("a b")), (2L, Some("z"))),
        Seq((101L, Some("a b")), (102L, Some("a b c")))),
      ("NULL text", Seq((1L, None), (2L, Some("p q r s"))),
        Seq((101L, None), (102L, Some("p q r s")))),
      ("one shingle in every doc", hotL, hotR))

    // the shingle contract: token n-grams, the whole text below n tokens,
    // nothing for NULL text
    def sh(text: Option[String]): Set[String] = text.fold(Set.empty[String]) { s =>
      val toks = s.trim.split("\\s+", -1).toSeq
      if (toks.size < n) Set(toks.mkString(" ")) else toks.sliding(n).map(_.mkString(" ")).toSet
    }
    def r9(x: Double): Double = math.rint(x * 1e9) / 1e9
    def jac(a: Set[String], b: Set[String]) = (a & b).size.toDouble / (a | b).size
    def con(a: Set[String], b: Set[String]) = (a & b).size.toDouble / a.size
    def pairs(l: Docs, r: Docs, score: (Set[String], Set[String]) => Double,
              self: Boolean): Set[Seq[Any]] =
      (for ((i, x) <- l; (j, y) <- r; if !self || i < j
            if sh(x).nonEmpty && sh(y).nonEmpty && score(sh(x), sh(y)) >= t)
        yield Seq[Any](i, j, r9(score(sh(x), sh(y))))).toSet
    def report(l: Docs, r: Docs): Set[Seq[Any]] = l.map { case (i, x) =>
      val hits = r.collect { case (_, y) if sh(x).nonEmpty && con(sh(x), sh(y)) >= t =>
        r9(con(sh(x), sh(y))) }
      Seq[Any](i, hits.size.toLong, if (hits.isEmpty) null else hits.max, hits.nonEmpty)
    }.toSet

    type Frame = org.apache.spark.sql.DataFrame
    def rows(d: Frame) = Dedup.shingleRows(d, "text", "doc_id", Nil, n)
    val ops: Seq[(String, (Frame, Frame) => Frame, (Docs, Docs) => Set[Seq[Any]])] = Seq(
      ("ngramJaccardPairs",
        (l, r) => Dedup.ngramJaccardPairs(l.unionByName(r), "text", "doc_id", Nil, n, t),
        (l, r) => pairs(l ++ r, l ++ r, jac, self = true)),
      ("ngramJaccardJoin",
        (l, r) => Dedup.ngramJaccardJoin(l, r, "text", "doc_id", n, t),
        (l, r) => pairs(l, r, jac, self = false)),
      ("ngramJaccardJoinPrebuilt", (l, r) => {
        val (df, prefix) = Dedup.historyJaccardIndex(rows(r), "doc_id", t)
        Dedup.ngramJaccardJoinPrebuilt(rows(l), rows(r), df, prefix, "doc_id", t)
      }, (l, r) => pairs(l, r, jac, self = false)),
      ("containmentJoin",
        (l, r) => Dedup.containmentJoin(l, r, "text", "doc_id", n, t),
        (l, r) => pairs(l, r, con, self = false)),
      ("containmentJoinPrebuilt", (l, r) => {
        val (df, sizes) = Dedup.corpusContainmentIndex(rows(r), "doc_id")
        Dedup.containmentJoinPrebuilt(rows(l), rows(r), df, sizes, "doc_id", t)
      }, (l, r) => pairs(l, r, con, self = false)),
      ("minhashLshPairs",
        (l, r) => Dedup.minhashLshPairs(l.unionByName(r), "text", "doc_id",
          n, bands = 16, rowsPerBand = 4, confirmThreshold = Some(t)),
        (l, r) => pairs(l ++ r, l ++ r, jac, self = true)),
      ("contaminationReport",
        (l, r) => Dedup.contaminationReport(l, r, "text", "doc_id", n, t),
        report))

    for ((name, l, r) <- cases; (op, run, expect) <- ops) {
      val got = run(l.toDF("doc_id", "text"), r.toDF("doc_id", "text"))
        .collect().map(_.toSeq.map {
          case d: Double => r9(d)
          case v => v
        }).toSet
      assert(got === expect(l, r), s"$op on $name")
    }
  }

  test("incremental operators handle empty sides") {
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // (ngramJaccardJoin's empty sides: see the degenerate-input matrix)
    // cleanIncremental with empty history degrades to within-batch stages
    val out = graft.text.Corpus.cleanIncremental(docs, empty, "text", "doc_id",
        Seq("the"), 3, 0.5)
      .select("doc_id", "keep_quality", "keep_exact", "keep_vs_history", "keep")
      .as[(Long, Boolean, Boolean, Boolean, Boolean)].collect().toSet
    assert(out === Set((1L, true, true, true, true)))
  }

  test("Corpus.clean failure bypass: failures never enter the fp join; " +
      "flags keep the old three-valued semantics") {
    // quality failures take a scan-side bypass (filter + union) instead
    // of sentinel keys through the fingerprint join — at crawl scale the
    // old shape shuffled ~30% of the corpus (and carried every failure as
    // a singleton aggregate group) to dedupe nothing. The bypass must be
    // a pure PLAN change: keep_exact stays false for a false gate, null
    // for a null gate (null text) and for a null id — exactly what the
    // sentinel singleton min-group produced.
    val docs = Seq(
      (Option(1L), Option("a b c d e f g h i j k l")), // passes
      (Option(2L), Option("a b c d e f g h i j k l")), // exact dup of 1
      (Option(3L), Option("too short")),               // fails (false gate)
      (Option(4L), Option.empty[String]),              // null gate
      (Option.empty[Long], Option("tiny")))            // fails, null id
      .toDF("doc_id", "text")
    val out = graft.text.Corpus.clean(
        docs, "text", "doc_id", Nil, Seq("the"))
      .select(col("doc_id"), col("keep_quality"), col("keep_exact"))
      .collect()
      .map(r => ((if (r.isNullAt(0)) None else Some(r.getLong(0))),
        (if (r.isNullAt(1)) None else Some(r.getBoolean(1))),
        (if (r.isNullAt(2)) None else Some(r.getBoolean(2)))))
      .toSet
    assert(out === Set(
      (Some(1L), Some(true), Some(true)),   // min-id survivor
      (Some(2L), Some(true), Some(false)),  // exact dup loses
      (Some(3L), Some(false), Some(false)), // false gate -> false
      (Some(4L), None, None),               // null gate -> null
      (None, Some(false), Some(false))))    // false gate, null id -> false
    // and the bypass is structural: the failure rows' plan path carries
    // no join — the only scans feeding a join are keep_quality-filtered
    val plan = graft.text.Corpus.clean(docs, "text", "doc_id", Nil, Seq("the"))
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("Union"), s"failure bypass union missing:\n$plan")
  }

  test("percentile_approx tracks exact percentile within sketch rank error") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("lang"), TextOps.tokenCount(col("text")).cast("double").as("n"))
    val exact = docs.groupBy(col("lang"))
      .agg(percentile(col("n"), lit(0.5)).as("p"))
      .as[(String, Double)].collect().toMap
    // accuracy 10000 on a few-hundred-row group: rank error < 1 row, so
    // the sketch answer must be an actual data value at most one rank off
    val approx = docs.groupBy(col("lang"))
      .agg(percentile_approx(col("n"), lit(0.5), lit(10000)).as("p"))
      .as[(String, Double)].collect().toMap
    exact.foreach { case (lang, p) =>
      assert(math.abs(approx(lang) - p) <= 2.0,
        s"$lang: approx ${approx(lang)} vs exact $p")
    }
  }

  test("Corpus.clean: stage flags compose (quality -> exact -> near-dup)") {
    val long = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = Seq(
      (1L, long, "en"),                      // survivor (min id of exact pair {1,3})
      (2L, "too short", "en"),               // fails quality (< 10 tokens)
      (3L, long, "en"),                      // exact duplicate of 1 → dropped at exact
      (4L, long + " changed", "en"),         // near-dup of 1 → dropped at cluster
      (5L, "one two three four five six seven eight nine ten eleven", "en"))
      .toDF("doc_id", "text", "lang")
    val frame = graft.text.Corpus.clean(docs, "text", "doc_id", Seq("lang"),
        stopwords = Seq("the"), threshold = 0.5)
    val out = frame
      .select("doc_id", "keep_quality", "keep_exact", "keep")
      .as[(Long, Boolean, Boolean, Boolean)].collect().toSet
    assert(out === Set(
      (1L, true, true, true),
      (2L, false, false, false),
      (3L, true, false, false),
      (4L, true, true, false),
      (5L, true, true, true)))
    // the exact stage must stay groupBy+join-back — a window partitioned
    // by the fingerprint is one un-splittable task per hot boilerplate
    // key at crawl scale (round-6 verdict What's-wrong #2)
    val fpWindows = frame.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.exists(_.references.exists(_.name == "fp")) => w
    }
    assert(fpWindows.isEmpty, s"fingerprint-partitioned window in plan: $fpWindows")
  }

  test("IVF cell-partitioned persistence: probes prune partitions at the scan") {
    val sf = "/root/testdata/sf0.001"
    val emb = graft.Tables.embeddings(spark, sf)
    val q = emb.where(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val others = emb.where(col("vec_id") =!= 0)
    val (model, assigned) = Ivf.build(others, "embedding", "vec_id", nCells = 8)
    val dir = SparkSpec.tempDir("graft_ivf").toString
    assigned.write.mode("overwrite").partitionBy("ivf_cell").parquet(dir)
    val back = spark.read.parquet(dir)
    val probed = Ivf.topK(back, model, "embedding", "vec_id", q, 10, nProbe = 2)
    probed.collect()
    // the isin(ivf_cell) filter must reach the scan as a partition filter,
    // so only the probed cells' directories are read
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("ivf_cell"),
      s"probe filter did not prune partitions:\n$plan")
    // and the probed result set equals the in-memory assigned-frame probe
    val direct = Ivf.topK(assigned, model, "embedding", "vec_id", q, 10, nProbe = 2)
      .select("vec_id").as[Long].collect().toSeq
    assert(probed.select("vec_id").as[Long].collect().toSeq === direct)
  }

  test("connectedComponents matches union-find on seeded random graphs") {
    val rnd = new scala.util.Random(7L)
    for (trial <- 1 to 3) {
      val nNodes = 60 + trial * 20
      val edges = Seq.fill(nNodes)(
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
        .filter { case (a, b) => a != b }
      // reference: driver-side union-find
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        parent.getOrElseUpdate(x, x)
        if (parent(x) == x) x
        else { val r = find(parent(x)); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map { n =>
        n -> parent.keys.filter(m => find(m) == find(n)).min
      }.toSet
      val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toSet
      assert(got === expected, s"trial $trial, ${edges.size} edges")
    }
  }

  test("dedupeByPairs labels every doc; survivors are cluster minima") {
    val docs = Seq(1L, 2L, 3L, 9L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.dedupeByPairs(docs, "doc_id", pairs)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(out === Set((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (9L, 9L, true)))
  }

  test("PPJoin pipelines never window-partition by the shingle hash alone") {
    // shingle frequencies are Zipfian: a window partitioned solely by `g`
    // funnels every row of a hot shingle into ONE task, and AQE skew
    // handling splits joins, not windows — the df stage must stay the
    // groupBy+join form. Guards q26/q49/q67/q68/q72/q73 at 100 TB.
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e g")).toDF("doc_id", "text")
    val plans = Seq(
      "ngramJaccardPairs" -> Dedup.ngramJaccardPairs(docs, "text", "doc_id", Nil, 3, 0.5),
      "ngramJaccardPairs/blocked" ->
        Dedup.ngramJaccardPairs(docs.withColumn("lang", lit("en")), "text",
          "doc_id", Seq("lang"), 3, 0.5),
      "ngramJaccardJoin" -> Dedup.ngramJaccardJoin(docs, docs, "text", "doc_id", 3, 0.5),
      "containmentJoin" -> Dedup.containmentJoin(docs, docs, "text", "doc_id", 3, 0.5),
      // same Zipfian-gram concern for ExactSubstr: occurrence stats must
      // be the partially-aggregable groupBy, never a gram-keyed window
      "substringDedup" -> SubstringDedup.substringDedup(docs, "text", "doc_id", 3),
      "substringDedupAgainstHistory" -> SubstringDedup.substringDedupAgainstHistory(
        docs, SubstringDedup.gramIndex(docs, "text", "doc_id", 3), "text", "doc_id", 3))
    plans.foreach { case (name, df) =>
      val offending = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.nonEmpty &&
            w.partitionSpec.flatMap(_.references.toSeq).forall(_.name == "g") => w
      }
      assert(offending.isEmpty,
        s"$name: window partitioned only by the shingle hash — Zipfian straggler")
    }
  }

  test("q59 exactness precondition: vocabulary under the approx_top_k capacity") {
    // q59 oracle-gates only while every distinct token fits the sketch's
    // tracking capacity (10000, explicit in the query) — past it the
    // counts silently go approximate and the oracle would flip red
    // confusingly. Fail HERE with the remedy instead.
    val dir = new java.io.File("/root/testdata/sf0.01/documents.parquet")
    assume(dir.exists, "driver testdata not present")
    val distinct = spark.read.parquet(dir.toString)
      .select(explode(TextOps.tokens(col("text"))).as("token"))
      .distinct().count()
    assert(distinct < 10000,
      s"documents vocabulary ($distinct tokens) reached approx_top_k capacity " +
        "(10000): q59_heavy_hitters is no longer exact — demote it to " +
        "rows-only (drop its oracleSql entry) or raise maxItemsTracked")
  }

  test("prebuilt history index: join parity and shared-order prefix math") {
    val long = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val hist = Seq((2L, long), (4L, long + " extra"),
      (6L, "one two three four five six"),
      (8L, "totally disjoint history content words")).toDF("doc_id", "text")
    val batch = Seq((1L, long), (3L, "one two three four five six"),
      (5L, "unrelated words here entirely now")).toDF("doc_id", "text")
    val histRows = Dedup.shingleRows(hist, "text", "doc_id", Nil, 3)
    val (histDf, histPrefix) = Dedup.historyJaccardIndex(histRows, "doc_id", 0.5)
    val batchRows = Dedup.shingleRows(batch, "text", "doc_id", Nil, 3)
    val got = Dedup.ngramJaccardJoinPrebuilt(batchRows, histRows, histDf,
        histPrefix, "doc_id", 0.5)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val expected = Dedup.ngramJaccardJoin(batch, hist, "text", "doc_id", 3, 0.5)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got === expected)
    assert(got.keySet === Set((1L, 2L), (1L, 4L), (3L, 6L)))
  }

  test("prebuilt containment join matches union-df containment on random corpora") {
    // probe-only prefix under corpus-rare-first order must emit exactly
    // the pairs the union-df form does, on every draw (the theorem holds
    // for ANY probe ordering; this checks the implementation)
    val rnd = new scala.util.Random(20260814L)
    val vocab = (1 to 15).map(i => s"w$i")
    def doc(lo: Int, hi: Int): String =
      (0 until (lo + rnd.nextInt(hi - lo + 1)))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    for (trial <- 1 to 3) {
      val corpus = (1L to 14L).map(i => (i, doc(10, 20))).toDF("doc_id", "text")
      val probe = (101L to 106L).map(i => (i, doc(5, 9))).toDF("doc_id", "text")
      val corpusRows = Dedup.shingleRows(corpus, "text", "doc_id", Nil, 3)
      val (cDf, cSizes) = Dedup.corpusContainmentIndex(corpusRows, "doc_id")
      val got = Dedup.containmentJoinPrebuilt(
          Dedup.shingleRows(probe, "text", "doc_id", Nil, 3),
          corpusRows, cDf, cSizes, "doc_id", 0.6)
        .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
      val expected = Dedup.containmentJoin(probe, corpus, "text", "doc_id", 3, 0.6)
        .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
      assert(got === expected, s"trial $trial")
    }
  }

  test("prebuilt contamination report matches union-df report on random corpora") {
    // the audit twin of the pair-level parity above: same rolled-up
    // report (clean docs included) whether the corpus is shingled per
    // run or probed via prebuilt artifacts
    val rnd = new scala.util.Random(20260815L)
    val vocab = (1 to 15).map(i => s"w$i")
    def doc(lo: Int, hi: Int): String =
      (0 until (lo + rnd.nextInt(hi - lo + 1)))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    for (trial <- 1 to 3) {
      val corpus = (1L to 14L).map(i => (i, doc(10, 20))).toDF("doc_id", "text")
      val probe = (101L to 106L).map(i => (i, doc(5, 9))).toDF("doc_id", "text")
      val corpusRows = Dedup.shingleRows(corpus, "text", "doc_id", Nil, 3)
      val (cDf, cSizes) = Dedup.corpusContainmentIndex(corpusRows, "doc_id")
      val got = Dedup.contaminationReportPrebuilt(probe, "text",
          corpusRows, cDf, cSizes, "doc_id", 3, 0.6)
        .as[(Long, Long, Option[Double], Boolean)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      val expected = Dedup.contaminationReport(probe, corpus, "text",
          "doc_id", 3, 0.6)
        .as[(Long, Long, Option[Double], Boolean)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      assert(got === expected, s"trial $trial")
      assert(got.keySet === (101L to 106L).toSet, s"trial $trial universe")
    }
  }

  test("multi-benchmark audit equals K separate reports; shared docs shingle once") {
    // one-pass parity: contaminationReportMulti's (benchmark, doc) rows
    // must equal running contaminationReport per benchmark — including a
    // doc that belongs to TWO suites (deduped by id before the join, so
    // both memberships get the same verdict)
    val rnd = new scala.util.Random(20260814L)
    val vocab = (1 to 15).map(i => s"w$i")
    def doc(lo: Int, hi: Int): String =
      (0 until (lo + rnd.nextInt(hi - lo + 1)))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    for (trial <- 1 to 3) {
      val corpus = (1L to 14L).map(i => (i, doc(10, 20))).toDF("doc_id", "text")
      val items = (101L to 106L).map(i => (i, doc(5, 9)))
      val probe = (items.take(4).map { case (i, t) => ("benchA", i, t) } ++
          items.drop(2).map { case (i, t) => ("benchB", i, t) })   // 103,104 shared
        .toDF("benchmark", "doc_id", "text")
      val got = Dedup.contaminationReportMulti(probe, "benchmark", corpus,
          "text", "doc_id", 3, 0.6)
        .as[(String, Long, Long, Option[Double], Boolean)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
      val expected = Seq("benchA", "benchB").flatMap { b =>
        Dedup.contaminationReport(
            probe.where(col("benchmark") === b).select("doc_id", "text"),
            corpus, "text", "doc_id", 3, 0.6)
          .as[(Long, Long, Option[Double], Boolean)].collect()
          .map(r => (b, r._1) -> (r._2, r._3, r._4))
      }.toMap
      assert(got === expected, s"trial $trial")
      assert(got.keySet.size === 8, s"trial $trial membership rows")
      // the rollup agrees with hand-aggregation of the report
      val summary = Dedup.contaminationSummary(
          Dedup.contaminationReportMulti(probe, "benchmark", corpus,
            "text", "doc_id", 3, 0.6), "benchmark")
        .as[(String, Long, Long, Option[Double], Double)].collect()
        .map(r => r._1 -> (r._2, r._3, r._5)).toMap
      Seq("benchA", "benchB").foreach { b =>
        val rows = got.filter(_._1._1 == b).values
        val nDirty = rows.count(_._3)
        assert(summary(b) === ((4L, nDirty.toLong, nDirty.toDouble / 4)), s"trial $trial $b")
      }
    }
  }

  test("prebuilt history join matches union-df join on random corpora") {
    // randomized model check: the prebuilt path uses a DIFFERENT total
    // order (history-only df, unseen shingles at 0) — results must still
    // be identical to the union-df form on every draw
    val rnd = new scala.util.Random(20260813L)
    val vocab = (1 to 18).map(i => s"w$i")
    def doc(): String =
      (0 until (8 + rnd.nextInt(6))).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    for (trial <- 1 to 3) {
      val hist = (1L to 12L).map(i => (i, doc())).toDF("doc_id", "text")
      val batch = (101L to 110L).map(i => (i, doc())).toDF("doc_id", "text")
      val histRows = Dedup.shingleRows(hist, "text", "doc_id", Nil, 3)
      val (hDf, hPrefix) = Dedup.historyJaccardIndex(histRows, "doc_id", 0.4)
      val batchRows = Dedup.shingleRows(batch, "text", "doc_id", Nil, 3)
      val got = Dedup.ngramJaccardJoinPrebuilt(batchRows, histRows, hDf,
          hPrefix, "doc_id", 0.4)
        .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
      val expected = Dedup.ngramJaccardJoin(batch, hist, "text", "doc_id", 3, 0.4)
        .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
      assert(got === expected, s"trial $trial")
    }
  }

  test("minhashLshJoinFromSigs: candidates == brute-force band agreement; confirm exact") {
    // signatures are deterministic under the fixed seed, so cross-corpus
    // banding has an exact model: a pair is a candidate iff the two
    // signature vectors agree on ALL rows of at least one band
    val rnd = new scala.util.Random(20260815L)
    val vocab = (1 to 12).map(i => s"w$i")
    def doc(): String =
      (0 until (8 + rnd.nextInt(8))).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val histDocs = (1L to 10L).map(i => (i, doc()))
    val batchDocs = (101L to 108L).map(i => (i, doc())) :+ (200L -> histDocs.head._2)
    val hist = histDocs.toDF("doc_id", "text")
    val batch = batchDocs.toDF("doc_id", "text")
    val (bands, rpb) = (8, 2)
    val histRows = Dedup.shingleRows(hist, "text", "doc_id", Nil, 3)
    val batchRows = Dedup.shingleRows(batch, "text", "doc_id", Nil, 3)
    val histSigs = Dedup.minhashSigTable(histRows, "doc_id", bands, rpb)
    val batchSigs = Dedup.minhashSigTable(batchRows, "doc_id", bands, rpb)
    def sigMap(df: org.apache.spark.sql.DataFrame): Map[Long, IndexedSeq[Long]] =
      df.collect().map(r => r.getLong(0) ->
        (0 until bands * rpb).map(i => r.getLong(i + 1))).toMap
    val (hs, bs) = (sigMap(histSigs), sigMap(batchSigs))
    val expected = (for {
      (lb, sl) <- bs.toSeq; (rh, sr) <- hs.toSeq
      if (0 until bands).exists(b => (0 until rpb).forall(k => sl(b * rpb + k) == sr(b * rpb + k)))
    } yield (lb, rh)).toSet
    val got = Dedup.minhashLshJoinFromSigs(batchSigs, histSigs, "doc_id", bands, rpb)
      .as[(Long, Long)].collect().toSet
    assert(got === expected)
    assert(got.contains((200L, 1L)), "the planted exact dup must be a candidate")
    // confirm stage: exact Jaccard over the shingle indexes, candidates only
    def shingleSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.as[(Long, Long)].collect().groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val (hSh, bSh) = (shingleSets(histRows), shingleSets(batchRows))
    def jac(a: Set[Long], b: Set[Long]): Double =
      a.intersect(b).size.toDouble / a.union(b).size
    val confirmed = Dedup.minhashLshJoinFromSigs(batchSigs, histSigs, "doc_id",
        bands, rpb, confirm = Some((batchRows, histRows, 0.5)))
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val expectedConfirmed = expected.filter { case (l, r) => jac(bSh(l), hSh(r)) >= 0.5 }
    assert(confirmed.keySet === expectedConfirmed)
    confirmed.foreach { case ((l, r), j) =>
      assert(math.abs(j - jac(bSh(l), hSh(r))) < 1e-12) }
  }

  test("simhashJoinFromSigs: cross-corpus banding == brute-force Hamming sweep") {
    // the pigeonhole guarantee is exact, so the cross form has a
    // deterministic model: every (batch, history) pair within maxDist,
    // none beyond — checked against an all-pairs sweep of the signatures
    val rnd = new scala.util.Random(20260816L)
    val vocab = (1 to 14).map(i => s"w$i")
    def doc(): String =
      (0 until (10 + rnd.nextInt(10))).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val hist = (1L to 12L).map(i => (i, doc())).toDF("doc_id", "text")
    val batch = (101L to 110L).map(i => (i, doc())).toDF("doc_id", "text")
    val histSigs = Dedup.simhashDF(hist, "text", "doc_id")
    val batchSigs = Dedup.simhashDF(batch, "text", "doc_id")
    val hs = histSigs.as[(Long, Long)].collect().toMap
    val bs = batchSigs.as[(Long, Long)].collect().toMap
    val maxDist = 6
    val expected = (for {
      (l, sl) <- bs.toSeq; (r, sr) <- hs.toSeq
      if java.lang.Long.bitCount(sl ^ sr) <= maxDist
    } yield (l, r)).toSet
    val got = Dedup.simhashJoinFromSigs(batchSigs, histSigs, "doc_id", "simhash",
        maxDist = maxDist, tables = 8)
      .as[(Long, Long, Long)].collect()
    assert(got.map(p => (p._1, p._2)).toSet === expected)
    got.foreach { case (l, r, d) =>
      assert(d === java.lang.Long.bitCount(bs(l) ^ hs(r)).toLong) }
  }

  test("paragraphDedupe: global first occurrence wins, docs re-assemble in order") {
    val docs = Seq(
      (1L, "shared boilerplate\n\nunique to one\n\nshared boilerplate"),
      (2L, "shared boilerplate\n\nunique to two"),
      (3L, "   \n\nunique to three"),
      (4L, "")).toDF("doc_id", "text")
    val out = Dedup.paragraphDedupe(docs, "text", "doc_id")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // doc 1 owns the first "shared boilerplate" (pos 0) and drops its own
    // repeat at pos 2; doc 2's copy is a cross-doc duplicate
    assert(out(1L) === (("shared boilerplate\n\nunique to one", 2L, 1L)))
    assert(out(2L) === (("unique to two", 1L, 1L)))
    assert(out(3L) === (("unique to three", 1L, 0L)))
    assert(out(4L) === (("", 0L, 0L)))
  }

  test("paragraphDedupe randomized model check vs a direct Scala reference") {
    val rnd = new scala.util.Random(4242L)
    val pool = (1 to 12).map(i => s"paragraph number $i with body text")
    val docs = (1L to 25L).map { i =>
      (i, (0 until rnd.nextInt(6)).map(_ => pool(rnd.nextInt(pool.size)))
        .mkString("\n\n"))
    }
    val got = Dedup.paragraphDedupe(docs.toDF("doc_id", "text"), "text", "doc_id")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val seen = scala.collection.mutable.Set[String]()
    val expect = docs.sortBy(_._1).map { case (id, text) =>
      val paras = text.split("\n{2,}", -1).map(_.trim).filter(_.nonEmpty)
      val kept = paras.filter(p => seen.add(p))
      id -> ((kept.mkString("\n\n"), kept.length.toLong, (paras.length - kept.length).toLong))
    }.toMap
    docs.foreach { case (id, _) => assert(got(id) === expect(id), s"doc $id") }
  }

  test("stripTemplates: per-group presence gate, strict boundary, " +
      "minDocs exemption; EVERY template occurrence drops") {
    // group A (4 docs ≥ minDocs): banner in 4/4 (>50% → template),
    // footer in exactly 2/4 (50% is NOT > 50% → kept), bodies unique.
    // group B (2 docs < minDocs): its universal banner is exempt.
    val docs = Seq(
      (1L, "A", "BANNER\n\nbody one\n\nFOOT"),
      (2L, "A", "BANNER\n\nbody two\n\nFOOT"),
      (3L, "A", "BANNER\n\nbody three"),
      (4L, "A", "BANNER\n\nbody four\n\nBANNER"), // in-doc repeat: doc counts once
      (5L, "B", "SMALLBANNER\n\nbody five"),
      (6L, "B", "SMALLBANNER\n\nbody six")
    ).toDF("doc_id", "source", "text")
    val out = Dedup.stripTemplates(docs, "text", "doc_id", "source",
        maxDocPerMille = 500, minDocs = 4L)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) === (("body one\n\nFOOT", 2L, 1L)))
    assert(out(2L) === (("body two\n\nFOOT", 2L, 1L)))
    assert(out(3L) === (("body three", 1L, 1L)))
    // BOTH banner occurrences in doc 4 drop (template ≠ first-keeps)
    assert(out(4L) === (("body four", 1L, 2L)))
    assert(out(5L) === (("SMALLBANNER\n\nbody five", 2L, 0L)))
    assert(out(6L) === (("SMALLBANNER\n\nbody six", 2L, 0L)))
  }

  test("stripTemplatesIncremental: history counts prove a template the " +
      "batch alone cannot; batch-only buckets stay exempt") {
    val history = Seq(
      (1L, "A", "BANNER\n\nold one"), (2L, "A", "BANNER\n\nold two"),
      (3L, "A", "BANNER\n\nold three"), (4L, "A", "BANNER\n\nold four")
    ).toDF("doc_id", "source", "text")
    val batch = Seq(
      (11L, "A", "BANNER\n\nnew body"),   // banner 5/6 combined → strips
      (12L, "A", "fresh body only"),
      (13L, "C", "CBANNER\n\nc body")     // C has 1 doc total → exempt
    ).toDF("doc_id", "source", "text")
    val (hp, hs) = Dedup.templateState(history, "text", "doc_id", "source")
    val out = Dedup.stripTemplatesIncremental(batch, hp, hs,
        "text", "doc_id", "source", maxDocPerMille = 500, minDocs = 4L)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(11L) === (("new body", 1L, 1L)))
    assert(out(12L) === (("fresh body only", 1L, 0L)))
    assert(out(13L) === (("CBANNER\n\nc body", 2L, 0L)))
    // batch ALONE would have stripped nothing (2 docs in A < minDocs)
    val solo = Dedup.stripTemplates(batch, "text", "doc_id", "source",
        maxDocPerMille = 500, minDocs = 4L)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r._4).toMap
    assert(solo === Map(11L -> 0L, 12L -> 0L, 13L -> 0L))
  }

  test("stripTemplatesIncremental: opt-in disjointness guard makes an " +
      "overlapping batch fail loudly instead of double-counting") {
    val history = Seq(
      (1L, "A", "BANNER\n\nold one"), (2L, "A", "BANNER\n\nold two")
    ).toDF("doc_id", "source", "text")
    val (hp, hs) = Dedup.templateState(history, "text", "doc_id", "source")
    // doc 2 is in BOTH history and batch — the misuse the contract forbids
    val overlapping = Seq(
      (2L, "A", "BANNER\n\nold two"), (11L, "A", "BANNER\n\nnew body")
    ).toDF("doc_id", "source", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.stripTemplatesIncremental(overlapping, hp, hs,
        "text", "doc_id", "source",
        assertDisjointWith = Some(history.select(col("doc_id")))).collect()
    }
    assert(e.getMessage.contains("overlap") && e.getMessage.contains("2"))
    // a genuinely disjoint batch passes with the guard on, same result
    val disjoint = Seq((11L, "A", "BANNER\n\nnew body"))
      .toDF("doc_id", "source", "text")
    val guarded = Dedup.stripTemplatesIncremental(disjoint, hp, hs,
        "text", "doc_id", "source",
        assertDisjointWith = Some(history.select(col("doc_id"))))
      .as[(Long, String, Long, Long)].collect().toSeq
    val unguarded = Dedup.stripTemplatesIncremental(disjoint, hp, hs,
        "text", "doc_id", "source")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(guarded === unguarded)
  }

  test("paragraphDedupeIncremental: history paragraphs drop, batch dedupes within itself") {
    val hist = Seq((100L, "seen before\n\nalso seen")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "seen before\n\nbrand new one"),
      (2L, "brand new one\n\nbrand new two"),
      (3L, "also seen")).toDF("doc_id", "text")
    val out = Dedup.paragraphDedupeIncremental(
        batch, Dedup.paragraphFps(hist, "text", "doc_id"), "text", "doc_id")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) === (("brand new one", 1L, 1L)))
    assert(out(2L) === (("brand new two", 1L, 1L))) // "one" claimed by doc 1
    assert(out(3L) === (("", 0L, 1L)))
  }

  test("paragraphDedupeIncremental randomized: staged model (history set, then in-batch)") {
    val rnd = new scala.util.Random(1717L)
    val pool = (1 to 10).map(i => s"para body $i")
    def doc(): String =
      (0 until rnd.nextInt(5)).map(_ => pool(rnd.nextInt(pool.size))).mkString("\n\n")
    val hist = (1L to 8L).map(i => (i, doc()))
    val batch = (101L to 120L).map(i => (i, doc()))
    val got = Dedup.paragraphDedupeIncremental(
        batch.toDF("doc_id", "text"),
        Dedup.paragraphFps(hist.toDF("doc_id", "text"), "text", "doc_id"),
        "text", "doc_id")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val seen = scala.collection.mutable.Set[String]()
    hist.foreach { case (_, t) =>
      t.split("\n{2,}", -1).map(_.trim).filter(_.nonEmpty).foreach(seen.add) }
    batch.sortBy(_._1).foreach { case (id, text) =>
      val paras = text.split("\n{2,}", -1).map(_.trim).filter(_.nonEmpty)
      val kept = paras.filter(p => seen.add(p))
      assert(got(id) === ((kept.mkString("\n\n"), kept.length.toLong,
        (paras.length - kept.length).toLong)), s"doc $id")
    }
  }

  test("prebuilt history index rejects joins below its build threshold") {
    // an index built at 0.8 has prefixes too short for a 0.5 join —
    // silently missing pairs is the failure mode, so the join must throw;
    // joining at or ABOVE the build threshold stays legal (superset prefix)
    val docs = Seq((2L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val histRows = Dedup.shingleRows(docs, "text", "doc_id", Nil, 3)
    val (hDf, hPrefix) = Dedup.historyJaccardIndex(histRows, "doc_id", 0.8)
    val batchRows = Dedup.shingleRows(
      Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"),
      "text", "doc_id", Nil, 3)
    val e = intercept[IllegalArgumentException] {
      Dedup.ngramJaccardJoinPrebuilt(batchRows, histRows, hDf, hPrefix, "doc_id", 0.5)
    }
    assert(e.getMessage.contains("rebuild the index"))
    assert(Dedup.ngramJaccardJoinPrebuilt(batchRows, histRows, hDf, hPrefix,
      "doc_id", 0.9).count() === 1L)
  }

  test("softDedupe: every row kept, weight = 10^6 div n_copies, " +
      "content-less family is one group") {
    val docs = Seq(
      (1L, Option("same doc body")), (2L, Option("same doc body")),
      (3L, Option("same doc body")),
      (4L, Option("unique body")),
      (5L, Option.empty[String]), (6L, Option(""))   // md5('') group of 2
    ).toDF("doc_id", "text")
    val out = Dedup.softDedupe(docs, "text", "doc_id")
      .select(col("doc_id"), col("n_copies"), col("weight_micro"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out.keySet === (1L to 6L).toSet, "soft dedup NEVER drops a row")
    Seq(1L, 2L, 3L).foreach(id => assert(out(id) === ((3L, 333333L))))
    assert(out(4L) === ((1L, 1000000L)))
    Seq(5L, 6L).foreach(id => assert(out(id) === ((2L, 500000L))))
    // reserved output columns fail loudly
    assertThrows[IllegalArgumentException] {
      Dedup.softDedupe(docs.withColumn("weight_micro", lit(1L)),
        "text", "doc_id")
    }
  }

  test("winnowing: hand-checked selection, rightmost ties, short docs, " +
      "and the w+k-1 shared-substring guarantee") {
    def md5hex(s: String): String =
      org.apache.commons.codec.digest.DigestUtils.md5Hex(s)
    // driver model: per window of w gram-hashes, min hash with
    // rightmost-position ties; partial leading windows included
    def model(text: String, k: Int, w: Int): Set[(Int, String)] = {
      val toks = text.trim.split("\\s+").toSeq
      val grams = toks.sliding(k).toSeq.filter(_.size == k).zipWithIndex
        .map { case (g, p) => (p, md5hex(g.mkString(" "))) }
      grams.indices.map { t =>
        grams.slice(math.max(0, t - w + 1), t + 1)
          .reduceLeft((a, b) => if (b._2 < a._2 || (b._2 == a._2 && b._1 > a._1)) b else a)
      }.map { case (p, h) => (p, h) }.toSet
    }
    val texts = Seq(
      1L -> "the quick brown fox jumps over the lazy dog again and again",
      2L -> "x x x x x x x x x x",              // all-equal hashes: ties
      3L -> "one two three four",               // exactly one gram (k=4)
      4L -> "too short",                        // < k tokens: no grams
      5L -> "prefix words then the quick brown fox jumps over the lazy dog tail"
    )
    val out = Dedup.winnowingFps(texts.toDF("doc_id", "text"),
        "text", "doc_id", k = 4, w = 5)
      .select(col("doc_id"), col("pos"), col("fp"))
      .as[(Long, Int, String)].collect()
    val byDoc = out.groupBy(_._1).view
      .mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    texts.foreach { case (id, text) =>
      val want = model(text, 4, 5)
      assert(byDoc.getOrElse(id, Set.empty) === want, s"doc $id")
    }
    // all-equal hashes: rightmost tie means every window selects its
    // LAST gram — all 7 gram positions end up selected
    assert(byDoc(2L).map(_._1) === (0 to 6).toSet)
    // doc 4 has no 4-gram: absent
    assert(!byDoc.contains(4L))
    // THE guarantee: docs 1 and 5 share >= w+k-1 = 8 verbatim tokens,
    // so they must share at least one selected fingerprint
    assert(byDoc(1L).map(_._2).intersect(byDoc(5L).map(_._2)).nonEmpty,
      "shared run of w+k-1 tokens must share a fingerprint")
    // density sanity: far fewer fingerprints than grams on doc 1
    assert(byDoc(1L).size < 9)
  }

  test("winnowingPairs: overlapping docs pair, unrelated don't, and the " +
      "maxDf cap eliminates boilerplate-only evidence") {
    val run = "the quick brown fox jumps over the lazy dog tonight"
    val docs = Seq(
      (1L, s"intro words then $run and more trailing content here"),
      (2L, s"other opening $run with a different ending entirely"),
      (3L, "completely unrelated text about something else entirely today"),
      // 4..9: six copies of one boilerplate body — every fingerprint has
      // df 6 > maxDf 5, so NO pair evidence survives the cap
      (4L, "standard footer legal text body repeated verbatim everywhere"),
      (5L, "standard footer legal text body repeated verbatim everywhere"),
      (6L, "standard footer legal text body repeated verbatim everywhere"),
      (7L, "standard footer legal text body repeated verbatim everywhere"),
      (8L, "standard footer legal text body repeated verbatim everywhere"),
      (9L, "standard footer legal text body repeated verbatim everywhere")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowingPairs(docs, "text", "doc_id",
        k = 4, w = 3, minShared = 1, maxDf = 5)
      .select(col("id_a"), col("id_b"), col("n_shared"))
      .as[(Long, Long, Long)].collect().toSeq
    // docs 1/2 share a 10-token run >= w+k-1 = 6 → at least one shared fp
    assert(pairs.map(p => (p._1, p._2)) === Seq((1L, 2L)))
    assert(pairs.head._3 >= 1L)
    // with the cap lifted, the boilerplate six DO pair (proving the cap
    // was what eliminated them, not a selection artifact)
    val uncapped = Dedup.winnowingPairs(docs, "text", "doc_id",
        k = 4, w = 3, minShared = 1, maxDf = 100)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    assert(uncapped.contains((4L, 5L)) && uncapped.contains((8L, 9L)))
    // guards
    assertThrows[IllegalArgumentException] {
      Dedup.winnowingPairs(docs, "text", "doc_id", 4, 3, minShared = 0)
    }
  }

  test("winnowing randomized: Spark equals the driver window-min model") {
    def md5hex(s: String): String =
      org.apache.commons.codec.digest.DigestUtils.md5Hex(s)
    val rnd = new scala.util.Random(911L)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee")
    val docs = (1L to 30L).map { i =>
      val n = rnd.nextInt(40)
      (i, (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val k = 3; val w = 4
    val out = Dedup.winnowingFps(docs.toDF("doc_id", "text"),
        "text", "doc_id", k, w)
      .select(col("doc_id"), col("pos"), col("fp"))
      .as[(Long, Int, String)].collect()
    val byDoc = out.groupBy(_._1).view
      .mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    docs.foreach { case (id, text) =>
      val toks = text.trim.split("\\s+").filter(_.nonEmpty).toSeq
      val grams = toks.sliding(k).toSeq.filter(_.size == k).zipWithIndex
        .map { case (g, p) => (p, md5hex(g.mkString(" "))) }
      val want = grams.indices.map { t =>
        grams.slice(math.max(0, t - w + 1), t + 1)
          .reduceLeft((a, b) =>
            if (b._2 < a._2 || (b._2 == a._2 && b._1 > a._1)) b else a)
      }.toSet
      assert(byDoc.getOrElse(id, Set.empty) === want, s"doc $id: '$text'")
    }
  }
}
