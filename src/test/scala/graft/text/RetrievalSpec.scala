package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.util.Random

/** BM25 retrieval ([[Retrieval]]): the exact-integer odds-idf scorer
  * against a driver-side model, prebuilt == inline, the production
  * ln-idf scorer's ranking behavior, and top-k tie determinism. */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private def corpusDf(docs: Seq[(Long, String)]) = docs.toDF("doc_id", "text")

  /** Driver-side replay of the documented integer arithmetic. */
  private def modelScores(queries: Seq[(Long, String)],
                          corpus: Seq[(Long, String)])
      : Map[(Long, Long), Long] = {
    def toks(t: String): Seq[String] = t.trim.split("\\s+").toSeq
    val n = corpus.size.toLong
    val dl = corpus.map { case (id, t) => id -> toks(t).size.toLong }.toMap
    val s = dl.values.sum
    val post = corpus.flatMap { case (id, t) =>
      toks(t).groupBy(identity).map { case (w, g) => (w, id, g.size.toLong) }
    }
    val dfm = post.groupBy(_._1).map { case (w, g) => w -> g.size.toLong }
    val out = collection.mutable.Map[(Long, Long), Long]().withDefaultValue(0L)
    for ((qid, qt) <- queries; w <- toks(qt).distinct;
         (t, did, tf) <- post if t == w) {
      val rMilli = 1000L * dl(did) * n / s
      val tfnMicro = 22000000000L * tf / (10000L * tf + 3000L + 9L * rMilli)
      val idfMicro = math.max(
        1000000L * (2L * n - 2L * dfm(w) + 1L) / (2L * dfm(w) + 1L), 0L)
      out((qid, did)) += tfnMicro * idfMicro
    }
    out.toMap
  }

  test("odds-idf scores match the driver-side integer model exactly") {
    val rnd = new Random(2026)
    val vocab = Vector("the", "cat", "sat", "on", "mat", "dog", "ran",
      "fast", "quantum", "flux", "entropy", "spark")
    val corpus = (0L until 40L).map { i =>
      i -> Seq.fill(3 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    }
    val queries = (100L until 110L).map { i =>
      i -> Seq.fill(1 + rnd.nextInt(4))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    }
    val got = Retrieval.bm25OddsScores(
        corpusDf(queries), corpusDf(corpus), "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == modelScores(queries, corpus))
  }

  test("prebuilt index path emits identical scores to the inline build") {
    val corpus = Seq(0L -> "alpha beta gamma", 2L -> "beta beta delta",
      4L -> "gamma delta epsilon epsilon", 6L -> "alpha")
    val queries = Seq(1L -> "beta epsilon", 3L -> "alpha gamma gamma")
    val inline = Retrieval.bm25OddsScores(
      corpusDf(queries), corpusDf(corpus), "text", "doc_id")
    val (post, dfreq, dl, stats) =
      Retrieval.bm25Index(corpusDf(corpus), "text", "doc_id")
    val pre = Retrieval.bm25OddsScoresPrebuilt(
      Retrieval.queryTerms(corpusDf(queries), "text", "doc_id"),
      post, dfreq, dl, stats)
    val key = Seq("query_id", "doc_id", "score_pico").map(col)
    assert(inline.orderBy(key: _*).collect().toSeq ==
      pre.orderBy(key: _*).collect().toSeq)
  }

  test("production and exact scorers agree on an unambiguous ranking") {
    // rare term beats common term; higher tf beats lower tf — rankings
    // any BM25 variant must produce
    val corpus = Seq(
      0L -> "common rare", // matches both query terms
      2L -> "common common common filler filler", // common only, high tf
      4L -> "common filler other words here", // common only, low tf
      6L -> "filler filler filler filler") // no match
    val queries = Seq(1L -> "common rare")
    val exact = Retrieval.topKPerQuery(
        Retrieval.bm25OddsScores(corpusDf(queries), corpusDf(corpus),
          "text", "doc_id"), "score_pico", 3)
      .orderBy(col("score_pico").desc).select("doc_id")
      .as[Long].collect().toSeq
    val prod = Retrieval.bm25TopK(corpusDf(queries), corpusDf(corpus),
        "text", "doc_id", k = 3)
      .orderBy(col("score").desc).select("doc_id")
      .as[Long].collect().toSeq
    assert(exact == Seq(0L, 2L, 4L))
    assert(prod == Seq(0L, 2L, 4L))
  }

  test("bucketed postings feed the probe join with no corpus-side shuffle") {
    // the recurring-retrieval discipline: postings persisted bucketed by
    // `token` must reach their join IN PLACE — only probe-bounded
    // candidate data shuffles per query suite
    import graft.ops.BatchView
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec => JoinNode}
    val corpus = Seq(0L -> "alpha beta gamma", 2L -> "beta beta delta",
      4L -> "gamma delta epsilon epsilon").toDF("doc_id", "text")
    val queries = Seq(1L -> "beta epsilon")
    val (post, dfreq, dl, stats) =
      Retrieval.bm25Index(corpus, "text", "doc_id")
    BatchView.writeBucketed(post, "bm25_post", Seq("token"), 4,
      sortCols = Seq("token"))
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false") // static plan audit
    try {
      val scored = Retrieval.bm25OddsScoresPrebuilt(
        Retrieval.queryTerms(queries.toDF("doc_id", "text"), "text", "doc_id"),
        spark.table("bm25_post"), dfreq, dl, stats)
      val expect = Retrieval.bm25OddsScores(
        queries.toDF("doc_id", "text"), corpus, "text", "doc_id")
      val key = Seq("query_id", "doc_id", "score_pico").map(col)
      assert(scored.orderBy(key: _*).collect().toSeq ==
        expect.orderBy(key: _*).collect().toSeq)
      val plan = scored.queryExecution.executedPlan
      def pathToScan(p: SparkPlan): Option[List[SparkPlan]] = p match {
        case f: FileSourceScanExec =>
          if (f.tableIdentifier.exists(_.table == "bm25_post")) Some(List(p))
          else None
        case _ => p.children.view.flatMap(pathToScan).headOption.map(p :: _)
      }
      val path = pathToScan(plan)
      assert(path.nonEmpty, s"plan must read the bucketed postings\n$plan")
      val belowJoin = path.get.reverse.takeWhile(!_.isInstanceOf[JoinNode])
      assert(!belowJoin.exists(_.isInstanceOf[ShuffleExchangeExec]),
        s"bucketed postings must reach their join without an exchange\n$plan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS bm25_post")
    }
  }

  test("bm25IndexMerge equals a full rebuild over the concatenated corpus") {
    val dayA = Seq(0L -> "alpha beta gamma", 2L -> "beta beta delta")
    val dayB = Seq(4L -> "gamma delta epsilon epsilon", 6L -> "alpha beta")
    val queries = Seq(1L -> "beta epsilon alpha")
    val merged = Retrieval.bm25IndexMerge(
      Retrieval.bm25Index(corpusDf(dayA), "text", "doc_id"),
      Retrieval.bm25Index(corpusDf(dayB), "text", "doc_id"))
    val rebuilt = Retrieval.bm25Index(corpusDf(dayA ++ dayB), "text", "doc_id")
    def sortedRows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(df.columns.map(col): _*).collect().toSeq
    assert(sortedRows(merged._1) === sortedRows(rebuilt._1))
    assert(sortedRows(merged._2) === sortedRows(rebuilt._2))
    assert(sortedRows(merged._3) === sortedRows(rebuilt._3))
    assert(sortedRows(merged._4) === sortedRows(rebuilt._4))
    // and scoring through the merged artifacts is identical
    val qt = Retrieval.queryTerms(corpusDf(queries), "text", "doc_id")
    val viaMerged = Retrieval.bm25OddsScoresPrebuilt(
      qt, merged._1, merged._2, merged._3, merged._4)
    val viaRebuilt = Retrieval.bm25OddsScoresPrebuilt(
      qt, rebuilt._1, rebuilt._2, rebuilt._3, rebuilt._4)
    val key = Seq("query_id", "doc_id", "score_pico").map(col)
    assert(viaMerged.orderBy(key: _*).collect().toSeq ===
      viaRebuilt.orderBy(key: _*).collect().toSeq)
  }

  test("elideHighDf drops only ubiquitous query terms") {
    // "a" in 3/3 docs (df frac 1.0), "b" in 2/3, "c" in 1/3
    val corpus = Seq(0L -> "a b c", 2L -> "a b", 4L -> "a")
    val queries = Seq(1L -> "a b c")
    val (post, dfreq, dl, stats) =
      Retrieval.bm25Index(corpusDf(corpus), "text", "doc_id")
    val qt = Retrieval.queryTerms(corpusDf(queries), "text", "doc_id")
    val kept = Retrieval.elideHighDf(qt, dfreq, stats, maxDfFrac = 0.7)
      .select("token").as[String].collect().sorted.toSeq
    assert(kept === Seq("b", "c"))
    // scoring the elided suite == scoring with the term absent entirely
    val pruned = Retrieval.bm25OddsScoresPrebuilt(
      Retrieval.elideHighDf(qt, dfreq, stats, 0.7), post, dfreq, dl, stats)
    val noA = Retrieval.bm25OddsScores(
      Seq(1L -> "b c").toDF("doc_id", "text"), corpusDf(corpus),
      "text", "doc_id")
    val key = Seq("query_id", "doc_id", "score_pico").map(col)
    assert(pruned.orderBy(key: _*).collect().toSeq ===
      noA.orderBy(key: _*).collect().toSeq)
  }

  test("rrfFuse sums floor(1e12/(k0+rank)) across arms") {
    val armA = Seq((1L, 10L, 1), (1L, 11L, 2), (2L, 10L, 1))
      .toDF("query_id", "doc_id", "rank")
    val armB = Seq((1L, 11L, 1), (1L, 12L, 2))
      .toDF("query_id", "doc_id", "rank")
    val got = Retrieval.rrfFuse(Seq(armA, armB), k0 = 60)
      .orderBy(col("query_id"), col("doc_id"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    def w(r: Int): Long = 1000000000000L / (60L + r)
    assert(got === Seq(
      (1L, 10L, w(1), 1L),          // arm A only
      (1L, 11L, w(2) + w(1), 2L),   // both arms
      (1L, 12L, w(2), 1L),          // arm B only
      (2L, 10L, w(1), 1L)))
  }

  test("rrf hybrid ranks a doc found by both arms above single-arm docs") {
    // doc 0 ranks #1 in both arms; doc 2 is #2 lexical only; doc 4 is
    // #2 dense only → fused order: 0, then 2/4 tied (tie → smaller id)
    val lex = Seq((1L, 0L, 1), (1L, 2L, 2)).toDF("query_id", "doc_id", "rank")
    val den = Seq((1L, 0L, 1), (1L, 4L, 2)).toDF("query_id", "doc_id", "rank")
    val fused = Retrieval.topKPerQuery(
        Retrieval.rrfFuse(Seq(lex, den)), "rrf_pico", 3)
      .orderBy(col("rrf_pico").desc, col("doc_id"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(fused.map(_._2) === Seq(0L, 2L, 4L))
    assert(fused.head._4 === 2L)
  }

  test("bruteForceScores equals per-query bruteForceTopK rankings") {
    import graft.sim.Similarity
    val rnd = new Random(11)
    val emb = (0L until 30L).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() - 0.5f)).toDF("vec_id", "embedding")
    val probes = Seq(100L -> Seq.fill(8)(rnd.nextFloat() - 0.5f),
      101L -> Seq.fill(8)(rnd.nextFloat() - 0.5f))
    val multi = Retrieval.rankPerQuery(
        Similarity.bruteForceScores(emb, "embedding", "vec_id", probes),
        Seq(col("cos").desc, col("vec_id")))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("vec_id"), col("rank"))
      .as[(Long, Long, Int)].collect().toSet
    val single = probes.flatMap { case (qid, v) =>
      Similarity.bruteForceTopK(emb, "embedding", "vec_id", v, 5)
        .select(col("vec_id")).as[Long].collect()
        .zipWithIndex.map { case (id, i) => (qid, id, i + 1) }
    }.toSet
    assert(multi === single)
  }

  test("pruned top-k is identical to unpruned at every essentialDfFrac") {
    val rnd = new Random(77)
    // Zipf-flavored vocab: "the"/"of" ubiquitous, tail terms rare
    val head = Vector("the", "of")
    val tail = Vector("cat", "mat", "dog", "flux", "spark", "quark",
      "nebula", "ion", "prism", "vortex")
    val corpus = (0L until 60L).map { i =>
      val words = Seq.fill(4 + rnd.nextInt(8))(
        if (rnd.nextInt(3) < 2) head(rnd.nextInt(head.size))
        else tail(rnd.nextInt(tail.size)))
      i -> words.mkString(" ")
    }
    val queries = (100L until 112L).map { i =>
      i -> Seq.fill(2 + rnd.nextInt(3))(
        if (rnd.nextBoolean()) head(rnd.nextInt(head.size))
        else tail(rnd.nextInt(tail.size))).mkString(" ")
    }
    val (post, dfreq, dl, stats) =
      Retrieval.bm25Index(corpusDf(corpus), "text", "doc_id")
    val qt = Retrieval.queryTerms(corpusDf(queries), "text", "doc_id")
    val key = Seq("query_id", "doc_id", "score_pico").map(col)
    val unpruned = Retrieval.topKPerQuery(
        Retrieval.bm25OddsScoresPrebuilt(qt, post, dfreq, dl, stats),
        "score_pico", 3)
      .orderBy(key: _*).collect().toSeq
    // frac 0 = nothing essential (pure fallback), 1 = everything
    // essential (pure candidate path), 0.3 = mixed — all must agree
    for (frac <- Seq(0.0, 0.3, 1.0)) {
      val pruned = Retrieval.bm25OddsTopKPruned(
          qt, post, dfreq, dl, stats, k = 3, essentialDfFrac = frac)
        .orderBy(key: _*).collect().toSeq
      assert(pruned === unpruned, s"essentialDfFrac=$frac diverged")
    }
  }

  test("pruning verdict: stopword-heavy corpus answers from the pruned path") {
    // every doc carries the stopword; rare terms discriminate — the
    // candidate top-k closes the bound and no query needs fallback
    val corpus = (0L until 30L).map { i =>
      i -> s"the the the term$i term${i % 5}"
    }
    val queries = Seq(100L -> "the term3", 101L -> "the term7 term4")
    val (post, dfreq, dl, stats) =
      Retrieval.bm25Index(corpusDf(corpus), "text", "doc_id")
    val qt = Retrieval.queryTerms(corpusDf(queries), "text", "doc_id")
    val (result, verdict) = Retrieval.bm25OddsTopKPrunedWithVerdict(
      qt, post, dfreq, dl, stats, k = 3, essentialDfFrac = 0.5)
    val v = verdict.orderBy(col("query_id"))
      .select(col("query_id"), col("exact_ok")).as[(Long, Boolean)]
      .collect().toSeq
    assert(v === Seq(100L -> true, 101L -> true),
      "both queries must be served from the pruned path")
    // the pruned path generated candidates from rare postings only: the
    // stopword's 30 postings never enter candidate generation
    val candVolume = qt.join(dfreq, Seq("token"))
      .join(Retrieval.bm25MaxWeights(post, dfreq, dl, stats), Seq("token"))
      .crossJoin(broadcast(stats))
      .where(col("df").cast("double") <= lit(0.5) * col("n").cast("double"))
      .join(post.select(col("token"), col("doc_id")), Seq("token"))
      .count()
    val fullVolume = qt.join(post, Seq("token")).count()
    assert(candVolume < fullVolume,
      s"pruning must touch fewer postings ($candVolume vs $fullVolume)")
    // and the answers are still the unpruned answers
    val key = Seq("query_id", "doc_id", "score_pico").map(col)
    val unpruned = Retrieval.topKPerQuery(
        Retrieval.bm25OddsScoresPrebuilt(qt, post, dfreq, dl, stats),
        "score_pico", 3)
      .orderBy(key: _*).collect().toSeq
    assert(result.orderBy(key: _*).collect().toSeq === unpruned)
  }

  test("scorers place no forced broadcast hint on the query side") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val corpus = Seq(0L -> "alpha beta", 2L -> "beta gamma")
    val queries = Seq(1L -> "beta")
    val (post, dfreq, dl, stats) =
      Retrieval.bm25Index(corpusDf(corpus), "text", "doc_id")
    val qt = Retrieval.queryTerms(corpusDf(queries), "text", "doc_id")
    for (scored <- Seq(
        Retrieval.bm25OddsScoresPrebuilt(qt, post, dfreq, dl, stats),
        Retrieval.bm25ScoresPrebuilt(qt, post, dfreq, dl, stats))) {
      val hints = scored.queryExecution.analyzed.collect {
        case h: ResolvedHint => h
      }
      // the only hint is the documented 1-row stats merge — the query
      // side must be AQE's decision, not a forced broadcast that OOMs
      // on a corpus-sized query table
      assert(hints.forall(_.child.output.map(_.name).toSet == Set("n", "s")),
        s"unexpected broadcast hint:\n${hints.mkString("\n")}")
    }
  }

  test("top-k ranks by score then smaller doc_id, k bounds each query") {
    val scores = Seq((1L, 10L, 5L), (1L, 7L, 5L), (1L, 9L, 9L),
      (1L, 11L, 1L), (2L, 3L, 2L))
      .toDF("query_id", "doc_id", "score_pico")
    val got = Retrieval.topKPerQuery(scores, "score_pico", 2)
      .orderBy(col("query_id"), col("score_pico").desc, col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 9L), (1L, 7L), (2L, 3L)))
  }

  test("phraseSearch: contiguity, occurrence counts, repeated terms") {
    val docs = Seq(
      (1L, "a b c a b"),          // "a b" twice
      (2L, "a c b"),              // both terms, never adjacent
      (3L, "b a"),                // wrong order
      (4L, "x a b y a b a b z"),  // three occurrences
      (5L, "a a b")               // one occurrence at pos 2
    ).toDF("doc_id", "text")
    val got = Retrieval.phraseSearch(docs, "doc_id", "text", Seq("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 2L, 4L -> 3L, 5L -> 1L))
    // a REPEATED phrase term needs two distinct positions: "b b" must
    // not match a single b voting for both roles
    val rep = Seq((1L, "a b c"), (2L, "a b b c"), (3L, "b x b"))
      .toDF("doc_id", "text")
    val gotRep = Retrieval.phraseSearch(rep, "doc_id", "text",
        Seq("b", "b"))
      .as[(Long, Long)].collect().toMap
    assert(gotRep === Map(2L -> 1L))
    // single-token phrase degenerates to term counting
    val one = Retrieval.phraseSearch(docs, "doc_id", "text", Seq("a"))
      .as[(Long, Long)].collect().toMap
    assert(one === Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 2L))
    // malformed phrase tokens fail loudly
    val e = intercept[IllegalArgumentException] {
      Retrieval.phraseSearch(docs, "doc_id", "text", Seq("a b"))
    }
    assert(e.getMessage.contains("single non-empty"))
  }

  test("evalRanking: hand-checked MRR/P@k/recall incl. the degenerate rows") {
    // q1: rel {10, 30}, first hit at rank 2, both in top-3 → rr 500000,
    //     hits 2, prec@3 666666, recall 1000000
    // q2: rel {99} never retrieved → rr 0, hits 0, recall 0
    // q3: retrieved but NO labels → n_rel 0, recall 0 (not a crash)
    // q4: labeled but retrieved NOTHING → n_ranked 0, recall-0 row present
    val ranked = Seq(
      (1L, 20L, 1), (1L, 10L, 2), (1L, 30L, 3), (1L, 40L, 4),
      (2L, 20L, 1), (2L, 30L, 2),
      (3L, 50L, 1)).toDF("query_id", "doc_id", "rank")
    val labels = Seq(
      (1L, 10L), (1L, 30L),
      (2L, 99L),
      (4L, 10L)).toDF("query_id", "doc_id")
    val got = Retrieval.evalRanking(ranked, labels, k = 3)
      .orderBy(col("query_id"))
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (1L, 4L, 2L, 2L, 500000L, 666666L, 1000000L),
      (2L, 2L, 1L, 0L, 0L, 0L, 0L),
      (3L, 1L, 0L, 0L, 0L, 0L, 0L),
      (4L, 0L, 1L, 0L, 0L, 0L, 0L)))
    // a relevant doc BELOW k still drives MRR but not hits: rank 4 hit
    val below = Retrieval.evalRanking(
        Seq((9L, 5L, 1), (9L, 6L, 2), (9L, 7L, 3), (9L, 8L, 4))
          .toDF("query_id", "doc_id", "rank"),
        Seq((9L, 8L)).toDF("query_id", "doc_id"), k = 3)
      .as[(Long, Long, Long, Long, Long, Long, Long)].head()
    assert(below === ((9L, 4L, 1L, 0L, 250000L, 0L, 0L)))
    // duplicate label pairs count once
    val dup = Retrieval.evalRanking(
        Seq((9L, 5L, 1)).toDF("query_id", "doc_id", "rank"),
        Seq((9L, 5L), (9L, 5L)).toDF("query_id", "doc_id"), k = 3)
      .as[(Long, Long, Long, Long, Long, Long, Long)].head()
    assert(dup === ((9L, 1L, 1L, 1L, 1000000L, 333333L, 1000000L)))
  }
}
