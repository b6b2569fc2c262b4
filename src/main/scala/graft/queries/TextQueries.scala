package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.text.{Packing, SubstringDedup, TextOps}
import graft.dedup.Dedup
import graft.sim.{Ivf, Pq, Similarity}
import OracleSql.{componentCtes, nullInjected, shingleSet, toks}

/** Query surface for the training-data-pipeline operators: text analysis,
  * dedup (exact / n-gram Jaccard / MinHash-LSH / SimHash), and embedding
  * similarity. The custom-hash operators (MinHash, SimHash, rolling hash)
  * have no SQL oracle — their semantics are asserted in ScalaTest; the
  * driver records rows-only checks for them.
  */
object TextQueries {
  type Q = (SparkSession, String) => DataFrame

  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to")

  /** Marker-word profiles for the deterministic language-ID heuristic. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "de" -> Seq("merge", "window", "stream"),
    "en" -> Seq("the", "fast", "scan", "a"),
    "es" -> Seq("table", "join", "part"),
    "fr" -> Seq("value", "key", "sort"),
    "zh" -> Seq("spark", "group", "row"))

  /** Deterministic IvfModel for the oracle-gated ANN-maintenance queries:
    * exact per-label mean centroids via the fixed-point micro-unit path
    * (q87), cells ordered by ascending label — fully re-derivable in SQL. */
  private def labelMeanModel(emb: DataFrame): Ivf.IvfModel = {
    val sums = graft.sim.VectorAgg.vectorSumElements(emb, "embedding", Seq("label"))
      .collect()
    Ivf.IvfModel(sums.groupBy(_.getAs[Int]("label")).toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        rows.sortBy(_.getAs[Int]("pos"))
          .map(r => r.getAs[Long]("elem_sum_micro") / 1e6 /
            r.getAs[Long]("n_vectors"))
          .toArray
      }.toArray)
  }

  val queries: Map[String, Q] = Map(
    // ───── token / char statistics ─────
    "q21_token_stats" -> ((s, d) => {
      val t = col("text")
      Tables.documents(s, d)
        .select(col("doc_id"), TextOps.tokenCount(t).as("n_tokens"),
          TextOps.charCount(t).as("n_chars_calc"), TextOps.meanTokenLen(t).as("mean_token_len"))
        .orderBy(col("doc_id"))
    }),

    // ───── quality scoring ─────
    "q22_quality" -> ((s, d) => {
      val sigs = TextOps.qualitySignals(col("text"), stopwords)
        .filter { case (n, _) => n != "n_chars" }
      Tables.documents(s, d)
        .select(col("doc_id") +: sigs.map { case (n, c) => c.as(n) }: _*)
        .withColumn("keep",
          col("n_tokens") >= 10 && col("stopword_ratio") <= 0.5 &&
            col("distinct_token_ratio") >= 0.3)
        .orderBy(col("doc_id"))
    }),

    // ───── language ID ─────
    "q23_langid" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          TextOps.langId(col("text"), langMarkers).as("lang_pred"))
        .orderBy(col("doc_id"))
    }),

    // ───── fingerprint + exact dedupe. The fixture corpus has no
    // null/empty text, so the gate INJECTS NULL / '' / whitespace-only
    // rows in-query (%13 of ids): all three must share md5('') — the
    // documented fingerprint null contract — not a NULL key whose
    // group-by/join semantics differ across engines ─────
    "q24_fingerprint" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), TextOps.fingerprint(advNullText).as("fp"))
        .orderBy(col("doc_id"))
    }),
    "q25_dedup_exact" -> ((s, d) => {
      Dedup.exact(
          Tables.documents(s, d).select(col("doc_id"),
            advNullText.as("text")),
          "text", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // ───── n-gram Jaccard near-dup (blocked self-join) ─────
    "q26_ngram_jaccard" -> ((s, d) => {
      Dedup.ngramJaccardPairs(Tables.documents(s, d), "text", "doc_id",
          Seq("lang", "source"), n = 3, threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ───── MinHash-LSH near-dup (rows-only; ScalaTest asserts recall) ─────
    "q27_minhash_lsh" -> ((s, d) => {
      Dedup.minhashLshPairs(Tables.documents(s, d), "text", "doc_id",
          n = 3, bands = 16, rowsPerBand = 4, confirmThreshold = Some(0.8))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ───── SimHash near-dup (rows-only; ScalaTest asserts semantics) ─────
    "q28_simhash" -> ((s, d) => {
      Dedup.simhashPairs(Tables.documents(s, d), "text", "doc_id",
          maxDist = 3, tables = 4)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ───── embedding-cosine near-dup pairs ─────
    "q29_embed_neardup" -> ((s, d) => {
      Similarity.cosinePairs(Tables.embeddings(s, d), "embedding", "vec_id",
          "label", threshold = 0.35)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ───── brute-force exact ANN top-k for the vec_id=0 query vector ─────
    "q30_ann_topk" -> ((s, d) => {
      val q = Tables.embeddings(s, d).where(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      Similarity.bruteForceTopK(
          Tables.embeddings(s, d).where(col("vec_id") =!= 0),
          "embedding", "vec_id", q, k = 10)
        .orderBy(col("cos").desc, col("vec_id"))
    }),

    // ───── ANN scale path: hyperplane-LSH bucketed top-k (rows-only:
    // the bucket restriction depends on our seeded plane family; recall
    // vs brute force is asserted in ScalaTest) ─────
    "q37_ann_lsh" -> ((s, d) => {
      val q = Tables.embeddings(s, d).where(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      Similarity.annTopK(
          Tables.embeddings(s, d).where(col("vec_id") =!= 0),
          "embedding", "vec_id", q, k = 10, numPlanes = 6, probes = 4)
        .orderBy(col("cos").desc, col("vec_id"))
    }),

    // ───── ANN scale path #2: IVF cell-probed top-k (rows-only: cells
    // come from seeded k-means; exactness at full probe + recall ordering
    // are asserted in ScalaTest) ─────
    "q41_ann_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      val (model, assigned) = Ivf.build(
        emb.where(col("vec_id") =!= 0), "embedding", "vec_id", nCells = 16)
      Ivf.topK(assigned, model, "embedding", "vec_id", q, k = 10, nProbe = 4)
        .orderBy(col("cos").desc, col("vec_id"))
    }),

    // ───── blockless embedding near-dup: hyperplane-LSH banding + exact
    // cosine verify (rows-only: seeded plane families; precision/recall
    // asserted in ScalaTest) ─────
    "q42_embed_lsh_pairs" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dim = emb.select(col("embedding")).head().getSeq[Float](0).size
      Similarity.cosinePairsLsh(emb, "embedding", "vec_id",
          threshold = 0.35, dim = dim, bands = 16, planesPerBand = 4)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ───── derived-oracle anchor for q37's machinery: annTopK probing
    // ALL 2^numPlanes buckets is structurally exhaustive, so the full LSH
    // path (codegen hyperplane signatures, probe enumeration, IN-bucket
    // pruning, ranking) must reproduce the exact top-k row-for-row —
    // giving the otherwise rows-only LSH plumbing a real DuckDB oracle.
    // (Recall at OPERATIONAL probe counts is asserted separately in
    // ScalaTest on planted-neighbor data; this data's true neighbors sit
    // at cos≈0.3, too weak for any bucketing family to recall.) ─────
    "q60_ann_lsh_fullprobe" -> ((s, d) => {
      val q = Tables.embeddings(s, d).where(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      Similarity.annTopK(
          Tables.embeddings(s, d).where(col("vec_id") =!= 0),
          "embedding", "vec_id", q, k = 10, numPlanes = 6, probes = 64)
        .orderBy(col("cos").desc, col("vec_id"))
    }),

    // ───── derived-oracle anchor for q42: `n_exact_pairs` is honestly
    // cross-checked (Spark's salted all-pairs exact count vs DuckDB's
    // all-pairs count — same threshold, same fold order), and `recall_ok`
    // is a DOCUMENTED BOUNDED CHECK: the oracle pins the expected verdict
    // `true`, Spark computes the actual one (LSH pairs are an exact-
    // verified subset of the exact pair set, so recall = n_lsh/n_exact;
    // measured 0.93 at sf0.001 and sf0.01, gated at ≥ 0.8). A recall
    // regression in the banding flips the bit and the driver flags red. ─────
    "q61_embed_lsh_verify" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dim = emb.select(col("embedding")).head().getSeq[Float](0).size
      val lsh = Similarity.cosinePairsLsh(emb, "embedding", "vec_id",
        threshold = 0.35, dim = dim, bands = 16, planesPerBand = 4)
      val exact = Similarity.cosinePairs(emb.withColumn("__one", lit(1)),
        "embedding", "vec_id", "__one", threshold = 0.35)
      lsh.agg(count(lit(1)).as("__n_lsh"))
        .crossJoin(exact.agg(count(lit(1)).as("n_exact_pairs")))
        .select(col("n_exact_pairs"),
          (col("__n_lsh") >= col("n_exact_pairs") * 0.8).as("recall_ok"))
    }),

    // ───── derived-oracle anchor for q27: `n_exact_pairs` is honestly
    // cross-checked (Spark's blockless PPJoin exact-Jaccard count vs
    // DuckDB's all-pairs count at the same threshold), and `recall_ok` is
    // a DOCUMENTED BOUNDED CHECK (oracle pins the expected verdict):
    // confirmed MinHash pairs are an exact-verified subset of the exact
    // pair set, so recall = n_minhash/n_exact — measured 1.0 at sf0.001
    // and sf0.01 (16 bands × 4 rows at J ≥ 0.8), gated at ≥ 0.8. ─────
    "q62_minhash_verify" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // one shingle index feeds both paths — the materialized-index shape
      val rows = Dedup.shingleRows(docs, "text", "doc_id", Nil, 3)
        .localCheckpoint(eager = false)
      val mh = Dedup.minhashLshPairsFromRows(rows, "doc_id",
        bands = 16, rowsPerBand = 4, confirmThreshold = Some(0.8))
      val exact = Dedup.ngramJaccardPairsFromRows(rows, "doc_id", Nil, 0.8)
      mh.agg(count(lit(1)).as("__n_mh"))
        .crossJoin(exact.agg(count(lit(1)).as("n_exact_pairs")))
        .select(col("n_exact_pairs"),
          (col("__n_mh") >= col("n_exact_pairs") * 0.8).as("recall_ok"))
    }),

    // ───── derived-oracle anchor for q41's machinery: probing ALL cells
    // makes IVF exhaustive, so the whole path (sampled k-means build,
    // codegen cell assignment, probe pruning, scoring) must reproduce the
    // exact top-k row-for-row against the same DuckDB oracle as q30. ─────
    "q65_ann_ivf_fullprobe" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      val (model, assigned) = Ivf.build(
        emb.where(col("vec_id") =!= 0), "embedding", "vec_id", nCells = 16)
      Ivf.topK(assigned, model, "embedding", "vec_id", q, k = 10, nProbe = 16)
        .orderBy(col("cos").desc, col("vec_id"))
    }),

    // ───── derived-oracle anchor for the PQ machinery: a shortlist
    // covering the whole corpus makes the ADC stage structurally
    // exhaustive, so encode → ADC shortlist → exact rerank must reproduce
    // the exact top-k row-for-row — giving the codes/ADC/rerank path
    // (codegen PqEncode + PqAdcScore, broadcast candidate join) the same
    // real DuckDB oracle as q30. Operational-shortlist recall is asserted
    // separately in PqSpec (measured 0.9–1.0 at m=16). ─────
    "q77_ann_pq_rerank" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dim = emb.select(col("embedding")).head().getSeq[Float](0).size
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      val others = emb.where(col("vec_id") =!= 0)
      val (model, encoded) = Pq.build(others, "embedding", "vec_id", dim,
        m = 16, k = 16)
      Pq.topKRefined(encoded, model, "embedding", "vec_id", q,
          k = 10, shortlist = 1 << 20)
        .orderBy(col("cos").desc, col("vec_id"))
    }),

    // ───── production IVF+PQ at operational parameters: cell-pruned scan
    // of the 8-byte/row code table, ADC-only scoring. Quantized scores
    // have no DuckDB analogue → rows-only; the family's exactness anchor
    // is q77 and the IVF pruning anchor is q65. ─────
    "q78_ann_ivfpq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dim = emb.select(col("embedding")).head().getSeq[Float](0).size
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      val others = emb.where(col("vec_id") =!= 0)
      val (ivfModel, assigned) = Ivf.build(others, "embedding", "vec_id", nCells = 16)
      val pqModel = Pq.train(others, "embedding", "vec_id", dim, m = 16, k = 16)
      val encoded = Pq.encode(assigned, "embedding", pqModel)
      Pq.topKCells(encoded, ivfModel, pqModel, "vec_id", q, k = 10, nProbe = 4)
        .orderBy(col("adc").desc, col("vec_id"))
    }),

    // ───── self-consistency anchor for q28: pigeonhole banding is
    // exhaustive within maxDist BY CONSTRUCTION (Manku WWW'07), so the
    // banded pair set must EQUAL an all-pairs hamming sweep over the same
    // signatures, and the distance filter makes precision exact. DuckDB
    // cannot reproduce the custom xxhash64 signatures, so every column is
    // a pinned verdict — a documented bounded check: any banding bug
    // (missed block, wrong width) breaks set equality and fails the
    // compare. The cross join is verification-only (signatures are 1 long
    // per doc; the sweep is |docs|² codegen popcounts). ─────
    "q66_simhash_verify" -> ((s, d) => {
      val sigs = Dedup.simhashDF(Tables.documents(s, d), "text", "doc_id")
      val banded = Dedup.simhashPairsFromSigs(sigs, "doc_id", "simhash",
        maxDist = 3, tables = 4).select(col("id_a"), col("id_b"))
      val a = sigs.select(col("doc_id").as("id_a"), col("simhash").as("sh_a"))
      val b = sigs.select(col("doc_id").as("id_b"), col("simhash").as("sh_b"))
      val brute = a.crossJoin(b).where(col("id_a") < col("id_b") &&
          Dedup.hamming(col("sh_a"), col("sh_b")) <= 3)
        .select(col("id_a"), col("id_b"))
      brute.except(banded).agg(count(lit(1)).as("n_missed"))
        .crossJoin(banded.except(brute).agg(count(lit(1)).as("n_extra")))
        .select((col("n_missed") === 0 && col("n_extra") === 0)
          .as("bands_equal_bruteforce"), col("n_missed"), col("n_extra"))
    }),

    // ───── derived-oracle anchor for q51: the exact per-stratum quantiles
    // are honestly cross-checked (same arithmetic as q47), and `sketch_ok`
    // is a DOCUMENTED BOUNDED CHECK: the KLL-style percentile_approx at
    // accuracy 10000 must land within 2 token-counts of the exact value
    // on every stratum/percentile (measured max delta 1.5 at sf0.01). ─────
    "q64_sketch_quantile_verify" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .select(col("lang"), TextOps.tokenCount(col("text")).cast("double").as("n"))
        .groupBy(col("lang"))
        .agg(percentile(col("n"), array(lit(0.25), lit(0.5), lit(0.9))).as("q"),
          percentile_approx(col("n"), array(lit(0.25), lit(0.5), lit(0.9)),
            lit(10000)).as("qa"))
      base.select(col("lang"), col("q")(0).as("p25"), col("q")(1).as("p50"),
          col("q")(2).as("p90"),
          (abs(col("q")(0) - col("qa")(0)) <= 2.0 &&
            abs(col("q")(1) - col("qa")(1)) <= 2.0 &&
            abs(col("q")(2) - col("qa")(2)) <= 2.0).as("sketch_ok"))
        .orderBy(col("lang"))
    }),

    // ───── pairs → clusters → survivors: connected components over the
    // q29 cosine pairs (large-star/small-star), then min-id survivor
    // selection across the whole corpus ─────
    "q44_dedup_clusters" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val pairs = Similarity.cosinePairs(emb, "embedding", "vec_id",
        "label", threshold = 0.35)
      Dedup.dedupeByPairs(emb.select(col("vec_id")), "vec_id", pairs)
        .orderBy(col("vec_id"))
    }),

    // ───── duplication audit: cluster-size histogram over q44's
    // components — the "how duplicated is this corpus" report (n_clusters
    // at each size; singletons included). Two tiny aggregates on top of
    // the CC output ─────
    "q101_cluster_sizes" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val pairs = Similarity.cosinePairs(emb, "embedding", "vec_id",
        "label", threshold = 0.35)
      Dedup.dedupeByPairs(emb.select(col("vec_id")), "vec_id", pairs)
        .groupBy(col("component")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("cluster_size"))
    }),

    // ───── feature-hashed doc vectors: md5-bucket token counts, the
    // embedder-free representation for the vector stack. dim=16 keeps the
    // oracle's O(dim·tokens) HOF replay cheap; integer-exact parity ─────
    "q103_hashing_vectors" -> ((s, d) => {
      // exploded (doc_id, bucket, n) — scalar columns survive the hash
      // compare; the vector expression itself is what's under test
      Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(TextOps.hashingVector(col("text"), 16)).as(Seq("bucket", "n")))
        .orderBy(col("doc_id"), col("bucket"))
    }),

    // ───── one-call corpus report: the numbers a curation run prints
    // first. Exact counts only (no rate divisions — integer parity is
    // unbreakable); ONE aggregate over a single scan ─────
    "q102_corpus_report" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      docs.agg(
        count(lit(1)).as("n_docs"),
        sum(TextOps.tokenCount(col("text")).cast("long")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        sum(when(graft.text.Corpus.qualityKeep(col("text"), stopwords), 1L)
          .otherwise(0L)).as("n_quality_pass"),
        countDistinct(TextOps.fingerprint(col("text"))).as("n_unique_docs"))
    }),

    // ───── corpus length distribution: EXACT per-stratum quantiles (both
    // engines interpolate linearly, so values match bit-for-bit on the
    // same doubles). One shuffle; percentile carries a per-group value
    // buffer — for sketch-sized state at petabyte scale swap in
    // percentile_approx (KLL) and drop the oracle to rows-only. ─────
    "q47_quality_quantiles" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("lang"), TextOps.tokenCount(col("text")).cast("double").as("n"))
        .groupBy(col("lang"))
        .agg(percentile(col("n"), array(lit(0.25), lit(0.5), lit(0.9))).as("q"))
        .select(col("lang"), col("q")(0).as("p25"), col("q")(1).as("p50"),
          col("q")(2).as("p90"))
        .orderBy(col("lang"))
    }),

    // ───── vocabulary: corpus-wide token frequencies, top 100. The
    // classic skewed word count: map-side partial aggregation absorbs hot
    // tokens before the shuffle; the final top-k is TakeOrdered (per-
    // partition heaps), never a full sort. ─────
    "q48_vocab_topk" -> ((s, d) => {
      Tables.documents(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(100)
    }),

    // ───── q47's sketch-state twin: percentile_approx (KLL-style, fixed
    // memory per group, mergeable) — the PB-scale form. Rows-only: sketch
    // interpolation is engine-specific; accuracy vs the exact form is
    // asserted in ScalaTest. ─────
    "q51_quantile_sketch" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("lang"), TextOps.tokenCount(col("text")).cast("double").as("n"))
        .groupBy(col("lang"))
        .agg(percentile_approx(col("n"), array(lit(0.25), lit(0.5), lit(0.9)),
          lit(10000)).as("q"))
        .select(col("lang"), col("q")(0).as("p25"), col("q")(1).as("p50"),
          col("q")(2).as("p90"))
        .orderBy(col("lang"))
    }),

    // ───── q48's sketch twin: heavy hitters via the mergeable
    // approx_top_k sketch (fixed memory regardless of vocabulary size —
    // the unbounded-vocab scale path). On this corpus the distinct count
    // is far below the sketch's tracking capacity (explicit, 10000), so
    // counts are exact and the query oracle-gates — a ScalaTest guard
    // (TextDedupSimSpec "q59 exactness precondition") fails loudly if
    // testdata growth ever breaks that precondition; at real vocab scale
    // the result is approximate within the sketch's guarantees. ─────
    "q59_heavy_hitters" -> ((s, d) => {
      Tables.documents(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .agg(expr("approx_top_k(token, 40, 10000)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("token"), col("e.count").as("n"))
        .orderBy(col("n").desc, col("token"))
    }),

    // ───── keyword extraction: top-3 tokens per doc by tf·(N/df). The
    // idf stays RATIONAL (tf·N exact in long, ONE double division) —
    // ln() differs in the last ulp across libm builds and would break
    // hash parity; the ranking is order-equivalent for fixed N. ─────
    "q58_keywords" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val toks = docs.select(col("doc_id"),
        explode(TextOps.tokens(col("text"))).as("token"))
      val tf = toks.groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = toks.distinct().groupBy(col("token"))
        .agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      val scored = tf.join(dfreq, "token").crossJoin(broadcast(n))
        .select(col("doc_id"), col("token"),
          ((col("tf") * col("n")).cast("double") / col("df")).as("score"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("token"))
      scored.withColumn("rk", row_number().over(w)).where(col("rk") <= 3)
        .select(col("doc_id"), col("token"), col("score"))
        .orderBy(col("doc_id"), col("token"))
    }),

    // ───── token-window chunking: long docs → context-window-sized
    // chunks with overlap ─────
    "q70_chunks" -> ((s, d) => {
      TextOps.chunkRows(Tables.documents(s, d), "text", "doc_id",
          chunkSize = 32, overlap = 8)
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // ───── PII/link redaction: deterministic contact-info injection (part
    // of the QUERY, so the oracle sees identical input) then scrub —
    // exercises both patterns and the untouched-text path ─────
    "q71_redacted" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), concat(col("text"),
          when(col("doc_id") % 7 === 0,
            lit(" contact bob.smith+spam@example-mail.com or https://ex.com/a?b=c#d"))
            .otherwise(lit(""))).as("raw"))
        .select(col("doc_id"), TextOps.redact(col("raw")).as("clean"),
          (length(col("raw")) - length(regexp_replace(col("raw"),
            TextOps.UrlRe, ""))).as("n_url_chars"))
        .orderBy(col("doc_id"))
    }),

    // ───── decontamination: training docs (even ids) covering ≥ 70% of a
    // probe doc's (odd ids) shingles — asymmetric containment, not
    // Jaccard, so short eval docs inside long training docs still hit ─────
    "q72_containment_join" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.containmentJoin(
          docs.where(col("doc_id") % 2 === 1),
          docs.where(col("doc_id") % 2 === 0),
          "text", "doc_id", n = 3, threshold = 0.7)
        .orderBy(col("id_l"), col("id_r"))
    }),

    // ───── the decontamination AUDIT: every eval doc reported — clean
    // ones included — with its contaminating-doc count and worst
    // containment ─────
    "q114_contamination_report" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminationReport(
          docs.where(col("doc_id") % 2 === 1),
          docs.where(col("doc_id") % 2 === 0),
          "text", "doc_id", n = 3, threshold = 0.7)
        .orderBy(col("doc_id"))
    }),

    // ───── q114's PREBUILT form — the audit as the recurring job it is:
    // corpus artifacts built once (at scale: persisted, bucketed by g),
    // each audit run shingles only the tiny probe suite. Same report,
    // same oracle as q114. ─────
    "q115_contamination_report_prebuilt" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val corpusRows = Dedup.shingleRows(docs.where(col("doc_id") % 2 === 0),
          "text", "doc_id", Nil, 3)
        .localCheckpoint(eager = false) // mirrors the persisted-index contract
      val (cDf, cSizes) = Dedup.corpusContainmentIndex(corpusRows, "doc_id")
      Dedup.contaminationReportPrebuilt(
          docs.where(col("doc_id") % 2 === 1), "text",
          corpusRows, cDf, cSizes, "doc_id", n = 3, threshold = 0.7)
        .orderBy(col("doc_id"))
    }),

    // ───── q72's PREBUILT form — decontamination as the recurring job it
    // is: corpus df + per-doc sizes built once by corpusContainmentIndex,
    // the probe suite prefixed under the corpus-rare-first order and
    // joined against the (bucketed-at-scale) corpus index. Same result
    // set, gated by the same oracle. ─────
    "q75_containment_prebuilt" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val corpusRows = Dedup.shingleRows(docs.where(col("doc_id") % 2 === 0),
          "text", "doc_id", Nil, 3)
        .localCheckpoint(eager = false) // mirrors the persisted-index contract
      val (cDf, cSizes) = Dedup.corpusContainmentIndex(corpusRows, "doc_id")
      Dedup.containmentJoinPrebuilt(
          Dedup.shingleRows(docs.where(col("doc_id") % 2 === 1),
            "text", "doc_id", Nil, 3),
          corpusRows, cDf, cSizes, "doc_id", 0.7)
        .orderBy(col("id_l"), col("id_r"))
    }),

    // ───── cross-corpus embedding near-dup (incremental-ingest form of
    // q29): odd vec_ids as the new batch joined against even as history —
    // salted SHJ, history streams, never self-pairs ─────
    "q69_embed_join" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.cosineJoin(
          emb.where(col("vec_id") % 2 === 1),
          emb.where(col("vec_id") % 2 === 0),
          "embedding", "vec_id", "label", threshold = 0.35)
        .orderBy(col("id_l"), col("id_r"))
    }),

    // ───── paraphrase-contamination screen (LLM-decontaminator stage 1):
    // every-25th vector as the benchmark probe set, the rest as corpus;
    // per probe the best corpus match by cosine (ties to lowest id), the
    // over-threshold count and the verdict — exhaustive by design (an
    // audit must not miss a leak to banding recall), salted SHJ so the
    // fanned-out probe side spreads across tasks ─────
    "q225_semantic_decon" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.semanticContamination(
          emb.where(col("vec_id") % 25 === 0),
          emb.where(col("vec_id") % 25 =!= 0),
          "embedding", "vec_id", threshold = 0.40)
        .orderBy(col("probe_id"))
    }),

    // ───── q225's BIG-PROBE path (LSH shortlist → exhaustive re-screen),
    // anchored the q62 way: the oracle computes the exhaustive
    // contaminated-probe count; the Spark side runs BOTH paths and pins
    // shortlist recall ≥ 0.8 of it (precision is exact by construction —
    // every shortlisted pair is verified with exact cosine, so the LSH
    // verdict set is a subset of the exhaustive one) ─────
    "q227_semantic_decon_lsh" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dim = emb.select(col("embedding")).head().getSeq[Float](0).size
      val probe = emb.where(col("vec_id") % 25 === 0)
      val corpus = emb.where(col("vec_id") % 25 =!= 0)
      val viaLsh = Similarity.semanticContaminationLsh(probe, corpus,
        "embedding", "vec_id", threshold = 0.40, dim = dim)
      val exact = Similarity.semanticContamination(probe, corpus,
        "embedding", "vec_id", threshold = 0.40)
      def contaminatedCount(df: org.apache.spark.sql.DataFrame, as: String) =
        df.agg(coalesce(sum(when(col("contaminated"), 1L).otherwise(0L)),
          lit(0L)).as(as))
      contaminatedCount(viaLsh, "__n_lsh")
        .crossJoin(contaminatedCount(exact, "n_exact_contaminated"))
        .select(col("n_exact_contaminated"),
          (col("__n_lsh") * 10L >= col("n_exact_contaminated") * 8L)
            .as("recall_ok"))
    }),

    // ───── span-level (surgical) decontamination: every-20th doc as the
    // eval benchmark, the rest as corpus; any corpus 4-gram found in the
    // benchmark taints its 4 positions, tainted spans are cut and the
    // doc re-joined — kept=false when >10% of tokens were cut (publish a
    // doc with that many holes and you've kept the leak's context) ─────
    "q229_span_scrub" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.scrubContaminatedSpans(
          docs.where(col("doc_id") % 20 =!= 0).select(col("doc_id"), col("text")),
          docs.where(col("doc_id") % 20 === 0).select(col("text")),
          "text", "doc_id", n = 4, removedPerMilleMax = 100)
        .orderBy(col("doc_id"))
    }),

    // ───── cross-corpus near-dup join (the incremental-ingest primitive):
    // PPJoin between two corpora — odd doc_ids as the new batch, even as
    // the accumulated history — never a history self-join ─────
    "q67_neardup_join" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.ngramJaccardJoin(
          docs.where(col("doc_id") % 2 === 1),
          docs.where(col("doc_id") % 2 === 0),
          "text", "doc_id", n = 3, threshold = 0.8)
        .orderBy(col("id_l"), col("id_r"))
    }),

    // ───── q67's PREBUILT form — the shape a daily pipeline actually
    // runs: history artifacts (df table + PPJoin prefix) built once by
    // historyJaccardIndex, each batch joined against them; with the
    // artifacts persisted bucketed by `g` the full-history stages plan
    // with no history-side exchange (PipelineSpec asserts the plan).
    // Results identical to q67 under a DIFFERENT prefix order — gated by
    // the same oracle. ─────
    "q74_neardup_prebuilt" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // lazy checkpoint mirrors the persisted-index contract (four
      // consumers: df agg, prefix build, verify idx) without re-shingling
      val histRows = Dedup.shingleRows(docs.where(col("doc_id") % 2 === 0),
          "text", "doc_id", Nil, 3)
        .localCheckpoint(eager = false)
      val (hDf, hPrefix) = Dedup.historyJaccardIndex(histRows, "doc_id", 0.8)
      Dedup.ngramJaccardJoinPrebuilt(
          Dedup.shingleRows(docs.where(col("doc_id") % 2 === 1),
            "text", "doc_id", Nil, 3),
          histRows, hDf, hPrefix, "doc_id", 0.8)
        .orderBy(col("id_l"), col("id_r"))
    }),

    // ───── incremental corpus clean: quality gate → exact-vs-history →
    // near-dup-vs-history → in-batch clusters, with per-stage flags ─────
    "q68_incremental_clean" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.text.Corpus.cleanIncremental(
          docs.where(col("doc_id") % 2 === 1),
          docs.where(col("doc_id") % 2 === 0),
          "text", "doc_id", stopwords, n = 3, threshold = 0.5)
        .select(col("doc_id"), col("keep_quality"), col("keep_exact"),
          col("keep_vs_history"), col("keep"))
        .orderBy(col("doc_id"))
    }),

    // ───── the full training-mix assembly: weighted mixture (en docs
    // downsampled to 50%) → clean → 5000-token budget → 32-token chunks
    // with 8 overlap — every stage individually oracle-gated, composed
    // end-to-end and mirrored by one staged CTE ─────
    "q73_assemble" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.text.Corpus.assemble(
          Seq((docs.where(col("lang") === "en"), 0.5),
            (docs.where(col("lang") =!= "en"), 1.0)),
          "text", "doc_id", Seq("lang"), stopwords,
          n = 3, threshold = 0.5, tokenBudget = 5000L,
          chunkSize = 32, overlap = 8)
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // ───── q73 plus the decontamination stage: docs covering ≥ 70% of any
    // "eval-suite" doc (doc_id % 10 = 3 as a stand-in benchmark set) are
    // dropped BEFORE the token budget — the full production shape of
    // training-mix assembly ─────
    "q76_assemble_decon" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.text.Corpus.assemble(
          Seq((docs.where(col("lang") === "en"), 0.5),
            (docs.where(col("lang") =!= "en"), 1.0)),
          "text", "doc_id", Seq("lang"), stopwords,
          n = 3, threshold = 0.5, tokenBudget = 5000L,
          chunkSize = 32, overlap = 8,
          decontaminate = Some((docs.where(col("doc_id") % 10 === 3), 0.7)))
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // ───── flagship composition: the full corpus-cleaning pipeline
    // (quality gate → exact dedupe → near-dup clusters → survivors) with
    // per-stage keep flags for every doc ─────
    "q49_corpus_clean" -> ((s, d) => {
      graft.text.Corpus.clean(Tables.documents(s, d), "text", "doc_id",
          Seq("lang"), stopwords, n = 3, threshold = 0.5)
        .select(col("doc_id"), col("keep_quality"), col("keep_exact"), col("keep"))
        .orderBy(col("doc_id"))
    }),

    // ───── the full Lee-et-al composition: ExactSubstr span removal
    // FIRST (boilerplate dies at span granularity), then the standard
    // clean over the rewritten corpus — quality / exact / near-dup flags
    // now reflect post-rewrite text ─────
    "q104_clean_substr" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // lazily checkpointed (r18): clean() consumes the rewritten corpus
      // in THREE subtrees (the quality-passer branch, the failure branch,
      // and the shingle-index materialization), each of which re-executed
      // the whole ExactSubstr gram pipeline — the largest single plan in
      // the bench, and the Catalyst-planning-gap profile's top query.
      // Production Lee-et-al pipelines materialize the rewritten corpus
      // anyway (it IS the stage output); the checkpoint is that
      // materialization, in-session.
      val rewritten = docs.select(col("doc_id"), col("lang"))
        .join(graft.text.SubstringDedup.substringDedup(docs, "text", "doc_id", k = 8)
          .select(col("doc_id"), col("clean_text").as("text")), Seq("doc_id"))
        .localCheckpoint(eager = false)
      graft.text.Corpus.clean(rewritten, "text", "doc_id",
          Seq("lang"), stopwords, n = 3, threshold = 0.5)
        .select(col("doc_id"), col("keep_quality"), col("keep_exact"), col("keep"))
        .orderBy(col("doc_id"))
    }),

    // ───── Gopher-style repetition filters ─────
    "q79_repetition" -> ((s, d) =>
      TextOps.repetitionSignals(Tables.documents(s, d), "text", "doc_id")
        .orderBy(col("doc_id"))),

    // ───── C4-style line-level cleaning: boilerplate LINES dropped
    // (short / no terminal punctuation / banned markers), survivors
    // re-joined in order with kept/dropped counts ─────
    "q81_clean_lines" -> ((s, d) =>
      TextOps.cleanLines(Tables.documents(s, d), "text", "doc_id")
        .orderBy(col("doc_id"))),

    // ───── q49's pipeline with the Gopher repetition gate ANDed into the
    // quality stage — the thresholds bite (~28% of testdata docs exceed
    // top_bigram 0.1), so downstream exact/near-dup stages run over a
    // genuinely different survivor set than q49 ─────
    "q84_clean_repetition" -> ((s, d) => {
      graft.text.Corpus.clean(Tables.documents(s, d), "text", "doc_id",
          Seq("lang"), stopwords, n = 3, threshold = 0.5,
          repetition = Some((0.3, 0.1)))
        .select(col("doc_id"), col("keep_quality"), col("keep_exact"), col("keep"))
        .orderBy(col("doc_id"))
    }),

    // ───── corpus-relative rare-token ratio (outlier/gibberish signal;
    // integer counting, one division per doc) ─────
    "q83_rare_tokens" -> ((s, d) =>
      TextOps.rareTokenRatio(Tables.documents(s, d), "text", "doc_id",
          minDocFreq = 3L)
        .orderBy(col("doc_id"))),

    // ───── corpus-wide paragraph dedup: later occurrences of a duplicated
    // paragraph dropped across (and within) documents, docs re-assembled
    // from the survivors ─────
    "q82_paragraph_dedup" -> ((s, d) =>
      Dedup.paragraphDedupe(Tables.documents(s, d), "text", "doc_id")
        .orderBy(col("doc_id"))),

    // ───── grouped vector pooling, exact decimal path: per-label
    // element-wise embedding sums (associative decimal accumulation —
    // reproducible under any partitioning, replayable by the oracle; the
    // float Aggregator twin is ScalaTest-gated against this) ─────
    "q87_embed_centroids" -> ((s, d) =>
      graft.sim.VectorAgg.vectorSumElements(
          Tables.embeddings(s, d), "embedding", Seq("label"))
        .orderBy(col("label"), col("pos"))),

    // ───── BPE-ish token statistics: subword-granularity counts beside
    // the whitespace count, chars-per-token compression ratio ─────
    "q86_bpe_tokens" -> ((s, d) => {
      val t = col("text")
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextOps.bpeTokenCount(t).as("n_bpe"),
          TextOps.tokenCount(t).as("n_ws"),
          when(TextOps.bpeTokenCount(t) > 0,
            length(t).cast("double") / TextOps.bpeTokenCount(t))
            .otherwise(0.0).as("chars_per_bpe"))
        .orderBy(col("doc_id"))
    }),

    // ───── q82's incremental form: paragraphs already in the accumulated
    // history drop first, then the batch dedupes within itself ─────
    "q85_paragraph_dedup_inc" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.paragraphDedupeIncremental(
          docs.where(col("doc_id") % 2 === 1),
          Dedup.paragraphFps(docs.where(col("doc_id") % 2 === 0), "text", "doc_id"),
          "text", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // ───── Bloom-prefiltered incremental exact dedup: the filter bytes
    // are the only broadcast state; rows the bloom proves new skip the
    // confirm join, so the join probe side is |batch ∩ bloom|. With
    // confirm=true results are EXACTLY the plain anti-join — the oracle
    // is the NOT IN form over md5 fingerprints. ─────
    "q80_bloom_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("fp", TextOps.fingerprint(col("text")))
      Dedup.bloomAntiJoin(
          docs.where(col("doc_id") % 2 === 1),
          docs.where(col("doc_id") % 2 === 0),
          "fp", expectedItems = 0L, confirm = true)
        .select(col("doc_id"), col("fp"))
        .orderBy(col("doc_id"))
    }),

    // ───── sequence packing, concat-and-chunk: the corpus as one virtual
    // token stream in doc_id order, cut every 1024 tokens; the map rows
    // cover every doc's tokens exactly once and every sequence except the
    // last is exactly full. Distributed prefix sum — never a
    // single-partition global window. ─────
    "q88_pack_sequences" -> ((s, d) => {
      val docs = Tables.documents(s, d).where(col("text").isNotNull)
        .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n"))
      Packing.packSequences(docs, "doc_id", "n", 1024L)
        .orderBy(col("doc_id"), col("seq"))
    }),

    // ───── whole-document greedy packing: never splits a doc; a doc lands
    // where its first token falls, sequences overflow by < one doc ─────
    "q89_pack_greedy" -> ((s, d) => {
      val docs = Tables.documents(s, d).where(col("text").isNotNull)
        .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n"))
      Packing.packGreedy(docs, "doc_id", "n", 1024L)
        .orderBy(col("doc_id"))
    }),

    // ───── similarity-adjacent ("in-context") packing: the q89 greedy
    // map ordered by the min-shingle MinHash key instead of raw id, so
    // docs sharing content land in the same context windows — the
    // scalable approximation of retrieval-ordered pretraining batches.
    // Key and order fully engine-replayable (md5 min over 3-gram
    // shingles) ─────
    "q234_semantic_pack" -> ((s, d) => {
      val docs = Tables.documents(s, d).where(col("text").isNotNull)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("__toks"))
        .select(col("doc_id"), size(col("__toks")).as("n"),
          Dedup.minShingleKey(col("__toks"), 3).as("ck"))
      Packing.packGreedyBy(docs, "doc_id", "n", 1024L,
          Seq(col("ck"), col("doc_id")))
        .orderBy(col("doc_id"))
    }),

    // ───── packing-efficiency audit over the q89 map: per-sequence fill
    // → corpus padding waste, overflow count, integer fill rate — the
    // report a training run reads before committing a capacity ─────
    "q228_packing_report" -> ((s, d) => {
      val docs = Tables.documents(s, d).where(col("text").isNotNull)
        .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n"))
      Packing.packingReport(Packing.packGreedy(docs, "doc_id", "n", 1024L),
        capacity = 1024L)
    }),

    // ───── q88 in deterministic-SHUFFLE order: the reproducible random
    // document order a training run wants, replayable by any engine ─────
    "q93_pack_shuffled" -> ((s, d) => {
      val docs = Tables.documents(s, d).where(col("text").isNotNull)
        .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n"))
      Packing.packSequences(docs, "doc_id", "n", 1024L, shuffled = true)
        .orderBy(col("doc_id"), col("seq"))
    }),

    // ───── best-fit packing anchor (the imperative BFD packer is not
    // SQL-expressible; this emits what any correct packing must satisfy):
    // doc/token totals honest, overflow bins == oversize docs honest
    // (each n > cap doc gets a DEDICATED bin), capacity + ≥85%-mean-fill
    // invariants as pinned booleans ─────
    "q94_pack_bestfit_verify" -> ((s, d) => {
      val cap = 512L
      val docs = Tables.documents(s, d).where(col("text").isNotNull)
        .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n"))
      val packed = Packing.packBestFit(docs, "doc_id", "n", cap, numPartitions = 4)
      packed.groupBy(col("seq"))
        .agg(sum(col("n_tokens")).as("fill"), count(lit(1)).as("nd"))
        .agg(
          sum(col("nd")).cast("long").as("n_docs"),
          sum(col("fill")).cast("long").as("sum_tokens"),
          sum(when(col("fill") > cap, 1L).otherwise(0L)).cast("long")
            .as("n_overflow_bins"),
          max(when(col("fill") > cap, col("nd")).otherwise(lit(1L))).cast("long")
            .as("max_overflow_docs"),
          (sum(when(col("fill") <= cap, col("fill"))).cast("double") /
            (count(when(col("fill") <= cap, lit(1))) * cap) >= 0.85).as("fill_ok"))
    }),

    // ───── SemDeDup: nearest-centroid cells → within-cell cosine pairs →
    // connected components → min-id survivor. Centroids here are the
    // EXACT per-label means (the q87 fixed-point path) so the oracle can
    // re-derive them; production trains them with Ivf.train. ─────
    "q91_semantic_dedup" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).where(col("embedding").isNotNull)
      Similarity.semanticDedup(emb, "embedding", "vec_id",
          labelMeanModel(emb), threshold = 0.35)
        .select(col("vec_id"), col("ivf_cell"), col("component"), col("keep"))
        .orderBy(col("vec_id"))
    }),

    // ───── incremental SemDeDup: odd vec_ids are today's batch, even
    // vec_ids the accumulated history — batch drops members with a
    // same-cell history neighbor ≥ t, then dedupes within itself. Model =
    // the same oracle-derivable per-label means as q91. ─────
    "q109_semantic_dedup_inc" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).where(col("embedding").isNotNull)
      val batch = emb.where(col("vec_id") % 2 === 1)
      val hist = emb.where(col("vec_id") % 2 === 0)
      Similarity.semanticDedupIncremental(batch, hist, "embedding", "vec_id",
          labelMeanModel(emb), threshold = 0.35)
        .select(col("vec_id"), col("ivf_cell"), col("keep_vs_history"),
          col("component"), col("keep"))
        .orderBy(col("vec_id"))
    }),

    // ───── quality-aware survivor selection: q44's clusters, but each
    // cluster keeps its HIGHEST-NORM member (ties to lowest id) instead
    // of the min id — "of these near-duplicates, keep the best one" ─────
    "q110_cluster_best" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).where(col("embedding").isNotNull)
      val pairs = Similarity.cosinePairs(emb, "embedding", "vec_id",
        "label", threshold = 0.35)
      Dedup.dedupeByPairsBest(
          emb.select(col("vec_id"), col("embedding")), "vec_id", pairs,
          prefer = Similarity.norm(col("embedding")))
        .select(col("vec_id"), col("component"), col("keep"))
        .orderBy(col("vec_id"))
    }),

    // ───── BPE vocabulary induction (Sennrich et al.): the 8 best merges
    // over the corpus word table — pair counts are exact integers and the
    // greedy merge pass replays as a non-regex `replace`, so the whole
    // training loop is oracle-replayable stage by stage ─────
    "q111_bpe_merges" -> ((s, d) => {
      val s_ = s; import s_.implicits._
      graft.text.BpeVocab.train(Tables.documents(s, d), "text", numMerges = 8)
        .zipWithIndex
        .map { case (m, i) => (i + 1, m.left, m.right, m.count) }
        .toDF("rank", "l", "r", "pair_count")
        .orderBy(col("rank"))
    }),

    // ───── q111's DRIVER-LOCAL twin: the production training mode for
    // real 30-50k-merge vocabularies (one word-table collect, JVM merge
    // loop) — gated directly against the SAME stage-replayed oracle, so
    // the pinned trainLocal == train identity is also oracle-verified ─────
    "q116_bpe_merges_local" -> ((s, d) => {
      val s_ = s; import s_.implicits._
      graft.text.BpeVocab.trainLocal(Tables.documents(s, d), "text", numMerges = 8)
        .zipWithIndex
        .map { case (m, i) => (i + 1, m.left, m.right, m.count) }
        .toDF("rank", "l", "r", "pair_count")
        .orderBy(col("rank"))
    }),

    // ───── apply the learned merges: per-doc word and subword counts
    // (segmentation runs once per DISTINCT word, docs pay a join) ─────
    "q112_bpe_segment" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = graft.text.BpeVocab.train(docs, "text", numMerges = 8)
      graft.text.BpeVocab.subwordStats(docs, "text", "doc_id", merges)
        .orderBy(col("doc_id"))
    }),

    // ───── IVF index health: per-cell occupancy + fixed-point coherence
    // sums over the same oracle-derivable centroids as q91 ─────
    "q95_ivf_cell_stats" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).where(col("embedding").isNotNull)
      Ivf.cellStats(emb, "embedding", labelMeanModel(emb))
        .orderBy(col("ivf_cell"))
    }),

    // ───── materialized packed sequences: slice whitespace tokens per the
    // q88 map, reassemble each sequence's pieces in offset order ─────
    "q90_packed_text" -> ((s, d) => {
      val base = Tables.documents(s, d).where(col("text").isNotNull)
      val docs = base.select(col("doc_id"), TextOps.tokenCount(col("text")).as("n"))
      Packing.packedText(Packing.packSequences(docs, "doc_id", "n", 1024L),
          base, "doc_id", "text")
        .orderBy(col("seq"))
    }),

    // ───── ExactSubstr: strip every 8-token span duplicated anywhere in
    // the corpus, keeping the first (min id, pos) occurrence — repeated
    // boilerplate dies even where whole-document dedup can't see it ─────
    "q97_substring_dedup" -> ((s, d) => {
      SubstringDedup.substringDedup(Tables.documents(s, d), "text", "doc_id",
          k = 8, keepFirst = true)
        .orderBy(col("doc_id"))
    }),

    // ───── Unicode canonicalization: decomposed combining marks + a
    // control char injected in the QUERY (so the oracle sees identical
    // input), then NFC + control strip — the ingest normalization every
    // hash-equality downstream depends on ─────
    "q99_normalized" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), concat(col("text"),
          when(col("doc_id") % 5 === 0,
            lit(" café naïve")).otherwise(lit(""))).as("raw"))
        .select(col("doc_id"),
          TextOps.normalizeText(col("raw")).as("clean_text"),
          (length(col("raw")) - length(TextOps.normalizeText(col("raw"))))
            .cast("int").as("n_changed"))
        .orderBy(col("doc_id"))
    }),

    // ───── incremental ExactSubstr: the odd-id batch deduped against the
    // even-id history's gram index — history always wins, in-batch dups
    // keep their first occurrence ─────
    "q98_substring_dedup_inc" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      SubstringDedup.substringDedupAgainstHistory(
          docs.where(col("doc_id") % 2 === 1),
          SubstringDedup.gramIndex(
            docs.where(col("doc_id") % 2 === 0), "text", "doc_id", 8),
          "text", "doc_id", k = 8)
        .orderBy(col("doc_id"))
    }),

    // ───── DSIR: hashed-bigram importance ratio to the en target slice,
    // deterministic top-k (the paper's top-k variant). Weight = the
    // left-to-right ratio product — both engines fold left, so the
    // double's bits match; ratios are single divisions of exact integer
    // products. One scan to fit, a literal-array model, TakeOrdered. ─────
    "q105_dsir" -> ((s, d) => {
      graft.text.Dsir.select(Tables.documents(s, d), col("lang") === "en",
          "text", "doc_id", dim = 64, k = 100)
        .orderBy(col("dsir_weight").desc, col("doc_id"))
    }),

    // ───── cluster-balanced sample: nearest-centroid cells over the q87
    // exact per-label centroids (oracle re-derivable), then the q96
    // per-key hash-order cap per cell — diversity-preserving curation:
    // no cell contributes more than its quota ─────
    "q106_cluster_balanced" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).where(col("embedding").isNotNull)
      graft.ops.Sampling.perKeyCap(
          Ivf.assign(emb, "embedding", labelMeanModel(emb))
            .select(col("vec_id"), col("ivf_cell")),
          keyCol = "ivf_cell", idCol = "vec_id", n = 40)
        .orderBy(col("vec_id"))
    }),

    // ───── Stupid Backoff per-token scores: trigram LM trained on the en
    // slice, every doc scored; level = n-gram order that fired. Scores
    // are rational (exact-int divisions, fixed α parenthesization) so
    // the doubles replay bit-for-bit ─────
    "q107_lm_score" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.text.NgramLm.scoreTokens(docs,
          graft.text.NgramLm.fit(docs.where(col("lang") === "en"), "text"),
          "text", "doc_id")
        .orderBy(col("doc_id"), col("pos"))
    }),

    // ───── CCNet-style LM filter: per-doc mean backoff score vs τ=1/20,
    // aggregated in exact integer picos (fold-order-free) ─────
    "q108_lm_filter" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.text.NgramLm.filterByScore(docs,
          graft.text.NgramLm.fit(docs.where(col("lang") === "en"), "text"),
          "text", "doc_id", tauNum = 1L, tauDen = 20L)
        .orderBy(col("doc_id"))
    }),

    // ───── CCNet head/middle/tail partition: per-doc mean backoff score
    // cut at the exact corpus tertiles — comparison labels, no global
    // rank window ─────
    "q113_ccnet_buckets" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.text.NgramLm.ccnetBuckets(docs,
          graft.text.NgramLm.fit(docs.where(col("lang") === "en"), "text"),
          "text", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // ───── q113's PRODUCTION cut: the mergeable percentile_approx
    // tertiles (O(accuracy) state per task — the 10⁹-doc path; SCALE.md).
    // ROWS-ONLY: a KLL sketch isn't bit-replayable in DuckDB; anchored by
    // the exact twin q113 and the DsirLmSpec approx-vs-exact agreement
    // test on the same fixture. ─────
    "q117_ccnet_buckets_approx" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.text.NgramLm.ccnetBuckets(docs,
          graft.text.NgramLm.fit(docs.where(col("lang") === "en"), "text"),
          "text", "doc_id",
          cut = graft.text.NgramLm.TertileCut.Approx())
        .orderBy(col("doc_id"))
    }),

    // ───── int8 scalar quantization of the embedding table: per-vector
    // absmax scale + tinyint codes, pinned by exact integer checksums
    // (sum, sum-of-squares via the int8 dot kernel, position-weighted
    // sum — the triple fixes the code array up to astronomically
    // unlikely collisions) ─────
    "q118_quantize_int8" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).where(col("embedding").isNotNull)
      val q = graft.sim.Quant.quantizeInt8(emb, "embedding")
      q.select(col("vec_id"), col("q8_scale"),
          size(col("q8")).cast("long").as("n_dims"),
          aggregate(transform(col("q8"), x => x.cast("long")),
            lit(0L), (a, x) => a + x).as("code_sum"),
          graft.functions.VectorExpressions.int8Dot(col("q8"), col("q8"))
            .as("code_sumsq"),
          aggregate(transform(col("q8"), (x, i) => (i.cast("long") + 1L) * x.cast("long")),
            lit(0L), (a, x) => a + x).as("code_possum"))
        .orderBy(col("vec_id"))
    }),

    // ───── brute-force ANN over the QUANTIZED corpus: rank by int8
    // cosine (exact integer dot / code norms — scales cancel). Fully
    // oracle-replayable, unlike float-kernel ANN: the scores are
    // integer-derived ─────
    "q119_ann_int8" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).where(col("embedding").isNotNull)
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      graft.sim.Quant.topKInt8(emb.where(col("vec_id") =!= 0),
          "embedding", "vec_id", q, k = 10)
        .orderBy(col("cos8").desc, col("vec_id"))
    }),

    // ───── q114 for EVERY benchmark in one corpus scan: odd docs are K
    // eval suites keyed by source, even docs the training corpus — the
    // audit joins once, the benchmark label rides only the probe-sized
    // fan-back ─────
    "q120_contamination_multi" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminationReportMulti(
          docs.where(col("doc_id") % 2 === 1).withColumnRenamed("source", "benchmark"),
          "benchmark",
          docs.where(col("doc_id") % 2 === 0),
          "text", "doc_id", n = 3, threshold = 0.7)
        .orderBy(col("benchmark"), col("doc_id"))
    }),

    // ───── the per-suite rollup the audit publishes: how dirty is each
    // benchmark (exact-integer rate, worst containment) ─────
    "q121_contamination_summary" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminationSummary(
        Dedup.contaminationReportMulti(
          docs.where(col("doc_id") % 2 === 1).withColumnRenamed("source", "benchmark"),
          "benchmark",
          docs.where(col("doc_id") % 2 === 0),
          "text", "doc_id", n = 3, threshold = 0.7), "benchmark")
        .orderBy(col("benchmark"))
    }),

    // ───── CCNet's ACTUAL cut: head/middle/tail at PER-LANGUAGE
    // tertiles — each language partitioned against its own score
    // distribution, never one global threshold ─────
    "q122_ccnet_by_lang" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.text.NgramLm.ccnetBucketsGrouped(docs,
          graft.text.NgramLm.fit(docs.where(col("lang") === "en"), "text"),
          "text", "doc_id", "lang")
        .orderBy(col("doc_id"))
    }),

    // ───── q29's int8 twin: blocked near-dup pairs over QUANTIZED
    // vectors — 4× less data through the salted shuffle, exact integer
    // scoring (fully SQL-replayable, unlike float-fold kernels) ─────
    "q123_embed_neardup_int8" -> ((s, d) => {
      graft.sim.Quant.cosinePairsInt8(
          Tables.embeddings(s, d).where(col("embedding").isNotNull),
          "embedding", "vec_id", "label", threshold = 0.35)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ───── URL canonicalization: the pre-content-dedup key rewrite
    // (fragment/tracking-param/default-port/case normalization). The
    // fixture has no URL column, so the query derives a deterministic
    // MESSY url per doc from (doc_id, source) — same expression in the
    // oracle — and canonicalizes it ─────
    "q124_url_canonical" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), messyUrl.as("url"))
        .withColumn("url_canon", graft.text.UrlOps.canonicalizeUrl(col("url")))
        .orderBy(col("doc_id"))
    }),

    // ───── URL-level exact dedup over the canonical key: keeper = min
    // doc_id (first-crawled wins), ONE hash aggregate ─────
    "q125_url_dedup" -> ((s, d) => {
      graft.text.UrlOps.urlDedupe(
          Tables.documents(s, d).select(col("doc_id"), messyUrl.as("url")),
          "url", "doc_id")
        .orderBy(col("url_canon"))
    }),

    // ───── domain blocklist (robots/opt-out compliance gate): registrable
    // domains block their whole subtree via the label-suffix chain —
    // src3.example.com catches both the www. and bare hosts, the
    // www-specific pattern catches ONLY www-form doc ids, example.net
    // catches nothing; ports are blind. Adversarial authorities ride
    // in-query (the q232 fixture pattern): a multi-'@' userinfo plus a
    // trailing-dot FQDN (%7==3) must still be caught — WHATWG takes the
    // host from after the LAST '@', so a first-'@' strip walks straight
    // through the gate — and a host-shaped userinfo in front of a clean
    // host (%7==5) must NOT block. Spark joins the exploded suffix
    // chain against the broadcast list; the oracle replays the SEMANTICS
    // with suffix LIKE tests (a different mechanism on purpose) ─────
    "q231_domain_blocklist" -> ((s, d) => {
      val s_ = s; import s_.implicits._
      val advUrl = when(col("doc_id") % 7 === 3,
          concat(lit("http://user@p:w@"), upper(col("source")),
            lit(".example.com./x")))
        .when(col("doc_id") % 7 === 5,
          concat(lit("https://"), upper(col("source")),
            lit(".example.com@example.org/y")))
        .otherwise(messyUrl)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), advUrl.as("url"))
      val bl = Seq("src3.example.com", "www.src7.example.com", "example.net")
        .toDF("pattern")
      graft.text.UrlOps.domainBlocklistFilter(docs, "url", "doc_id",
          bl, "pattern")
        .select(col("doc_id"), col("blocked"))
        .orderBy(col("doc_id"))
    }),

    // ───── Unicode-script histogram + dominant script (the CCNet-style
    // routing signal). A deterministic multi-script suffix keyed by
    // (lang, doc_id) exercises Han/Cyrillic/Arabic counting on the
    // Latin-only synthetic corpus — same concat in the oracle ─────
    "q126_script_profile" -> ((s, d) => {
      val sigs = graft.text.TextOps.scriptProfile(col("__t"))
      Tables.documents(s, d)
        .select(col("doc_id"), multiScriptText.as("__t"))
        .select(col("doc_id") +: sigs.map { case (n, c) => c.as(n) }: _*)
        .orderBy(col("doc_id"))
    }),

    // ───── Gopher-style composite quality verdict (Rae et al. 2021):
    // per-rule booleans + conjunction, one codegen'd projection ─────
    "q127_gopher_quality" -> ((s, d) => {
      val sigs = graft.text.TextOps.gopherSignals(col("text"), stopwords,
        minWords = 20)
      Tables.documents(s, d)
        .select(col("doc_id") +: sigs.map { case (n, c) => c.as(n) }: _*)
        .orderBy(col("doc_id"))
    }),

    // ───── count-min point-frequency estimates for the exact top-20
    // tokens: the estimate column is the CMS guarantee as a pinned
    // verdict (never below exact, within ε·N above — deterministic for
    // the fixed seed), beside honest exact counts; the top-20 driver
    // collect is the blessed O2 bounded-top-k pattern ─────
    "q130_cms_heavy_hitters" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val eps = 1e-4
      val cms = graft.udafs.Sketches.tokenCms(docs, "text", eps,
        confidence = 0.99, seed = 42)
      val top = docs.select(explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("token")).limit(20).collect()
      val budget = math.ceil(eps * cms.totalCount()).toLong
      val rows = top.toSeq.map { r =>
        val (w, n) = (r.getString(0), r.getLong(1))
        val est = cms.estimateCount(w)
        (w, n, est >= n && est <= n + budget)
      }
      val s_ = s; import s_.implicits._
      rows.toDF("token", "n_exact", "cms_ok")
        .orderBy(col("n_exact").desc, col("token"))
    }),

    // ───── Gopher's duplicate-n-gram character coverage (the half of
    // the published repetition table q79 doesn't carry): one window
    // pass builds every lead, one hash aggregate per n ─────
    "q135_dup_ngrams" -> ((s, d) => {
      graft.text.TextOps.dupNgramCharFrac(
          Tables.documents(s, d), "text", "doc_id", ns = Seq(2, 3, 4))
        .orderBy(col("doc_id"))
    }),

    // ───── the web-corpus front half composed from this round's gated
    // operators, in the order real pipelines run it (cheapest key first):
    // URL-canonical dedup → Gopher quality gate → exact-text dedup.
    // Each stage is its own oracle-gated operator (q125, q127, q25) ─────
    "q128_web_clean" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), messyUrl.as("url"))
      val urlKeep = graft.text.UrlOps.urlDedupe(docs, "url", "doc_id")
        .select(col("keep_id").as("doc_id"))
      val keep = graft.text.TextOps
        .gopherSignals(col("text"), stopwords, minWords = 20).toMap.apply("keep")
      Dedup.exact(
          docs.join(urlKeep, Seq("doc_id"), "left_semi").where(keep),
          "text", "doc_id")
        .select(col("doc_id"), col("n_copies"))
        .orderBy(col("doc_id"))
    }),

    // ───── BM25 retrieval: odd docs' first-5-token prefixes as the
    // query suite, even docs as the corpus — exact-integer odds-idf
    // scoring (micro fixed point, sequential divs, no ln), top-3 per
    // query with ties to the smaller doc_id ─────
    "q136_bm25_topk" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.text.Retrieval.topKPerQuery(
          graft.text.Retrieval.bm25OddsScores(
            bm25Queries(docs), docs.where(col("doc_id") % 2 === 0),
            "text", "doc_id"),
          "score_pico", 3)
        .orderBy(col("query_id"), col("doc_id"))
    }),

    // ───── hybrid retrieval: BM25 lexical arm + exact-cosine dense arm
    // fused by reciprocal rank (integer pico weights) — 10 probe docs
    // (doc_id % 50 == 1), top-20 per arm, top-5 fused ─────
    "q140_rrf_hybrid" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val queriesDf = docs.where(col("doc_id") % 50 === 1)
        .select(col("doc_id"), concat_ws(" ",
          slice(graft.text.TextOps.tokens(col("text")), 1, 5)).as("text"))
      val lex = graft.text.Retrieval.rankPerQuery(
          graft.text.Retrieval.bm25OddsScores(
            queriesDf, docs.where(col("doc_id") % 2 === 0), "text", "doc_id"),
          Seq(col("score_pico").desc, col("doc_id")))
        .where(col("rank") <= 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val emb = Tables.embeddings(s, d)
      val probes = emb.where(col("vec_id") % 50 === 1)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1)).toSeq.sortBy(_._1)
      val dense = graft.text.Retrieval.rankPerQuery(
          Similarity.bruteForceScores(emb.where(col("vec_id") % 2 === 0),
              "embedding", "vec_id", probes)
            .withColumnRenamed("vec_id", "doc_id"),
          Seq(col("cos").desc, col("doc_id")))
        .where(col("rank") <= 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      graft.text.Retrieval.topKPerQuery(
          graft.text.Retrieval.rrfFuse(Seq(lex, dense), k0 = 60),
          "rrf_pico", 5)
        .orderBy(col("query_id"), col("doc_id"))
    }),

    // ───── apply the learned merges all the way to TOKEN IDS: per-doc
    // ordered id streams (exploded for comparison) — segmentation once
    // per distinct word, ids = final subwords in UTF-8 byte order ─────
    "q139_bpe_encode" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = graft.text.BpeVocab.trainLocal(docs, "text", numMerges = 8)
      graft.text.BpeVocab.encode(docs, "text", "doc_id", merges)
        .select(col("doc_id"), posexplode(col("token_ids")))
        .toDF("doc_id", "pos", "token_id")
        .orderBy(col("doc_id"), col("pos"))
    }),

    // ───── the pretraining data-prep tail composed end-to-end: train
    // BPE merges → encode docs to id streams → pack the REAL subword
    // counts into capacity-256 context windows (doc order, straight-
    // line packer) — each stage its own gated operator (q116, q139,
    // q88) ─────
    "q141_bpe_pack" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = graft.text.BpeVocab.trainLocal(docs, "text", numMerges = 8)
      graft.text.Packing.packSequences(
          graft.text.BpeVocab.encode(docs, "text", "doc_id", merges),
          "doc_id", "n_tokens", capacity = 256L)
        .orderBy(col("doc_id"), col("seq"))
    }),

    // ───── q136's PREBUILT form — retrieval as the recurring job it is:
    // postings/dl/stats built once by bm25Index (at scale: persisted,
    // postings bucketed by token), each query suite probes without
    // re-tokenizing the corpus. Same result, same oracle ─────
    "q137_bm25_prebuilt" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (postings, dfreq, dl, stats) = graft.text.Retrieval.bm25Index(
        docs.where(col("doc_id") % 2 === 0), "text", "doc_id")
      val p = postings.localCheckpoint(eager = false) // persisted-index contract
      graft.text.Retrieval.topKPerQuery(
          graft.text.Retrieval.bm25OddsScoresPrebuilt(
            graft.text.Retrieval.queryTerms(bm25Queries(docs), "text", "doc_id"),
            p, dfreq.localCheckpoint(eager = false), dl, stats),
          "score_pico", 3)
        .orderBy(col("query_id"), col("doc_id"))
    }),

    // ───── q136 answered through MaxScore-style pruning: rare terms
    // (df ≤ 5% of corpus) generate candidates, per-term weight bounds
    // close the top-3 per query, and queries where the bound does not
    // close fall back to the unpruned fan-out — so the ORACLE is the
    // same unpruned SQL replay: pruning is a work saver, never an
    // answer changer ─────
    "q147_bm25_pruned" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (postings, dfreq, dl, stats) = graft.text.Retrieval.bm25Index(
        docs.where(col("doc_id") % 2 === 0), "text", "doc_id")
      graft.text.Retrieval.bm25OddsTopKPruned(
          graft.text.Retrieval.queryTerms(bm25Queries(docs), "text", "doc_id"),
          postings.localCheckpoint(eager = false),
          dfreq.localCheckpoint(eager = false), dl, stats,
          k = 3, essentialDfFrac = 0.05)
        .orderBy(col("query_id"), col("doc_id"))
    }),

    // ───── exact phrase search over positional postings: documents
    // containing "sort merge" contiguously, with occurrence counts —
    // anchor voting (pos − role), all roles present = a match ─────
    "q188_phrase_search" -> ((s, d) =>
      graft.text.Retrieval.phraseSearch(Tables.documents(s, d),
          "doc_id", "text", Seq("sort", "merge"))
        .orderBy(col("doc_id"))),

    // ───── collocation mining: the 50 adjacent-pair collocations with
    // the highest association lift (PMI's monotone core, no libm log)
    // among pairs seen ≥ 5 times — phrase/boilerplate detection ─────
    "q177_collocations" -> ((s, d) =>
      graft.text.TextOps.collocations(Tables.documents(s, d),
          "text", "doc_id", minCount = 5L)
        .orderBy(col("lift").desc, col("w1"), col("w2"))
        .limit(50)),

    // ───── χ² feature selection: the 50 tokens whose document presence
    // most discriminates lang='en' — the vocabulary-pruning stage in
    // front of a quality/domain classifier. Score halves are exact
    // 64-bit integers; the ranking division is one IEEE op ─────
    "q176_chi2_tokens" -> ((s, d) =>
      graft.text.TextOps.chiSquareTokens(
          Tables.documents(s, d).select(col("doc_id"), col("text"),
            (col("lang") === "en").as("is_en")),
          "text", "doc_id", "is_en")
        .orderBy((col("chi2_num").cast("double") / col("chi2_den")).desc,
          col("token"))
        .limit(50)),

    // ───── rolling token frequencies from PER-BUCKET count-min sketches
    // (vocabulary-drift monitoring over ingest shards): the q130 CMS
    // guarantee as a pinned verdict per (window, watch token), beside
    // the honest exact windowed counts. The production path touches
    // only the sketch artifacts; the exact half exists solely for the
    // gate (the q156/q142 bounded-anchor pattern) ─────
    "q166_rolling_token_freq" -> ((s, d) => {
      val eps = 1e-3; val conf = 0.99; val seed = 42; val win = 4
      val watch = Seq("the", "data", "of", "model")
      val docs = Tables.documents(s, d)
        .select(expr("doc_id div 50").as("bucket"), col("text"))
      val sk = graft.ops.Timeseries.bucketTokenCms(
        docs, "text", "bucket", eps, conf, seed)
      val est = graft.ops.Timeseries.rollingTokenFreqFromSketches(
        sk, "bucket", "sketch", watch, win, eps, conf, seed)
      // exact windowed counts + token totals, for the verdict only
      val perB = docs
        .select(col("bucket"), explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy(col("bucket"), col("token")).agg(count(lit(1)).as("n"))
      val maxB = perB.agg(max(col("bucket")).as("mb"))
      val wins = perB.select(col("bucket")).distinct()
        .crossJoin(broadcast(maxB))
        .select(explode(sequence(col("bucket"),
          least(col("bucket") + lit(win - 1L), col("mb")))).as("wend"))
        .distinct()
      val ex = wins
        .select(col("wend"), explode(typedLit(watch)).as("wtoken"))
        .join(perB,
          perB("token") === col("wtoken") &&
            perB("bucket").between(col("wend") - (win - 1L), col("wend")),
          "left")
        .groupBy(col("wend"), col("wtoken"))
        .agg(coalesce(sum(col("n")), lit(0L)).as("n_exact"))
      val totals = sk.crossJoin(broadcast(maxB))
        .select(col("n_tokens"), explode(sequence(col("bucket"),
          least(col("bucket") + lit(win - 1L), col("mb")))).as("wend"))
        .groupBy(col("wend")).agg(sum(col("n_tokens")).as("ntot"))
      est.join(ex, est("bucket") === ex("wend") && est("token") === ex("wtoken"))
        .join(totals, est("bucket") === totals("wend"))
        .select(est("bucket"), est("token"), col("n_exact"),
          (col("freq_est") >= col("n_exact") &&
            col("freq_est") <= col("n_exact") +
              ceil(lit(eps) * col("ntot")).cast("long")).as("cms_ok"))
        .orderBy(col("bucket"), col("token"))
    }),

    // ───── Misra–Gries frequent items (the sketch that FINDS the heavy
    // tokens — CMS only answers point queries about tokens the caller
    // already knows). Two regimes in one gate: the fixture vocabulary
    // (31 tokens) ≤ k=64 means no trim can ever fire, so the two-level
    // shard→merge build is provably order-free exact sums — `mg_exact`
    // is a bit-exact VALUE column the oracle replays as the true count;
    // k=16 < vocabulary forces real trims on every partial, and its
    // column carries the deterministic MG guarantee (est ≤ true,
    // true − est ≤ N/(k+1), heavy ⇒ present) as pinned verdicts — the
    // q130/q156 bounded-anchor pattern. FreqItemsSpec hammers the trim
    // path on skewed randomized data ─────
    "q201_mg_heavy_hitters" -> ((s, d) => {
      import graft.udafs.FreqItems
      val tok = Tables.documents(s, d).select((col("doc_id") % 4).as("shard"),
        explode(TextOps.tokens(col("text"))).as("token"))
      val exact = tok.groupBy(col("token")).agg(count(lit(1)).as("n_exact"))
      val total = exact.agg(sum(col("n_exact")).as("n_total"))
      val merged64 = tok.groupBy(col("shard"))
        .agg(FreqItems.mgAgg(col("token"), lit(1L), 64).as("mg"))
        .agg(FreqItems.mgMergeAgg(col("mg"), 64).as("mg64"))
      val mg16 = tok.agg(FreqItems.mgAgg(col("token"), lit(1L), 16).as("mg16"))
      val est16 = coalesce(element_at(col("mg16"), col("token")), lit(0L))
      exact.crossJoin(broadcast(merged64)).crossJoin(broadcast(mg16))
        .crossJoin(broadcast(total))
        .select(col("token"), col("n_exact"),
          element_at(col("mg64"), col("token")).as("mg_exact"),
          (est16 <= col("n_exact") &&
            col("n_exact") - est16 <= expr("n_total div 17") &&
            (col("n_exact") <= expr("n_total div 17") ||
              element_at(col("mg16"), col("token")).isNotNull))
            .as("mg_bounds_ok"))
        .orderBy(col("token"))
    }),

    // ───── rolling heavy-hitter candidates from per-bucket MG daily
    // artifacts — the q166 rolling-CMS complement that needs NO
    // watchlist: merged window summaries name the candidates
    // themselves. k=64 ≥ the fixture vocabulary keeps every window in
    // the exact regime, so the candidate table is BIT-EXACT the
    // windowed count table (a stronger gate than q166's verdict
    // columns); FreqItemsSpec carries the forced-trim regime ─────
    "q205_rolling_heavy_hitters" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(expr("doc_id div 50").as("bucket"), col("text"))
      graft.ops.Timeseries.rollingHeavyHittersFromSummaries(
          graft.ops.Timeseries.bucketTokenHeavyHitters(
            docs, "text", "bucket", k = 64),
          "bucket", "summary", k = 64, windowBuckets = 4)
        .orderBy(col("bucket"), col("token"))
    }),

    // ───── retrieval-quality evaluation over the q136 BM25 ranking:
    // exact-integer MRR / precision@5 / recall per query (micro fixed
    // point, no NDCG logs) against a deterministic label set (each
    // query's ±1/+5 neighbor docs that exist in the even-id corpus).
    // The measurement layer the retrieval family was missing — scorers
    // were gated, nothing said whether they rank well ─────
    "q206_retrieval_eval" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.where(col("doc_id") % 2 === 0)
      val ranked = graft.text.Retrieval.rankPerQuery(
          graft.text.Retrieval.bm25OddsScores(
            bm25Queries(docs), corpus, "text", "doc_id"),
          Seq(col("score_pico").desc, col("doc_id")))
        .where(col("rank") <= 10)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val labels = bm25Queries(docs).select(col("doc_id").as("query_id"))
        .select(col("query_id"), explode(array(col("query_id") - 1,
          col("query_id") + 1, col("query_id") + 5)).as("doc_id"))
        .join(corpus.select(col("doc_id")), Seq("doc_id"), "left_semi")
      graft.text.Retrieval.evalRanking(ranked, labels, k = 5)
        .orderBy(col("query_id"))
    }),

    // ───── embedding-drift monitor: exact integer L1 between
    // consecutive ingest-shard centroids in micro units (the
    // common-denominator trick — no float accumulation, no sqrt) —
    // the "did the encoder or corpus shift" MLOps alarm, replayable
    // from the q87 centroid-sum artifacts alone ─────
    "q208_embedding_drift" -> ((s, d) =>
      graft.sim.VectorAgg.centroidDrift(
          Tables.embeddings(s, d)
            .select(expr("vec_id div 50").as("bucket"), col("embedding")),
          "embedding", "bucket")
        .orderBy(col("bucket")))
    ,

    // ───── centroid-distance outlier screen per label: the
    // mislabeled/corrupt-vector detector, exact integer micro² scores
    // via the shifted common-denominator deviation (bit-replayable —
    // no float accumulation) ─────
    "q210_embedding_outliers" -> ((s, d) =>
      graft.sim.VectorAgg.centroidOutliers(
          Tables.embeddings(s, d), "embedding", "vec_id", Seq("label"),
          threshold = 1030000000000L)
        .orderBy(col("vec_id")))
    ,

    // ───── per-language percentile-rank calibration of a quality
    // signal (token count): exact rank()−1 semantics in micro fixed
    // point, computed over the (lang, value) HISTOGRAM — never a
    // window over the raw rows (the English partition of a web corpus
    // is most of the corpus) ─────
    "q213_percentile_rank" -> ((s, d) =>
      graft.ops.Relational.percentileRank(
          Tables.documents(s, d).select(col("doc_id"), col("lang"),
            size(TextOps.tokens(col("text"))).cast("long").as("n_tok")),
          Seq("lang"), "n_tok")
        .select(col("doc_id"), col("lang"), col("n_tok"), col("pct_micro"))
        .orderBy(col("doc_id")))
    ,

    // ───── C4-style phrase blocklist verdict: word-boundary phrase
    // matching via broadcast head-word hash-probe + one array-slice
    // adjacency check — never a 10⁴-pattern regex alternation. Every
    // doc keeps a row (audit form); the oracle replays each phrase as
    // an engine-portable boundary regex ─────
    "q221_blocklist" -> ((s, d) =>
      TextOps.blocklistVerdict(
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          "text", "doc_id", blocklistFixture)
        .select(col("doc_id"), col("n_blocked"), col("first_phrase"),
          col("blocked"))
        .orderBy(col("doc_id")))
    ,

    // ───── HTML → text extraction (jusText-lite): pages synthesized
    // deterministically from the fixture (nav chrome, a too-short h1,
    // the content paragraph, per-doc_id link-soup or a kept blockquote,
    // an entity-bearing footer), then block-split + word/link-density
    // gates + entity decode — the oracle replays the whole chain with
    // RE2, so every regex is written in the Java∩RE2 dialect ─────
    "q222_html_extract" -> ((s, d) => {
      val html = concat(
        lit(HtmlFixture.head), col("lang"), lit(HtmlFixture.mid),
        col("text"), lit(HtmlFixture.afterText),
        when(col("doc_id") % 3 === 0, lit(HtmlFixture.soup))
          .when(col("doc_id") % 3 === 1, lit(HtmlFixture.quote))
          .otherwise(lit("")),
        lit(HtmlFixture.tail))
      // spread before the regex-chain extraction (r17): per-row HTML
      // stripping is CPU-dense and the single-split fixture scan would
      // otherwise run it on one task
      graft.text.TextOps.spreadByKey(
          Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text")),
          col("doc_id"))
        .select(col("doc_id"),
          graft.text.HtmlOps.extractText(html).as("extracted"))
        .orderBy(col("doc_id"))
    }),

    // ───── robots-meta directives (page-level crawl opt-out): six
    // deterministic tag variants — real noindex+nofollow, an
    // upper-case single-quoted NOFOLLOW, a DESCRIPTION tag that
    // mentions noindex (must NOT trip the gate — only robots-named tags
    // are consulted), content="index, follow" (word boundaries keep
    // index/follow from reading as their negations), a robots tag whose
    // noindex sits in a DIFFERENT attribute (directives anchor to the
    // content value), and data-name="robots" (attribute-name boundary:
    // not a robots tag) ─────
    "q232_robots_meta" -> ((s, d) => {
      val meta = when(col("doc_id") % 6 === 0,
          lit("<meta name=\"robots\" content=\"noindex, nofollow\">"))
        .when(col("doc_id") % 6 === 1,
          lit("<META NAME='ROBOTS' CONTENT='NOFOLLOW'>"))
        .when(col("doc_id") % 6 === 2,
          lit("<meta name=\"description\" content=\"noindex noarchive\">"))
        .when(col("doc_id") % 6 === 3,
          lit("<meta name=\"robots\" content=\"all\" data-note=\"noindex\">"))
        .when(col("doc_id") % 6 === 4,
          lit("<meta data-name=\"robots\" content=\"noindex\">"))
        .otherwise(lit("<meta name=\"robots\" content=\"index, follow\">"))
      val html = concat(lit("<html><head>"), meta,
        lit("</head><body><p>"), col("text"), lit("</p></body></html>"))
      val sigs = graft.text.HtmlOps.robotsDirectives(html)
      Tables.documents(s, d)
        .select(col("doc_id") +: sigs.map { case (n, c) => c.as(n) }: _*)
        .orderBy(col("doc_id"))
    }),

    // ───── Flesch–Kincaid readability: a deterministic period after
    // every 'sort' gives per-doc sentence variety on the punctuation-free
    // synthetic text; counts exact-integer, grade in one fixed IEEE
    // order so the oracle replays it bit-for-bit ─────
    "q233_readability" -> ((s, d) => {
      val punct = regexp_replace(col("text"), "sort", "sort.")
      val sigs = graft.text.TextOps.readabilitySignals(punct)
      Tables.documents(s, d)
        .select(col("doc_id") +: sigs.map { case (n, c) => c.as(n) }: _*)
        .orderBy(col("doc_id"))
    }),

    // ───── SoftDeDup: every row kept, duplicates downweighted to
    // 1/n_copies in exact micro units. Rides the q24/q25 null-injected
    // text, so the content-less family downweights as ONE group ─────
    "q236_soft_dedup" -> ((s, d) => {
      graft.dedup.Dedup.softDedupe(
          Tables.documents(s, d).select(col("doc_id"), advNullText.as("text")),
          "text", "doc_id")
        .select(col("doc_id"), col("fp"), col("n_copies"), col("weight_micro"))
        .orderBy(col("doc_id"))
    }),

    // ───── winnowing fingerprints (Schleimer et al. 2003): md5 4-gram
    // hashes, window of 5, min per window with rightmost ties — the
    // bounded-density overlap fingerprints; the oracle replays the SAME
    // string-min recurrence through a SQL window ─────
    "q237_winnowing" -> ((s, d) => {
      graft.dedup.Dedup.winnowingFps(
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          "text", "doc_id", k = 4, w = 5)
        .orderBy(col("doc_id"), col("pos"))
    }),

    // ───── winnowing overlap candidates (the MOSS shape): docs sharing
    // >= 2 selected fingerprints, boilerplate fps (df > 50) eliminated
    // first — the cap is the scale contract against hot-key blowup ─────
    "q239_winnowing_pairs" -> ((s, d) => {
      graft.dedup.Dedup.winnowingPairs(
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          "text", "doc_id", k = 4, w = 5, minShared = 2, maxDf = 50)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ───── lexical diversity without logarithms: Simpson index +
    // type-token ratio in exact integer micro units (libm-free — the
    // entropy-class signal that replays bit-for-bit). Null-injected
    // text exercises the (0, 0, NULL, NULL) content-less contract ─────
    "q238_lexical_diversity" -> ((s, d) => {
      val sigs = graft.text.TextOps.lexicalDiversity(advNullText)
      Tables.documents(s, d)
        .select(col("doc_id") +: sigs.map { case (n, c) => c.as(n) }: _*)
        .orderBy(col("doc_id"))
    })
    ,

    // ───── per-source template removal (RefinedWeb site-boilerplate at
    // paragraph granularity): every doc gets its source's banner (100%
    // presence → stripped where the bucket has ≥ minDocs docs — so at
    // sf0.001's 2-3-doc sources the exemption bites and NOTHING strips,
    // while sf0.01's 25-doc sources strip), plus a footer on even ids
    // (~50% presence — straddles the strict > gate per source) ─────
    "q224_template_strip" -> ((s, d) => {
      val aug = concat(lit(TemplateFixture.pre), col("source"),
        lit(TemplateFixture.post + "\n\n"), col("text"),
        when(col("doc_id") % 2 === 0, lit("\n\n" + TemplateFixture.footer))
          .otherwise(lit("")))
      graft.dedup.Dedup.stripTemplates(
          Tables.documents(s, d)
            .select(col("doc_id"), col("source"), aug.as("text")),
          "text", "doc_id", "source",
          maxDocPerMille = 500, minDocs = 4L)
        .orderBy(col("doc_id"))
    })
    ,

    // ───── q224's INCREMENTAL form — the daily-ingest shape: template
    // thresholds computed over history (even ids, via the sum-mergeable
    // templateState artifact) + the batch's own counts; only the batch
    // (odd ids) re-assembles. Footer on ids % 3 ≠ 0 (~67% presence →
    // template in every source, per-source counts vary) ─────
    "q226_template_strip_inc" -> ((s, d) => {
      val aug = concat(lit(TemplateFixture.pre), col("source"),
        lit(TemplateFixture.post + "\n\n"), col("text"),
        when(col("doc_id") % 3 =!= 0, lit("\n\n" + TemplateFixture.footer))
          .otherwise(lit("")))
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), aug.as("text"))
      val (hp, hs) = graft.dedup.Dedup.templateState(
        docs.where(col("doc_id") % 2 === 0), "text", "doc_id", "source")
      graft.dedup.Dedup.stripTemplatesIncremental(
          docs.where(col("doc_id") % 2 === 1), hp, hs,
          "text", "doc_id", "source",
          maxDocPerMille = 500, minDocs = 4L)
        .orderBy(col("doc_id"))
    })
    ,

    // ───── encoding-damage score (ftfy-lite): the two classic mojibake
    // signatures + replacement chars, rated per 10k chars in INTEGER
    // arithmetic; every-7th doc gets a corruption tail built from real
    // mis-decode byte math (é→Ã©, ï→Ã¯, ’→â€™, one U+FFFD) ─────
    "q223_mojibake" -> ((s, d) => {
      val t = concat(col("text"),
        when(col("doc_id") % 7 === 0, lit(mojibakeTail)).otherwise(lit("")))
      val sigs = TextOps.mojibakeSignals(col("__t"))
      Tables.documents(s, d)
        .select(col("doc_id"), t.as("__t"))
        .select(col("doc_id") +: col("__t").as("__t") +:
          sigs.map { case (n, c) => c.as(n) }: _*)
        .withColumn("per_10k", expr(
          "(n_latin1 + n_cp1252 + n_fffd) * 10000 div greatest(length(__t), 1)"))
        .withColumn("suspect", col("per_10k") >= 10)
        .select(col("doc_id"), col("n_latin1"), col("n_cp1252"),
          col("n_fffd"), col("per_10k"), col("suspect"))
        .orderBy(col("doc_id"))
    })
  )

  /** The q224 synthetic boilerplate — shared between the query and the
    * oracle so the augmented pages are byte-equal on both engines. */
  private object TemplateFixture {
    val pre = "Visit "
    val post = " homepage now"
    val footer = "Sponsored links click here"
  }

  /** The q223 corruption tail — REAL mis-decode arithmetic, written as
    * unicode escapes so both engines see identical code points: é (C3 A9)
    * read as Latin-1 is Ã©, ï (C3 AF) is Ã¯ (two latin1 hits), ’
    * (E2 80 99) read as cp1252 is â€™ (one cp1252 hit), plus one
    * replacement char. */
  private val mojibakeTail: String =
    " CafÃ© naÃ¯ve â€™s � end"

  /** The q222 synthetic page template — ONE definition feeds both the
    * Spark query and the oracle SQL, so the two sides build byte-equal
    * input. Chrome div: 3 anchors / 3 words (link gate drops). h1: 2
    * words (min-words drops). Link soup (doc_id%3==0): 3 anchors / 4
    * words (drops). Blockquote (doc_id%3==1): 7 words, no anchors
    * (kept). Footer: entity decode evidence (kept). */
  private object HtmlFixture {
    val head: String = "<html><head><title>T</title>" +
      "<style>p {color: red}</style>" +
      "<script type=\"text/javascript\">var x = 1 < 2;</script></head>" +
      "<body><div class=\"nav\"><a href=\"/\">Home</a> " +
      "<a href=\"/about\">About</a> <a href=\"/login\">Login</a></div><h1>"
    val mid: String = " DOC</h1><p>"
    val afterText: String = "</p>"
    val soup: String = "<div class=\"rel\">See: <a href=\"/a\">alpha</a> " +
      "<a href=\"/b\">beta</a> <a href=\"/c\">gamma</a></div>"
    val quote: String =
      "<blockquote>quoted wisdom from a long sentence here</blockquote>"
    val tail: String = "<footer>&copy; 2026 Example&#8217;s &amp; Sons " +
      "&#x2013; &lt;legal&gt; &#xD800;</footer></body></html>"
  }

  /** The q221 fixture blocklist: single words, 2- and 3-token phrases,
    * a punctuation-carrying entry (tokenizes to `slow fast`'s siblings),
    * and a never-matching probe — rates span 0 to most-of-corpus. */
  private val blocklistFixture: Seq[String] = Seq(
    "spark", "slow fast", "table value part", "batch, merge", "quuxzilch")

  /** VALUES rows for the q221 oracle: (phrase, boundary regex) derived
    * from [[blocklistFixture]] by the SAME tokenization the operator
    * applies, so the two sides can never drift. */
  private def blocklistValuesSql: String = blocklistFixture.map { p =>
    val toks = p.toLowerCase(java.util.Locale.ROOT)
      .split("[^a-z0-9_]+").filter(_.nonEmpty)
    val pat = "(^|[^a-z0-9_])" + toks.mkString("[^a-z0-9_]+") +
      "([^a-z0-9_]|$)"
    s"('${p.replace("'", "''")}', '${pat.replace("'", "''")}')"
  }.mkString(", ")

  private def sqlQuote(s: String): String = "'" + s.replace("'", "''") + "'"

  /** DuckDB replay of [[graft.text.HtmlOps]]'s numeric-reference
    * MARKING pass (page-level, from the SAME pattern constants):
    * marker-strip, then fence decimal and hex references. */
  private def htmlMarkSql(x: String): String = {
    val m1 = graft.text.HtmlOps.Mark1
    val m2 = graft.text.HtmlOps.Mark2
    s"""regexp_replace(regexp_replace(regexp_replace($x,
          '[$m1$m2]', '', 'g'),
          ${sqlQuote(graft.text.HtmlOps.DecRefPattern)}, '$m1\\1$m2', 'g'),
          ${sqlQuote(graft.text.HtmlOps.HexRefPattern)}, '$m1\\1$m2', 'g')"""
  }

  /** DuckDB replay of the operator's per-block entity-decode chain over
    * ALREADY-MARKED text: named replaces with `&amp;` LAST, then the
    * marked spans decode via `chr()` under the identical validity
    * window (1..0xFFFF minus surrogates; invalid references reconstruct
    * their original text). Hex digits fold to a value with a per-char
    * list_reduce — DuckDB has no conv(). */
  private def htmlDecodeSql(x: String): String = {
    val m1 = graft.text.HtmlOps.Mark1
    val m2 = graft.text.HtmlOps.Mark2
    val named =
      s"""replace(replace(replace(replace(replace(
            $x,
            '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
            '&nbsp;', ' '), '&amp;', '&')"""
    val num = s"split_part(pc, '$m2', 1)"
    val digs =
      s"""(CASE WHEN lower(substr($num, 1, 1)) = 'x'
            THEN list_reduce(list_transform(
                   string_split_regex(lower(substr($num, 2)), ''),
                   c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
                 (a, b) -> a * 16 + b)
            ELSE CAST($num AS BIGINT) END)"""
    val valid =
      s"($digs BETWEEN 1 AND 65535 AND NOT $digs BETWEEN 55296 AND 57343)"
    s"""array_to_string(list_transform(string_split($named, '$m1'),
          pc -> CASE WHEN strpos(pc, '$m2') = 0 THEN pc
                ELSE (CASE WHEN $valid THEN chr(CAST($digs AS INTEGER))
                      ELSE '&#' || $num || ';' END)
                     || substr(pc, strpos(pc, '$m2') + 1) END), '')"""
  }

  /** The q222 per-block visible-word list in SQL: inline-tag strip, the
    * operator's full entity-decode chain ([[htmlDecodeSql]]),
    * whitespace-run split, empties dropped. */
  private def htmlWordsSql(b: String): String =
    s"""list_filter(regexp_split_to_array(
          ${htmlDecodeSql(s"regexp_replace($b, '<[^>]*>', ' ', 'g')")},
        ${sqlQuote(graft.text.HtmlOps.WsRun)}), w -> w <> '')"""

  /** Query suite for q136/q137 — docs ≡ 1 (mod 10): first-5-token
    * prefixes, replayed as `tk[1:5]` in the oracle. A tenth of the
    * docs (disjoint from the even-id corpus) keeps the gate substantial
    * while bounding the benchmark's candidate volume — exact BM25 pays
    * Σ_t df(t) PER QUERY TERM, and the Zipf head (stopword terms in
    * half the queries × df ≈ N postings) made a full odd-id suite the
    * most expensive query in the suite (~20 s at sf0.1). */
  private def bm25Queries(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.where(col("doc_id") % 10 === 1)
      .select(col("doc_id"), concat_ws(" ",
        slice(graft.text.TextOps.tokens(col("text")), 1, 5)).as("text"))

  /** Text with NULL / empty / whitespace-only rows injected (%13 of
    * ids) — the adversarial fixture for the fingerprint null contract
    * (q24/q25); replayed verbatim in the oracle SQL. */
  private def advNullText: org.apache.spark.sql.Column =
    when(col("doc_id") % 13 === 0, lit(null).cast("string"))
      .when(col("doc_id") % 13 === 1, lit(""))
      .when(col("doc_id") % 13 === 2, lit("   "))
      .otherwise(col("text"))

  /** Deterministic messy URL for q124/q125 — replayed verbatim in the
    * oracle SQL. Mixed case, www, default and non-default ports,
    * tracking params, unsorted params, fragments. */
  private def messyUrl: org.apache.spark.sql.Column =
    concat(
      when(col("doc_id") % 3 === 0, "HTTP://WWW.")
        .when(col("doc_id") % 3 === 1, "https://www.")
        .otherwise("http://"),
      upper(col("source")), lit(".example.com"),
      when(col("doc_id") % 4 === 0, ":80")
        .when(col("doc_id") % 4 === 1, ":443").otherwise(""),
      lit("/Articles/"), (col("doc_id") % 50).cast("string"),
      when(col("doc_id") % 2 === 0, "/?utm_source=feed&b=2&a=1&gclid=XYZ")
        .otherwise("?a=1&b=2"),
      when(col("doc_id") % 5 === 0, "#section-2").otherwise(""))

  /** Text + deterministic multi-script suffix for q126 — replayed
    * verbatim in the oracle SQL. */
  private def multiScriptText: org.apache.spark.sql.Column =
    concat(col("text"),
      when(col("lang") === "zh", " 中文测试")
        .when(col("doc_id") % 7 === 0, " привет мир")
        .when(col("doc_id") % 7 === 1, " مرحبا")
        .otherwise(""))

  // DuckDB fragments shared by oracle SQL below.

  /** Jaccard similarity of the shingle sets `a.s` and `b.s`. */
  private val jaccardSql =
    """CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))"""

  /** TextOps' quality keep rule over token array `tk` (q22's `keep`). */
  private def qualityKeep(tk: String): String =
    s"""len($tk) >= 10
          AND CAST(len(list_filter($tk, w -> w IN ('the','a','of','and','to'))) AS DOUBLE) / len($tk) <= 0.5
          AND CAST(len(list_distinct($tk)) AS DOUBLE) / len($tk) >= 0.3"""

  /** Corpus.clean's stages after the quality verdict, over CTE
    * `q(doc_id, lang, tk, kq)`: exact-dedup verdict `e.ke`, shingle sets
    * `sh` of the exact survivors, same-lang Jaccard >= 0.5 `pairs`, and
    * their components `comp` (needs `WITH RECURSIVE`). */
  private val dedupChainCtes =
    s"""e AS (
          SELECT doc_id, lang, tk,
            doc_id = MIN(doc_id) OVER (PARTITION BY md5(lower(array_to_string(tk, ' ')))) AS ke
          FROM q WHERE kq),
        sh AS (
          SELECT doc_id, lang, ${shingleSet("tk")} AS s
          FROM e WHERE ke),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
          WHERE $jaccardSql >= 0.5),
        $componentCtes"""

  /** Corpus.clean's stages over token CTE `t(doc_id, lang, tk)`: the
    * keep rule as `q.kq`, then [[dedupChainCtes]]. */
  private val cleanChainCtes =
    s"""q AS (
          SELECT doc_id, lang, tk, (${qualityKeep("tk")}) AS kq
          FROM t),
        $dedupChainCtes"""

  /** One row per (label, 0-based pos, element value) of every non-null
    * embedding: CTE `ex`. */
  private val embedPosCte =
    """ex AS (
          SELECT label, p['pos'] AS pos, p['v'] AS v FROM (
            SELECT label, unnest(list_transform(range(1, len(embedding) + 1),
              i -> {'pos': i - 1, 'v': embedding[i]})) AS p
            FROM embeddings WHERE embedding IS NOT NULL))"""

  /** q91's exact-centroid IVF assignment replayed: per-label mean
    * centroids from micro-unit sums, coefficients float-rounded (CAST
    * REAL), half-norms over raw doubles, score = dot − |c|²/2, ties to the
    * lowest cell: `cellmap(label, cf, hn, cell)` and
    * `assigned(vec_id, cell)`. */
  private val ivfAssignCtes =
    s"""$embedPosCte,
        sums AS (
          SELECT label, pos,
            CAST(sum(CAST(round(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT))
              AS BIGINT) AS mic
          FROM ex GROUP BY label, pos),
        cnt AS (
          SELECT label, CAST(count(*) AS BIGINT) AS n
          FROM embeddings WHERE embedding IS NOT NULL GROUP BY label),
        mm AS (
          SELECT s.label, s.pos,
            CAST(s.mic AS DOUBLE) / 1000000 / CAST(c.n AS DOUBLE) AS m
          FROM sums s JOIN cnt c USING (label)),
        cent AS (
          SELECT label,
            list(CAST(CAST(m AS REAL) AS DOUBLE) ORDER BY pos) AS cf,
            list_sum(list_transform(list(m ORDER BY pos), x -> x * x)) / 2 AS hn
          FROM mm GROUP BY label),
        cellmap AS (
          SELECT label, cf, hn,
            CAST(ROW_NUMBER() OVER (ORDER BY label) - 1 AS INT) AS cell
          FROM cent),
        scored AS (
          SELECT e.vec_id, c.cell,
            list_sum(list_transform(list_zip(c.cf, e.embedding),
              x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) - c.hn AS score
          FROM embeddings e CROSS JOIN cellmap c
          WHERE e.embedding IS NOT NULL),
        assigned AS (
          SELECT vec_id, cell FROM (
            SELECT vec_id, cell, ROW_NUMBER() OVER (
              PARTITION BY vec_id ORDER BY score DESC, cell ASC) AS rn
            FROM scored) WHERE rn = 1)"""

  /** The keep-and-reassemble tail shared by the line/paragraph filters:
    * from CTE `flagged(doc_id, pos, <unit>, keep)`, kept/dropped counts
    * and the kept units joined by `sep` in pos order, one row per doc of
    * `docs` (aliased `d`; docs with no unit get '' and 0s). */
  private def reassembledSql(unit: String, sep: String, docs: String): String =
    s"""agged AS (
          SELECT doc_id,
            CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
            CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
            string_agg(CASE WHEN keep THEN $unit END, $sep ORDER BY pos) AS clean_text
          FROM flagged GROUP BY doc_id)
        SELECT d.doc_id, COALESCE(a.clean_text, '') AS clean_text,
          COALESCE(a.n_kept, 0) AS n_kept,
          COALESCE(a.n_dropped, 0) AS n_dropped
        FROM $docs LEFT JOIN agged a USING (doc_id)"""

  /** Per-doc verdicts of [[cleanChainCtes]] over every document (q49). */
  private val cleanVerdictSql =
    """SELECT d.doc_id, q.kq AS keep_quality,
          COALESCE(e.ke, false) AS keep_exact,
          COALESCE(e.ke AND COALESCE(c.component, d.doc_id) = d.doc_id, false) AS keep
        FROM documents d
        LEFT JOIN q ON d.doc_id = q.doc_id
        LEFT JOIN e ON d.doc_id = e.doc_id
        LEFT JOIN comp c ON d.doc_id = c.id
        ORDER BY d.doc_id"""

  /** q73's assembly mirror: mixture filter → the clean chain → survivors
    * `kept` → `stages` (more CTEs, each followed by a comma) → cumulative
    * token budget over CTE `budgetFrom` → 32-token chunks every 24. */
  private def assembleSql(stages: String, budgetFrom: String): String =
    s"""WITH RECURSIVE t AS (
          SELECT doc_id, lang, $toks AS tk FROM documents
          WHERE lang <> 'en'
             OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '80000000'),
        $cleanChainCtes,
        kept AS (
          SELECT e.doc_id, e.tk FROM e LEFT JOIN comp c ON e.doc_id = c.id
          WHERE e.ke AND COALESCE(c.component, e.doc_id) = e.doc_id),
        $stages
        bud AS (
          SELECT doc_id, tk FROM (
            SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n,
              SUM(CAST(len(tk) AS BIGINT)) OVER (
                ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id
                ROWS UNBOUNDED PRECEDING) AS cum
            FROM $budgetFrom)
          WHERE cum - n < 5000)
        SELECT doc_id, CAST(s // 24 AS INT) AS chunk_id,
          array_to_string(tk[s + 1 : s + 32], ' ') AS chunk_text,
          CAST(len(tk[s + 1 : s + 32]) AS INT) AS n_chunk_tokens
        FROM bud, UNNEST(range(0, greatest(len(tk) - 8, 1), 24)) AS u(s)
        ORDER BY doc_id, chunk_id"""

  /** SubstringDedup's removal marks over token CTE `src(doc_id, tk)`:
    * every repeat (not the first, by (doc_id, pos)) of an 8-token gram is
    * removable, and `fl.rem` flags each token (`fl.s` = 0) any removable
    * gram covers via the same 7-position RANGE lookback. */
  private def substringMarkCtes(src: String): String =
    s"""occ AS (
          SELECT doc_id, s AS pos, array_to_string(tk[s + 1 : s + 8], ' ') AS gram
          FROM $src, UNNEST(range(greatest(len(tk) - 7, 0))) AS u(s)),
        marked AS (
          SELECT doc_id, pos,
            count(*) OVER (PARTITION BY gram) AS cnt,
            row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
          FROM occ),
        removable AS (SELECT doc_id, pos FROM marked WHERE cnt >= 2 AND rn > 1),
        tok AS (SELECT doc_id, s AS pos, tk[s + 1] AS w
                FROM $src, UNNEST(range(len(tk))) AS u(s)),
        ev AS (
          SELECT doc_id, pos, w, 0 AS s FROM tok
          UNION ALL SELECT doc_id, pos, NULL, 1 FROM removable),
        fl AS (
          SELECT doc_id, pos, w, s,
            max(s) OVER (PARTITION BY doc_id ORDER BY pos
                         RANGE BETWEEN 7 PRECEDING AND CURRENT ROW) AS rem
          FROM ev)"""

  /** Packing's doc-order offsets: per non-empty doc its token count `n`
    * and the exclusive prefix sum `cum0` (CTE `c`). */
  private val packOffsetsCte =
    s"""c AS (
          SELECT doc_id, n,
            CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum0
          FROM (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n
                FROM documents WHERE text IS NOT NULL)
          WHERE n > 0)"""

  /** The template-strip fixture and thresholds (q224/q226): each doc
    * wrapped in its source's header paragraph, the footer appended where
    * `footerWhen` holds, blank-line paragraphs `paras`, and `tpl` the
    * (source, paragraph) pairs in more than half of a source's docs
    * (sources of 4+ docs only). */
  private def templateCtes(footerWhen: String): String =
    s"""aug AS (
          SELECT doc_id, source,
            '${TemplateFixture.pre}' || source ||
            '${TemplateFixture.post}' || chr(10) || chr(10) || text ||
            CASE WHEN $footerWhen
                 THEN chr(10) || chr(10) || '${TemplateFixture.footer}'
                 ELSE '' END AS t
          FROM documents),
        paras AS (
          SELECT doc_id, source, p['pos'] AS pos, p['par'] AS par FROM (
            SELECT doc_id, source, unnest(list_transform(
              range(1, len(ps) + 1), i -> {'pos': i, 'par': trim(ps[i])}))
              AS p
            FROM (SELECT doc_id, source,
                    string_split_regex(t, '\\n{2,}') AS ps
                  FROM aug))
          WHERE len(p['par']) > 0),
        present AS (SELECT DISTINCT source, par, doc_id FROM paras),
        wc AS (SELECT source, par, CAST(count(*) AS BIGINT) AS n_with
               FROM present GROUP BY source, par),
        sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
                  FROM documents GROUP BY source),
        tpl AS (SELECT w.source, w.par
                FROM wc w JOIN sizes s USING (source)
                WHERE s.n_docs >= 4 AND w.n_with * 1000 > 500 * s.n_docs)"""

  /** The Gopher quality metrics over CTE columns `text`, token array `tk`
    * and non-blank `lines` (q127's rule inputs), as a SELECT column
    * list. */
  private val gopherMetricsSql =
    s"""len(tk) AS n_words,
        CAST(list_sum(list_transform(tk, w -> length(w))) AS DOUBLE)
          / len(tk) AS mean_len,
        CAST(len(regexp_extract_all(text, '#'))
          + len(regexp_extract_all(text, '\\.\\.\\.|…')) AS DOUBLE)
          / len(tk) AS symbol_ratio,
        CAST(len(list_filter(lines, l -> regexp_matches(trim(l),
            '^([-*•‣▪]|\\d+[.)])\\s'))) AS DOUBLE)
          / greatest(len(lines), 1) AS bullet_frac,
        CAST(len(list_filter(lines, l -> regexp_matches(trim(l),
            '(\\.\\.\\.|…)$$'))) AS DOUBLE)
          / greatest(len(lines), 1) AS ellipsis_frac,
        CAST(len(list_filter(tk, w -> regexp_matches(w, '\\p{L}')))
          AS DOUBLE) / greatest(len(tk), 1) AS alpha_frac,
        len(list_filter(tk,
          w -> w IN ('the','a','of','and','to'))) AS stop_hits"""

  /** Tokens per 50-doc bucket (`pb`) and the sliding 4-bucket window
    * ends `wins(wend)`, clamped at the newest bucket (q166/q205). */
  private val tokenWindowCtes =
    s"""dk AS (
          SELECT doc_id // 50 AS bucket, unnest($toks) AS token
          FROM documents),
        pb AS (SELECT bucket, token, CAST(count(*) AS BIGINT) AS n
               FROM dk GROUP BY 1, 2),
        mb AS (SELECT max(bucket) AS m FROM dk),
        wins AS (
          SELECT DISTINCT w AS wend FROM (
            SELECT unnest(generate_series(bucket,
              least(bucket + 3, (SELECT m FROM mb)))) AS w
            FROM (SELECT DISTINCT bucket FROM dk)))"""

  /** Winnowing selection (q237/q239): md5 of every 4-token gram, then per
    * 5-gram window the minimum `sel` = hash || zero-padded reverse
    * position, so ties pick the rightmost gram. */
  private val winnowCtes =
    s"""tt AS (SELECT doc_id, $toks AS tk
             FROM documents),
        g AS (SELECT doc_id, i AS pos,
                md5(array_to_string(tk[i+1:i+4], ' ')) AS h
              FROM tt, unnest(range(greatest(len(tk) - 3, 0))) AS u(i)),
        s AS (SELECT doc_id,
                min(concat(h, lpad(CAST(999999999 - pos AS VARCHAR), 9, '0')))
                  OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS sel
              FROM g)"""

  /** Dedup.paragraphDedupe's split: trimmed non-empty blank-line
    * paragraphs `paras(doc_id, pos, par)`, pos 1-based. */
  private val parasCte =
    s"""paras AS (
          SELECT doc_id, p['pos'] AS pos, p['par'] AS par FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(ps) + 1),
              i -> {'pos': i, 'par': trim(ps[i])})) AS p
            FROM (SELECT doc_id,
                    string_split_regex(text, '\\n{2,}') AS ps
                  FROM documents))
          WHERE len(p['par']) > 0)"""

  /** URL parts of the fragment-stripped column `nf` (q124's split):
    * `scheme` and `hostport` lowercased, raw `path0` and `query0`. */
  private val urlPartsSql =
    s"""lower(regexp_extract(nf, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))
          AS scheme,
        lower(regexp_extract(nf,
          '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
        regexp_extract(nf,
          '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
        regexp_extract(nf, '\\?([^#]*)', 1) AS query0"""

  /** Canonical host from `scheme`/`hostport`: default port and `www.`
    * stripped. */
  private val canonHostSql =
    s"""regexp_replace(
          CASE WHEN (scheme = 'http' AND hostport LIKE '%:80')
                 OR (scheme = 'https' AND hostport LIKE '%:443')
            THEN regexp_replace(hostport, ':(80|443)$$', '')
            ELSE hostport END,
          '^www\\.', '')"""

  /** Canonical path: one trailing slash trimmed, a lone "/" kept. */
  private val canonPathSql =
    s"""CASE WHEN length(path0) > 1
          THEN regexp_replace(path0, '/$$', '') ELSE path0 END"""

  /** Canonical query: tracking params dropped, the rest sorted bytewise
    * and re-joined ('' when none is left). */
  private val canonQuerySql =
    """array_to_string(list_sort(list_filter(string_split(query0, '&'),
          q -> NOT (starts_with(q, 'utm_') OR q = ''
            OR q = 'gclid' OR starts_with(q, 'gclid=')
            OR q = 'fbclid' OR starts_with(q, 'fbclid=')
            OR q = 'msclkid' OR starts_with(q, 'msclkid=')
            OR q = 'ref' OR starts_with(q, 'ref=')
            OR q = 'igshid' OR starts_with(q, 'igshid=')))), '&')"""

  /** Shingle/pair/verdict CTE chain shared by every decontamination-audit
    * oracle (q114/q115/q120/q121): per-probe contaminating count + worst
    * containment over the odd-vs-even split. */
  private lazy val contaminationCtes =
    s"""sh AS (
          SELECT doc_id, ${shingleSet(toks)} AS s
          FROM documents),
        pairs AS (
          SELECT a.doc_id AS id_l,
            CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) AS containment
          FROM sh a JOIN sh b ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
          WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) >= 0.7),
        agg AS (
          SELECT id_l, CAST(count(*) AS BIGINT) AS n_contaminating,
            max(containment) AS max_containment
          FROM pairs GROUP BY id_l)"""

  /** q72's odd-vs-even containment pairs; the prebuilt path (q75) must
    * emit the exact same pairs. */
  private lazy val containmentPairsSql =
    s"""WITH sh AS (SELECT doc_id, ${shingleSet(toks)} AS s FROM documents)
        SELECT a.doc_id AS id_l, b.doc_id AS id_r,
          CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) AS containment
        FROM sh a JOIN sh b ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) >= 0.7
        ORDER BY id_l, id_r"""

  /** q67's odd-vs-even Jaccard >= 0.8 pairs; the prebuilt path (q74)
    * must emit the exact same pairs. */
  private lazy val neardupPairsSql =
    s"""WITH sh AS (SELECT doc_id, ${shingleSet(toks)} AS s FROM documents)
        SELECT a.doc_id AS id_l, b.doc_id AS id_r, $jaccardSql AS jaccard
        FROM sh a JOIN sh b ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
        WHERE $jaccardSql >= 0.8
        ORDER BY id_l, id_r"""

  /** Shared by q114 (union-df audit) and q115 (prebuilt audit): the two
    * paths must produce the identical report. */
  private lazy val contaminationReportSql =
    s"""WITH $contaminationCtes
        SELECT d.doc_id,
          COALESCE(g.n_contaminating, 0) AS n_contaminating,
          g.max_containment,
          g.n_contaminating IS NOT NULL AS contaminated
        FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
        LEFT JOIN agg g ON d.doc_id = g.id_l
        ORDER BY d.doc_id"""

  /** q120: the same per-doc verdicts fanned back to every
    * (benchmark, doc) membership row — one corpus pass for K suites. */
  private lazy val contaminationMultiSql =
    s"""WITH $contaminationCtes
        SELECT d.source AS benchmark, d.doc_id,
          COALESCE(g.n_contaminating, 0) AS n_contaminating,
          g.max_containment,
          g.n_contaminating IS NOT NULL AS contaminated
        FROM (SELECT DISTINCT source, doc_id FROM documents
              WHERE doc_id % 2 = 1) d
        LEFT JOIN agg g ON d.doc_id = g.id_l
        ORDER BY benchmark, d.doc_id"""

  /** Generated CTE chain replaying [[graft.text.BpeVocab.train]] stage by
    * stage: w0 = the word table with codepoint symbols; per merge i,
    * `p_i` the weighted adjacent-pair counts, `b_i` the best pair
    * (count desc, then binary string order), `w_i` the merge applied via
    * non-regex `replace` over a U+001F-delimited rendering — every symbol
    * is flanked by a DOUBLE separator and the pattern consumes the inner
    * one on each side, so adjacent matches never contend for a shared
    * boundary and `replace`'s left-to-right non-overlapping semantics
    * equal the trainer's greedy pass exactly. */
  private def bpeCtes(k: Int): String = {
    val S = 31.toChar.toString
    val b = new StringBuilder
    b.append(s"""w0 AS MATERIALIZED (
            SELECT word, CAST(count(*) AS BIGINT) AS cnt,
              regexp_split_to_array(word, '') AS ss
            FROM (SELECT unnest($toks) AS word
                  FROM documents WHERE text IS NOT NULL)
            WHERE length(word) > 0 GROUP BY word)""")
    for (i <- 1 to k) {
      val p = i - 1
      b.append(s""",
          p$i AS MATERIALIZED (
            SELECT pr[1] AS a, pr[2] AS b, CAST(sum(cnt) AS BIGINT) AS c
            FROM (SELECT cnt, unnest(list_zip(ss, ss[2:])) AS pr
                  FROM w$p WHERE len(ss) >= 2)
            WHERE pr[2] IS NOT NULL GROUP BY pr[1], pr[2]),
          b$i AS MATERIALIZED (SELECT a, b, c FROM p$i WHERE c >= 2
                  ORDER BY c DESC, a ASC, b ASC LIMIT 1),
          w$i AS MATERIALIZED (
            SELECT word, cnt,
              list_filter(string_split(
                replace('$S$S' || array_to_string(ss, '$S$S') || '$S$S',
                  '$S' || (SELECT a FROM b$i) || '$S$S' || (SELECT b FROM b$i) || '$S',
                  '$S' || (SELECT a FROM b$i) || (SELECT b FROM b$i) || '$S'),
                '$S$S'), x -> x <> '') AS ss
            FROM w$p)""")
    }
    b.toString
  }
  /** q111's merge table: the trainer's 8 best pairs by rank; the
    * driver-local trainer (q116) must replay the same chain. */
  private lazy val bpeMergesSql =
    s"""WITH ${bpeCtes(8)}
        SELECT CAST(rank AS INT) AS rank, l, r, pair_count FROM (
          ${(1 to 8).map(i =>
            s"SELECT $i AS rank, a AS l, b AS r, c AS pair_count FROM b$i")
            .mkString("\n            UNION ALL ")})
        ORDER BY rank"""

  /** Exact cosine top-10 neighbours of vec_id 0 (q30); the exhaustive
    * ANN configurations (q60/q65/q77) must return exactly these. */
  private lazy val exactTopkSql =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        SELECT vec_id, ${cosSql("embedding", "qe")} AS cos
        FROM embeddings, q WHERE vec_id != 0
        ORDER BY cos DESC, vec_id LIMIT 10"""

  /** Stupid Backoff (α = 0.4) replayed over the whitespace tokens: n-gram
    * counts from the en slice, then per token position the unigram,
    * bigram and trigram scores `s1`..`s3` in CTE `s3c`, keyed by `keys`
    * (columns of the position CTE `p`). Every score is a single division
    * or an α-product of one, so the doubles match the operator exactly. */
  private def backoffCtes(keys: String): String =
    s"""d AS (
          SELECT doc_id, lang, $toks AS tk
          FROM documents WHERE text IS NOT NULL),
        p AS (
          SELECT doc_id, lang, CAST(u.i AS INT) AS pos,
            tk[u.i + 1] AS w,
            CASE WHEN u.i >= 1 THEN tk[u.i] END AS prev,
            CASE WHEN u.i >= 2 THEN tk[u.i - 1] END AS prev2
          FROM d, UNNEST(range(len(tk))) AS u(i)),
        tp AS (SELECT * FROM p WHERE lang = 'en'),
        uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM tp GROUP BY w),
        bi AS (SELECT prev, w, CAST(count(*) AS BIGINT) AS c
               FROM tp WHERE pos >= 1 GROUP BY prev, w),
        tri AS (SELECT prev2, prev, w, CAST(count(*) AS BIGINT) AS c
                FROM tp WHERE pos >= 2 GROUP BY prev2, prev, w),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens,
                  CAST(count(DISTINCT w) AS BIGINT) AS vocab FROM tp),
        j AS (
          SELECT $keys, u1.c AS c1w, u2.c AS c1prev,
            b1.c AS c2, b2.c AS c2ctx, t3.c AS c3, tot.n_tokens, tot.vocab
          FROM p
          LEFT JOIN uni u1 ON p.w = u1.w
          LEFT JOIN uni u2 ON p.prev = u2.w
          LEFT JOIN bi b1 ON p.prev = b1.prev AND p.w = b1.w
          LEFT JOIN bi b2 ON p.prev2 = b2.prev AND p.prev = b2.w
          LEFT JOIN tri t3 ON p.prev2 = t3.prev2 AND p.prev = t3.prev
            AND p.w = t3.w
          CROSS JOIN tot),
        s1c AS (
          SELECT *, CAST(COALESCE(c1w, 0) + 1 AS DOUBLE)
            / CAST(n_tokens + vocab AS DOUBLE) AS s1 FROM j),
        s2c AS (
          SELECT *, CASE WHEN c2 IS NOT NULL AND c1prev IS NOT NULL
            THEN CAST(c2 AS DOUBLE) / CAST(c1prev AS DOUBLE)
            ELSE 0.4 * s1 END AS s2 FROM s1c),
        s3c AS (
          SELECT *, CASE WHEN c3 IS NOT NULL AND c2ctx IS NOT NULL
            THEN CAST(c3 AS DOUBLE) / CAST(c2ctx AS DOUBLE)
            ELSE 0.4 * s2 END AS s3 FROM s2c)"""

  private def cosSql(a: String, b: String) =
    s"""(list_sum(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)))
        / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
         * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))))"""

  private def langScore(words: Seq[String]) = {
    val set = words.map(w => s"'$w'").mkString(",")
    s"len(list_filter($toks, w -> w IN ($set)))"
  }

  val oracles: Map[String, String] = Map(
    "q21_token_stats" ->
      s"""SELECT doc_id, CAST(len($toks) AS INT) AS n_tokens,
          CAST(length(text) AS INT) AS n_chars_calc,
          CAST(list_sum(list_transform($toks, w -> length(w))) AS DOUBLE) / len($toks) AS mean_token_len
          FROM documents ORDER BY doc_id""",
    "q22_quality" ->
      s"""SELECT doc_id, CAST(len($toks) AS INT) AS n_tokens,
          CAST(list_sum(list_transform($toks, w -> length(w))) AS DOUBLE) / len($toks) AS mean_token_len,
          CAST(len(list_filter($toks, w -> w IN ('the','a','of','and','to'))) AS DOUBLE) / len($toks) AS stopword_ratio,
          CAST(len(list_distinct($toks)) AS DOUBLE) / len($toks) AS distinct_token_ratio,
          (${qualityKeep(toks)}) AS keep
          FROM documents ORDER BY doc_id""",
    "q23_langid" ->
      s"""SELECT doc_id, lang,
          CASE
            WHEN ${langScore(langMarkers("de"))} >= greatest(${langScore(langMarkers("en"))}, ${langScore(langMarkers("es"))}, ${langScore(langMarkers("fr"))}, ${langScore(langMarkers("zh"))}) THEN 'de'
            WHEN ${langScore(langMarkers("en"))} >= greatest(${langScore(langMarkers("es"))}, ${langScore(langMarkers("fr"))}, ${langScore(langMarkers("zh"))}) THEN 'en'
            WHEN ${langScore(langMarkers("es"))} >= greatest(${langScore(langMarkers("fr"))}, ${langScore(langMarkers("zh"))}) THEN 'es'
            WHEN ${langScore(langMarkers("fr"))} >= ${langScore(langMarkers("zh"))} THEN 'fr'
            ELSE 'zh' END AS lang_pred
          FROM documents ORDER BY doc_id""",
    // coalesce(text, '') replays the documented null contract: NULL,
    // '', and whitespace-only all fingerprint to md5('') — the %13
    // injected rows exercise exactly that
    "q24_fingerprint" ->
      s"""WITH t AS (SELECT doc_id, ${nullInjected("")} AS text FROM documents)
          SELECT doc_id, md5(lower(array_to_string(
            regexp_split_to_array(trim(coalesce(text, '')), '\\s+'), ' ')))
            AS fp
          FROM t ORDER BY doc_id""",
    "q25_dedup_exact" ->
      s"""WITH t AS (SELECT doc_id, ${nullInjected("")} AS text FROM documents)
          SELECT md5(lower(array_to_string(
            regexp_split_to_array(trim(coalesce(text, '')), '\\s+'), ' ')))
            AS fp,
          MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
          FROM t GROUP BY 1 ORDER BY doc_id""",
    "q26_ngram_jaccard" ->
      s"""WITH sh AS (
            SELECT doc_id, lang, source, ${shingleSet(toks)} AS s
            FROM documents)
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, $jaccardSql AS jaccard
          FROM sh a JOIN sh b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
          WHERE $jaccardSql >= 0.8
          ORDER BY id_a, id_b""",
    "q29_embed_neardup" ->
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
            ${cosSql("a.embedding", "b.embedding")} AS cos
          FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
          WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.35
          ORDER BY id_a, id_b""",
    "q30_ann_topk" ->
      exactTopkSql,
    // full-probe LSH is exhaustive by construction → the oracle is the
    // exact top-k itself
    "q60_ann_lsh_fullprobe" ->
      exactTopkSql,
    // corpus-covering shortlist + exact rerank is exhaustive by
    // construction → the oracle is the exact top-k itself
    "q77_ann_pq_rerank" ->
      exactTopkSql,
    // n_exact_pairs: honest cross-check (both engines count the same
    // all-pairs exact-cosine set). recall_ok: bounded check — the oracle
    // pins the EXPECTED verdict; Spark computes the actual recall of the
    // LSH pair set against that exact count and must land ≥ 0.8.
    "q61_embed_lsh_verify" ->
      s"""SELECT count(*) AS n_exact_pairs, true AS recall_ok
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.35""",
    // same bounded-check shape for MinHash: n_exact_pairs is the honest
    // blockless exact-Jaccard pair count; recall_ok pins the expected
    // verdict for the confirmed-MinHash subset
    "q62_minhash_verify" ->
      s"""WITH sh AS (SELECT doc_id, ${shingleSet(toks)} AS s FROM documents)
          SELECT count(*) AS n_exact_pairs, true AS recall_ok
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE $jaccardSql >= 0.8""",
    // full-probe IVF is exhaustive → oracle = the exact top-k
    "q65_ann_ivf_fullprobe" ->
      exactTopkSql,
    // all columns pinned: DuckDB cannot reproduce the custom simhash
    // signatures; the oracle records the expected self-consistency verdict
    // (banding == all-pairs hamming sweep, zero missed / zero extra)
    "q66_simhash_verify" ->
      """SELECT true AS bands_equal_bruteforce,
         CAST(0 AS BIGINT) AS n_missed, CAST(0 AS BIGINT) AS n_extra""",
    // exact quantiles honest (q47's arithmetic); sketch_ok pins the
    // expected verdict for the percentile_approx accuracy bound
    "q64_sketch_quantile_verify" ->
      s"""SELECT lang,
            quantile_cont(CAST(len($toks) AS DOUBLE), 0.25) AS p25,
            quantile_cont(CAST(len($toks) AS DOUBLE), 0.5)  AS p50,
            quantile_cont(CAST(len($toks) AS DOUBLE), 0.9)  AS p90,
            true AS sketch_ok
          FROM documents GROUP BY lang ORDER BY lang""",
    // components via transitive closure (recursive CTE): component =
    // min reachable id — the same fixpoint large-star/small-star reaches
    "q44_dedup_clusters" ->
      s"""WITH RECURSIVE pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.35),
          $componentCtes
          SELECT e.vec_id, COALESCE(c.component, e.vec_id) AS component,
                 COALESCE(c.component, e.vec_id) = e.vec_id AS keep
          FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.id
          ORDER BY e.vec_id""",
    // q44's recursive-CTE components, then the two-level size rollup
    "q101_cluster_sizes" ->
      s"""WITH RECURSIVE pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.35),
          $componentCtes,
          assigned AS (
            SELECT e.vec_id, COALESCE(c.component, e.vec_id) AS component
            FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.id),
          sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS sz
                    FROM assigned GROUP BY component)
          SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
          FROM sizes GROUP BY sz ORDER BY cluster_size""",
    // the operator's compiled O(tokens) pass, replayed as the O(dim·n)
    // HOF form: bucket = first 8 md5 hex digits as unsigned int mod dim
    "q103_hashing_vectors" ->
      s"""SELECT doc_id, CAST(i AS INT) AS bucket,
            CAST(len(list_filter($toks, w ->
              CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % 16 = i)) AS BIGINT) AS n
          FROM documents, UNNEST(range(16)) AS u(i)
          ORDER BY doc_id, bucket""",

    // q22's keep rule inlined; everything integer-exact
    "q102_corpus_report" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(len($toks)) AS BIGINT) AS n_tokens,
            CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
            CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
            CAST(sum(CASE WHEN ${qualityKeep(toks)}
              THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_pass,
            CAST(count(DISTINCT md5(lower(array_to_string($toks, ' ')))) AS BIGINT) AS n_unique_docs
          FROM documents""",
    "q47_quality_quantiles" ->
      s"""SELECT lang,
            quantile_cont(CAST(len($toks) AS DOUBLE), 0.25) AS p25,
            quantile_cont(CAST(len($toks) AS DOUBLE), 0.5)  AS p50,
            quantile_cont(CAST(len($toks) AS DOUBLE), 0.9)  AS p90
          FROM documents GROUP BY lang ORDER BY lang""",
    "q48_vocab_topk" ->
      s"""SELECT token, COUNT(*) AS n
          FROM (SELECT unnest($toks) AS token FROM documents)
          GROUP BY token ORDER BY n DESC, token LIMIT 100""",
    "q59_heavy_hitters" ->
      s"""SELECT token, COUNT(*) AS n
          FROM (SELECT unnest($toks) AS token FROM documents)
          GROUP BY token ORDER BY n DESC, token""",
    "q58_keywords" ->
      s"""WITH toks AS (SELECT doc_id, unnest($toks) AS token FROM documents),
          tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
          dfreq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
          n AS (SELECT COUNT(*) AS n FROM documents),
          s AS (SELECT tf.doc_id, tf.token,
                  CAST(tf.tf * n.n AS DOUBLE) / dfreq.df AS score
                FROM tf JOIN dfreq USING (token) CROSS JOIN n),
          r AS (SELECT *, row_number() OVER (
                  PARTITION BY doc_id ORDER BY score DESC, token) AS rk FROM s)
          SELECT doc_id, token, score FROM r WHERE rk <= 3
          ORDER BY doc_id, token""",
    "q70_chunks" ->
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents)
          SELECT doc_id, CAST(s // 24 AS INT) AS chunk_id,
            array_to_string(tk[s + 1 : s + 32], ' ') AS chunk_text,
            CAST(len(tk[s + 1 : s + 32]) AS INT) AS n_chunk_tokens
          FROM t, UNNEST(range(0, greatest(len(tk) - 8, 1), 24)) AS u(s)
          ORDER BY doc_id, chunk_id""",
    "q71_redacted" ->
      s"""WITH raw AS (
            SELECT doc_id, text || CASE WHEN doc_id % 7 = 0
              THEN ' contact bob.smith+spam@example-mail.com or https://ex.com/a?b=c#d'
              ELSE '' END AS raw
            FROM documents)
          SELECT doc_id,
            regexp_replace(regexp_replace(raw, 'https?://[^\\s]+', '<URL>', 'g'),
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS clean,
            CAST(length(raw) - length(regexp_replace(raw, 'https?://[^\\s]+', '', 'g')) AS INT) AS n_url_chars
          FROM raw ORDER BY doc_id""",
    "q72_containment_join" ->
      containmentPairsSql,
    // q72's pairs rolled up per probe doc; clean docs kept via the left
    // join with a 0 default
    "q114_contamination_report" -> contaminationReportSql,
    // the prebuilt audit must emit the exact same report as q114
    "q115_contamination_report_prebuilt" -> contaminationReportSql,
    // the prebuilt path must emit the exact same containment pairs as q72
    "q75_containment_prebuilt" ->
      containmentPairsSql,
    "q69_embed_join" ->
      s"""SELECT a.vec_id AS id_l, b.vec_id AS id_r,
            ${cosSql("a.embedding", "b.embedding")} AS cos
          FROM embeddings a JOIN embeddings b
            ON a.label = b.label AND a.vec_id % 2 = 1 AND b.vec_id % 2 = 0
          WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.35
          ORDER BY id_l, id_r""",
    // brute-force replay: per probe, max cosine (same fdot/list_sum
    // pairing the q69 gate already proves float-identical), min corpus
    // id among the max holders, the threshold count and verdict
    "q225_semantic_decon" ->
      s"""WITH p AS (SELECT vec_id AS pid, embedding AS ep
                     FROM embeddings WHERE vec_id % 25 = 0),
          c AS (SELECT vec_id AS cid, embedding AS ec
                FROM embeddings WHERE vec_id % 25 <> 0),
          pairs AS (SELECT pid, cid, ${cosSql("ep", "ec")} AS cos
                    FROM p CROSS JOIN c),
          agg AS (SELECT pid, max(cos) AS m,
                    CAST(sum(CASE WHEN cos >= 0.40 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_over
                  FROM pairs GROUP BY pid),
          pick AS (SELECT pr.pid, min(pr.cid) AS bid
                   FROM pairs pr JOIN agg a
                     ON pr.pid = a.pid AND pr.cos = a.m
                   GROUP BY pr.pid)
          SELECT a.pid AS probe_id, k.bid AS best_id, a.m AS best_cos,
            a.n_over, a.m >= 0.40 AS contaminated
          FROM agg a JOIN pick k ON a.pid = k.pid
          ORDER BY probe_id""",
    // the q62-style anchor for the shortlist composition: the honest
    // exhaustive contaminated-probe count, with the recall verdict pinned
    "q227_semantic_decon_lsh" ->
      s"""WITH p AS (SELECT vec_id AS pid, embedding AS ep
                     FROM embeddings WHERE vec_id % 25 = 0),
          c AS (SELECT vec_id AS cid, embedding AS ec
                FROM embeddings WHERE vec_id % 25 <> 0),
          agg AS (SELECT pid, max(${cosSql("ep", "ec")}) AS m
                  FROM p CROSS JOIN c GROUP BY pid)
          SELECT COALESCE(CAST(sum(CASE WHEN m >= 0.40 THEN 1 ELSE 0 END)
              AS BIGINT), 0) AS n_exact_contaminated,
            true AS recall_ok
          FROM agg""",
    // replays scrubContaminatedSpans relationally: benchmark 4-gram set →
    // matched start positions → interval expansion → anti-joined token
    // rebuild; single-space split on BOTH engines (positions must be
    // exact, so no trim/\s+ normalization here)
    "q229_span_scrub" ->
      """WITH dt AS (SELECT doc_id, string_split(text, ' ') AS toks
                     FROM documents WHERE doc_id % 20 <> 0),
          bg AS (SELECT DISTINCT array_to_string(toks[i+1:i+4], ' ') AS gram
                 FROM (SELECT string_split(text, ' ') AS toks
                       FROM documents WHERE doc_id % 20 = 0) bt,
                      unnest(range(greatest(len(toks) - 3, 0))) AS u(i)),
          grams AS (SELECT doc_id, i AS pos,
                      array_to_string(toks[i+1:i+4], ' ') AS gram
                    FROM dt, unnest(range(greatest(len(toks) - 3, 0))) AS u(i)),
          covered AS (SELECT DISTINCT doc_id, pos + off AS cpos
                      FROM grams JOIN bg USING (gram),
                           unnest(range(4)) AS o(off)),
          tokpos AS (SELECT doc_id, unnest(toks) AS tok,
                       unnest(range(len(toks))) AS i FROM dt),
          kept AS (SELECT t.doc_id, t.tok, t.i FROM tokpos t
                   LEFT JOIN covered c
                     ON t.doc_id = c.doc_id AND t.i = c.cpos
                   WHERE c.cpos IS NULL),
          ka AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean_text,
                   count(*) AS n_kept FROM kept GROUP BY doc_id)
          SELECT d.doc_id, coalesce(ka.clean_text, '') AS clean_text,
            CAST(len(d.toks) - coalesce(ka.n_kept, 0) AS BIGINT) AS removed_tokens,
            CAST(len(d.toks) AS BIGINT) AS total_tokens,
            (len(d.toks) - coalesce(ka.n_kept, 0)) * 1000 <= 100 * len(d.toks) AS kept
          FROM dt d LEFT JOIN ka USING (doc_id)
          ORDER BY d.doc_id""",
    "q67_neardup_join" ->
      neardupPairsSql,
    // the prebuilt path must emit the exact same pairs as q67
    "q74_neardup_prebuilt" ->
      neardupPairsSql,
    // incremental mirror: stage CTEs compose exactly like
    // Corpus.cleanIncremental (incoming = odd ids, history = even ids)
    "q68_incremental_clean" ->
      s"""WITH RECURSIVE t AS (
            SELECT doc_id, $toks AS tk FROM documents),
          q AS (
            SELECT doc_id, tk, (${qualityKeep("tk")}) AS kq
            FROM t WHERE doc_id % 2 = 1),
          hfp AS (
            SELECT DISTINCT md5(lower(array_to_string(tk, ' '))) AS fp
            FROM t WHERE doc_id % 2 = 0),
          e AS (
            SELECT doc_id, tk,
              md5(lower(array_to_string(tk, ' '))) NOT IN (SELECT fp FROM hfp)
                AND doc_id = MIN(doc_id) OVER (
                  PARTITION BY md5(lower(array_to_string(tk, ' ')))) AS ke
            FROM q WHERE kq),
          mksh AS (
            SELECT doc_id,
              ${shingleSet("tk")} AS s
            FROM e WHERE ke),
          hsh AS (
            SELECT doc_id,
              ${shingleSet("tk")} AS s
            FROM t WHERE doc_id % 2 = 0),
          crossdup AS (
            SELECT DISTINCT a.doc_id FROM mksh a JOIN hsh b ON true
            WHERE $jaccardSql >= 0.5),
          hh AS (
            SELECT doc_id, ke,
              ke AND doc_id NOT IN (SELECT doc_id FROM crossdup) AS kh
            FROM e),
          sh2 AS (
            SELECT m.doc_id, m.s FROM mksh m JOIN hh ON m.doc_id = hh.doc_id
            WHERE hh.kh),
          pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id
            WHERE $jaccardSql >= 0.5),
          $componentCtes
          SELECT d.doc_id, q.kq AS keep_quality,
            COALESCE(e.ke, false) AS keep_exact,
            COALESCE(hh.kh, false) AS keep_vs_history,
            COALESCE(hh.kh AND COALESCE(c.component, d.doc_id) = d.doc_id, false) AS keep
          FROM documents d
          JOIN q ON d.doc_id = q.doc_id
          LEFT JOIN e ON d.doc_id = e.doc_id
          LEFT JOIN hh ON d.doc_id = hh.doc_id
          LEFT JOIN comp c ON d.doc_id = c.id
          WHERE d.doc_id % 2 = 1
          ORDER BY d.doc_id""",
    // assembly mirror: mixture filter → q49's clean stages → budget
    // cumulative window → chunk expansion, one staged CTE
    "q73_assemble" -> assembleSql("", "kept"),
    // q73's staged mirror plus a decontamination CTE between kept and bud
    "q76_assemble_decon" -> assembleSql(
      s"""ksh AS (SELECT doc_id, tk, ${shingleSet("tk")} AS s FROM kept),
          psh AS (
            SELECT ${shingleSet(toks)} AS s
            FROM documents WHERE doc_id % 10 = 3),
          decon AS (
            -- ANTI JOIN, not NOT EXISTS: DuckDB cannot bind correlated
            -- columns inside list_intersect in a subquery
            SELECT k.doc_id, k.tk FROM ksh k
            ANTI JOIN psh p
              ON CAST(len(list_intersect(p.s, k.s)) AS DOUBLE) / len(p.s) >= 0.7),""",
      "decon"),
    // full pipeline mirror: stage CTEs compose exactly like Corpus.clean
    "q49_corpus_clean" ->
      s"""WITH RECURSIVE t AS (
            SELECT doc_id, lang, $toks AS tk FROM documents),
          $cleanChainCtes
          $cleanVerdictSql""",

    // q97's substring rewrite feeding q49's clean chain — the Spark side
    // composes the same two oracle-gated operators
    "q104_clean_substr" ->
      s"""WITH RECURSIVE t0 AS (
            SELECT doc_id, $toks AS tk FROM documents),
          ${substringMarkCtes("t0")},
          rw AS (
            SELECT doc_id,
              coalesce(string_agg(w, ' ' ORDER BY pos) FILTER (WHERE rem = 0), '') AS ct
            FROM fl WHERE s = 0 GROUP BY doc_id),
          t AS (
            SELECT r.doc_id, d.lang,
              regexp_split_to_array(trim(r.ct), '\\s+') AS tk
            FROM rw r JOIN documents d USING (doc_id)),
          $cleanChainCtes
          SELECT t.doc_id, q.kq AS keep_quality,
            COALESCE(e.ke, false) AS keep_exact,
            COALESCE(e.ke AND COALESCE(c.component, t.doc_id) = t.doc_id, false) AS keep
          FROM t
          LEFT JOIN q ON t.doc_id = q.doc_id
          LEFT JOIN e ON t.doc_id = e.doc_id
          LEFT JOIN comp c ON t.doc_id = c.id
          ORDER BY t.doc_id""",

    // mirrors TextOps.repetitionSignals definitions exactly: trimmed
    // non-empty lines; dup-line fracs over line occurrences; top word
    // 2-gram by (count, char-coverage) struct max (same lexicographic
    // tie-break in both engines), coverage capped at 1.0
    "q79_repetition" ->
      s"""WITH lines AS (
            SELECT doc_id, trim(l) AS line
            FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS l
                  FROM documents)
            WHERE len(trim(l)) > 0),
          per_line AS (
            SELECT doc_id, line, count(*) AS cnt, len(line) AS ln
            FROM lines GROUP BY doc_id, line),
          line_sig AS (
            SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_lines,
              1.0 - CAST(count(*) AS DOUBLE) / sum(cnt) AS dup_line_frac,
              CAST(sum(CASE WHEN cnt > 1 THEN cnt * ln ELSE 0 END) AS DOUBLE)
                / sum(cnt * ln) AS dup_line_char_frac
            FROM per_line GROUP BY doc_id),
          tk AS (
            SELECT doc_id, list_filter($toks, t -> len(t) > 0) AS ts
            FROM documents),
          tok_chars AS (
            SELECT doc_id, CAST(len(array_to_string(ts, '')) AS BIGINT) AS tc
            FROM tk WHERE len(ts) > 0),
          per_big AS (
            SELECT doc_id, b['g'] AS g, CAST(b['cover'] AS BIGINT) AS cover,
              count(*) AS cnt
            FROM (SELECT doc_id, unnest(list_transform(range(1, len(ts)),
                    i -> {'g': ts[i] || ' ' || ts[i+1],
                          'cover': len(ts[i]) + len(ts[i+1])})) AS b
                  FROM tk WHERE len(ts) >= 2)
            GROUP BY doc_id, b['g'], b['cover']),
          big_top AS (
            SELECT doc_id, max({'cnt': cnt, 'cover': cover}) AS t
            FROM per_big GROUP BY doc_id),
          big_sig AS (
            SELECT b.doc_id, least(1.0,
              CAST(struct_extract(t, 'cnt') * struct_extract(t, 'cover') AS DOUBLE)
                / c.tc) AS top_bigram_char_frac
            FROM big_top b JOIN tok_chars c USING (doc_id))
          SELECT d.doc_id,
            COALESCE(l.n_lines, 0) AS n_lines,
            COALESCE(l.dup_line_frac, 0.0) AS dup_line_frac,
            COALESCE(l.dup_line_char_frac, 0.0) AS dup_line_char_frac,
            COALESCE(b.top_bigram_char_frac, 0.0) AS top_bigram_char_frac
          FROM documents d
          LEFT JOIN line_sig l USING (doc_id)
          LEFT JOIN big_sig b USING (doc_id)
          ORDER BY d.doc_id""",

    // mirrors TextOps.cleanLines exactly: trimmed non-empty lines, the
    // same keep predicate (word count, terminal punct, banned markers),
    // order-preserving string_agg of survivors (string_agg and concat_ws
    // both skip the NULLed dropped lines)
    "q81_clean_lines" ->
      s"""WITH lines AS (
            SELECT doc_id, p['pos'] AS pos, p['line'] AS line FROM (
              SELECT doc_id, unnest(list_transform(range(1, len(ls) + 1),
                i -> {'pos': i, 'line': trim(ls[i])})) AS p
              FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
                    FROM documents))
            WHERE len(p['line']) > 0),
          flagged AS (
            SELECT doc_id, pos, line,
              (len(regexp_split_to_array(line, '\\s+')) >= 3
               AND regexp_matches(line, '[.!?"'']$$')
               AND NOT contains(lower(line), 'lorem ipsum')
               AND NOT contains(lower(line), 'javascript')
               AND NOT contains(lower(line), '{')) AS keep
            FROM lines),
          ${reassembledSql("line", "chr(10)", "documents d")}
          ORDER BY d.doc_id""",

    // q49's staged CTE with the q79 repetition CTEs merged: kq gains the
    // dup-line and top-bigram thresholds; every later stage (exact window,
    // shingle pairs, recursive components) then flows over the narrowed set
    "q84_clean_repetition" ->
      s"""WITH RECURSIVE lines AS (
            SELECT doc_id, trim(l) AS line
            FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS l
                  FROM documents)
            WHERE len(trim(l)) > 0),
          per_line AS (
            SELECT doc_id, line, count(*) AS cnt
            FROM lines GROUP BY doc_id, line),
          line_sig AS (
            SELECT doc_id,
              1.0 - CAST(count(*) AS DOUBLE) / sum(cnt) AS dlf
            FROM per_line GROUP BY doc_id),
          tk0 AS (
            SELECT doc_id, list_filter($toks, t -> len(t) > 0) AS ts
            FROM documents),
          tok_chars AS (
            SELECT doc_id, CAST(len(array_to_string(ts, '')) AS BIGINT) AS tc
            FROM tk0 WHERE len(ts) > 0),
          per_big AS (
            SELECT doc_id, b['g'] AS g, CAST(b['cover'] AS BIGINT) AS cover,
              count(*) AS cnt
            FROM (SELECT doc_id, unnest(list_transform(range(1, len(ts)),
                    i -> {'g': ts[i] || ' ' || ts[i+1],
                          'cover': len(ts[i]) + len(ts[i+1])})) AS b
                  FROM tk0 WHERE len(ts) >= 2)
            GROUP BY doc_id, b['g'], b['cover']),
          big_top AS (
            SELECT doc_id, max({'cnt': cnt, 'cover': cover}) AS t
            FROM per_big GROUP BY doc_id),
          big_sig AS (
            SELECT b.doc_id, least(1.0,
              CAST(struct_extract(t, 'cnt') * struct_extract(t, 'cover') AS DOUBLE)
                / c.tc) AS tbf
            FROM big_top b JOIN tok_chars c USING (doc_id)),
          t AS (
            SELECT doc_id, lang, $toks AS tk FROM documents),
          q AS (
            SELECT t.doc_id, lang, tk,
              (${qualityKeep("tk")}
               AND COALESCE(l.dlf, 0.0) <= 0.3
               AND COALESCE(b.tbf, 0.0) <= 0.1) AS kq
            FROM t
            LEFT JOIN line_sig l ON t.doc_id = l.doc_id
            LEFT JOIN big_sig b ON t.doc_id = b.doc_id),
          $dedupChainCtes
          $cleanVerdictSql""",

    // integer df counting + one double division per doc — bit-identical
    // across engines (the q58 rational discipline)
    "q83_rare_tokens" ->
      s"""WITH toks AS (
            SELECT doc_id, unnest(list_filter($toks, t -> len(t) > 0)) AS w
            FROM documents),
          dfreq AS (
            SELECT w, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
            FROM toks GROUP BY w),
          agged AS (
            SELECT t.doc_id,
              CAST(count(*) AS BIGINT) AS n_tokens,
              CAST(sum(CASE WHEN d.df < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
            FROM toks t JOIN dfreq d USING (w)
            GROUP BY t.doc_id)
          SELECT doc.doc_id,
            COALESCE(a.n_tokens, 0) AS n_tokens,
            COALESCE(a.n_rare, 0) AS n_rare,
            COALESCE(CAST(a.n_rare AS DOUBLE) / a.n_tokens, 0.0) AS rare_ratio
          FROM documents doc LEFT JOIN agged a USING (doc_id)
          ORDER BY doc.doc_id""",

    // element-wise decimal sums: associative, so engine-internal
    // aggregation order cannot change the result
    "q87_embed_centroids" ->
      s"""WITH $embedPosCte,
          sums AS (
            SELECT label, CAST(pos AS INT) AS pos,
              CAST(sum(CAST(round(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT))
                AS BIGINT) AS elem_sum_micro
            FROM ex GROUP BY label, pos),
          cnt AS (
            SELECT label, CAST(count(*) AS BIGINT) AS n_vectors
            FROM embeddings WHERE embedding IS NOT NULL GROUP BY label)
          SELECT s.label, s.pos, s.elem_sum_micro, c.n_vectors
          FROM sums s JOIN cnt c USING (label)
          ORDER BY s.label, s.pos""",

    // the BPE pre-tokenizer pattern replayed verbatim by RE2 (quote
    // doubled for the SQL literal); one double division per doc
    "q86_bpe_tokens" ->
      s"""SELECT doc_id,
            CAST(len(regexp_extract_all(text,
              '''(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+')) AS INT) AS n_bpe,
            CAST(len($toks) AS INT) AS n_ws,
            CASE WHEN len(regexp_extract_all(text,
                '''(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+')) > 0
              THEN CAST(length(text) AS DOUBLE)
                / len(regexp_extract_all(text,
                    '''(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+'))
              ELSE 0.0 END AS chars_per_bpe
          FROM documents ORDER BY doc_id""",

    // q82's CTE with a history exclusion: odd docs are the batch, even
    // docs' paragraphs are settled history
    "q85_paragraph_dedup_inc" ->
      s"""WITH $parasCte,
          hist AS (SELECT DISTINCT par FROM paras WHERE doc_id % 2 = 0),
          bp AS (SELECT * FROM paras WHERE doc_id % 2 = 1),
          fresh AS (SELECT * FROM bp WHERE par NOT IN (SELECT par FROM hist)),
          firsts AS (
            SELECT par, min({'id': doc_id, 'pos': pos}) AS fi
            FROM fresh GROUP BY par),
          flagged AS (
            SELECT b.doc_id, b.pos, b.par,
              (f.par IS NOT NULL
               AND struct_extract(f.fi, 'id') = b.doc_id
               AND struct_extract(f.fi, 'pos') = b.pos) AS keep
            FROM bp b LEFT JOIN firsts f ON b.par = f.par),
          ${reassembledSql("par", "chr(10) || chr(10)",
            "(SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d")}
          ORDER BY d.doc_id""",

    // mirrors Dedup.paragraphDedupe: blank-line paragraph split, global
    // first occurrence by (doc_id, pos) struct min, order-preserving
    // re-assembly of survivors
    "q82_paragraph_dedup" ->
      s"""WITH $parasCte,
          firsts AS (
            SELECT par, min({'id': doc_id, 'pos': pos}) AS fi
            FROM paras GROUP BY par),
          flagged AS (
            SELECT p.doc_id, p.pos, p.par,
              (struct_extract(fi, 'id') = p.doc_id
               AND struct_extract(fi, 'pos') = p.pos) AS keep
            FROM paras p JOIN firsts f ON p.par = f.par),
          ${reassembledSql("par", "chr(10) || chr(10)", "documents d")}
          ORDER BY d.doc_id""",

    // confirm=true makes the bloom pre-filter semantically invisible:
    // the result is the plain fingerprint anti-join
    "q80_bloom_dedup" ->
      s"""WITH f AS (SELECT doc_id,
              md5(lower(array_to_string($toks, ' '))) AS fp
            FROM documents)
          SELECT doc_id, fp FROM f
          WHERE doc_id % 2 = 1
            AND fp NOT IN (SELECT fp FROM f WHERE doc_id % 2 = 0)
          ORDER BY doc_id""",

    // exclusive prefix sum over doc_id order, then each doc's slice rows
    // from integer-division sequence bounds (// floors on BIGINT — same
    // as Spark's `div`); all arithmetic stays integral
    "q88_pack_sequences" ->
      s"""WITH $packOffsetsCte
          SELECT doc_id, s.seq AS seq,
            GREATEST(s.seq * 1024 - cum0, 0) AS doc_tok_start,
            LEAST(n, (s.seq + 1) * 1024 - cum0) AS doc_tok_end,
            GREATEST(cum0 - s.seq * 1024, 0) AS seq_tok_start
          FROM c, LATERAL (SELECT unnest(generate_series(
            cum0 // 1024, (cum0 + n - 1) // 1024)) AS seq) s
          ORDER BY doc_id, seq""",

    "q89_pack_greedy" ->
      s"""WITH $packOffsetsCte
          SELECT doc_id, CAST(cum0 // 1024 AS BIGINT) AS seq,
            CAST(cum0 - (cum0 // 1024) * 1024 AS BIGINT) AS seq_tok_start,
            n AS n_tokens
          FROM c ORDER BY doc_id""",

    // the q89 recurrence under the (min-shingle-md5, id) order — the
    // same shingle CTE shape as q67, keyed through md5 like hashScore
    "q234_semantic_pack" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks
                     FROM documents WHERE text IS NOT NULL),
          k AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n,
                  list_min(list_transform(
                    ${shingleSet("toks")},
                    s -> md5(s))) AS ck
                FROM t),
          c AS (SELECT doc_id, n,
                  CAST(COALESCE(SUM(n) OVER (ORDER BY ck, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cum0
                FROM k WHERE n > 0)
          SELECT doc_id, CAST(cum0 // 1024 AS BIGINT) AS seq,
            CAST(cum0 - (cum0 // 1024) * 1024 AS BIGINT) AS seq_tok_start,
            n AS n_tokens
          FROM c ORDER BY doc_id""",

    // the q89 map re-derived, then the report aggregates: per-seq fill,
    // overflow (greedy boundary straddle) pads nothing, integer per-mille
    "q228_packing_report" ->
      s"""WITH $packOffsetsCte,
          s AS (
            SELECT cum0 // 1024 AS seq, CAST(sum(n) AS BIGINT) AS fill,
              CAST(count(*) AS BIGINT) AS docs
            FROM c GROUP BY 1)
          SELECT CAST(count(*) AS BIGINT) AS n_seqs,
            CAST(sum(docs) AS BIGINT) AS n_docs,
            CAST(sum(fill) AS BIGINT) AS n_tokens,
            CAST(sum(CASE WHEN fill > 1024 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_overflow_seqs,
            CAST(sum(CASE WHEN fill < 1024 THEN 1024 - fill ELSE 0 END)
              AS BIGINT) AS padding_tokens,
            CAST((sum(fill) * 1000) // (count(*) * 1024) AS BIGINT)
              AS fill_per_mille
          FROM s""",

    // the q88 map re-derived, pieces sliced from the token array
    // (list_slice is 1-based inclusive-end — matches Spark's
    // slice(toks, start+1, len)) and stitched in offset order
    "q90_packed_text" ->
      s"""WITH d AS (
            SELECT doc_id, $toks AS toksa,
              CAST(len($toks) AS BIGINT) AS n
            FROM documents WHERE text IS NOT NULL),
          c AS (
            SELECT doc_id, toksa, n,
              CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum0
            FROM d WHERE n > 0),
          m AS (
            SELECT doc_id, toksa, s.seq AS seq,
              GREATEST(s.seq * 1024 - cum0, 0) AS a,
              LEAST(n, (s.seq + 1) * 1024 - cum0) AS b,
              GREATEST(cum0 - s.seq * 1024, 0) AS seq_tok_start
            FROM c, LATERAL (SELECT unnest(generate_series(
              cum0 // 1024, (cum0 + n - 1) // 1024)) AS seq) s)
          SELECT seq,
            string_agg(array_to_string(list_slice(toksa, a + 1, b), ' '),
              ' ' ORDER BY seq_tok_start) AS seq_text,
            CAST(sum(b - a) AS BIGINT) AS n_seq_tokens
          FROM m GROUP BY seq ORDER BY seq""",

    // totals + the dedicated-overflow-bin equivalence are engine-
    // independent facts; the capacity/fill booleans are pinned verdicts
    "q94_pack_bestfit_verify" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(n) AS BIGINT) AS sum_tokens,
            CAST(sum(CASE WHEN n > 512 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_overflow_bins,
            CAST(1 AS BIGINT) AS max_overflow_docs,
            TRUE AS fill_ok
          FROM (SELECT CAST(len($toks) AS BIGINT) AS n
                FROM documents WHERE text IS NOT NULL)
          WHERE n > 0""",

    // q88's CTE with the md5-shuffle order (hash prefix, then id — the
    // same total order the engine range-partitions on)
    "q93_pack_shuffled" ->
      s"""WITH c AS (
            SELECT doc_id, n,
              CAST(COALESCE(SUM(n) OVER (
                ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS cum0
            FROM (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n
                  FROM documents WHERE text IS NOT NULL)
            WHERE n > 0)
          SELECT doc_id, s.seq AS seq,
            GREATEST(s.seq * 1024 - cum0, 0) AS doc_tok_start,
            LEAST(n, (s.seq + 1) * 1024 - cum0) AS doc_tok_end,
            GREATEST(cum0 - s.seq * 1024, 0) AS seq_tok_start
          FROM c, LATERAL (SELECT unnest(generate_series(
            cum0 // 1024, (cum0 + n - 1) // 1024)) AS seq) s
          ORDER BY doc_id, seq""",

    // q91's assignment CTEs, then per-cell counts + micro-unit cosine
    // sums against the float-rounded centroid (associative integers —
    // fold order cannot break parity)
    "q95_ivf_cell_stats" ->
      s"""WITH $ivfAssignCtes
          SELECT s.cell AS ivf_cell, CAST(count(*) AS BIGINT) AS n_vectors,
            CAST(sum(CAST(round(${cosSql("e.embedding", "c.cf")} * 1000000, 0)
              AS BIGINT)) AS BIGINT) AS cos_sum_micro
          FROM embeddings e
          JOIN assigned s USING (vec_id)
          JOIN cellmap c ON s.cell = c.cell
          GROUP BY s.cell ORDER BY ivf_cell""",

    // centroid = exact per-label mean (micro-unit sums — the q87 path);
    // cell assignment replays NearestCentroid exactly: coefficients
    // float-rounded (CAST REAL), half-norms over RAW doubles, score =
    // dot − |c|²/2, ties to the lowest cell id; then q44's recursive-CTE
    // components over within-cell cosine pairs
    "q91_semantic_dedup" ->
      s"""WITH RECURSIVE $ivfAssignCtes,
          pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM (SELECT e.vec_id, e.embedding, s.cell
                  FROM embeddings e JOIN assigned s USING (vec_id)) a
            JOIN (SELECT e.vec_id, e.embedding, s.cell
                  FROM embeddings e JOIN assigned s USING (vec_id)) b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.35),
          $componentCtes
          SELECT e.vec_id, s.cell AS ivf_cell,
            COALESCE(c.component, e.vec_id) AS component,
            COALESCE(c.component, e.vec_id) = e.vec_id AS keep
          FROM embeddings e JOIN assigned s USING (vec_id)
          LEFT JOIN comp c ON e.vec_id = c.id
          ORDER BY e.vec_id""",

    // q91's centroid/assignment CTEs, then: batch (odd ids) drops members
    // with a same-cell history (even ids) neighbor >= t, survivors get
    // q44's recursive-CTE components within the batch
    "q109_semantic_dedup_inc" ->
      s"""WITH RECURSIVE $ivfAssignCtes,
          av AS (
            SELECT e.vec_id, e.embedding, s.cell
            FROM embeddings e JOIN assigned s USING (vec_id)),
          histdup AS (
            SELECT DISTINCT a.vec_id
            FROM av a JOIN av b ON a.cell = b.cell
              AND a.vec_id % 2 = 1 AND b.vec_id % 2 = 0
            WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.35),
          pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM av a JOIN av b ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE a.vec_id % 2 = 1 AND b.vec_id % 2 = 1
              AND a.vec_id NOT IN (SELECT vec_id FROM histdup)
              AND b.vec_id NOT IN (SELECT vec_id FROM histdup)
              AND ${cosSql("a.embedding", "b.embedding")} >= 0.35),
          $componentCtes
          SELECT e.vec_id, s.cell AS ivf_cell,
            (h.vec_id IS NULL) AS keep_vs_history,
            COALESCE(c.component, e.vec_id) AS component,
            (h.vec_id IS NULL)
              AND COALESCE(c.component, e.vec_id) = e.vec_id AS keep
          FROM embeddings e JOIN assigned s USING (vec_id)
          LEFT JOIN histdup h ON e.vec_id = h.vec_id
          LEFT JOIN comp c ON e.vec_id = c.id
          WHERE e.vec_id % 2 = 1
          ORDER BY e.vec_id""",

    // q44's recursive-CTE components, survivor = highest L2 norm per
    // cluster (list_sum left-folds like the codegen dot, so the norm's
    // bits match), ties to the lowest id
    "q110_cluster_best" ->
      s"""WITH RECURSIVE pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE a.embedding IS NOT NULL AND b.embedding IS NOT NULL
              AND ${cosSql("a.embedding", "b.embedding")} >= 0.35),
          $componentCtes,
          labeled AS (
            SELECT e.vec_id,
              COALESCE(c.component, e.vec_id) AS component,
              sqrt(list_sum(list_transform(e.embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
            FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.id
            WHERE e.embedding IS NOT NULL),
          best AS (
            SELECT component, vec_id AS best_id FROM (
              SELECT component, vec_id, ROW_NUMBER() OVER (
                PARTITION BY component ORDER BY nrm DESC, vec_id ASC) AS rn
              FROM labeled) WHERE rn = 1)
          SELECT l.vec_id, l.component, l.vec_id = b.best_id AS keep
          FROM labeled l JOIN best b USING (component)
          ORDER BY l.vec_id""",

    // the trainer replayed stage by stage (see bpeCtes); ranks stitch the
    // per-stage best-pair rows back together
    "q111_bpe_merges" ->
      bpeMergesSql,

    // both arms replayed under their gated arithmetic (q136's integer
    // BM25; q30's double cosine fold), ranked with the same tie-breaks,
    // fused with the same ⌊10¹²/(60+rank)⌋ integer weights
    "q140_rrf_hybrid" ->
      s"""WITH corpus AS (
            SELECT doc_id, $toks AS tk FROM documents WHERE doc_id % 2 = 0),
          qt AS (
            SELECT DISTINCT doc_id AS query_id, unnest(tk[1:5]) AS token
            FROM (SELECT doc_id, $toks AS tk FROM documents
                  WHERE doc_id % 50 = 1)),
          $bm25WeightCtes,
          lexsc AS (
            SELECT query_id, doc_id, CAST(sum(w_pico) AS BIGINT) AS score_pico
            FROM w GROUP BY 1, 2),
          lex AS (
            SELECT query_id, doc_id, rank FROM (
              SELECT query_id, doc_id, row_number() OVER (
                PARTITION BY query_id
                ORDER BY score_pico DESC, doc_id) AS rank
              FROM lexsc) WHERE rank <= 20),
          qv AS (SELECT vec_id AS query_id, embedding AS qe
                 FROM embeddings WHERE vec_id % 50 = 1),
          dsc AS (
            SELECT qv.query_id, e.vec_id AS doc_id,
              ${cosSql("e.embedding", "qv.qe")} AS cos
            FROM embeddings e CROSS JOIN qv WHERE e.vec_id % 2 = 0),
          den AS (
            SELECT query_id, doc_id, rank FROM (
              SELECT query_id, doc_id, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, doc_id) AS rank
              FROM dsc) WHERE rank <= 20),
          u AS (SELECT * FROM lex UNION ALL SELECT * FROM den),
          f AS (
            SELECT query_id, doc_id,
              CAST(sum(1000000000000 // (60 + rank)) AS BIGINT) AS rrf_pico,
              CAST(count(*) AS BIGINT) AS n_arms
            FROM u GROUP BY 1, 2),
          r AS (
            SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY rrf_pico DESC, doc_id) AS rk
            FROM f)
          SELECT query_id, doc_id, rrf_pico, n_arms FROM r WHERE rk <= 5
          ORDER BY query_id, doc_id""",

    // q139's merge-chain subword counts spliced into q88's packing
    // replay — the composed stages keep their own gated arithmetic
    "q141_bpe_pack" ->
      s"""WITH ${bpeCtes(8)},
          seg AS (SELECT word, CAST(len(ss) AS BIGINT) AS nsub FROM w8),
          dw AS (SELECT doc_id, unnest($toks) AS word
                 FROM documents WHERE text IS NOT NULL),
          dn AS (SELECT d.doc_id, CAST(sum(g.nsub) AS BIGINT) AS n
                 FROM dw d JOIN seg g USING (word)
                 WHERE length(d.word) > 0
                 GROUP BY d.doc_id),
          c AS (SELECT doc_id, n,
                 CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum0
                FROM dn WHERE n > 0)
          SELECT doc_id, s.seq AS seq,
            GREATEST(s.seq * 256 - cum0, 0) AS doc_tok_start,
            LEAST(n, (s.seq + 1) * 256 - cum0) AS doc_tok_end,
            GREATEST(cum0 - s.seq * 256, 0) AS seq_tok_start
          FROM c, LATERAL (SELECT unnest(generate_series(
            cum0 // 256, (cum0 + n - 1) // 256)) AS seq) s
          ORDER BY doc_id, seq""",

    // same merge chain; ids = row_number − 1 over the distinct final
    // subwords under binary collation (== the operator's UTF-8 byte
    // sort); per-doc positions replay (word pos, subword pos) order
    "q139_bpe_encode" ->
      s"""WITH ${bpeCtes(8)},
          vx AS (SELECT DISTINCT unnest(ss) AS sub FROM w8),
          vocab AS (SELECT sub,
              CAST(row_number() OVER (ORDER BY sub) - 1 AS BIGINT) AS id
            FROM vx),
          sp AS (SELECT word, u.k AS spos, ss[u.k + 1] AS sub
                 FROM w8, UNNEST(range(len(ss))) AS u(k)),
          wid AS (SELECT sp.word, sp.spos, vocab.id
                  FROM sp JOIN vocab USING (sub)),
          dw AS (SELECT doc_id, u.k AS wpos, tk[u.k + 1] AS word
                 FROM (SELECT doc_id, $toks AS tk FROM documents
                       WHERE text IS NOT NULL) t,
                   UNNEST(range(len(tk))) AS u(k)
                 WHERE length(tk[u.k + 1]) > 0),
          fl AS (SELECT dw.doc_id, dw.wpos, wid.spos, wid.id
                 FROM dw JOIN wid ON dw.word = wid.word)
          SELECT doc_id,
            CAST(row_number() OVER (
              PARTITION BY doc_id ORDER BY wpos, spos) - 1 AS INT) AS pos,
            id AS token_id
          FROM fl ORDER BY doc_id, pos""",

    // the driver-local trainer must replay the exact same merge chain
    "q116_bpe_merges_local" ->
      bpeMergesSql,

    // same chain; final word state joined back to per-doc words
    "q112_bpe_segment" ->
      s"""WITH ${bpeCtes(8)},
          seg AS (SELECT word, CAST(len(ss) AS BIGINT) AS n FROM w8),
          dw AS (SELECT doc_id, unnest($toks) AS word
                 FROM documents WHERE text IS NOT NULL)
          SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
            CAST(sum(g.n) AS BIGINT) AS n_subwords
          FROM dw d JOIN seg g USING (word)
          WHERE length(d.word) > 0
          GROUP BY d.doc_id ORDER BY d.doc_id""",

    // grams grouped by their STRING (the operator hashes them — identical
    // short of an xxhash64 collision); canonical occurrence = row_number 1
    // over (doc_id, pos); token coverage replays the same RANGE-frame
    // lookback; rebuild = ordered string_agg over surviving tokens
    "q97_substring_dedup" ->
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
          ${substringMarkCtes("t")}
          SELECT doc_id,
            coalesce(string_agg(w, ' ' ORDER BY pos) FILTER (WHERE rem = 0), '') AS clean_text,
            CAST(sum(rem) AS INT) AS n_removed,
            CAST(count(*) AS INT) AS n_tokens
          FROM fl WHERE s = 0
          GROUP BY doc_id ORDER BY doc_id""",

    // q97's machinery over the odd-id batch, with removability extended
    // by membership in the even-id history's distinct-gram set
    "q98_substring_dedup_inc" ->
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents WHERE doc_id % 2 = 1),
          h AS (
            SELECT DISTINCT array_to_string(tk[s + 1 : s + 8], ' ') AS gram
            FROM (SELECT $toks AS tk FROM documents WHERE doc_id % 2 = 0),
                 UNNEST(range(greatest(len(tk) - 7, 0))) AS u(s)),
          occ AS (
            SELECT doc_id, s AS pos, array_to_string(tk[s + 1 : s + 8], ' ') AS gram
            FROM t, UNNEST(range(greatest(len(tk) - 7, 0))) AS u(s)),
          marked AS (
            SELECT doc_id, pos, gram,
              count(*) OVER (PARTITION BY gram) AS cnt,
              row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
            FROM occ),
          removable AS (
            SELECT m.doc_id, m.pos FROM marked m LEFT JOIN h ON m.gram = h.gram
            WHERE h.gram IS NOT NULL OR (m.cnt >= 2 AND m.rn > 1)),
          tok AS (SELECT doc_id, s AS pos, tk[s + 1] AS w
                  FROM t, UNNEST(range(len(tk))) AS u(s)),
          ev AS (
            SELECT doc_id, pos, w, 0 AS s FROM tok
            UNION ALL SELECT doc_id, pos, NULL, 1 FROM removable),
          fl AS (
            SELECT doc_id, pos, w, s,
              max(s) OVER (PARTITION BY doc_id ORDER BY pos
                           RANGE BETWEEN 7 PRECEDING AND CURRENT ROW) AS rem
            FROM ev)
          SELECT doc_id,
            coalesce(string_agg(w, ' ' ORDER BY pos) FILTER (WHERE rem = 0), '') AS clean_text,
            CAST(sum(rem) AS INT) AS n_removed,
            CAST(count(*) AS INT) AS n_tokens
          FROM fl WHERE s = 0
          GROUP BY doc_id ORDER BY doc_id""",

    // chr(769)/chr(776) are the combining acute/diaeresis — the same
    // DECOMPOSED injection as the Spark query; nfc_normalize + the shared
    // control-char class replay normalizeText exactly
    "q99_normalized" ->
      """WITH raw AS (
           SELECT doc_id, text || CASE WHEN doc_id % 5 = 0
             THEN ' cafe' || chr(769) || ' nai' || chr(776) || 've' || chr(7)
             ELSE '' END AS raw
           FROM documents),
         n AS (
           SELECT doc_id, raw,
             regexp_replace(nfc_normalize(raw),
               '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g') AS clean_text
           FROM raw)
         SELECT doc_id, clean_text,
           CAST(length(raw) - length(clean_text) AS INT) AS n_changed
         FROM n ORDER BY doc_id""",

    // DSIR replay: same md5-prefix bucket as q103, ratios as single
    // divisions of exact integer products, weight via list_reduce over a
    // 1.0-prepended ratio list — left fold, same multiply order as
    // Spark's aggregate(), so the double product matches bit-for-bit
    "q105_dsir" ->
      s"""WITH t0 AS (
            SELECT doc_id, lang, $toks AS tk
            FROM documents WHERE text IS NOT NULL),
          grams AS (
            SELECT doc_id, lang,
              CASE WHEN len(tk) >= 2 THEN list_transform(range(1, len(tk)),
                i -> tk[i] || ' ' || tk[i + 1]) ELSE [] END AS gs
            FROM t0),
          gb AS (
            SELECT lang, CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) % 64 AS b
            FROM grams, UNNEST(gs) AS u(g)),
          agg AS (
            SELECT b, CAST(count(*) AS BIGINT) AS craw,
              CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS ctgt
            FROM gb GROUP BY b),
          tot AS (
            SELECT CAST(sum(craw) AS BIGINT) AS rawtot,
              CAST(sum(ctgt) AS BIGINT) AS tgttot FROM agg),
          spine AS (SELECT CAST(u.i AS BIGINT) AS b FROM UNNEST(range(64)) AS u(i)),
          ratios AS (
            SELECT s.b,
              CAST((COALESCE(a.ctgt, 0) + 1) * (t.rawtot + 64) AS DOUBLE)
                / CAST((COALESCE(a.craw, 0) + 1) * (t.tgttot + 64) AS DOUBLE) AS r
            FROM spine s LEFT JOIN agg a USING (b) CROSS JOIN tot t),
          rl AS (SELECT list(r ORDER BY b) AS l FROM ratios),
          w AS (
            SELECT doc_id,
              list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
                list_transform(gs, g -> l[CAST(CAST('0x' || substr(md5(g), 1, 8)
                  AS BIGINT) % 64 AS INT) + 1])),
                (a, x) -> a * x) AS dsir_weight
            FROM grams CROSS JOIN rl)
          SELECT doc_id, dsir_weight FROM w
          ORDER BY dsir_weight DESC, doc_id LIMIT 100""",

    // q91's exact-centroid assignment CTEs, then q96's single-window cap
    // form per cell
    "q106_cluster_balanced" ->
      s"""WITH $ivfAssignCtes
          SELECT vec_id, ivf_cell FROM (
            SELECT vec_id, cell AS ivf_cell, ROW_NUMBER() OVER (
              PARTITION BY cell
              ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 8), vec_id) AS rn
            FROM assigned) WHERE rn <= 40
          ORDER BY vec_id""",

    // Stupid Backoff replay: counts from the en slice, five left joins,
    // identical CASE parenthesization — every score is a single division
    // or an α-product of one, so the doubles match exactly
    "q107_lm_score" ->
      s"""WITH ${backoffCtes("p.doc_id, p.pos, p.w")}
          SELECT doc_id, pos, w AS token,
            CASE WHEN pos >= 2 AND c3 IS NOT NULL THEN 3
                 WHEN pos >= 1 AND c2 IS NOT NULL THEN 2
                 ELSE 1 END AS level,
            CASE WHEN pos = 0 THEN s1 WHEN pos = 1 THEN s2 ELSE s3 END AS score
          FROM s3c ORDER BY doc_id, pos""",

    // per-doc pico-integer aggregate of the q107 scores; keep is the
    // integer comparison mean ≥ 1/20
    "q108_lm_filter" ->
      s"""WITH ${backoffCtes("p.doc_id, p.pos")},
          sc AS (
            SELECT doc_id,
              CASE WHEN pos = 0 THEN s1 WHEN pos = 1 THEN s2 ELSE s3 END AS score
            FROM s3c),
          per AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored,
              CAST(sum(CAST(round(score * 1e12, 0) AS BIGINT)) AS BIGINT)
                AS score_sum_pico
            FROM sc GROUP BY doc_id)
          SELECT doc_id, n_scored, score_sum_pico,
            score_sum_pico * 20 >= n_scored * 1 * 1000000000000 AS keep
          FROM per ORDER BY doc_id""",

    // q108's per-doc pico aggregate, mean = one exact-int division,
    // tertiles as ORDER STATISTICS (sorted-list element at rank
    // ceil(n/3) — no interpolation, so the only float step is the same
    // IEEE division Spark performs), labels by comparison
    "q113_ccnet_buckets" ->
      s"""WITH ${backoffCtes("p.doc_id, p.pos")},
          sc AS (
            SELECT doc_id,
              CASE WHEN pos = 0 THEN s1 WHEN pos = 1 THEN s2 ELSE s3 END AS score
            FROM s3c),
          per AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored,
              CAST(sum(CAST(round(score * 1e12, 0) AS BIGINT)) AS BIGINT)
                AS score_sum_pico
            FROM sc GROUP BY doc_id),
          m AS (
            SELECT doc_id, n_scored, score_sum_pico,
              CAST(score_sum_pico AS DOUBLE) / n_scored AS mean_score
            FROM per),
          thr AS (
            SELECT
              (list_sort(list(mean_score)))[CAST(ceil(count(*) / 3.0) AS BIGINT)]
                AS t_lo,
              (list_sort(list(mean_score)))[CAST(ceil(count(*) * 2 / 3.0) AS BIGINT)]
                AS t_hi
            FROM m)
          SELECT doc_id, n_scored, score_sum_pico,
            CASE WHEN mean_score >= t_hi THEN 'head'
                 WHEN mean_score >= t_lo THEN 'middle'
                 ELSE 'tail' END AS bucket
          FROM m CROSS JOIN thr ORDER BY doc_id""",

    // int8 quantization replayed in list arithmetic: absmax/127 scale,
    // half-away-from-zero round (DuckDB round == Spark round), ±127
    // clamp; checksums are exact integers
    "q118_quantize_int8" ->
      s"""WITH e AS (
            SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings WHERE embedding IS NOT NULL),
          s AS (
            SELECT vec_id, v,
              list_max(list_transform(v, x -> abs(x))) / 127.0 AS q8_scale
            FROM e),
          c AS (
            SELECT vec_id, q8_scale,
              CASE WHEN q8_scale = 0
                THEN list_transform(v, x -> CAST(0 AS BIGINT))
                ELSE list_transform(v, x -> GREATEST(CAST(-127 AS BIGINT),
                  LEAST(CAST(127 AS BIGINT),
                    CAST(round(x / q8_scale, 0) AS BIGINT)))) END AS q
            FROM s)
          SELECT vec_id, q8_scale,
            CAST(len(q) AS BIGINT) AS n_dims,
            CAST(list_sum(q) AS BIGINT) AS code_sum,
            CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS code_sumsq,
            CAST(list_sum(list_transform(range(1, len(q) + 1),
              i -> i * q[i])) AS BIGINT) AS code_possum
          FROM c ORDER BY vec_id""",

    // int8 ANN replay: quantize both sides in SQL, exact integer dot,
    // cosine from code norms (scales cancel); same ordering/ties
    "q119_ann_int8" ->
      s"""WITH e AS (
            SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings WHERE embedding IS NOT NULL),
          s AS (
            SELECT vec_id, v,
              list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
            FROM e),
          c AS (
            SELECT vec_id, scale,
              CASE WHEN scale = 0
                THEN list_transform(v, x -> CAST(0 AS BIGINT))
                ELSE list_transform(v, x -> GREATEST(CAST(-127 AS BIGINT),
                  LEAST(CAST(127 AS BIGINT),
                    CAST(round(x / scale, 0) AS BIGINT)))) END AS q
            FROM s),
          qv AS (SELECT q AS qq FROM c WHERE vec_id = 0)
          SELECT c.vec_id,
            CAST(list_sum(list_transform(list_zip(c.q, qv.qq),
                p -> p[1] * p[2])) AS DOUBLE)
              / (sqrt(CAST(list_sum(list_transform(c.q, x -> x * x)) AS DOUBLE))
               * sqrt(CAST(list_sum(list_transform(qv.qq, x -> x * x)) AS DOUBLE)))
              AS cos8
          FROM c, qv WHERE c.vec_id != 0 AND c.scale > 0
          ORDER BY cos8 DESC, vec_id LIMIT 10""",

    "q120_contamination_multi" -> contaminationMultiSql,

    // the per-suite rollup over the same verdicts
    "q121_contamination_summary" ->
      s"""WITH $contaminationCtes,
          rep AS (
            SELECT d.source AS benchmark, d.doc_id,
              g.n_contaminating IS NOT NULL AS contaminated,
              g.max_containment
            FROM (SELECT DISTINCT source, doc_id FROM documents
                  WHERE doc_id % 2 = 1) d
            LEFT JOIN agg g ON d.doc_id = g.id_l)
          SELECT benchmark,
            CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(CASE WHEN contaminated THEN 1 ELSE 0 END) AS BIGINT)
              AS n_contaminated,
            max(max_containment) AS worst_containment,
            CAST(sum(CASE WHEN contaminated THEN 1 ELSE 0 END) AS DOUBLE)
              / count(*) AS contamination_rate
          FROM rep GROUP BY benchmark ORDER BY benchmark""",

    // q113's replay with the tertiles computed PER LANGUAGE (thr grouped
    // by lang, labels joined on lang) — same scoring chain, same
    // order-statistic cut per group
    "q122_ccnet_by_lang" ->
      s"""WITH ${backoffCtes("p.doc_id, p.lang, p.pos")},
          sc AS (
            SELECT doc_id, lang,
              CASE WHEN pos = 0 THEN s1 WHEN pos = 1 THEN s2 ELSE s3 END AS score
            FROM s3c),
          per AS (
            SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_scored,
              CAST(sum(CAST(round(score * 1e12, 0) AS BIGINT)) AS BIGINT)
                AS score_sum_pico
            FROM sc GROUP BY doc_id, lang),
          m AS (
            SELECT doc_id, lang, n_scored, score_sum_pico,
              CAST(score_sum_pico AS DOUBLE) / n_scored AS mean_score
            FROM per),
          thr AS (
            SELECT lang,
              (list_sort(list(mean_score)))[CAST(ceil(count(*) / 3.0) AS BIGINT)]
                AS t_lo,
              (list_sort(list(mean_score)))[CAST(ceil(count(*) * 2 / 3.0) AS BIGINT)]
                AS t_hi
            FROM m GROUP BY lang)
          SELECT m.doc_id, m.lang, n_scored, score_sum_pico,
            CASE WHEN mean_score >= t_hi THEN 'head'
                 WHEN mean_score >= t_lo THEN 'middle'
                 ELSE 'tail' END AS bucket
          FROM m JOIN thr ON m.lang = thr.lang ORDER BY m.doc_id""",

    // int8 quantization + same-label pairs scored by the exact integer
    // dot over code norms
    "q123_embed_neardup_int8" ->
      s"""WITH e AS (
            SELECT vec_id, label,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings WHERE embedding IS NOT NULL),
          s AS (
            SELECT vec_id, label, v,
              list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
            FROM e),
          c AS (
            SELECT vec_id, label, scale,
              CASE WHEN scale = 0
                THEN list_transform(v, x -> CAST(0 AS BIGINT))
                ELSE list_transform(v, x -> GREATEST(CAST(-127 AS BIGINT),
                  LEAST(CAST(127 AS BIGINT),
                    CAST(round(x / scale, 0) AS BIGINT)))) END AS q
            FROM s WHERE scale > 0)
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
            CAST(list_sum(list_transform(list_zip(a.q, b.q),
                p -> p[1] * p[2])) AS DOUBLE)
              / (sqrt(CAST(list_sum(list_transform(a.q, x -> x * x)) AS DOUBLE))
               * sqrt(CAST(list_sum(list_transform(b.q, x -> x * x)) AS DOUBLE)))
              AS cos8
          FROM c a JOIN c b ON a.label = b.label AND a.vec_id < b.vec_id
          WHERE CAST(list_sum(list_transform(list_zip(a.q, b.q),
              p -> p[1] * p[2])) AS DOUBLE)
            / (sqrt(CAST(list_sum(list_transform(a.q, x -> x * x)) AS DOUBLE))
             * sqrt(CAST(list_sum(list_transform(b.q, x -> x * x)) AS DOUBLE)))
            >= 0.35
          ORDER BY id_a, id_b""",

    // the messy-url build replayed verbatim, then the same five rewrite
    // steps: fragment strip, scheme/host lowercase, default-port + www
    // strip, tracking-param drop + bytewise param sort, trailing-slash
    // trim
    "q124_url_canonical" ->
      s"""WITH u0 AS (
            SELECT doc_id, $messyUrlSql AS url FROM documents),
          p AS (
            SELECT doc_id, url,
              regexp_replace(trim(url), '#.*$$', '') AS nf FROM u0),
          x AS (
            SELECT doc_id, url,
              $urlPartsSql
            FROM p),
          h AS (
            SELECT doc_id, url, scheme,
              $canonHostSql AS host,
              $canonPathSql AS path,
              $canonQuerySql AS q
            FROM x)
          SELECT doc_id, url,
            CASE WHEN scheme = '' THEN trim(url)
              ELSE concat(scheme, '://', host, path,
                CASE WHEN q = '' THEN '' ELSE concat('?', q) END) END
              AS url_canon
          FROM h ORDER BY doc_id""",

    // canonical-key group: keeper = min doc_id, collapse count
    // replays domainBlocklistFilter's SEMANTICS, not its mechanism: the
    // Spark side equi-joins the exploded label-suffix chain; the oracle
    // tests host = pattern OR host LIKE '%.' || pattern per pattern.
    // Userinfo strips to the LAST '@' (WHATWG) on both engines; the
    // %7==3/%7==5 adversarial authorities mirror the Spark query
    "q231_domain_blocklist" ->
      s"""WITH u AS (SELECT doc_id,
                  CASE WHEN doc_id % 7 = 3
                    THEN concat('http://user@p:w@', upper(source),
                      '.example.com./x')
                  WHEN doc_id % 7 = 5
                    THEN concat('https://', upper(source),
                      '.example.com@example.org/y')
                  ELSE $messyUrlSql END AS url FROM documents),
          h AS (SELECT doc_id,
                  regexp_replace(regexp_replace(regexp_replace(
                    lower(regexp_extract(trim(url),
                      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)),
                    '^.*@', ''), ':[0-9]+$$', ''), '\\.+$$', '') AS host
                FROM u),
          p AS (SELECT unnest(['src3.example.com', 'www.src7.example.com',
                  'example.net']) AS pat)
          SELECT doc_id,
            EXISTS(SELECT 1 FROM p
                   WHERE h.host = p.pat OR h.host LIKE '%.' || p.pat)
              AS blocked
          FROM h ORDER BY doc_id""",
    "q125_url_dedup" ->
      s"""WITH u0 AS (
            SELECT doc_id, $messyUrlSql AS url FROM documents),
          p AS (
            SELECT doc_id, regexp_replace(trim(url), '#.*$$', '') AS nf,
              trim(url) AS u FROM u0),
          x AS (
            SELECT doc_id, u,
              $urlPartsSql
            FROM p),
          h AS (
            SELECT doc_id, u, scheme,
              $canonHostSql AS host,
              $canonPathSql AS path,
              $canonQuerySql AS q
            FROM x),
          c AS (
            SELECT doc_id,
              CASE WHEN scheme = '' THEN u
                ELSE concat(scheme, '://', host, path,
                  CASE WHEN q = '' THEN '' ELSE concat('?', q) END) END
                AS url_canon
            FROM h)
          SELECT url_canon, min(doc_id) AS keep_id,
            CAST(count(*) AS BIGINT) AS n_urls
          FROM c GROUP BY url_canon ORDER BY url_canon""",

    // script histogram over the suffixed text; dominant via the q23-style
    // CASE chain (priority latin > han > cyrillic > arabic on ties)
    "q126_script_profile" ->
      s"""WITH t AS (
            SELECT doc_id, $multiScriptTextSql AS tx FROM documents),
          c AS (
            SELECT doc_id,
              CAST(len(regexp_extract_all(tx, '\\p{Latin}')) AS BIGINT)
                AS n_latin,
              CAST(len(regexp_extract_all(tx, '\\p{Han}')) AS BIGINT)
                AS n_han,
              CAST(len(regexp_extract_all(tx, '\\p{Cyrillic}')) AS BIGINT)
                AS n_cyrillic,
              CAST(len(regexp_extract_all(tx, '\\p{Arabic}')) AS BIGINT)
                AS n_arabic,
              CAST(len(regexp_extract_all(tx, '[0-9]')) AS BIGINT) AS n_digit,
              CAST(len(regexp_extract_all(tx, '\\s')) AS BIGINT) AS n_space
            FROM t)
          SELECT doc_id, n_latin, n_han, n_cyrillic, n_arabic, n_digit,
            n_space,
            CASE
              WHEN greatest(n_latin, n_han, n_cyrillic, n_arabic) = 0
                THEN 'none'
              WHEN n_latin >= greatest(n_han, n_cyrillic, n_arabic)
                THEN 'latin'
              WHEN n_han >= greatest(n_cyrillic, n_arabic) THEN 'han'
              WHEN n_cyrillic >= n_arabic THEN 'cyrillic'
              ELSE 'arabic' END AS dominant
          FROM c ORDER BY doc_id""",

    // the Gopher rules replayed in list arithmetic (q22 tokenization
    // parity); single-line fixture docs make the line rules degenerate
    // but still computed
    "q127_gopher_quality" ->
      s"""WITH b AS (
            SELECT doc_id, text, $toks AS tk,
              list_filter(string_split(text, chr(10)),
                l -> length(trim(l)) > 0) AS lines
            FROM documents),
          m AS (
            SELECT doc_id,
              $gopherMetricsSql
            FROM b),
          r AS (
            SELECT doc_id,
              (n_words >= 20 AND n_words <= 100000) AS ok_word_count,
              (mean_len >= 3.0 AND mean_len <= 10.0) AS ok_mean_word_len,
              (symbol_ratio < 0.1) AS ok_symbol_ratio,
              (bullet_frac <= 0.9) AS ok_bullet_lines,
              (ellipsis_frac <= 0.3) AS ok_ellipsis_lines,
              (alpha_frac >= 0.8) AS ok_alpha_words,
              (stop_hits >= 2) AS ok_stopwords
            FROM m)
          SELECT doc_id, ok_word_count, ok_mean_word_len, ok_symbol_ratio,
            ok_bullet_lines, ok_ellipsis_lines, ok_alpha_words, ok_stopwords,
            (ok_word_count AND ok_mean_word_len AND ok_symbol_ratio
             AND ok_bullet_lines AND ok_ellipsis_lines AND ok_alpha_words
             AND ok_stopwords) AS keep
          FROM r ORDER BY doc_id""",

    // exact top-20 replay; cms_ok is the pinned CMS guarantee (the q63
    // bounded-anchor pattern: honest exact values + pinned verdict)
    "q130_cms_heavy_hitters" ->
      s"""WITH t AS (SELECT unnest($toks) AS token FROM documents),
          c AS (SELECT token, CAST(count(*) AS BIGINT) AS n_exact
                FROM t GROUP BY token)
          SELECT token, n_exact, TRUE AS cms_ok FROM c
          ORDER BY n_exact DESC, token LIMIT 20""",

    // q79's gram construction generalized per n: duplicate-gram char
    // coverage over token chars, capped at 1
    "q135_dup_ngrams" -> {
      def gramCte(n: Int): String = {
        val g = (0 until n).map(k => s"ts[i+$k]").mkString(" || ' ' || ")
        val cover = (0 until n).map(k => s"len(ts[i+$k])").mkString(" + ")
        s"""per_$n AS (
            SELECT doc_id, b['g'] AS g, CAST(b['cover'] AS BIGINT) AS cover,
              count(*) AS cnt
            FROM (SELECT doc_id,
                    unnest(list_transform(range(1, len(ts) - ${n - 2}),
                      i -> {'g': $g, 'cover': $cover})) AS b
                  FROM tk WHERE len(ts) >= $n)
            GROUP BY doc_id, b['g'], b['cover']),
          sig_$n AS (
            SELECT p.doc_id, least(1.0,
              CAST(sum(CASE WHEN cnt > 1 THEN cnt * cover ELSE 0 END)
                AS DOUBLE) / min(c.tc)) AS f
            FROM per_$n p JOIN tok_chars c USING (doc_id)
            GROUP BY p.doc_id)"""
      }
      s"""WITH tk AS (
            SELECT doc_id, list_filter($toks, t -> len(t) > 0) AS ts
            FROM documents),
          tok_chars AS (
            SELECT doc_id, CAST(len(array_to_string(ts, '')) AS BIGINT) AS tc
            FROM tk WHERE len(ts) > 0),
          ${Seq(2, 3, 4).map(gramCte).mkString(",\n          ")}
          SELECT d.doc_id,
            COALESCE(s2.f, 0.0) AS dup_2gram_char_frac,
            COALESCE(s3.f, 0.0) AS dup_3gram_char_frac,
            COALESCE(s4.f, 0.0) AS dup_4gram_char_frac
          FROM documents d
          LEFT JOIN sig_2 s2 USING (doc_id)
          LEFT JOIN sig_3 s3 USING (doc_id)
          LEFT JOIN sig_4 s4 USING (doc_id)
          ORDER BY d.doc_id"""
    },

    // the q125 canonical-key keeper, then the q127 keep predicate, then
    // the q25 fingerprint dedup — spliced CTEs of the three gated stages
    "q128_web_clean" ->
      s"""WITH u0 AS (
            SELECT doc_id, text, $messyUrlSql AS url FROM documents),
          p AS (
            SELECT doc_id, text,
              regexp_replace(trim(url), '#.*$$', '') AS nf FROM u0),
          x AS (
            SELECT doc_id, text,
              $urlPartsSql
            FROM p),
          h AS (
            SELECT doc_id, text, concat(scheme, '://', $canonHostSql, $canonPathSql,
              CASE WHEN $canonQuerySql = ''
                THEN ''
                ELSE concat('?', $canonQuerySql)
                END) AS url_canon
            FROM x),
          keepers AS (
            SELECT min(doc_id) AS doc_id FROM h GROUP BY url_canon),
          g AS (
            SELECT h.doc_id, h.text, $toks AS tk,
              list_filter(string_split(h.text, chr(10)),
                l -> length(trim(l)) > 0) AS lines
            FROM h JOIN keepers ON h.doc_id = keepers.doc_id),
          m AS (
            SELECT doc_id, text, tk,
              $gopherMetricsSql
            FROM g),
          q AS (
            SELECT doc_id, tk FROM m
            WHERE n_words >= 20 AND n_words <= 100000
              AND mean_len >= 3.0 AND mean_len <= 10.0
              AND symbol_ratio < 0.1 AND bullet_frac <= 0.9
              AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8
              AND stop_hits >= 2),
          e AS (
            SELECT md5(lower(array_to_string(tk, ' '))) AS fp,
              min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_copies
            FROM q GROUP BY 1)
          SELECT doc_id, n_copies FROM e ORDER BY doc_id""",

    // BM25 odds-idf retrieval replayed with the same integer fixed-point
    // arithmetic: `//` == Spark's `div` on these non-negative operands,
    // the milli-quantized dl/avgdl ratio and the two micro scales divide
    // identical integers in identical order on both engines
    "q136_bm25_topk" -> bm25OddsSql,
    "q137_bm25_prebuilt" -> bm25OddsSql,
    // the pruned path must emit EXACTLY the unpruned ranked lists —
    // same replay; fallback guarantees it for any essentialDfFrac
    "q147_bm25_pruned" -> bm25OddsSql,
    // the same anchor voting over 1-indexed positions (anchors shift by
    // a constant vs 0-indexed — counts identical)
    "q188_phrase_search" ->
      s"""WITH d AS (SELECT doc_id, $toks AS tk FROM documents),
          t AS (SELECT doc_id, u.i AS pos, tk[u.i] AS tok
                FROM d, UNNEST(range(1, len(tk) + 1)) AS u(i)),
          r AS (SELECT t.doc_id, t.pos - o.r AS anchor, o.r
                FROM t JOIN (VALUES ('sort', 1), ('merge', 2)) AS o(w, r)
                  ON o.w = t.tok),
          hit AS (SELECT doc_id, anchor FROM r
                  GROUP BY doc_id, anchor HAVING count(DISTINCT r) = 2)
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches
          FROM hit GROUP BY doc_id ORDER BY doc_id""",
    // bigrams via 1-indexed list pairing; identical integer counts and
    // the identical (double·N)/(n_x·n_y) lift expression
    "q177_collocations" ->
      s"""WITH tkf AS (SELECT doc_id, $toks AS tk FROM documents),
          pos AS (SELECT unnest(tk) AS w FROM tkf),
          uni AS (SELECT w, CAST(count(*) AS BIGINT) AS n
                  FROM pos GROUP BY 1),
          tot AS (SELECT CAST(count(*) AS BIGINT) AS ntot FROM pos),
          pr AS (SELECT unnest(list_transform(range(1, len(tk)),
                   i -> {'w1': tk[i], 'w2': tk[i + 1]})) AS p
                 FROM tkf WHERE len(tk) >= 2),
          b AS (SELECT p['w1'] AS w1, p['w2'] AS w2,
                  CAST(count(*) AS BIGINT) AS n_xy
                FROM pr GROUP BY 1, 2 HAVING count(*) >= 5)
          SELECT b.w1, b.w2, b.n_xy,
            u1.n AS n_w1, u2.n AS n_w2,
            (CAST(b.n_xy AS DOUBLE) * ntot) / (u1.n * u2.n) AS lift
          FROM b
          JOIN uni u1 ON u1.w = b.w1
          JOIN uni u2 ON u2.w = b.w2
          CROSS JOIN tot
          ORDER BY lift DESC, b.w1, b.w2 LIMIT 50""",
    // the contingency table in exact integers; ranking by one IEEE
    // division — bit-exact on both engines
    "q176_chi2_tokens" ->
      s"""WITH base AS (
            SELECT doc_id, $toks AS tk, (lang = 'en') AS l
            FROM documents),
          tot AS (SELECT
              CAST(sum(CASE WHEN l THEN 1 ELSE 0 END) AS BIGINT) AS n1,
              CAST(sum(CASE WHEN NOT l THEN 1 ELSE 0 END) AS BIGINT) AS n0
            FROM base),
          pres AS (SELECT DISTINCT doc_id, unnest(tk) AS token, l
                   FROM base),
          ab AS (SELECT token,
              CAST(sum(CASE WHEN l THEN 1 ELSE 0 END) AS BIGINT) AS a,
              CAST(sum(CASE WHEN NOT l THEN 1 ELSE 0 END) AS BIGINT) AS b
            FROM pres GROUP BY 1)
          SELECT token, a AS n_pos, b AS n_neg,
            CAST((n1 + n0) * (a * (n0 - b) - b * (n1 - a))
              * (a * (n0 - b) - b * (n1 - a)) AS BIGINT) AS chi2_num,
            CAST((a + b) * ((n1 - a) + (n0 - b)) * n1 * n0 AS BIGINT)
              AS chi2_den
          FROM ab CROSS JOIN tot
          WHERE (a + b) * ((n1 - a) + (n0 - b)) * n1 * n0 <> 0
          ORDER BY CAST(chi2_num AS DOUBLE) / chi2_den DESC, token
          LIMIT 50""",
    // exact windowed watch-token counts; cms_ok is the pinned CMS
    // guarantee (the q130 bounded-anchor pattern applied per window)
    "q166_rolling_token_freq" ->
      s"""WITH $tokenWindowCtes,
          watch AS (
            SELECT unnest(['the', 'data', 'of', 'model']) AS token)
          SELECT w.wend AS bucket, wt.token,
            COALESCE(CAST(SUM(pb.n) AS BIGINT), 0) AS n_exact,
            TRUE AS cms_ok
          FROM wins w CROSS JOIN watch wt
          LEFT JOIN pb ON pb.token = wt.token
            AND pb.bucket BETWEEN w.wend - 3 AND w.wend
          GROUP BY w.wend, wt.token
          ORDER BY bucket, wt.token""",
    // exact per-token replay; mg_exact is bit-exact (k ≥ vocabulary ⇒
    // Misra–Gries never trims ⇒ counters are true counts) and
    // mg_bounds_ok is the pinned deterministic MG guarantee
    "q201_mg_heavy_hitters" ->
      s"""WITH t AS (SELECT unnest($toks) AS token FROM documents),
          c AS (SELECT token, CAST(count(*) AS BIGINT) AS n_exact
                FROM t GROUP BY token)
          SELECT token, n_exact, n_exact AS mg_exact,
            TRUE AS mg_bounds_ok
          FROM c ORDER BY token""",
    // the exact windowed count table — k ≥ vocabulary pins the merged
    // window summaries bit-exact (the q201 exact regime per window)
    "q205_rolling_heavy_hitters" ->
      s"""WITH $tokenWindowCtes
          SELECT w.wend AS bucket, pb.token,
            CAST(sum(pb.n) AS BIGINT) AS n_est
          FROM wins w JOIN pb
            ON pb.bucket BETWEEN w.wend - 3 AND w.wend
          GROUP BY 1, 2 ORDER BY bucket, token""",
    // the q136 scoring chain ranked to depth 10, the ±1/+5 neighbor
    // label set, and the micro-integer eval replayed exactly
    "q206_retrieval_eval" ->
      s"""WITH $bm25ScoreCtes,
          r AS (
            SELECT query_id, doc_id, row_number() OVER (
              PARTITION BY query_id ORDER BY score_pico DESC, doc_id)
              AS rank
            FROM sc),
          rk AS (SELECT * FROM r WHERE rank <= 10),
          lab AS (
            SELECT q.query_id, c.doc_id
            FROM (SELECT DISTINCT query_id FROM qt) q
            JOIN corpus c ON c.doc_id = q.query_id - 1
              OR c.doc_id = q.query_id + 1
              OR c.doc_id = q.query_id + 5),
          nrel AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
                   FROM lab GROUP BY 1),
          nrk AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_ranked
                  FROM rk GROUP BY 1),
          hit AS (
            SELECT rk.query_id, min(rk.rank) AS frr,
              CAST(sum(CASE WHEN rk.rank <= 5 THEN 1 ELSE 0 END)
                AS BIGINT) AS hits
            FROM rk JOIN lab ON lab.query_id = rk.query_id
              AND lab.doc_id = rk.doc_id
            GROUP BY 1),
          allq AS (SELECT query_id FROM nrk
                   UNION SELECT query_id FROM nrel)
          SELECT a.query_id,
            COALESCE(nrk.n_ranked, 0) AS n_ranked,
            COALESCE(nrel.n_rel, 0) AS n_rel,
            COALESCE(hit.hits, 0) AS hits_at_k,
            CAST(COALESCE(1000000 // hit.frr, 0) AS BIGINT) AS rr_micro,
            CAST(COALESCE(hit.hits, 0) * 1000000 // 5 AS BIGINT)
              AS prec_at_k_micro,
            CAST(CASE WHEN COALESCE(nrel.n_rel, 0) > 0
              THEN COALESCE(hit.hits, 0) * 1000000 // nrel.n_rel
              ELSE 0 END AS BIGINT) AS recall_micro
          FROM allq a
          LEFT JOIN nrk USING (query_id)
          LEFT JOIN nrel USING (query_id)
          LEFT JOIN hit USING (query_id)
          ORDER BY a.query_id""",
    // q87's micro-quantized element sums per shard, then the exact
    // common-denominator L1 between consecutive shard centroids
    "q208_embedding_drift" ->
      """WITH ex AS (
           SELECT vec_id // 50 AS b, p['pos'] AS pos, p['v'] AS v FROM (
             SELECT vec_id, unnest(list_transform(
               range(1, len(embedding) + 1),
               i -> {'pos': i - 1, 'v': embedding[i]})) AS p
             FROM embeddings WHERE embedding IS NOT NULL)),
         sums AS (
           SELECT b, pos,
             CAST(sum(CAST(round(CAST(v AS DOUBLE) * 1000000, 0)
               AS BIGINT)) AS BIGINT) AS s
           FROM ex GROUP BY 1, 2),
         cnt AS (
           SELECT vec_id // 50 AS b, CAST(count(*) AS BIGINT) AS n
           FROM embeddings WHERE embedding IS NOT NULL GROUP BY 1),
         pair AS (
           SELECT a.b,
             CAST(sum(abs(a.s * cb.n - bb.s * ca.n)) AS BIGINT) AS l1s,
             CAST(min(ca.n) AS BIGINT) AS n_a,
             CAST(min(cb.n) AS BIGINT) AS n_b
           FROM sums a
           JOIN sums bb ON bb.b = a.b + 1 AND bb.pos = a.pos
           JOIN cnt ca ON ca.b = a.b
           JOIN cnt cb ON cb.b = a.b + 1
           GROUP BY a.b)
         SELECT b AS bucket, b + 1 AS bucket_next, n_a, n_b,
           CAST(l1s // (n_a * n_b) AS BIGINT) AS l1_micro
         FROM pair ORDER BY bucket""",
    // rank() − 1 over the raw rows — semantically identical to the
    // histogram-cumulative construction (ties share a rank)
    "q213_percentile_rank" ->
      s"""WITH t AS (
            SELECT doc_id, lang, CAST(len($toks) AS BIGINT) AS n_tok
            FROM documents)
          SELECT doc_id, lang, n_tok,
            CAST((rank() OVER (PARTITION BY lang ORDER BY n_tok) - 1)
              * 1000000
              // (count(*) OVER (PARTITION BY lang)) AS BIGINT)
              AS pct_micro
          FROM t ORDER BY doc_id""",
    // each phrase replayed as an engine-portable boundary regex (ASCII
    // \w class spelled out — Java and RE2 agree on it): tokens joined by
    // separator runs, anchored by non-word-or-edge on both sides; regex
    // existence == the operator's distinct-(doc,phrase) semantics
    "q221_blocklist" ->
      s"""WITH phr(phrase, pat) AS (VALUES ${blocklistValuesSql}),
          hits AS (
            SELECT d.doc_id, p.phrase
            FROM documents d CROSS JOIN phr p
            WHERE regexp_matches(lower(d.text), p.pat)),
          agg AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocked,
              min(phrase) AS first_phrase
            FROM hits GROUP BY doc_id)
          SELECT d.doc_id, COALESCE(a.n_blocked, 0) AS n_blocked,
            a.first_phrase, COALESCE(a.n_blocked, 0) > 0 AS blocked
          FROM documents d LEFT JOIN agg a USING (doc_id)
          ORDER BY d.doc_id""",
    // the robots-meta chain replayed in RE2: meta-tag scan, boundary-
    // anchored robots-name filter, content-VALUE extraction (one
    // pattern per quote style), word-boundary directive tests — same
    // regexes, same flags
    // SoftDeDup: GROUP BY fingerprint + join-back, weight = exact
    // integer 10^6 // n; coalesce(text,'') replays the null contract
    "q236_soft_dedup" ->
      s"""WITH t AS (SELECT doc_id, ${nullInjected("")} AS text FROM documents),
          f AS (SELECT doc_id, md5(lower(array_to_string(
                  regexp_split_to_array(trim(coalesce(text, '')), '\\s+'),
                  ' '))) AS fp
                FROM t),
          c AS (SELECT fp, CAST(count(*) AS BIGINT) AS n_copies
                FROM f GROUP BY fp)
          SELECT doc_id, f.fp, n_copies,
            CAST(1000000 // n_copies AS BIGINT) AS weight_micro
          FROM f JOIN c USING (fp) ORDER BY doc_id""",

    // winnowing: the SAME (md5-hash || reverse-pos) string-min
    // recurrence through a plain SQL window — k=4 grams, w=5 windows,
    // rightmost minimum via the zero-padded reverse position
    "q237_winnowing" ->
      s"""WITH $winnowCtes
          SELECT DISTINCT doc_id,
            CAST(999999999 - CAST(substr(sel, 33, 9) AS BIGINT) AS INT) AS pos,
            substr(sel, 1, 32) AS fp
          FROM s ORDER BY doc_id, pos""",

    // winnowing pairs: q237's selection CTEs + common-fp elimination +
    // the fp self-join, distinct shared fingerprints counted
    "q239_winnowing_pairs" ->
      s"""WITH $winnowCtes,
          fps AS (SELECT DISTINCT doc_id, substr(sel, 1, 32) AS fp FROM s),
          keep AS (SELECT fp FROM fps GROUP BY fp
                   HAVING count(*) >= 2 AND count(*) <= 50),
          sh AS (SELECT fps.doc_id, fps.fp FROM fps JOIN keep USING (fp))
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            CAST(count(*) AS BIGINT) AS n_shared
          FROM sh a JOIN sh b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING count(*) >= 2
          ORDER BY id_a, id_b""",

    // lexical diversity: per-type counts via GROUP BY (a deliberately
    // different mechanism from the scan-side sorted-run fold), exact
    // integer // division, NULL ratios for zero-token docs
    "q238_lexical_diversity" ->
      s"""WITH t AS (SELECT doc_id, ${nullInjected("")} AS text FROM documents),
          tk AS (SELECT doc_id, list_filter(
                   regexp_split_to_array(trim(coalesce(text, '')), '\\s+'),
                   x -> len(x) > 0) AS toks
                 FROM t),
          x AS (SELECT doc_id, unnest(toks) AS w FROM tk),
          c AS (SELECT doc_id, w, count(*) AS cnt FROM x GROUP BY doc_id, w),
          agg AS (SELECT doc_id, CAST(sum(cnt * cnt) AS BIGINT) AS sumsq,
                    CAST(count(*) AS BIGINT) AS types
                  FROM c GROUP BY doc_id),
          nn AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n FROM tk)
          SELECT nn.doc_id, n AS n_tokens,
            coalesce(types, 0) AS n_types,
            CASE WHEN n > 0
              THEN (1000000 * coalesce(types, 0)) // n END AS ttr_micro,
            CASE WHEN n > 0
              THEN 1000000 - (1000000 * coalesce(sumsq, 0)) // (n * n)
              END AS simpson_micro
          FROM nn LEFT JOIN agg USING (doc_id) ORDER BY nn.doc_id""",

    "q232_robots_meta" ->
      """WITH h AS (SELECT doc_id, concat('<html><head>',
            CASE doc_id % 6
              WHEN 0 THEN '<meta name="robots" content="noindex, nofollow">'
              WHEN 1 THEN '<META NAME=''ROBOTS'' CONTENT=''NOFOLLOW''>'
              WHEN 2 THEN '<meta name="description" content="noindex noarchive">'
              WHEN 3 THEN '<meta name="robots" content="all" data-note="noindex">'
              WHEN 4 THEN '<meta data-name="robots" content="noindex">'
              ELSE '<meta name="robots" content="index, follow">' END,
            '</head><body><p>', text, '</p></body></html>') AS html
          FROM documents),
          t AS (SELECT doc_id,
                  regexp_extract_all(html, '(?i)<meta\b[^>]*>') AS tags
                FROM h),
          r AS (SELECT doc_id, list_filter(tags, x -> regexp_matches(x,
                  '(?i)(^|[^\w-])name\s*=\s*["'']?robots\b')) AS rt
                FROM t),
          c AS (SELECT doc_id, list_transform(rt, x -> concat(
                  regexp_extract(x,
                    '(?i)(^|[^\w-])content\s*=\s*"([^"]*)"', 2),
                  regexp_extract(x,
                    '(?i)(^|[^\w-])content\s*=\s*''([^'']*)''', 2),
                  regexp_extract(x,
                    '(?i)(^|[^\w-])content\s*=\s*([^\s"''>][^\s>]*)', 2)))
                  AS cv
                FROM r)
          SELECT doc_id,
            len(list_filter(cv, v -> regexp_matches(v, '(?i)\bnoindex\b'))) > 0
              AS noindex,
            len(list_filter(cv, v -> regexp_matches(v, '(?i)\bnofollow\b'))) > 0
              AS nofollow,
            len(list_filter(cv, v -> regexp_matches(v, '(?i)\bnoarchive\b'))) > 0
              AS noarchive
          FROM c ORDER BY doc_id""",
    // exact-integer counts, then the grade in the SAME fixed IEEE order
    // as the operator: 0.39·(W/S) + 11.8·(Syl/W) − 15.59
    "q233_readability" ->
      """WITH p AS (SELECT doc_id,
            regexp_replace(text, 'sort', 'sort.', 'g') AS t FROM documents),
          tok AS (SELECT doc_id, t,
            regexp_split_to_array(trim(t), '\s+') AS toks FROM p),
          c AS (SELECT doc_id,
            CAST(len(toks) AS BIGINT) AS w,
            CAST(greatest(len(regexp_extract_all(t, '[.!?]+')), 1) AS BIGINT)
              AS s,
            CAST(list_sum(list_transform(toks, x ->
              greatest(len(regexp_extract_all(lower(x), '[aeiouy]+')), 1)))
              AS BIGINT) AS syl
          FROM tok)
          SELECT doc_id, w AS n_words, s AS n_sentences, syl AS n_syllables,
            0.39 * (CAST(w AS DOUBLE) / s)
              + 11.8 * (CAST(syl AS DOUBLE) / w) - 15.59 AS fk_grade
          FROM c ORDER BY doc_id""",
    // the full extraction chain replayed in RE2 from the SAME pattern
    // constants and page template the operator uses: page synthesis,
    // invisible-content removal, block split, per-block word/anchor
    // stats, integer per-mille link gate, entity decode, newline join
    "q222_html_extract" ->
      s"""WITH page AS (
            SELECT doc_id,
              ${sqlQuote(HtmlFixture.head)} || lang ||
              ${sqlQuote(HtmlFixture.mid)} || text ||
              ${sqlQuote(HtmlFixture.afterText)} ||
              CASE WHEN doc_id % 3 = 0 THEN ${sqlQuote(HtmlFixture.soup)}
                   WHEN doc_id % 3 = 1 THEN ${sqlQuote(HtmlFixture.quote)}
                   ELSE '' END ||
              ${sqlQuote(HtmlFixture.tail)} AS h
            FROM documents),
          vis AS (
            SELECT doc_id, ${htmlMarkSql(
              """regexp_replace(regexp_replace(regexp_replace(h,
                '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                '(?s)<!--.*?-->', ' ', 'g')""")} AS v
            FROM page),
          st AS (
            SELECT doc_id, list_transform(
              regexp_split_to_array(v,
                ${sqlQuote(graft.text.HtmlOps.BlockTagPattern)}),
              b -> {'ws': ${htmlWordsSql("b")},
                    'na': len(regexp_split_to_array(b,
                      ${sqlQuote(graft.text.HtmlOps.AnchorPattern)})) - 1})
              AS cs
            FROM vis)
          SELECT doc_id,
            array_to_string(list_transform(list_filter(cs,
                c -> len(c['ws']) >= 3
                  AND c['na'] * 1000 <= 500 * len(c['ws'])),
              c -> array_to_string(c['ws'], ' ')), chr(10)) AS extracted
          FROM st ORDER BY doc_id""",
    // the q82 paragraph-CTE skeleton with a GROUP dimension: presence
    // per (source, paragraph, doc), bucket sizes, the strict > per-mille
    // gate with the minDocs exemption, then the same keep/reassemble
    "q224_template_strip" ->
      s"""WITH ${templateCtes("doc_id % 2 = 0")},
          flagged AS (
            SELECT p.doc_id, p.pos, p.par, (t.par IS NULL) AS keep
            FROM paras p LEFT JOIN tpl t
              ON p.source = t.source AND p.par = t.par),
          ${reassembledSql("par", "chr(10) || chr(10)", "documents d")}
          ORDER BY d.doc_id""",

    // combined history+batch counts equal FULL-corpus counts (even/odd
    // partition the table), so the oracle thresholds over everything
    // and re-assembles only the odd half
    "q226_template_strip_inc" ->
      s"""WITH ${templateCtes("doc_id % 3 <> 0")},
          flagged AS (
            SELECT p.doc_id, p.pos, p.par, (t.par IS NULL) AS keep
            FROM paras p LEFT JOIN tpl t
              ON p.source = t.source AND p.par = t.par
            WHERE p.doc_id % 2 = 1),
          ${reassembledSql("par", "chr(10) || chr(10)", "documents d")}
          WHERE d.doc_id % 2 = 1
          ORDER BY d.doc_id""",

    // counts via RE2 non-overlapping extract_all on the SAME pattern
    // constants (the \\x{..} escape form is the Java∩RE2 dialect);
    // replacement chars by length-diff; the rate in integer //
    "q223_mojibake" ->
      s"""WITH t AS (
            SELECT doc_id, text ||
              CASE WHEN doc_id % 7 = 0 THEN ${sqlQuote(mojibakeTail)}
                   ELSE '' END AS tt
            FROM documents),
          c AS (
            SELECT doc_id,
              CAST(len(regexp_extract_all(tt,
                ${sqlQuote(graft.text.TextOps.MojibakeLatin1)})) AS BIGINT)
                AS n_latin1,
              CAST(len(regexp_extract_all(tt,
                ${sqlQuote(graft.text.TextOps.MojibakeCp1252)})) AS BIGINT)
                AS n_cp1252,
              CAST(length(tt) - length(replace(tt, chr(65533), ''))
                AS BIGINT) AS n_fffd,
              length(tt) AS nc
            FROM t)
          SELECT doc_id, n_latin1, n_cp1252, n_fffd,
            (n_latin1 + n_cp1252 + n_fffd) * 10000 // greatest(nc, 1)
              AS per_10k,
            ((n_latin1 + n_cp1252 + n_fffd) * 10000 // greatest(nc, 1))
              >= 10 AS suspect
          FROM c ORDER BY doc_id""",
    // micro-quantized per-label sums, then the SHIFTED floor-division
    // deviation (non-negative numerator ⇒ floor == Spark's truncate)
    // squared and summed per vector
    "q210_embedding_outliers" ->
      """WITH ex AS (
           SELECT label, vec_id, p['pos'] AS pos,
             CAST(round(CAST(p['v'] AS DOUBLE) * 1000000, 0) AS BIGINT)
               AS vm
           FROM (SELECT label, vec_id, unnest(list_transform(
                   range(1, len(embedding) + 1),
                   i -> {'pos': i - 1, 'v': embedding[i]})) AS p
                 FROM embeddings WHERE embedding IS NOT NULL)),
         sums AS (SELECT label, pos, CAST(sum(vm) AS BIGINT) AS s
                  FROM ex GROUP BY 1, 2),
         cnt AS (SELECT label, CAST(count(*) AS BIGINT) AS n
                 FROM embeddings WHERE embedding IS NOT NULL GROUP BY 1),
         d AS (SELECT ex.label, ex.vec_id, cnt.n,
                 ((cnt.n * ex.vm - sums.s) + 10000000 * cnt.n) // cnt.n
                   - 10000000 AS dd
               FROM ex
               JOIN sums ON sums.label = ex.label AND sums.pos = ex.pos
               JOIN cnt ON cnt.label = ex.label),
         sc AS (SELECT label, vec_id, CAST(min(n) AS BIGINT) AS n_vectors,
                  CAST(sum(dd * dd) AS BIGINT) AS d2_micro2
                FROM d GROUP BY 1, 2)
         SELECT label, vec_id, n_vectors, d2_micro2,
           d2_micro2 > 1030000000000 AS outlier
         FROM sc ORDER BY vec_id"""
  )

  /** BM25 odds-idf term weights in integer fixed point (k1 = 1.2, b =
    * 0.75; `//` == Spark's `div` on these non-negative operands): per
    * (query, doc, token) `w.w_pico` over CTEs `corpus(doc_id, tk)` and
    * `qt(query_id, token)`. */
  private def bm25WeightCtes: String =
    s"""stats AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
            CAST(sum(len(tk)) AS BIGINT) AS s FROM corpus),
        dl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM corpus),
        post AS (
          SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, unnest(tk) AS token FROM corpus)
          GROUP BY 1, 2),
        dfreq AS (
          SELECT token, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY 1),
        w AS (
          SELECT qt.query_id, post.doc_id,
            ((22000000000 * tf)
              // (10000 * tf + 3000 + 9 * ((1000 * dl.dl * stats.n) // stats.s)))
            * greatest(
                (1000000 * (2 * stats.n - 2 * dfreq.df + 1))
                  // (2 * dfreq.df + 1), 0) AS w_pico
          FROM qt
          JOIN post USING (token)
          JOIN dfreq USING (token)
          JOIN dl ON post.doc_id = dl.doc_id
          CROSS JOIN stats)"""

  /** The shared BM25 scoring chain (through per-(query, doc) pico
    * scores in CTE `sc`) — q136/q137's replay and q206's eval base. */
  private def bm25ScoreCtes: String =
    s"""corpus AS (
          SELECT doc_id, $toks AS tk FROM documents WHERE doc_id % 2 = 0),
        qt AS (
          SELECT DISTINCT doc_id AS query_id, unnest(tk[1:5]) AS token
          FROM (SELECT doc_id, $toks AS tk FROM documents
                WHERE doc_id % 10 = 1)),
        $bm25WeightCtes,
        sc AS (
          SELECT query_id, doc_id, CAST(sum(w_pico) AS BIGINT) AS score_pico
          FROM w GROUP BY 1, 2)"""

  /** q136/q137's shared replay — the prebuilt path must emit the exact
    * same ranked lists as the inline build. */
  private def bm25OddsSql: String =
    s"""WITH $bm25ScoreCtes,
        r AS (
          SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY score_pico DESC, doc_id) AS rk
          FROM sc)
        SELECT query_id, doc_id, score_pico FROM r WHERE rk <= 3
        ORDER BY query_id, doc_id"""

  /** q124/q125's messy-url build as DuckDB SQL — must mirror
    * [[messyUrl]] exactly. */
  private def messyUrlSql: String =
    """concat(
      CASE doc_id % 3 WHEN 0 THEN 'HTTP://WWW.'
        WHEN 1 THEN 'https://www.' ELSE 'http://' END,
      upper(source), '.example.com',
      CASE doc_id % 4 WHEN 0 THEN ':80' WHEN 1 THEN ':443' ELSE '' END,
      '/Articles/', CAST(doc_id % 50 AS VARCHAR),
      CASE doc_id % 2 WHEN 0 THEN '/?utm_source=feed&b=2&a=1&gclid=XYZ'
        ELSE '?a=1&b=2' END,
      CASE doc_id % 5 WHEN 0 THEN '#section-2' ELSE '' END)"""

  /** q126's suffixed text as DuckDB SQL — must mirror
    * [[multiScriptText]] exactly. */
  private def multiScriptTextSql: String =
    """concat(text,
      CASE WHEN lang = 'zh' THEN ' 中文测试'
        WHEN doc_id % 7 = 0 THEN ' привет мир'
        WHEN doc_id % 7 = 1 THEN ' مرحبا'
        ELSE '' END)"""
}
