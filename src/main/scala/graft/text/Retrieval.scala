package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sparse lexical retrieval (BM25) over the whitespace-token stream the
  * rest of graft.text shares — the ranked-search capability a
  * training-data pipeline uses for retrieval-based decontamination,
  * targeted data selection, and eval-suite neighbor audits. Extension
  * beyond the reference (its text processing stops at per-field
  * aggregation, e.g. views/LongitudinalView.scala's scalar rollups);
  * the `documents` table exists for this family.
  *
  * Two scorers, one topology:
  *
  *  - [[bm25OddsScores]] — the ORACLE-EXACT variant: Robertson
  *    tf-normalization (k1 = 1.2, b = 0.75 as exact rationals 6/5 and
  *    3/4) times the raw odds idf `(N − df + ½)/(df + ½)`, floored at
  *    zero, evaluated ENTIRELY in 64-bit integer arithmetic (micro
  *    fixed-point, sequential `div`s — identical on Spark and any ANSI
  *    engine, no `ln`, no doubles, no rounding-mode coupling). Ranking
  *    agrees with classic BM25 wherever one term dominates or df spread
  *    is moderate; it is a DIFFERENT (log-free) scoring function and is
  *    documented as such — the spec pins top-k agreement with the
  *    ln-idf scorer on the fixture corpus.
  *  - [[bm25ScoresPrebuilt]] — the ln-idf scorer: Lucene-style
  *    `ln(1 + odds)` idf in doubles (always positive, no clamp cliff).
  *    Not oracle-gated (transcendental replay across engines is a
  *    documented flake risk — the round-7 ccnet lesson); gated instead
  *    by ScalaTest brute-force model checks and rank agreement with the
  *    exact variant.
  *
  * Integer envelope of the exact variant: per-term weight is
  * `tfn_micro · idf_micro` with `tfn_micro ≤ 2.2e6` and
  * `idf_micro ≤ 2e6·N`, so scores stay inside int64 for corpora up to
  * ~2e6 docs — exactly the verification context. The ln-idf scorer
  * has no such bound.
  *
  * Scale shape (both scorers): the corpus pays ONE tokenize+explode
  * pass into `(token, doc_id, tf)` postings plus a vocab-sized `df`
  * rollup, doc-sized `dl` and a 1-row `(n, s)` stats aggregate — the
  * persistable index
  * ([[bm25Index]]; recurring retrieval rides [[bm25ScoresPrebuilt]]
  * and never re-tokenizes the corpus, the q75/q115 prebuilt pattern).
  * The probe side is query-term-sized (AQE broadcasts it into the
  * postings join from runtime sizes — no forced hint, so a
  * corpus-sized query table degrades to a shuffle join instead of an
  * OOM); candidate volume is Σ_t df(t). Scoring is one hash aggregate keyed
  * `(query_id, doc_id)`; top-k is a window per query key — bounded by
  * that query's candidate count, never a global window.
  */
object Retrieval {

  /** Positive-operand integer division, evaluated as SQL `div` — floor
    * == truncation for the non-negative quantities used here, byte-for-
    * byte replayable as `//` in DuckDB. */
  private def idiv(a: Column, b: Column): Column =
    call_function("div", a, b)

  /** The persistable corpus index: `(postings(token, doc_id, tf),
    * dfreq(token, df), dl(doc_id, dl), stats(n, s))`. Postings come
    * from one explode+groupBy pass (map-side combined); dfreq is the
    * vocab-sized rollup of that same pass — persisted alongside so a
    * recurring query suite never re-scans corpus-sized postings for
    * term statistics. At scale write postings (and dfreq) bucketed by
    * `token` (`BatchView.writeBucketed`) so every later probe join
    * plans exchange-free on the corpus side. */
  def bm25Index(docs: DataFrame, textCol: String, idCol: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // id-hash spread before tokenization (TextOps.spreadByKey, r17): the
    // explode AND the postings aggregate's map-side partials otherwise
    // run on however few splits the corpus file has (1 at fixture scale);
    // size-guarded no-op on a wide corpus
    val toks = TextOps.spreadByKey(
        docs.select(col(idCol).as("doc_id"), col(textCol)), col("doc_id"))
      .select(col("doc_id"), explode(TextOps.tokens(col(textCol))).as("token"))
    val postings = toks.groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = postings.groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
    val dl = docs.select(col(idCol).as("doc_id"),
      TextOps.tokenCount(col(textCol)).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("s"))
    (postings, dfreq, dl, stats)
  }

  /** Merge two corpus indexes — the daily-ingest path: yesterday's
    * persisted artifacts + today's batch index, NO raw-text re-scan.
    * Doc sets must be disjoint (the incremental contract everywhere in
    * graft): postings and dl then union WITHOUT re-aggregation — at
    * scale, append today's postings into the same token-bucketed table
    * and the layout survives — while df (vocab-sized) and the 1-row
    * stats re-aggregate cheaply. Spec-pinned identical to rebuilding
    * over the concatenated corpus. */
  def bm25IndexMerge(a: (DataFrame, DataFrame, DataFrame, DataFrame),
                     b: (DataFrame, DataFrame, DataFrame, DataFrame))
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (aPost, aDf, aDl, aStats) = a
    val (bPost, bDf, bDl, bStats) = b
    (aPost.unionByName(bPost),
      aDf.unionByName(bDf).groupBy(col("token")).agg(sum(col("df")).as("df")),
      aDl.unionByName(bDl),
      aStats.unionByName(bStats).agg(sum(col("n")).as("n"), sum(col("s")).as("s")))
  }

  /** Distinct query terms `(query_id, token)` from a query table —
    * standard short-query BM25 (query-side tf ignored). */
  def queryTerms(queries: DataFrame, textCol: String, idCol: String): DataFrame =
    queries.select(col(idCol).as("query_id"),
        explode(TextOps.tokens(col(textCol))).as("token"))
      .distinct()

  /** Stopword elision for the scale path: drop query terms whose df
    * exceeds `maxDfFrac · N` BEFORE the postings join. Exact BM25 pays
    * Σ_t df(t) candidate rows per query term — at 10⁹ docs one "the"
    * is 10⁹ postings, and its near-zero idf cannot change any top-k
    * that matters. This is the standard bounded-recall trade (Lucene's
    * stopword/maxClauseCount territory, short of full WAND): scores of
    * surviving docs drop by at most Σ_elided idf·tfn ≈ 0, but docs
    * matched ONLY by elided terms vanish rather than scoring ≈ 0 —
    * which is why the oracle-gated queries run unpruned. Terms-sized
    * work: dfreq join + broadcast stats, no corpus touch. */
  def elideHighDf(qTerms: DataFrame, dfreq: DataFrame, stats: DataFrame,
                  maxDfFrac: Double): DataFrame =
    qTerms.join(dfreq, Seq("token"))
      .crossJoin(broadcast(stats))
      .where(col("df").cast("double") <= lit(maxDfFrac) * col("n").cast("double"))
      .select(col("query_id"), col("token"))

  /** Exact-integer odds-idf BM25 over prebuilt index artifacts:
    * `(query_id, doc_id, score_pico)`, one row per query × matched doc.
    *
    * Per matched (query term, doc) posting, all integer:
    * {{{
    * r_milli    = (1000·dl·N) div S                     // dl/avgdl, milli
    * tfn_micro  = (10⁶·22000·tf) div (10⁴·tf + 3000 + 9·r_milli)
    * idf_micro  = max((10⁶·(2N − 2df + 1)) div (2df + 1), 0)
    * w_pico     = tfn_micro · idf_micro                 // 10⁻⁶·10⁻⁶ = pico
    * }}}
    * The dl/avgdl ratio is QUANTIZED to milli before entering the
    * denominator — part of the operator's definition, applied
    * identically in the SQL replay, so both engines divide the same
    * integers in the same order. */
  /** The per-(token, doc) exact-integer weight stream — the shared
    * corpus side of every odds-idf entry point. Computing weights on the
    * postings stream FIRST means the query fan-out join (output
    * Σ_t df(t)·q(t) rows, the expensive part of exact BM25) carries one
    * precomputed long straight into the hash aggregate instead of
    * re-deriving the arithmetic per candidate. */
  private def oddsPostingWeights(postings: DataFrame, dfreq: DataFrame,
                                 dl: DataFrame, stats: DataFrame): DataFrame = {
    val rMilli = idiv(lit(1000L) * col("dl") * col("n"), col("s"))
    val tfnMicro = idiv(lit(22000000000L) * col("tf"),
      lit(10000L) * col("tf") + lit(3000L) + lit(9L) * rMilli)
    val idfMicro = greatest(
      idiv(lit(1000000L) * (lit(2L) * col("n") - lit(2L) * col("df") + 1L),
        lit(2L) * col("df") + 1L),
      lit(0L))
    postings
      .join(dfreq, Seq("token"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("token"), col("doc_id"),
        (tfnMicro * idfMicro).as("w_pico"))
  }

  /** No broadcast hint on the query side: probe suites are small and AQE
    * broadcasts them from runtime sizes; a FORCED hint would OOM the
    * moment someone feeds a corpus-sized query table. */
  def bm25OddsScoresPrebuilt(qTerms: DataFrame, postings: DataFrame,
                             dfreq: DataFrame, dl: DataFrame,
                             stats: DataFrame): DataFrame =
    qTerms
      .join(oddsPostingWeights(postings, dfreq, dl, stats), Seq("token"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("w_pico")).as("score_pico"))

  /** [[bm25OddsScoresPrebuilt]] with the index built inline — the
    * one-shot form. */
  def bm25OddsScores(queries: DataFrame, corpus: DataFrame,
                     textCol: String, idCol: String): DataFrame = {
    val (postings, dfreq, dl, stats) = bm25Index(corpus, textCol, idCol)
    bm25OddsScoresPrebuilt(queryTerms(queries, textCol, idCol),
      postings, dfreq, dl, stats)
  }

  /** Deterministic top-k per query over any `(query_id, doc_id, score)`
    * frame: rank by score descending, ties to the smaller doc_id. The
    * window partitions on the query key — each partition is one query's
    * candidate list, never the corpus. */
  def topKPerQuery(scores: DataFrame, scoreCol: String, k: Int): DataFrame =
    scores
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col(scoreCol).desc, col("doc_id"))))
      .where(col("__rk") <= k)
      .drop("__rk")

  /** 1-based per-query rank under a deterministic order (pass explicit
    * tie-breaks — ranks feed [[rrfFuse]], so order IS the semantics).
    * Window partitions on the query key, bounded by that query's
    * candidate list. */
  def rankPerQuery(scores: DataFrame, order: Seq[Column]): DataFrame =
    scores.withColumn("rank", row_number().over(
      Window.partitionBy(col("query_id")).orderBy(order: _*)))

  /** Reciprocal-rank fusion (Cormack et al. 2009) of K rankings —
    * the standard hybrid-retrieval combiner (lexical arm + dense arm):
    * `(query_id, doc_id, rrf_pico, n_arms)` with
    * `rrf_pico = Σ_arms ⌊10¹² / (k0 + rank)⌋` — exact integers, so the
    * fusion replays on any engine regardless of how each arm was
    * scored. Inputs need (query_id, doc_id, rank); arms are
    * candidate-bounded (each ranking is already top-n per query), so
    * the union + one hash aggregate touch probe-sized data only. */
  def rrfFuse(rankings: Seq[DataFrame], k0: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking to fuse")
    rankings
      .map(_.select(col("query_id"), col("doc_id"), col("rank")))
      .reduce(_.unionByName(_))
      .select(col("query_id"), col("doc_id"),
        idiv(lit(1000000000000L), lit(k0.toLong) + col("rank")).as("w_pico"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("w_pico")).as("rrf_pico"),
        count(lit(1)).as("n_arms"))
  }

  /** Production scorer: Lucene BM25 — `ln(1 + (N − df + ½)/(df + ½))`
    * idf (strictly positive, no clamp) with the same k1 = 1.2 / b = 0.75
    * tf normalization in doubles. Same joins, same aggregate — only the
    * per-posting arithmetic differs. */
  def bm25ScoresPrebuilt(qTerms: DataFrame, postings: DataFrame,
                         dfreq: DataFrame, dl: DataFrame,
                         stats: DataFrame): DataFrame = {
    val avgdl = col("s").cast("double") / col("n")
    val tfn = col("tf") * lit(2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl))
    val idf = log(lit(1.0) +
      (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    // same posting-side precompute as the exact variant: weights on the
    // corpus stream, the fan-out join carries one double; no broadcast
    // hint on the query side (AQE broadcasts small probe suites from
    // runtime sizes — a forced hint would OOM on a corpus-sized one)
    val postW = postings
      .join(dfreq, Seq("token"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("token"), col("doc_id"), (tfn * idf).as("w"))
    qTerms
      .join(postW, Seq("token"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("w")).as("score"))
  }

  /** One-shot ln-idf BM25 top-k: `(query_id, doc_id, score)`. */
  def bm25TopK(queries: DataFrame, corpus: DataFrame,
               textCol: String, idCol: String, k: Int): DataFrame = {
    val (postings, dfreq, dl, stats) = bm25Index(corpus, textCol, idCol)
    topKPerQuery(
      bm25ScoresPrebuilt(queryTerms(queries, textCol, idCol),
        postings, dfreq, dl, stats),
      "score", k)
  }

  /** Per-term weight upper bound `(token, max_w_pico)` — one more
    * vocab-sized aggregate over the posting-weight stream: it is what
    * lets [[bm25OddsTopKPruned]] skip the Zipf head's postings for top-k
    * queries. */
  def bm25MaxWeights(postings: DataFrame, dfreq: DataFrame, dl: DataFrame,
                     stats: DataFrame): DataFrame =
    oddsPostingWeights(postings, dfreq, dl, stats)
      .groupBy(col("token"))
      .agg(max(col("w_pico")).as("max_w_pico"))

  /** MaxScore-style pruned exact top-k (the WAND family's two-level
    * idea, reshaped for a batch engine): instead of scoring every
    * posting of every query term — Σ_t df(t) candidate rows, which at
    * web scale means one stopword = 10⁹ postings — split each query's
    * terms into ESSENTIAL (df ≤ `essentialDfFrac`·N, the discriminative
    * tail) and the rest, and only essential postings GENERATE
    * candidates. Candidates are then fully scored (all their matched
    * terms, common ones included), so candidate scores are exactly the
    * unpruned scores.
    *
    * Exactness is per-query and SELF-VERIFYING, using the per-term
    * upper bounds of [[bm25MaxWeights]]: a doc matched ONLY by
    * non-essential terms scores at most `ub_rest = Σ_{t non-essential}
    * max_w(t)`, so when the query's k-th candidate score θ exceeds
    * ub_rest (strictly — integer scores make the tie-break clean), the
    * candidate top-k IS the unpruned top-k. Queries where the bound
    * does not close (θ ≤ ub_rest, or fewer than k candidates) FALL BACK
    * to the unpruned fan-out for just those queries — the result is
    * therefore ALWAYS exact, and the pruning is purely a work saver
    * (oracle-gated against the unpruned SQL replay for that reason).
    *
    * Scale shape: the decision frame (query terms × df × max_w) is
    * probe-sized; candidate volume is Σ_{t essential} df(t) — bounded
    * by construction since essential terms are rare; the rescore join
    * fans each candidate doc out to its OWN postings (doc-length-
    * bounded), never to the full term posting lists. The candidate
    * top-k is local-checkpointed: it feeds both the verdict and the
    * output, and it is probe-sized. */
  def bm25OddsTopKPruned(qTerms: DataFrame, postings: DataFrame,
                         dfreq: DataFrame, dl: DataFrame, stats: DataFrame,
                         k: Int, essentialDfFrac: Double = 0.05): DataFrame =
    bm25OddsTopKPrunedWithVerdict(qTerms, postings, dfreq, dl, stats,
      k, essentialDfFrac)._1

  /** [[bm25OddsTopKPruned]] plus the per-query pruning verdict
    * `(query_id, n_top, theta, ub_rest, exact_ok)` — the spec hook that
    * proves which queries were answered from the pruned path.
    *
    * EAGER: building the frame runs a Spark action — the verdict is
    * materialized and counted (`limit(1).count`) to decide whether the
    * unpruned fallback is planned at all. A caller that composes the
    * result but never executes it still pays the verdict pipeline, so
    * plan-only and streaming callers must not assume a lazy build. */
  private[graft] def bm25OddsTopKPrunedWithVerdict(
      qTerms: DataFrame, postings: DataFrame, dfreq: DataFrame,
      dl: DataFrame, stats: DataFrame, k: Int,
      essentialDfFrac: Double): (DataFrame, DataFrame) = {
    require(k >= 1, s"k must be positive: $k")
    // lazily checkpointed (r17): the weight stream feeds BOTH the
    // candidate rescore and the unpruned fallback, and the three-join
    // weight derivation would otherwise re-execute per consumer (the
    // multi-consumer localCheckpoint discipline of the shingle indexes)
    val postW = oddsPostingWeights(postings, dfreq, dl, stats)
      .localCheckpoint(eager = false)
    val maxw = bm25MaxWeights(postings, dfreq, dl, stats)
    // probe-sized decision frame: each query term with its df and bound
    val qt = qTerms
      .join(dfreq, Seq("token"))
      .join(maxw, Seq("token"))
      .crossJoin(broadcast(stats))
      .withColumn("essential",
        col("df").cast("double") <= lit(essentialDfFrac) * col("n").cast("double"))
    val qBounds = qt.groupBy(col("query_id"))
      .agg(sum(when(!col("essential"), col("max_w_pico")).otherwise(lit(0L)))
        .as("ub_rest"))
    // candidate generation: essential postings only — the work saving
    val candidates = qt.where(col("essential"))
      .select(col("query_id"), col("token"))
      .join(postings.select(col("token"), col("doc_id")), Seq("token"))
      .select(col("query_id"), col("doc_id"))
      .distinct()
    // full rescore of candidates: fan each candidate doc out to its own
    // postings, keep the query's terms — candidate scores are EXACT
    val candScores = candidates
      .join(postW, Seq("doc_id"))
      .join(qTerms, Seq("query_id", "token"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("w_pico")).as("score_pico"))
    val topCand = topKPerQuery(candScores, "score_pico", k)
      .localCheckpoint(eager = false) // probe-sized; feeds verdict AND output
    // fresh-aliased key on the verdict branch: topCand (checkpointed)
    // and the live qTerms/qt branch carry the SAME query_id attribute,
    // and a semi-join between them would be an unresolvable self-join
    // checkpointed (r18): the verdict is probe-sized by contract and now
    // feeds THREE consumers — the fallback gate below, the pruned part's
    // semi-join, and the returned verdict frame — so the qt/topCand
    // derivation executes once instead of per consumer
    val verdict = qBounds
      .join(topCand.groupBy(col("query_id").as("__vq"))
          .agg(count(lit(1)).as("n_top"), min(col("score_pico")).as("theta")),
        col("query_id") === col("__vq"), "left")
      .drop("__vq")
      .withColumn("exact_ok",
        col("ub_rest") === 0L ||
          (coalesce(col("n_top"), lit(0L)) >= k &&
            coalesce(col("theta"), lit(Long.MinValue)) > col("ub_rest")))
      .localCheckpoint(eager = false)
    def queryIds(cond: Column): DataFrame =
      verdict.where(cond).select(col("query_id").as("__vq"))
    val prunedPart = topCand
      .join(queryIds(col("exact_ok")), col("query_id") === col("__vq"),
        "left_semi")
    // ONE bounded driver scalar (≤ |queries| rows — the probe contract;
    // the tokenBudgetSample bounded-collect discipline) gates the
    // fallback: when every query's bound closes — the common case for a
    // well-chosen essentialDfFrac — the unpruned rescore is not PLANNED
    // at all, instead of executing as an empty semi-join chain whose
    // postings-wide exchange still ran as an AQE stage. Rows out are
    // identical: an empty fallback contributed nothing to the union.
    val anyOpen = verdict.where(!col("exact_ok")).limit(1).count() > 0L
    // self-repair: queries whose bound did not close rerun unpruned —
    // exactness never depends on the frac chosen
    val result =
      if (!anyOpen) prunedPart
      else prunedPart.unionByName(topKPerQuery(
        qTerms
          .join(queryIds(!col("exact_ok")), col("query_id") === col("__vq"),
            "left_semi")
          .join(postW, Seq("token"))
          .groupBy(col("query_id"), col("doc_id"))
          .agg(sum(col("w_pico")).as("score_pico")),
        "score_pico", k))
    (result, verdict)
  }

  /** Exact PHRASE search over positional postings — the retrieval
    * operator BM25's bag-of-words scoring cannot express ("sort merge"
    * as a unit, not two terms): returns `(idCol, n_matches)` for every
    * document containing the token sequence `phrase` contiguously
    * (tokenizer = [[graft.text.TextOps.tokens]], the corpus-wide
    * whitespace contract), with the exact occurrence count.
    *
    * The classic positional-index shape, batch-formed: each posting of
    * a phrase TERM votes for the phrase start it would imply
    * (`anchor = pos − role`), and a start with ALL `m` distinct roles
    * present is a match. A term repeated in the phrase fans its
    * postings to every role it plays — `countDistinct(role)` (not
    * `count`) is what makes "batch batch" need two positions. Scale
    * shape: the token stream filters to the m phrase terms BEFORE any
    * exchange (broadcast role list — the watchlist discipline), so the
    * shuffle carries only phrase-term postings; one `(doc, anchor)`
    * aggregate + one per-doc rollup, both partial-aggregable. A
    * persisted positional postings table `(token, doc, pos)` serves
    * the same plan without re-tokenizing — the phrase side of the
    * [[RetrievalIndexJob]] artifact family. */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
                   phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "the phrase needs at least one token")
    require(phrase.forall(w => w != null && w.nonEmpty && !w.exists(_.isWhitespace)),
      s"phrase tokens must be single non-empty tokens: $phrase")
    val spark = docs.sparkSession
    import spark.implicits._
    val m = phrase.length
    val roles = phrase.zipWithIndex.map { case (w, i) => (w, i.toLong) }
      .toDF("__w", "__r")
    docs
      .select(col(idCol),
        posexplode(graft.text.TextOps.tokens(col(textCol)))
          .as(Seq("__pos", "__tok")))
      .join(broadcast(roles), col("__tok") === col("__w"))
      .select(col(idCol), (col("__pos") - col("__r")).as("__anchor"),
        col("__r"))
      .groupBy(col(idCol), col("__anchor"))
      .agg(countDistinct(col("__r")).as("__k"))
      .where(col("__k") === m)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_matches"))
  }

  /** Ranking-quality evaluation in EXACT integers — the measurement
    * layer the retrieval family was missing (scorers exist; nothing
    * said whether they rank well). Input: `ranked` as `(query_id,
    * doc_id, rank)` (1-based, top-n per query — [[rankPerQuery]]'s
    * shape) and `labels` as relevant `(query_id, doc_id)` pairs.
    * Output one row per query appearing in EITHER side (a labeled
    * query that retrieved nothing is a recall-0 row, not a missing
    * row): `n_ranked`, `n_rel`, `hits_at_k` (relevant in the top k),
    * `rr_micro` = 10⁶ div rank-of-first-relevant (0 when none
    * retrieved — MRR's convention), `prec_at_k_micro` = hits·10⁶ div
    * k, `recall_micro` = hits·10⁶ div n_rel (0 when the query has no
    * labels). Micro fixed point, truncating div — bit-replayable on
    * any engine, no NDCG logs. One labels⋈ranked hash join + three
    * query-keyed aggregates; everything is candidate-list-sized, the
    * corpus is never touched. */
  def evalRanking(ranked: DataFrame, labels: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    val lab = labels.select(col("query_id"), col("doc_id")).distinct()
    val nRel = lab.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_rel"))
    val nRanked = ranked.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_ranked"))
    val hit = ranked.join(lab, Seq("query_id", "doc_id"))
      .groupBy(col("query_id"))
      .agg(min(col("rank")).as("__frr"),
        sum(when(col("rank") <= k, 1L).otherwise(0L)).as("hits_at_k"))
    nRanked.join(nRel, Seq("query_id"), "full_outer")
      .join(hit, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_ranked"), lit(0L)).as("n_ranked"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        coalesce(col("hits_at_k"), lit(0L)).as("hits_at_k"),
        coalesce(expr("1000000 div __frr"), lit(0L)).cast("long")
          .as("rr_micro"),
        expr(s"coalesce(hits_at_k, 0) * 1000000 div $k").cast("long")
          .as("prec_at_k_micro"),
        when(coalesce(col("n_rel"), lit(0L)) > 0L,
          expr("coalesce(hits_at_k, 0) * 1000000 div n_rel"))
          .otherwise(lit(0L)).cast("long").as("recall_micro"))
  }
}
