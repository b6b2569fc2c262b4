package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** The flagship end-to-end corpus-cleaning pipeline: the composition a
  * training-data user actually runs, as one call —
  *
  *   quality gate → exact dedupe → near-dup clustering → survivor pick
  *
  * Returns one row per input doc with per-stage keep flags (a lineage
  * audit, not just the surviving set — corpus curation needs to report
  * WHY each doc dropped):
  *   `keep_quality` — passed the heuristic quality filters;
  *   `keep_exact`   — also the min-id representative of its exact
  *                    fingerprint group (evaluated among quality passers);
  *   `keep`         — also the min-id survivor of its near-dup cluster
  *                    (n-gram Jaccard pairs → connected components,
  *                    evaluated among exact survivors).
  *
  * Scale shape: stages only narrow the data — the quality gate is
  * scan-side (pure expressions), exact dedupe is a groupBy on the
  * 16-byte fingerprint plus a flag-back join (map-side partials absorb
  * hot boilerplate keys; never a fingerprint window), and the expensive
  * near-dup join runs on the already-deduped survivor set. Each stage reuses the operator the
  * library exposes individually (`TextOps.qualitySignals`, `TextOps
  * .fingerprint`, `Dedup.ngramJaccardPairs`, `Dedup.connectedComponents`),
  * so the composition is exactly as scalable as its parts.
  */
object Corpus {

  /** q22's keep rule, factored for reuse: at least 10 tokens, a
    * stopword ratio of at most 0.5 and a distinct-token ratio of at
    * least 0.3. */
  def qualityKeep(text: Column, stopwords: Seq[String]): Column = {
    val sig = TextOps.qualitySignals(text, stopwords).toMap
    sig("n_tokens") >= 10 &&
      sig("stopword_ratio") <= 0.5 &&
      sig("distinct_token_ratio") >= 0.3
  }

  /** The exact keep_exact flag a quality FAILURE row carries, replayed
    * without joining it anywhere: `keep_quality && (id IS NOT NULL ⇒
    * true, else null)` — three-valued-identical to what the old
    * sentinel-keyed singleton min-group produced (false for a false
    * gate, null for a null gate or a null id), so the failure bypass
    * below is a pure plan change, never a value change. */
  private def failKeepExact(keepQuality: Column, id: Column): Column =
    keepQuality && when(id.isNotNull, lit(true))

  /** @param repetition optional (maxDupLineFrac, maxTopBigramCharFrac):
    *        ANDs the Gopher-style repetition gate
    *        ([[TextOps.repetitionSignals]]) into `keep_quality`. The
    *        signals need their own doc-keyed aggregation pass joined back
    *        on the id, so the quality stage stops being purely scan-side —
    *        the default `None` keeps the original single-scan plan. */
  def clean(docs: DataFrame, textCol: String, idCol: String,
            blockCols: Seq[String], stopwords: Seq[String],
            n: Int = 3, threshold: Double = 0.5,
            repetition: Option[(Double, Double)] = None): DataFrame = {
    val base = docs.withColumn("keep_quality",
      qualityKeep(col(textCol), stopwords))
    val withQ = repetition match {
      case None => base
      case Some((maxDupLine, maxTopBigram)) =>
        val rep = TextOps.repetitionSignals(docs, textCol, idCol)
          .select(col(idCol), col("dup_line_frac"), col("top_bigram_char_frac"))
        // the quality flag stops being a cheap re-runnable scan expression
        // once the repetition aggregation joins in, and the frame feeds
        // BOTH the shingle pipeline and the final flag join. Checkpoint
        // ONLY the NARROW (id, keep_quality) verdict — a wide checkpoint
        // would barrier column pruning and force full-text rows through
        // block storage (measured 2× slower); each consumer instead
        // re-runs the pruned scan and joins the 9-byte/row verdict.
        val qFlag = docs
          .select(col(idCol), qualityKeep(col(textCol), stopwords).as("kq"))
          .join(rep, Seq(idCol))
          .select(col(idCol), (col("kq") &&
            col("dup_line_frac") <= maxDupLine &&
            col("top_bigram_char_frac") <= maxTopBigram).as("keep_quality"))
          .localCheckpoint(eager = false)
        docs.join(qFlag, Seq(idCol))
          .select(docs.columns.map(col) :+ col("keep_quality"): _*)
    }
    // Exact-dedupe stage: ONLY quality passers enter the fingerprint
    // machinery — failures take a scan-side bypass (filter + union) and
    // never shuffle at all. Earlier rounds keyed failures with per-row
    // sentinels and pushed the whole corpus through the join, which made
    // the aggregate side carry every failure row as a singleton group
    // (~30% of a crawl) and shuffled a third of the corpus to dedupe
    // nothing. Min-id per fingerprint stays groupBy + flag-back join,
    // NEVER `min(id).over(Window.partitionBy(fp))`: at crawl scale the
    // hottest exact duplicate (parked-domain boilerplate) repeats
    // 10⁷-10⁸×, and a window partition is one un-splittable task sorting
    // all of it — whereas the groupBy absorbs hot keys in map-side
    // partials and the flag-back join is AQE-skew-splittable (the
    // paragraphDedupe discipline, Dedup.scala); the aggregate side now
    // holds one row per DISTINCT passer fingerprint, small enough for
    // AQE to broadcast.
    val qual = withQ.where(col("keep_quality"))
      .withColumn("fp", TextOps.fingerprint(col(textCol)))
    val fails = withQ.where(!coalesce(col("keep_quality"), lit(false)))
      .withColumn("keep_exact",
        failKeepExact(col("keep_quality"), col(idCol)))
    val qualE = qual
      .join(qual.groupBy(col("fp")).agg(min(col(idCol)).as("__fp_min")), Seq("fp"))
      .withColumn("keep_exact", col(idCol) === col("__fp_min"))
      .drop("__fp_min", "fp")
    val withE = qualE.unionByName(fails)
    val pairs = Dedup.ngramJaccardPairs(
      withE.where(col("keep_exact")), textCol, idCol, blockCols, n, threshold)
    val cc = Dedup.connectedComponents(pairs)
    withE.join(cc.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("keep", col("keep_exact") &&
        coalesce(col("component"), col(idCol)) === col(idCol))
      .drop("component")
  }

  /** The full training-mix assembly — the composition this library exists
    * for, as one call:
    *
    *   weighted source mixing → corpus clean (quality / exact / near-dup)
    *   → eval-suite decontamination (optional) → token-budget subsample
    *   → context-window chunking
    *
    * Returns one row per training chunk: (idCol, chunk_id, chunk_text,
    * n_chunk_tokens). Every stage is the individually-exposed (and
    * individually oracle-gated) operator, so the composition inherits
    * their scale shapes: the mixture is shuffle-free, the clean stages
    * only narrow, decontamination streams the survivors once against the
    * (small) probe suite, the budget pass windows over ~2× the budget,
    * and chunking is scan-side. Deterministic end-to-end — same sources,
    * same budget, same corpus out, byte for byte.
    *
    * @param decontaminate optional (evalSuite, containmentThreshold):
    *        drops every cleaned doc whose shingles cover ≥ threshold of
    *        any eval-suite doc ([[Dedup.containmentJoin]] semantics) —
    *        applied BEFORE the token budget so contaminated docs never
    *        consume it */
  def assemble(sources: Seq[(DataFrame, Double)], textCol: String,
               idCol: String, blockCols: Seq[String], stopwords: Seq[String],
               n: Int = 3, threshold: Double = 0.5,
               tokenBudget: Long = Long.MaxValue,
               chunkSize: Int = 1024, overlap: Int = 0,
               decontaminate: Option[(DataFrame, Double)] = None,
               repetition: Option[(Double, Double)] = None): DataFrame = {
    val mixed = graft.ops.Sampling.weightedMixture(sources, idCol)
    val cleaned = clean(mixed, textCol, idCol, blockCols, stopwords, n, threshold,
      repetition)
    val keptRaw = cleaned.where(col("keep"))
      .withColumn("__n_tokens", TextOps.tokenCount(col(textCol)).cast("long"))
    // downstream stages are multi-pass consumers (tokenBudgetSample fires
    // driver-side sizing aggregates plus the prefix-sum's partition-total
    // action; containment scans its corpus side
    // repeatedly) — lazily checkpoint so the mixture→quality→dedupe→CC
    // pipeline upstream executes once, not per pass (mirrors
    // cleanIncremental's shingled-ONCE discipline); with no budget and no
    // decontamination there is exactly one consumer, so skip it
    val multiPass = tokenBudget != Long.MaxValue || decontaminate.nonEmpty
    val kept = if (multiPass) keptRaw.localCheckpoint(eager = false) else keptRaw
    val decon = decontaminate match {
      case Some((evalSuite, t)) =>
        val contaminated = Dedup.containmentJoin(evalSuite, kept, textCol, idCol, n, t)
          .select(col("id_r").as(idCol)).distinct()
        val anti = kept.join(contaminated, Seq(idCol), "left_anti")
        // seal the (expensive) containment stage away from the budget
        // pass's repeated driver actions, same rationale as `kept`
        if (tokenBudget != Long.MaxValue) anti.localCheckpoint(eager = false)
        else anti
      case None => kept
    }
    val budgeted = graft.ops.Sampling.tokenBudgetSample(
      decon, idCol, "__n_tokens", tokenBudget)
    TextOps.chunkRows(budgeted, textCol, idCol, chunkSize, overlap)
  }

  /** [[assemble]] + sequence packing: the loader-ready form. The
    * assembled training chunks pack WHOLE (never split mid-chunk — a
    * chunk is already a curated context window) into `capacity`-token
    * sequences by [[Packing.packGreedy]] in deterministic-shuffle order,
    * so the emitted corpus is both reproducible and randomly ordered.
    * One row per chunk:
    *
    *   (seq, seq_tok_start, idCol, chunk_id, chunk_text, n_chunk_tokens)
    *
    * sorted consumption of (seq, seq_tok_start) IS the training stream.
    * `capacity` must be ≥ the assemble `chunkSize` (a chunk longer than a
    * sequence could never pack whole); with `capacity == chunkSize` only
    * full-size chunks fill a sequence alone and every doc-tail chunk
    * back-fills across documents. Each assembled chunk carries a unique
    * `(idCol, chunk_id)` identity; packing orders by the md5 of
    * `"id#chunk"` (total, replayable).
    *
    * The assemble pipeline is lazily checkpointed here: the packer's
    * prefix sum and the text join-back are separate consumers, and the
    * clean/decontaminate/budget stages must not re-execute per pass
    * (the [[assemble]] multi-pass discipline, one level up). */
  def assemblePacked(sources: Seq[(DataFrame, Double)], textCol: String,
                     idCol: String, blockCols: Seq[String],
                     stopwords: Seq[String], capacity: Long,
                     n: Int = 3, threshold: Double = 0.5,
                     tokenBudget: Long = Long.MaxValue,
                     chunkSize: Int = 1024, overlap: Int = 0,
                     decontaminate: Option[(DataFrame, Double)] = None,
                     repetition: Option[(Double, Double)] = None): DataFrame = {
    require(capacity >= chunkSize,
      s"capacity ($capacity) must be >= chunkSize ($chunkSize): chunks pack whole")
    val chunks = assemble(sources, textCol, idCol, blockCols, stopwords, n,
        threshold, tokenBudget, chunkSize, overlap, decontaminate, repetition)
      .withColumn("__chunk_key",
        concat_ws("#", col(idCol).cast("string"), col("chunk_id").cast("string")))
      .localCheckpoint(eager = false)
    Packing.packGreedy(chunks, "__chunk_key", "n_chunk_tokens", capacity,
        shuffled = true)
      .join(chunks, Seq("__chunk_key"))
      .select(col("seq"), col("seq_tok_start"), col(idCol), col("chunk_id"),
        col("chunk_text"), col("n_chunk_tokens"))
  }

  /** The incremental form of [[clean]] — the shape daily ingest actually
    * runs at corpus scale: clean a NEW batch against an accumulated
    * (already-clean) history without re-cleaning the history. Stages only
    * ever touch the batch plus one streaming pass over history:
    *
    *   `keep_quality`    — batch doc passed the quality gate;
    *   `keep_exact`      — also: its fingerprint is NOT in history (anti
    *                       semantics via a fingerprint join — at scale,
    *                       store history fingerprints bucketed and this
    *                       side of the join is shuffle-free) AND it is the
    *                       min-id representative of its in-batch
    *                       fingerprint group;
    *   `keep_vs_history` — also: no n-gram Jaccard near-dup in history
    *                       ([[Dedup.ngramJaccardJoin]] — the cross-corpus
    *                       PPJoin, never a history self-join);
    *   `keep`            — also: the min-id survivor of its in-batch
    *                       near-dup cluster (clusters computed over the
    *                       docs that survived the history stages).
    *
    * History is taken as-is (assumed already deduplicated — it is the
    * OUTPUT of previous rounds); both frames must carry `textCol` and
    * `idCol` under the same names. */
  def cleanIncremental(incoming: DataFrame, history: DataFrame,
                       textCol: String, idCol: String, stopwords: Seq[String],
                       n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val histFp = history
      .select(TextOps.fingerprint(col(textCol)).as("fp")).distinct()
    val histRows = Dedup.shingleRows(history, textCol, idCol, Nil, n)
    cleanIncrementalCore(incoming, histFp,
      survRows => Dedup.ngramJaccardJoinFromRows(survRows, histRows, idCol, threshold),
      textCol, idCol, stopwords, n, threshold)
  }

  /** History-side artifacts for [[cleanIncrementalPrebuilt]] — everything
    * the daily job needs about history, derivable once and persisted:
    * `fingerprints` (fp) for the exact stage; `shingles` (idCol, g), `df`
    * (g, df), `prefix` (idCol, n_sh, g, __t) for the near-dup stage
    * ([[Dedup.historyJaccardIndex]] artifacts). Persist the g-keyed
    * frames bucketed by `g` and `fingerprints` bucketed by `fp`
    * ([[graft.ops.BatchView.writeBucketed]]): every history side of the
    * daily join then plans exchange-free. */
  final case class HistoryIndex(fingerprints: DataFrame, shingles: DataFrame,
                                df: DataFrame, prefix: DataFrame)

  /** Build a [[HistoryIndex]] from an (already-clean) history corpus —
    * run once per index refresh, NOT per batch. `threshold` must be at or
    * below every join threshold the index will serve (see
    * [[Dedup.historyJaccardIndex]]'s threshold contract). */
  def buildHistoryIndex(history: DataFrame, textCol: String, idCol: String,
                        n: Int = 3, threshold: Double = 0.5): HistoryIndex = {
    val rows = Dedup.shingleRows(history, textCol, idCol, Nil, n)
    val (df, prefix) = Dedup.historyJaccardIndex(rows, idCol, threshold)
    HistoryIndex(
      history.select(TextOps.fingerprint(col(textCol)).as("fp")).distinct(),
      rows, df, prefix)
  }

  /** [[cleanIncremental]] against PREBUILT history artifacts — the form a
    * daily pipeline actually runs at corpus scale: history text is never
    * touched; the fingerprint anti-join reads the persisted fingerprint
    * table, and the near-dup stage runs [[Dedup.ngramJaccardJoinPrebuilt]]
    * against the persisted shingle index (exchange-free on the history
    * side when bucketed by `g`). Stage flags are identical to
    * [[cleanIncremental]] over the corpus the index was built from. */
  def cleanIncrementalPrebuilt(incoming: DataFrame, hist: HistoryIndex,
                               textCol: String, idCol: String,
                               stopwords: Seq[String],
                               n: Int = 3, threshold: Double = 0.5): DataFrame =
    cleanIncrementalCore(incoming, hist.fingerprints,
      survRows => Dedup.ngramJaccardJoinPrebuilt(
        survRows, hist.shingles, hist.df, hist.prefix, idCol, threshold),
      textCol, idCol, stopwords, n, threshold)

  /** Shared staging for the incremental forms: quality gate → fingerprint
    * anti-join vs `histFp` → cross-corpus near-dup via `crossPairsOf`
    * (takes the checkpointed batch shingle index, returns (id_l, id_r,
    * jaccard)) → in-batch clusters. */
  private def cleanIncrementalCore(incoming: DataFrame, histFp: DataFrame,
                                   crossPairsOf: DataFrame => DataFrame,
                                   textCol: String, idCol: String,
                                   stopwords: Seq[String],
                                   n: Int, threshold: Double): DataFrame = {
    val withQ = incoming.withColumn("keep_quality",
      qualityKeep(col(textCol), stopwords))
    // in-batch min-id per fingerprint via groupBy + flag-back join (same
    // skew + failure-bypass rationale as [[clean]]: only quality passers
    // enter the fingerprint machinery — histFp carries real md5
    // fingerprints only, so a failure row could never match history
    // anyway; histFp is distinct so the history join preserves row
    // multiplicity and the min is over the whole batch group exactly as
    // the window form was)
    val qual = withQ.where(col("keep_quality"))
      .withColumn("fp", TextOps.fingerprint(col(textCol)))
    val fails = withQ.where(!coalesce(col("keep_quality"), lit(false)))
      .withColumn("keep_exact",
        failKeepExact(col("keep_quality"), col(idCol)))
    val withE = qual
      .join(histFp.withColumn("__in_hist", lit(true)), Seq("fp"), "left")
      .join(qual.groupBy(col("fp")).agg(min(col(idCol)).as("__fp_min")), Seq("fp"))
      .withColumn("keep_exact", col("__in_hist").isNull &&
        col(idCol) === col("__fp_min"))
      .drop("__fp_min", "fp", "__in_hist")
      .unionByName(fails)
    // The batch is shingled ONCE into a checkpointed index that feeds both
    // near-dup stages (each consumes its index several times — the PPJoin
    // prefix plus both verification sides — which would otherwise
    // re-execute the shingle pipeline AND the window+join upstream ~6×).
    // Batch-sized state only, by the incremental contract; history is
    // never materialized — it streams through its own shingle pass and
    // the fingerprint join exactly once (or, prebuilt, is read in place).
    val survRows = Dedup.shingleRows(
        withE.where(col("keep_exact")).select(col(idCol), col(textCol)),
        textCol, idCol, Nil, n)
      .localCheckpoint(eager = false)
    val crossDup = crossPairsOf(survRows)
      .select(col("id_l").as(idCol)).distinct()
      .withColumn("__hist_dup", lit(true))
    val withH = withE.join(crossDup, Seq(idCol), "left")
      .withColumn("keep_vs_history",
        col("keep_exact") && col("__hist_dup").isNull)
      .localCheckpoint(eager = false)
    val pairs = Dedup.ngramJaccardPairsFromRows(
      survRows.join(withH.where(col("keep_vs_history")).select(col(idCol)),
        Seq(idCol), "left_semi"),
      idCol, Nil, threshold)
    val cc = Dedup.connectedComponents(pairs)
    withH.join(cc.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("keep", col("keep_vs_history") &&
        coalesce(col("component"), col(idCol)) === col(idCol))
      .drop("fp", "component", "__in_hist", "__hist_dup")
  }
}
