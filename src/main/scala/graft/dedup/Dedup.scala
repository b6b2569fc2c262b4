package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Ckpt
import graft.text.TextOps

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.
  *
  * Scale design (100 TB):
  *  - exact dedupe is one hash-groupBy (min_by) — single shuffle on the
  *    16-byte fingerprint, map-side partial aggregation;
  *  - pairwise similarity NEVER does a full cross join: candidates come
  *    from either content-blocking keys or LSH band buckets, so the
  *    self-join shuffles on a high-cardinality key and AQE handles skewed
  *    buckets (hot bands) with skew-join splitting;
  *  - all hashing is expression-level (crc32/xxhash64/md5 built-ins) —
  *    codegen'd, no UDFs.
  */
object Dedup {

  /** Exact dedupe: keep the row with min `idCol` per normalized-text
    * fingerprint. One shuffle; returns surviving (id, fingerprint). */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol), TextOps.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Soft (reweighting) exact dedup — SoftDeDup (He et al. 2024): instead
    * of DROPPING every later copy, keep every row and emit its training
    * weight `1/n_copies`, so a document duplicated n times contributes
    * one document's worth of loss in expectation while the corpus keeps
    * its full size and ordering. The weight is `⌊10⁶/n_copies⌋` micro
    * units — exact integer division, engine-replayable (the repo's
    * no-doubles discipline for gated arithmetic). Output: every input
    * row + (fp, n_copies, weight_micro).
    *
    * Scale shape: identical to [[exact]] — fingerprint in the scan
    * projection, ONE `groupBy(fp).count` with map-side partials
    * absorbing hot boilerplate keys, and a flag-back equi-join on the
    * 16-byte fp (AQE-skew-splittable). Never a fingerprint window.
    * Content-less docs (NULL/''/whitespace) share md5("") per the
    * [[TextOps.fingerprint]] null contract and downweight as one group. */
  def softDedupe(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val reserved = Seq("fp", "n_copies", "weight_micro")
    val clashes = docs.columns.filter(reserved.contains)
    require(clashes.isEmpty,
      s"softDedupe reserves output column names ${reserved.mkString(", ")}; " +
        s"input already has ${clashes.mkString(", ")}")
    val keyed = docs.withColumn("fp", TextOps.fingerprint(col(textCol)))
    val counts = keyed.groupBy(col("fp")).agg(count(lit(1)).as("n_copies"))
    keyed.join(counts, "fp")
      // SQL `div`: exact integer division (the micro-fixed-point
      // discipline — a double divide could round across an integer)
      .withColumn("weight_micro", expr("1000000L div n_copies"))
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 §4): per doc, hash every k-token gram (md5 of the
    * space-joined window — a STRING key so lexicographic min agrees
    * across engines), slide a w-gram window over the hashes, and select
    * each window's minimum (ties to the RIGHTMOST position — the paper's
    * rule). Output (idCol, pos, fp) distinct selected fingerprints, ~2
    * per (w+1) grams. THE guarantee: any verbatim overlap of at least
    * w+k−1 tokens between two docs shares at least one selected
    * fingerprint — the bounded-density local sampling that whole-doc
    * fingerprints (one per doc) and full gram sets (one per token) both
    * miss. Leading windows are left-truncated (equivalent to padding
    * with +∞ hashes), so every doc with ≥ 1 gram yields ≥ 1 fingerprint.
    *
    * Scale shape: gram construction is the [[graft.text.SubstringDedup]]
    * `lead`-window discipline (per-doc windows, bounded by the longest
    * doc, never corpus-sized); selection is ONE more window over the
    * same per-doc partitioning (rows frame of w — O(w) state per task);
    * the rightmost-tie argmin travels INSIDE the min key (hash ∥
    * zero-padded reverse position), so no second pass and no join.
    * Positions must be < 10⁹ (the pad width) — a 10⁹-token document is
    * not a document. */
  def winnowingFps(docs: DataFrame, textCol: String, idCol: String,
                   k: Int, w: Int): DataFrame = {
    require(k >= 1, s"gram width must be positive: $k")
    require(w >= 1, s"window must be positive: $w")
    val reserved = Seq("pos", "fp", "__w", "__key", "__sel")
    val clashes = docs.columns.filter(reserved.contains)
    require(clashes.isEmpty,
      s"winnowingFps reserves column names ${reserved.mkString(", ")}; " +
        s"input already has ${clashes.mkString(", ")}")
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol),
      posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "__w")))
    val docWin = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val leads = (1 until k).map(i => lead(col("__w"), i).over(docWin).as(s"__w$i"))
    val grams = toks
      .select(col(idCol) +: col("pos") +: col("__w") +: leads: _*)
      .where(if (k == 1) lit(true) else col(s"__w${k - 1}").isNotNull)
      .select(col(idCol), col("pos"),
        md5(encode(concat_ws(" ",
          col("__w") +: (1 until k).map(i => col(s"__w$i")): _*), "UTF-8")).as("__h"))
    // min over (hash, reverse-pos) in ONE fixed-width string: the min of
    // the concatenation is (min hash, then max pos) — rightmost tie
    val key = concat(col("__h"),
      lpad((lit(999999999) - col("pos")).cast("string"), 9, "0"))
    val selWin = docWin.rowsBetween(-(w - 1).toLong, 0L)
    grams.withColumn("__sel", min(key).over(selWin))
      .select(col(idCol),
        (lit(999999999) - substring(col("__sel"), 33, 9).cast("int")).as("pos"),
        substring(col("__sel"), 1, 32).as("fp"))
      .distinct()
  }

  /** Overlap-candidate pairs from [[winnowingFps]] — the MOSS shape
    * (Schleimer et al. §5): two docs sharing ≥ `minShared` selected
    * fingerprints are verbatim-overlap candidates. Fingerprints in more
    * than `maxDf` docs are dropped FIRST — the paper's "common code
    * elimination": a boilerplate passage selected in 10⁶ docs is
    * evidence of nothing and would otherwise explode the self-join
    * quadratically on one hot key. `maxDf` is therefore the scale
    * contract, not a tuning afterthought: per surviving fingerprint the
    * pair fan-out is < maxDf²/2, so candidates are
    * O(#fps · maxDf²) — never corpus-quadratic. Exact given the cap
    * (overlaps carried only by super-common fingerprints are
    * deliberately not evidence). Output (id_a, id_b, n_shared) with
    * id_a < id_b, counting DISTINCT shared fingerprints.
    *
    * Same candidate-discipline family as the PPJoin prefix filter and
    * LSH banding: df comes from `groupBy(fp).count` + join-back (never
    * a window over the fingerprint), the df>=2 restriction shrinks the
    * join input to the shared-fingerprint minority, and the pair
    * aggregate is partially aggregable. */
  def winnowingPairs(docs: DataFrame, textCol: String, idCol: String,
                     k: Int, w: Int, minShared: Int = 2,
                     maxDf: Int = 50): DataFrame = {
    require(minShared >= 1, s"minShared must be positive: $minShared")
    require(maxDf >= 2, s"maxDf < 2 can never pair: $maxDf")
    // the fingerprint table feeds THREE consumers (df aggregate + both
    // self-join sides) — materialize once, the ngramJaccardPairs
    // discipline, or the whole two-window selection pipeline re-executes
    // per consumer. Lazy: the first action pays it.
    val fps = winnowingFps(docs, textCol, idCol, k, w)
      .select(col(idCol), col("fp")).distinct()
      .localCheckpoint(eager = false)
    val df = fps.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
      .where(col("__df") >= 2 && col("__df") <= maxDf)
      .select(col("fp"))
    val shared = fps.join(df, "fp")
    shared.select(col("fp"), col(idCol).as("id_a"))
      .join(shared.select(col("fp"), col(idCol).as("id_b")), "fp")
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** (id, pos, trimmed paragraph, md5 fingerprint) rows — the shared
    * extraction every paragraph operator builds on (blank-line split,
    * empties dropped). ONE definition: the batch path, the incremental
    * path, and the history fingerprints must always split identically or
    * history matching silently breaks. */
  private def paragraphRows(docs: DataFrame, textCol: String, idCol: String,
                            extra: Seq[String] = Nil): DataFrame =
    docs
      .select(col(idCol) +: extra.map(col) :+
        posexplode(split(col(textCol), "\n{2,}")).as(Seq("__pos", "__raw")): _*)
      .select(col(idCol) +: extra.map(col) :+ col("__pos") :+
        trim(col("__raw")).as("__par"): _*)
      .where(length(col("__par")) > 0)
      .withColumn("__fp", md5(encode(col("__par"), "UTF-8")))

  /** Re-assemble flagged paragraph rows (id, __pos, __par, __keep) into
    * one row per input doc: (idCol, clean_text, n_kept, n_dropped). */
  private def reassemble(docs: DataFrame, flagged: DataFrame, idCol: String): DataFrame = {
    val id = col(idCol)
    val agged = flagged.groupBy(id).agg(
      sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
      sum(when(col("__keep"), 0L).otherwise(1L)).as("n_dropped"),
      graft.udafs.CollectOps.sortedCollect(
        Seq(-col("__pos")),
        Seq("__pars" -> when(col("__keep"), col("__par"))), Int.MaxValue)
        .head.as("__all"))
      .select(id, col("n_kept"), col("n_dropped"),
        concat_ws("\n\n", col("__all")).as("clean_text"))
    docs.select(id)
      .join(agged, Seq(idCol), "left")
      .select(id,
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
  }

  private def paragraphDedupeImpl(batch: DataFrame, textCol: String, idCol: String,
                                  historyFps: Option[DataFrame]): DataFrame = {
    val id = col(idCol)
    val paras = paragraphRows(batch, textCol, idCol)
    val fresh = historyFps match {
      case None    => paras
      case Some(h) => paras.join(h, Seq("__fp"), "left_anti")
    }
    val firsts = fresh.groupBy(col("__fp"))
      .agg(min(struct(id, col("__pos"))).as("__first"))
    val flagged = paras
      .join(firsts, Seq("__fp"), "left")
      .withColumn("__keep",
        col("__first").isNotNull &&
          col("__first").getField(idCol) === id &&
          col("__first").getField("__pos") === col("__pos"))
    reassemble(batch, flagged, idCol)
  }

  /** Shared threshold pass over an extracted paragraph frame:
    * (groupCol, __fp, paragraph, n_docs_with, n_docs_group) for every
    * over-threshold fingerprint. */
  private def templateFps(paras: DataFrame, docs: DataFrame, idCol: String,
                          groupCol: String, maxDocPerMille: Int,
                          minDocs: Long): DataFrame = {
    val isTemplate = templateGate(maxDocPerMille, minDocs)
    val g = col(groupCol)
    // presence per (bucket, paragraph, doc): a paragraph repeated inside
    // ONE doc counts that doc once
    val present = paras.select(g, col("__fp"), col("__par"), col(idCol))
      .distinct()
    val withCounts = present.groupBy(g, col("__fp"))
      .agg(count(lit(1)).as("n_docs_with"), min(col("__par")).as("paragraph"))
    val sizes = docs.groupBy(g).agg(count(lit(1)).as("n_docs_group"))
    withCounts.join(sizes, Seq(groupCol))
      .where(isTemplate)
      .select(g, col("__fp"), col("paragraph"), col("n_docs_with"),
        col("n_docs_group"))
  }

  /** The template predicate over (n_docs_with, n_docs_group) rows: a
    * bucket of at least `minDocs` docs, and presence in more than
    * `maxDocPerMille`/1000 of them (exact integer comparison). Checks
    * both arguments when called. */
  private def templateGate(maxDocPerMille: Int, minDocs: Long): Column = {
    require(maxDocPerMille >= 0 && maxDocPerMille <= 1000,
      s"maxDocPerMille out of range: $maxDocPerMille")
    require(minDocs >= 1L, s"minDocs must be positive: $minDocs")
    col("n_docs_group") >= minDocs &&
      col("n_docs_with") * 1000L > lit(maxDocPerMille.toLong) * col("n_docs_group")
  }

  /** Drop every paragraph of `paras` whose (groupCol, __fp) is in
    * `templates` and re-assemble the docs (see [[reassemble]]). */
  private def stripFlagged(docs: DataFrame, paras: DataFrame, templates: DataFrame,
                           idCol: String, groupCol: String): DataFrame = {
    val flagged = paras
      .join(templates.select(col(groupCol), col("__fp"), lit(true).as("__tpl")),
        Seq(groupCol, "__fp"), "left")
      .withColumn("__keep", col("__tpl").isNull)
    reassemble(docs, flagged, idCol)
  }

  /** Per-group template/boilerplate paragraph REMOVAL (the RefinedWeb /
    * CCNet site-boilerplate rule at paragraph granularity): a paragraph
    * occurring in more than `maxDocPerMille`/1000 of its bucket's
    * documents is chrome — nav text, cookie banners, footers — and EVERY
    * occurrence drops, unlike [[paragraphDedupe]] which keeps a first
    * occurrence (content that happens to repeat is worth one copy;
    * template is worth zero). Documents re-assemble from surviving
    * paragraphs in order: (idCol, clean_text, n_kept, n_dropped).
    *
    * Scale shape: presence counts are a distinct + counted
    * `groupBy(bucket, fingerprint)` — map-side partials absorb the hot
    * template keys; bucket sizes are one doc-level aggregate; only
    * ABOVE-threshold fingerprints survive into the flag-back join
    * (template table ≪ paragraph table, AQE-broadcast-promotable). Never
    * a window over the fingerprint. */
  def stripTemplates(docs: DataFrame, textCol: String, idCol: String,
                     groupCol: String, maxDocPerMille: Int = 500,
                     minDocs: Long = 4L): DataFrame = {
    val paras = paragraphRows(docs, textCol, idCol, Seq(groupCol))
    stripFlagged(docs, paras,
      templateFps(paras, docs, idCol, groupCol, maxDocPerMille, minDocs),
      idCol, groupCol)
  }

  /** The persisted per-bucket paragraph state for INCREMENTAL template
    * removal: (presence, sizes) — presence one row per (bucket,
    * fingerprint) with its distinct-doc count, sizes one row per bucket
    * with its doc count. Both are sum-mergeable across ingest days
    * (union + groupBy-sum), the same artifact discipline as
    * [[corpusContainmentIndex]]. */
  def templateState(docs: DataFrame, textCol: String, idCol: String,
                    groupCol: String): (DataFrame, DataFrame) =
    (presenceFromParas(paragraphRows(docs, textCol, idCol, Seq(groupCol)),
       idCol, groupCol),
     docs.groupBy(col(groupCol)).agg(count(lit(1)).as("n_docs_group")))

  private def presenceFromParas(paras: DataFrame, idCol: String,
                                groupCol: String): DataFrame =
    paras.select(col(groupCol), col("__fp"), col(idCol)).distinct()
      .groupBy(col(groupCol), col("__fp"))
      .agg(count(lit(1)).as("n_docs_with"))

  /** Incremental [[stripTemplates]] — the daily-ingest form: template
    * thresholds are computed over the ACCUMULATED corpus (history state
    * from [[templateState]], sum-merged with the batch's own counts), and
    * only the batch re-assembles. A banner that became template last
    * month strips from today's pages even if today's batch alone is too
    * small to prove it. History and batch doc sets must be DISJOINT
    * (standard daily-ingest discipline — the history state already
    * counted its own docs; overlapping ids would double-count presence).
    * The aggregated state carries no doc ids, so disjointness is NOT
    * checkable from the state — get it structurally instead: ingest
    * day-keyed batches and run [[templateState]] over strictly earlier
    * days' docs only (the `day <` discipline of
    * [[graft.jobs.DailyCorpusJob]]'s history read; q226 splits one table
    * by id parity instead), which makes overlap impossible by
    * construction.
    * When the caller DOES hold the history's doc-id set, pass it as
    * `assertDisjointWith` and misuse fails loudly: one semi-join count
    * (debug-run discipline — the check costs a join over the id
    * columns, so it is opt-in, not always-on).
    *
    * Scale: the history state is bucket×distinct-paragraph sized — tiny
    * next to the corpus and mergeable with one union+groupBy-sum; the
    * rest is the [[stripTemplates]] shape on the batch alone. */
  def stripTemplatesIncremental(batch: DataFrame, historyPresence: DataFrame,
                                historySizes: DataFrame, textCol: String,
                                idCol: String, groupCol: String,
                                maxDocPerMille: Int = 500,
                                minDocs: Long = 4L,
                                assertDisjointWith: Option[DataFrame] = None): DataFrame = {
    val isTemplate = templateGate(maxDocPerMille, minDocs)
    assertDisjointWith.foreach { historyIds =>
      val overlap = batch.select(col(idCol))
        .join(historyIds.select(col(idCol)), Seq(idCol), "left_semi")
        .limit(5).collect().map(_.get(0))
      require(overlap.isEmpty,
        s"history/batch doc sets overlap on '$idCol' (e.g. " +
          s"${overlap.mkString(", ")}); the history state already counted " +
          "those docs — an overlapping batch double-counts presence and " +
          "over-strips. Ingest disjoint day-keyed batches " +
          "(build the history state from strictly earlier days)")
    }
    val g = col(groupCol)
    val paras = paragraphRows(batch, textCol, idCol, Seq(groupCol))
    val batchPresence = presenceFromParas(paras, idCol, groupCol)
    val batchSizes =
      batch.groupBy(g).agg(count(lit(1)).as("n_docs_group"))
    val presence = batchPresence.unionByName(historyPresence)
      .groupBy(g, col("__fp")).agg(sum(col("n_docs_with")).as("n_docs_with"))
    val sizes = batchSizes.unionByName(historySizes)
      .groupBy(g).agg(sum(col("n_docs_group")).as("n_docs_group"))
    stripFlagged(batch, paras,
      presence.join(sizes, Seq(groupCol)).where(isTemplate), idCol, groupCol)
  }

  /** Corpus-wide PARAGRAPH-level exact dedup (the paragraph-granularity
    * form of Lee et al. 2022's exact-substring dedup): every later
    * occurrence of a duplicated paragraph is dropped — across documents
    * and within one — and each document is re-assembled from its
    * surviving paragraphs in order. Paragraphs split on blank lines
    * (`\n{2,}`), trimmed, empties ignored. "First" is the global minimum
    * of (idCol, position): deterministic under any partitioning.
    * Returns one row per doc: (idCol, clean_text, n_kept, n_dropped).
    *
    * Scale shape: occurrence selection is `groupBy(fingerprint).agg(min)`
    * — ONE shuffle on the 16-byte md5 (map-side partials absorb hot
    * boilerplate paragraphs) — and the flag-back join on the fingerprint
    * is AQE-skew-splittable, the same discipline as the shingle df
    * aggregate (`withShingleDf`). The
    * re-assembly aggregates per DOC (bounded arrays). Never a window over
    * the fingerprint. */
  def paragraphDedupe(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    paragraphDedupeImpl(docs, textCol, idCol, None)

  /** Incremental [[paragraphDedupe]]: paragraphs already present in
    * `history` are dropped from the batch (history is the accumulated,
    * already-deduped corpus — its own order is settled), then the batch
    * deduplicates within itself by global (id, pos) first occurrence and
    * re-assembles. History state is ONE md5 row per distinct history
    * paragraph; pair the scan with a [[keyBloom]] over those fingerprints
    * to pre-filter the membership join when history is cold storage.
    * Same output shape as [[paragraphDedupe]]. */
  def paragraphDedupeIncremental(batch: DataFrame, historyParagraphFps: DataFrame,
                                 textCol: String, idCol: String): DataFrame =
    paragraphDedupeImpl(batch, textCol, idCol,
      Some(historyParagraphFps.select(col("fp").as("__fp"))))

  /** Distinct (md5) paragraph fingerprints of a corpus — the history
    * state [[paragraphDedupeIncremental]] consumes; persist and append
    * each batch's kept-paragraph fps after the run. */
  def paragraphFps(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    paragraphRows(docs, textCol, idCol).select(col("__fp").as("fp")).distinct()

  // ───── Bloom-filter membership pre-filter (incremental exact dedup) ─────

  /** Serialized Bloom filter over `xxhash64(key)`, built with Catalyst's
    * own mergeable [[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate]]
    * (the sketch behind runtime row-level join filtering): partial filters
    * build map-side per partition and OR-merge up the aggregation tree, so
    * the history scans exactly once with no row shuffle — only the binary
    * partials move. ~`numBits / items` bits per document of state (vs 16
    * bytes/doc for a persisted fingerprint index), the cheapest possible
    * history representation for membership. Persist the bytes beside the
    * corpus and rebuild [[bloomMightContain]] plans anywhere.
    *
    * The filter takes ~10 bits/item (≈1% fpp), floored at 64.
    * Catalyst enforces the session caps
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems/maxNumBits`
    * (defaults 4M items / 2²⁶ bits = 8 MiB) — both inputs clamp to them,
    * so an over-sized request degrades to a denser (higher-fpp) filter
    * instead of failing analysis; raise the confs for 10⁸⁺-item
    * histories, or shard the filter per partition. */
  def keyBloom(df: DataFrame, key: Column, expectedItems: Long): Array[Byte] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.internal.SQLConf
    require(expectedItems > 0, s"expectedItems must be positive, got $expectedItems")
    val maxItems = SQLConf.get.getConf(SQLConf.RUNTIME_BLOOM_FILTER_MAX_NUM_ITEMS)
    val maxBits = SQLConf.get.getConf(SQLConf.RUNTIME_BLOOM_FILTER_MAX_NUM_BITS)
    val items = math.min(expectedItems, maxItems)
    // overflow-safe ×10: anything past maxBits/10 saturates anyway
    val bits =
      if (expectedItems > maxBits / 10) maxBits
      else math.min(math.max(expectedItems * 10, 64L), maxBits)
    val agg = new BloomFilterAggregate(
      ColumnBridge.expression(xxhash64(key)),
      Literal(items), Literal(bits))
    val row = df.select(ColumnBridge.column(agg.toAggregateExpression()).as("bf")).head()
    // BloomFilterAggregate.eval returns NULL when zero items were added;
    // a null literal would make every downstream predicate null and every
    // where() drop ALL rows — the empty-history bootstrap run must instead
    // get a valid contains-nothing filter (same wire format: the
    // aggregate serializes org.apache.spark.util.sketch.BloomFilter)
    if (row.isNullAt(0)) {
      val bos = new java.io.ByteArrayOutputStream()
      org.apache.spark.util.sketch.BloomFilter.create(items, bits).writeTo(bos)
      bos.toByteArray
    } else row.getAs[Array[Byte]](0)
  }

  /** Multi-column form: the key is the struct of `keys` (hashing the
    * struct keeps column-order and null semantics identical between the
    * build side and any probe built with the same column list). */
  def keyBloom(df: DataFrame, keys: Seq[String], expectedItems: Long): Array[Byte] =
    keyBloom(df, struct(keys.map(col): _*), expectedItems)

  /** Membership test against a [[keyBloom]] filter — a codegen scan-side
    * predicate (no join, no shuffle): false ⇒ the key is DEFINITELY not
    * in the filtered set; true ⇒ present or a false positive. */
  def bloomMightContain(bloom: Array[Byte], key: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.BinaryType
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(BloomFilterMightContain(
      Literal(bloom, BinaryType),
      ColumnBridge.expression(xxhash64(key))))
  }

  /** Incremental exact anti-join with a Bloom pre-filter: batch rows whose
    * `keyCol` is in `history` are dropped, but rows the filter proves
    * absent skip the confirm join entirely — the join's probe side shrinks
    * from |batch| to |batch ∩ bloom| (true dups + ~fpp of the batch). At a
    * typical low dup rate the confirm join is over a few percent of the
    * batch against the key-pruned history scan.
    *
    * `confirm = false` skips the confirm join (NO history scan at all —
    * the filter bytes are the only history state touched): exact-no-dups
    * is still guaranteed (no false negatives), but ~fpp of genuinely-new
    * rows are dropped too. The right trade when the filter is a persisted
    * artifact and the corpus values recall of duplicates over per-row
    * precision.
    *
    * PLAN NOTE: the confirmed form evaluates `batch` twice (the
    * complementary filters are separate scans). This is deliberate — the
    * alternative (one pass, hit-flag inside the anti-join condition)
    * shuffles the ENTIRE batch through the join, while this shape
    * shuffles only the hit rows and re-runs what is typically a scan +
    * cheap projections. If the batch is an expensive computed pipeline,
    * `localCheckpoint` it first. */
  def bloomAntiJoin(batch: DataFrame, history: DataFrame, keyCol: String,
                    bloom: Array[Byte], confirm: Boolean = true): DataFrame = {
    val hit = bloomMightContain(bloom, col(keyCol))
    val clean = batch.where(!hit)
    if (!confirm) clean
    else clean.unionByName(
      batch.where(hit).join(history.select(col(keyCol)), Seq(keyCol), "left_anti"))
  }

  /** [[bloomAntiJoin]] building the filter from `history` in one pass
    * (`expectedItems` ≤ 0 ⇒ one cheap count(*) action sizes it). */
  def bloomAntiJoin(batch: DataFrame, history: DataFrame, keyCol: String,
                    expectedItems: Long, confirm: Boolean): DataFrame = {
    val est = if (expectedItems > 0) expectedItems
      else math.max(history.count(), 1L)
    bloomAntiJoin(batch, history, keyCol,
      keyBloom(history, col(keyCol), est), confirm)
  }

  /** Word n-gram shingles (distinct), the unit set for Jaccard/MinHash:
    * the grams of a token array joined by " ", or the whole space-joined
    * text for docs shorter than `n` tokens.
    *
    * PERF CONTRACT: the grams come from the compiled
    * [[graft.functions.TokenNgrams]] kernel (one codegen pass per row, no
    * higher-order-function lambda), so an inline `split(...)` is not
    * re-run per gram. The expression still reads `tokensCol` three times
    * (size guard, short-doc text, kernel); where a token column is
    * projected anyway, pass that attribute so the split runs once. */
  def shingles(tokensCol: Column, n: Int): Column = {
    val t = tokensCol
    array_distinct(
      when(size(t) < n, array(concat_ws(" ", t)))
        .otherwise(graft.functions.TextExpressions.tokenNgrams(t, n)))
  }

  /** Single-function MinHash key: the minimum md5 over a doc's n-gram
    * [[shingles]] — docs sharing their rarest-hashing shingle (high-
    * Jaccard docs usually do) get the SAME key. Used as a content-
    * locality sort key (e.g. [[graft.text.Packing.packGreedyBy]]'s
    * similarity-adjacent packing) rather than as a dedup verdict: one
    * hash function is too coarse to decide similarity but plenty to
    * cluster related docs adjacently. md5, not xxhash64, so an external
    * engine replays the key exactly. `toks` should be a projected
    * token-array column (see the [[shingles]] perf contract).
    * Scan-side, O(tokens·n). */
  def minShingleKey(toks: Column, n: Int): Column =
    array_min(transform(shingles(toks, n), s => md5(s)))

  /** Jaccard similarity of two distinct-element arrays — exact |∩|/|∪|
    * integer-ratio division (deterministic across engines). */
  def jaccard(a: Column, b: Column): Column =
    jaccardRatio(size(array_intersect(a, b)), size(a), size(b))

  /** |A∩B| / |A∪B| from the intersection and both set sizes. */
  private def jaccardRatio(inter: Column, nA: Column, nB: Column): Column =
    inter.cast("double") / (nA + nB - inter)

  /** Distinct (block..., id, shingle-hash) rows built ENTIRELY scan-side:
    * tokenize, run the compiled [[graft.functions.TokenNgrams]] kernel
    * (one whole-stage-codegen pass per row, exact `concat_ws(" ", window)`
    * parity), dedupe per doc with `array_distinct`, explode, hash. Docs
    * with < n tokens contribute their whole normalized text as one
    * shingle; NULL-text docs contribute no rows (the kernel's
    * null-to-empty contract matches the old lead-window form, which
    * filtered their token-less rows out).
    *
    * Until round 17 this was a posexplode + window-`lead` pipeline (the
    * pre-kernel way to stay out of interpreted HOF lambdas). That shape
    * paid ONE full exchange+sort of the token stream (the largest
    * intermediate in every dedup pipeline — corpus-sized at 100 TB) to
    * form the grams, plus a second corpus-wide exchange for the global
    * `.distinct()`. The kernel form needs NEITHER: grams are built and
    * deduped inside the scan projection, so the first exchange a shingle
    * pipeline pays is the one its CONSUMER actually needs (the df
    * aggregate / join on `g`). Per-doc `array_distinct` on the gram
    * STRINGS is equivalent to the old global distinct on (block.., id,
    * xxhash64(gram)): ids make cross-doc rows distinct already, and
    * hashing distinct strings yields distinct hashes up to the same
    * xxhash64-collision caveat the operator has always documented. */
  def shingleRows(docs: DataFrame, textCol: String, idCol: String,
                  blockCols: Seq[String], n: Int): DataFrame = {
    // id-hash spread of the raw (block, id, text) rows: the kernel work
    // and the first downstream aggregate's map-side partials then run
    // cluster-wide even when the input has few splits (the pre-kernel
    // form's window exchange did this by accident — while shuffling the
    // strictly larger token stream AND sorting it). AQE sizes the count.
    val src = TextOps.spreadByKey(
      docs.select(blockCols.map(col) :+ col(idCol) :+ col(textCol): _*),
      col(idCol))
      .select(blockCols.map(col) :+ col(idCol) :+
        TextOps.tokens(col(textCol)).as("__toks"): _*)
    src
      .select(blockCols.map(col) :+ col(idCol) :+
        explode(shingles(col("__toks"), n)).as("g0"): _*)
      .select(blockCols.map(col) :+ col(idCol) :+ xxhash64(col("g0")).as("g"): _*)
  }

  /** Per-shingle document frequency (`df`) via groupBy + join-back —
    * deliberately NOT `count().over(Window.partitionBy(g))`: shingle
    * frequencies are Zipfian, and a window partitioned by the shingle hash
    * drags every row of a hot (stopword) shingle into ONE task — at corpus
    * scale a trigram present in a few percent of documents puts 10⁸⁺ rows
    * in a single window partition, and AQE's skew handling splits joins,
    * not windows. The groupBy absorbs hot shingles in map-side partial
    * aggregation and the join-back IS skew-splittable.
    *
    * The join-back carries ONLY the `df > 1` subset (a LEFT join;
    * unmatched rows default to df = 1): ranking is unchanged, but on real
    * corpora duplicated shingles are the small minority of DISTINCT
    * shingles, so the right side shrinks by orders of magnitude and AQE
    * promotes the join to broadcast when it fits — then the shingle
    * stream reaches the prefix window without an extra shuffle-by-g
    * pass. When the dup subset is too big to broadcast, this degrades to
    * the same skew-splittable shuffled join as before, just smaller. The
    * PPJoin prefix only needs a total order shared by all docs, so df
    * values from either form rank identically. */
  private def withShingleDf(rows: DataFrame, keyCols: Seq[String]): DataFrame = {
    val dups = rows.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__df"))
      .where(col("__df") > 1)
    rows.join(dups, keyCols, "left")
      .withColumn("df", coalesce(col("__df"), lit(1L)))
      .drop("__df")
  }

  // ───── PPJoin core: prefix, candidates, verify ─────
  // The two sides of a pair are named by a suffix: side `s` carries the
  // doc id `id_<s>` and its shingle count `n_<s>`.

  /** PPJoin prefix filter (Chaudhuri et al.; Xiao et al.): rank each
    * doc's shingles of the df-annotated frame `withDf` by document
    * frequency ascending (rarest first; ties by hash — any total order
    * shared by all docs works) and keep each doc's first
    * |d| − ⌈t·|d|⌉ + 1 shingles. Two docs with J ≥ t (or a probe
    * contained ≥ t in any doc) MUST share a shingle inside that prefix,
    * so only prefixes join. Hot shingles (stopword n-grams) rank LAST and
    * never enter the candidate join — this is what deflates the
    * quadratic blow-up on skewed corpora, exactly, with no recall loss.
    * Returns `withDf` + `n_sh` (the doc's shingle count) + `pos`, prefix
    * rows only. */
  private def prefixRows(withDf: DataFrame, docKey: Seq[Column],
                         threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // n_sh and pos share ONE window spec (same partition, same order;
    // count uses the unbounded frame) → a single exchange+sort computes
    // both, instead of separate doc-key windows for size and rank
    val docWin = Window.partitionBy(docKey: _*).orderBy(col("df"), col("g"))
    withDf
      .withColumn("n_sh", count(lit(1)).over(
        docWin.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("pos", row_number().over(docWin))
      // ε guard: t·n can round ABOVE the exact rational (0.07·100 →
      // 7.000000000000001, ceil → 8), shortening the prefix below the
      // PPJoin bound and silently dropping true pairs. Undershooting the
      // ceil only lengthens the prefix (more candidates, still exact).
      .where(col("pos") <= col("n_sh") - ceil(lit(threshold) * col("n_sh") - lit(1e-9)) + 1)
  }

  /** Batch-side prefix under a PREBUILT df table: the batch adopts the
    * table's order, and shingles absent from it rank rarest at df 0.
    * Returns (id_l, n_l, g). */
  private def batchPrefix(rows: DataFrame, histDf: DataFrame, idCol: String,
                          threshold: Double): DataFrame =
    prefixRows(rows.join(histDf, Seq("g"), "left")
        .withColumn("df", coalesce(col("df"), lit(0L))), Seq(col(idCol)), threshold)
      .select(col(idCol).as("id_l"), col("n_sh").as("n_l"), col("g"))

  /** Jaccard candidates: prefix sides `a` (id_<l>, n_<l>, keys…) and `b`
    * (id_<r>, n_<r>, keys…) equi-joined on `keys`, kept when the size ratio
    * can reach the threshold (J ≤ min(|A|,|B|) / max(|A|,|B|)); a pair
    * sharing several prefix shingles appears once. `ordered` keeps
    * id_<l> < id_<r> (the self-join form). Output (id_<l>, id_<r>, n_<l>,
    * n_<r>). */
  private def ratioCandidates(a: DataFrame, b: DataFrame, keys: Seq[String],
                              l: String, r: String, threshold: Double,
                              ordered: Boolean): DataFrame = {
    val (idL, idR, nL, nR) = (s"id_$l", s"id_$r", col(s"n_$l"), col(s"n_$r"))
    val ratio = least(nL, nR).cast("double") / greatest(nL, nR) >= threshold
    a.join(b, keys)
      .where(if (ordered) col(idL) < col(idR) && ratio else ratio)
      .select(col(idL), col(idR), nL, nR)
      .dropDuplicates(idL, idR)
  }

  /** Overlap verifier: the full |A∩B| (`inter`) for candidates only —
    * `cand` joins both (idCol, g) shingle indexes (side l's, then side
    * r's on (id_r, g)) and one group-count over the candidate columns
    * counts the shared shingles. */
  private def overlapCounts(cand: DataFrame, lRows: DataFrame, rRows: DataFrame,
                            idCol: String, l: String, r: String): DataFrame =
    cand
      .join(lRows.select(col(idCol).as(s"id_$l"), col("g")), s"id_$l")
      .join(rRows.select(col(idCol).as(s"id_$r"), col("g")), Seq(s"id_$r", "g"))
      .groupBy(cand.columns.map(col): _*)
      .agg(count(lit(1)).as("inter"))

  /** (id_<l>, id_<r>, jaccard) rows of verified counts with J ≥ threshold. */
  private def jaccardAtLeast(counted: DataFrame, l: String, r: String,
                             threshold: Double): DataFrame =
    counted
      .select(col(s"id_$l"), col(s"id_$r"),
        jaccardRatio(col("inter"), col(s"n_$l"), col(s"n_$r")).as("jaccard"))
      .where(col("jaccard") >= threshold)

  /** N-gram Jaccard near-dup pairs within blocking keys: emits (id_a,
    * id_b, jaccard) for pairs ≥ threshold. The self-join is on
    * `blockCols` (never a cross join); block keys must be chosen so block
    * sizes stay bounded (e.g. lang × source), and AQE skew-join handling
    * splits skewed blocks.
    *
    * Inverted-index (Vernica-join) form: distinct shingle rows, equi-join
    * on (block, shingle-hash) with a size-ratio prune
    * (J ≤ min|A|,|B| / max|A|,|B|) in the join condition, then ONE
    * group-count gives |A∩B| per pair.
    *
    * Why not join arrays and `array_intersect`: Catalyst pushes the
    * threshold filter into the join condition, where the intersect gets
    * evaluated per probe outside codegen (and twice — numerator and
    * denominator). The inverted form shuffles each shingle once, never
    * moves arrays, and its jaccard filter sits above an aggregate where it
    * cannot sink into a join. This is also the shape that scales: the
    * shuffle key (block, shingle) is high-cardinality, and AQE skew-split
    * handles hot shingles. Joining on xxhash64(shingle) keeps the keys
    * fixed-width (a collision needs two distinct shingles in one block at
    * the same 64-bit hash, ~1e-15 per corpus).
    *
    * Candidate generation additionally applies the EXACT prefix filter
    * (PPJoin family — see `prefixRows`): only each doc's rarest
    * |d|−⌈t·|d|⌉+1 shingles enter the self-join, so frequent shingles
    * can't quadratically explode the candidate set; the full intersection
    * is then counted for candidates only. */
  def ngramJaccardPairs(docs: DataFrame, textCol: String, idCol: String,
                        blockCols: Seq[String], n: Int, threshold: Double): DataFrame =
    // the index feeds FOUR consumers (df aggregate, prefix join-back, both
    // verification sides); AQE exchange reuse covers only some of them
    // (measured: the df branch re-executes the whole shingle pipeline), so
    // materialize once — the in-session form of the FromRows persistence
    // advice. Lazy: the first action pays it.
    ngramJaccardPairsFromRows(
      shingleRows(docs, textCol, idCol, blockCols, n).localCheckpoint(eager = false),
      idCol, blockCols, threshold)

  /** [[ngramJaccardPairs]] over a PRECOMPUTED shingle index — `rows` is
    * [[shingleRows]] output (blockCols ++ idCol ++ g), or a re-read of a
    * materialized one. The self-join and the verification stage each scan
    * the index again, so at corpus scale the index should be persisted
    * (bucketed by `g`) and fed to every consumer — exact-Jaccard, MinHash,
    * and the incremental cross-join — instead of re-shingling per call. */
  def ngramJaccardPairsFromRows(rows: DataFrame, idCol: String,
                                blockCols: Seq[String], threshold: Double): DataFrame = {
    // document frequencies over the whole index: the order is GLOBAL
    val prefix = prefixRows(withShingleDf(rows, blockCols :+ "g"),
        (blockCols :+ idCol).map(col), threshold)
      .select(blockCols.map(col) :+ col(idCol) :+ col("n_sh") :+ col("g"): _*)
    def side(s: String): DataFrame = prefix.select(blockCols.map(col) :+
      col(idCol).as(s"id_$s") :+ col("n_sh").as(s"n_$s") :+ col("g"): _*)
    val cand = ratioCandidates(side("a"), side("b"), blockCols :+ "g", "a", "b",
      threshold, ordered = true)
    val idx = rows.select(col(idCol), col("g"))
    jaccardAtLeast(overlapCounts(cand, idx, idx, idCol, "a", "b"), "a", "b", threshold)
  }

  /** Cross-corpus n-gram Jaccard near-dup join: pairs (id_l, id_r,
    * jaccard ≥ threshold) between two DIFFERENT corpora — the incremental
    * form of [[ngramJaccardPairs]]. This is the shape daily ingest needs
    * at scale: dedupe a new batch against the accumulated corpus without
    * re-cleaning the corpus (the self-join form would re-pair history
    * against itself — quadratically wasted work on the 99%-unchanged
    * side).
    *
    * Same exact PPJoin prefix filter as the self-join: the filter theorem
    * holds for ANY pair under any total order both docs share, so document
    * frequencies are computed over the UNION of both corpora's distinct
    * shingle rows (rarest-first order stays globally consistent, and hot
    * shingles still never enter the candidate join). Candidates then come
    * from left-prefix × right-prefix on the shingle hash; the full
    * intersection is counted for candidates only, exactly as in the
    * self-join. Left and right may carry overlapping id spaces — pairs are
    * (left id, right id), never deduped across sides.
    *
    * At 100 TB: the union-df aggregate and the prefix join shuffle on the
    * high-cardinality shingle hash; the (huge) history side streams
    * through once. A history whose shingle index is pre-materialized and
    * bucketed by `g` turns both the df aggregate's input and the join
    * shuffle-free on that side. */
  def ngramJaccardJoin(left: DataFrame, right: DataFrame, textCol: String,
                       idCol: String, n: Int, threshold: Double): DataFrame =
    // batch (left) side: small by the incremental contract → materialize
    // its index once for the union-df, join, and verify consumers. The
    // history (right) side is deliberately NOT checkpointed — at corpus
    // scale recomputing its streaming passes beats materializing it; use
    // ngramJaccardJoinPrebuilt when history artifacts are persisted.
    ngramJaccardJoinFromRows(
      shingleRows(left, textCol, idCol, Nil, n).localCheckpoint(eager = false),
      shingleRows(right, textCol, idCol, Nil, n), idCol, threshold)

  /** [[ngramJaccardJoin]] over precomputed shingle indexes for each side
    * (`shingleRows` output). The incremental pipeline shingles its batch
    * ONCE and feeds this plus the within-batch self-join from the same
    * frame; a pre-materialized history index makes the history side
    * shuffle-free. */
  def ngramJaccardJoinFromRows(leftRows: DataFrame, rightRows: DataFrame,
                               idCol: String, threshold: Double): DataFrame = {
    val lRows = leftRows.select(col(idCol), col("g"), lit(0).as("__side"))
    val rRows = rightRows.select(col(idCol), col("g"), lit(1).as("__side"))
    val prefix = prefixRows(withShingleDf(lRows.unionAll(rRows), Seq("g")),
        Seq(col("__side"), col(idCol)), threshold)
      .select(col("__side"), col(idCol), col("n_sh"), col("g"))
    def side(k: Int, s: String): DataFrame = prefix.where(col("__side") === k)
      .select(col(idCol).as(s"id_$s"), col("n_sh").as(s"n_$s"), col("g"))
    val cand = ratioCandidates(side(0, "l"), side(1, "r"), Seq("g"), "l", "r",
      threshold, ordered = false)
    jaccardAtLeast(overlapCounts(cand, lRows, rRows, idCol, "l", "r"), "l", "r", threshold)
  }

  /** Build the persistent history-side artifacts for
    * [[ngramJaccardJoinPrebuilt]] from a history shingle index
    * ([[shingleRows]] output):
    *   `df`     — (g, df): per-shingle document frequency over history;
    *   `prefix` — (idCol, n_sh, g): each history doc's PPJoin prefix rows
    *              under the (df, g) rarest-first order, with its total
    *              shingle count.
    * Persist BOTH (plus the raw index itself) bucketed by `g`
    * ([[graft.ops.BatchView.writeBucketed]]) and re-read them per batch:
    * every full-history stage of the incremental join then plans with NO
    * exchange on the history side — this is what the union-based
    * [[ngramJaccardJoinFromRows]] cannot offer, because its shared-df
    * aggregate runs over the union of both corpora and re-shuffles
    * history on every batch. Rebuild the artifacts as history grows:
    * staleness only shifts the candidate-pruning order (more candidates),
    * never the result set.
    *
    * THRESHOLD CONTRACT: the prefix length is derived from `threshold`,
    * and a pair's recall needs BOTH prefixes at (or below) the join
    * threshold — build with the LOWEST threshold you intend to join at
    * (a lower-threshold prefix is a superset, so joining higher stays
    * exact; joining lower than the build silently misses pairs —
    * [[ngramJaccardJoinPrebuilt]] rejects that). The built prefix rows
    * carry the build threshold in a `__t` column for that guard. */
  def historyJaccardIndex(histRows: DataFrame, idCol: String,
                          threshold: Double): (DataFrame, DataFrame) = {
    val df = histRows.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val prefix = prefixRows(histRows.join(df, Seq("g")), Seq(col(idCol)), threshold)
      .select(col(idCol), col("n_sh"), col("g"), lit(threshold).as("__t"))
    (df, prefix)
  }

  /** The corpus-scale form of [[ngramJaccardJoinFromRows]]: the history
    * side's expensive artifacts come PREBUILT from [[historyJaccardIndex]],
    * persisted bucketed by `g`, so a per-batch run never shuffles full
    * history. The batch adopts the SHARED total order by joining the
    * history df table (batch-only shingles rank rarest at df 0 — the
    * PPJoin prefix filter is exact under ANY total order both docs share,
    * so using history-only frequencies costs at most extra candidates,
    * never results), windows over its OWN docs only, and prefix-joins
    * against the prebuilt history prefix — with history bucketed by `g`,
    * both that join and the df lookup leave the history side in place.
    * The verification join moves only candidate history docs' shingles
    * (the candidate set is batch-bounded; AQE broadcasts it at scale).
    * Output is identical to [[ngramJaccardJoin]] on the raw frames. */
  def ngramJaccardJoinPrebuilt(batchRows: DataFrame, histIdx: DataFrame,
                               histDf: DataFrame, histPrefix: DataFrame,
                               idCol: String, threshold: Double): DataFrame = {
    // threshold contract (see historyJaccardIndex): an index built at a
    // HIGHER threshold has too-short prefixes for this join and would
    // silently miss pairs — fail loudly instead (one-row probe, cheap)
    if (histPrefix.columns.contains("__t")) {
      val t0 = histPrefix.select(col("__t")).take(1)
      if (t0.nonEmpty && t0.head.getDouble(0) > threshold + 1e-12)
        throw new IllegalArgumentException(
          s"history index was built at threshold ${t0.head.getDouble(0)}; " +
            s"joining at lower threshold $threshold would miss pairs — " +
            "rebuild the index at (or below) the join threshold")
    }
    val hPrefix = histPrefix.select(col(idCol).as("id_r"), col("n_sh").as("n_r"), col("g"))
    val cand = ratioCandidates(batchPrefix(batchRows, histDf, idCol, threshold),
      hPrefix, Seq("g"), "l", "r", threshold, ordered = false)
    jaccardAtLeast(overlapCounts(cand, batchRows, histIdx, idCol, "l", "r"), "l", "r", threshold)
  }

  /** Containment (decontamination) join: pairs where corpus doc B covers
    * at least `threshold` of probe doc A's shingles —
    * |A∩B| / |A| ≥ t, the asymmetric overlap used to find training docs
    * contaminated with benchmark/eval content (Jaccard under-scores a
    * short eval doc embedded in a long training doc; containment does
    * not). Emits (id_l = probe, id_r = corpus, containment).
    *
    * Same inverted-index shape as [[ngramJaccardJoin]], with the prefix
    * filter on the PROBE side only: containment ≥ t forces |A∩B| ≥
    * ⌈t·|A|⌉, so A must share a shingle within its first
    * |A| − ⌈t·|A|⌉ + 1 rarest shingles, while ANY of B's shingles can be
    * the witness (no corpus-side prefix is sound). Candidates are also
    * pruned by |B| ≥ ⌈t·|A|⌉ (an intersection can't exceed |B|). The
    * probe set is the small side by contract (an eval suite vs a corpus);
    * the corpus streams through the shingle join once. */
  def containmentJoin(probe: DataFrame, corpus: DataFrame, textCol: String,
                      idCol: String, n: Int, threshold: Double): DataFrame =
    // probe suite: small by contract → materialize once (see
    // ngramJaccardJoin's rationale); the corpus side streams
    containmentJoinFromRows(
      shingleRows(probe, textCol, idCol, Nil, n).localCheckpoint(eager = false),
      shingleRows(corpus, textCol, idCol, Nil, n), idCol, threshold)

  /** [[containmentJoin]] over precomputed shingle indexes — since r18
    * the SAME plan as [[containmentJoinPrebuilt]], with the corpus
    * artifacts derived inline. The pre-r18 form tagged both sides,
    * computed document frequencies over the UNION, and ran ONE window
    * partitioned by (side, id) over the combined stream to size and
    * rank every doc — which dragged the (100 TB) corpus side through a
    * corpus-wide exchange+sort just to compute per-doc shingle counts
    * that a partial-aggregable groupBy delivers, and re-executed the
    * union-df aggregate subtree under both window branches. Only the
    * probe side is ever prefixed, and the prefix theorem is sound under
    * ANY fixed total order, so ordering by corpus-side df (probe-only
    * shingles at df 0, exactly the prebuilt path) generates a candidate
    * set that differs only in never-true extras — the exact
    * verification stage makes the OUTPUT identical (q114/q115 share one
    * oracle). Corpus consumption is now four streaming passes (df
    * aggregate, size aggregate, candidate join, verify index) with no
    * corpus-wide sort anywhere. */
  def containmentJoinFromRows(probeRows: DataFrame, corpusRows: DataFrame,
                              idCol: String, threshold: Double): DataFrame = {
    val (cDf, cSizes) = corpusContainmentIndex(corpusRows, idCol)
    containmentJoinPrebuilt(probeRows, corpusRows, cDf, cSizes, idCol,
      threshold)
  }

  /** The eval-hygiene REPORT a decontamination run publishes: one row
    * per PROBE (eval-suite) doc — clean ones included, which is the
    * point of an audit — with how many corpus docs cover it at ≥
    * `threshold` and the worst containment found:
    * `(idCol, n_contaminating, max_containment, contaminated)`;
    * `max_containment` is null for clean docs (no hit to report).
    * Pure composition: [[containmentJoin]] pairs → per-probe aggregate →
    * flag-back join on the (tiny, probe-sized) report. */
  def contaminationReport(probe: DataFrame, corpus: DataFrame, textCol: String,
                          idCol: String, n: Int, threshold: Double): DataFrame =
    probeReport(containmentJoin(probe, corpus, textCol, idCol, n, threshold),
      probe, idCol)

  /** The per-probe report over containment pairs (id_l, id_r,
    * containment): a per-probe count/max aggregate, flagged back onto the
    * (label…, idCol) universe of `probe` so clean docs keep a row —
    * (label…, idCol, n_contaminating, max_containment, contaminated). */
  private def probeReport(pairs: DataFrame, probe: DataFrame, idCol: String,
                          label: Seq[String] = Nil): DataFrame = {
    val agg = pairs
      .groupBy(col("id_l"))
      .agg(count(lit(1)).as("n_contaminating"),
        max(col("containment")).as("max_containment"))
    probe.select(label.map(col) :+ col(idCol).as("id_l"): _*).distinct()
      .join(agg, Seq("id_l"), "left")
      .select(label.map(col) ++ Seq(col("id_l").as(idCol),
        coalesce(col("n_contaminating"), lit(0L)).as("n_contaminating"),
        col("max_containment"),
        col("n_contaminating").isNotNull.as("contaminated")): _*)
  }

  /** Corpus-side artifacts for [[containmentJoinPrebuilt]], built once
    * from a corpus shingle index ([[shingleRows]] output):
    *   `df`    — (g, df): per-shingle document frequency over the corpus
    *             (the probe-prefix pruning order — the corpus knows which
    *             shingles are hot, the probe suite does not);
    *   `sizes` — (idCol, n_sh): per-doc shingle counts for the
    *             |B| ≥ ⌈t·|A|⌉ candidate prune.
    * Persist `df` and the index bucketed by `g`; `sizes` is one row per
    * doc. Decontamination is a RECURRING job against a mostly-static
    * corpus — prebuilding moves the corpus-wide aggregates out of every
    * run. */
  def corpusContainmentIndex(corpusRows: DataFrame, idCol: String): (DataFrame, DataFrame) =
    (corpusRows.groupBy(col("g")).agg(count(lit(1)).as("df")),
      corpusRows.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh")))

  /** The corpus-scale form of [[containmentJoinFromRows]]: corpus
    * artifacts come prebuilt from [[corpusContainmentIndex]]. Only the
    * probe side is prefixed (sound for asymmetric overlap under ANY probe
    * ordering — the ⌈t·|A|⌉-sized intersection cannot hide entirely in
    * the ⌈t·|A|⌉−1-sized suffix), ordered corpus-rare-first so hot corpus
    * shingles stay out of the prefix; probe-only shingles rank rarest at
    * df 0. The probe suite is small by contract, so the candidate join
    * broadcasts it and the corpus index streams once, in place when
    * bucketed by `g`. Output is identical to [[containmentJoin]]. */
  def containmentJoinPrebuilt(probeRows: DataFrame, corpusIdx: DataFrame,
                              corpusDf: DataFrame, corpusSizes: DataFrame,
                              idCol: String, threshold: Double): DataFrame = {
    val cand = batchPrefix(probeRows, corpusDf, idCol, threshold)
      .join(corpusIdx.select(col(idCol).as("id_r"), col("g")), Seq("g"))
      .select(col("id_l"), col("id_r"), col("n_l"))
      .dropDuplicates("id_l", "id_r")
      // size prune AFTER dedup: cand is probe-bounded, so the sizes join
      // is tiny — never a corpus-wide shuffle
      .join(corpusSizes.select(col(idCol).as("id_r"), col("n_sh").as("n_r")), "id_r")
      .where(col("n_r") >= ceil(lit(threshold) * col("n_l") - lit(1e-9)))
      .select(col("id_l"), col("id_r"), col("n_l"))
    overlapCounts(cand, probeRows, corpusIdx, idCol, "l", "r")
      .select(col("id_l"), col("id_r"),
        (col("inter").cast("double") / col("n_l")).as("containment"))
      .where(col("containment") >= threshold)
  }

  /** The recurring form of [[contaminationReport]]: the audit probes
    * PREBUILT corpus artifacts ([[corpusContainmentIndex]] + the persisted
    * shingle index) instead of re-shingling the corpus per run — the
    * corpus is the 100 TB side and mostly static between audits, so a
    * scan of it belongs in index-build time, not in every report. The
    * probe suite (tiny by contract) is shingled here; the universe —
    * clean docs included, the point of an audit — comes from `probe`
    * itself, so docs that produce no shingles still get a clean row.
    * Output is identical to [[contaminationReport]] (same oracle). */
  def contaminationReportPrebuilt(probe: DataFrame, textCol: String,
                                  corpusIdx: DataFrame, corpusDf: DataFrame,
                                  corpusSizes: DataFrame, idCol: String,
                                  n: Int, threshold: Double): DataFrame = {
    val probeRows = shingleRows(probe, textCol, idCol, Nil, n)
      // four consumers downstream (prefix build, candidate join, verify
      // idx, universe) — mirror the q75 persisted-index contract
      .localCheckpoint(eager = false)
    probeReport(containmentJoinPrebuilt(probeRows, corpusIdx, corpusDf,
      corpusSizes, idCol, threshold), probe, idCol)
  }

  /** ONE-PASS multi-benchmark decontamination audit: the report of
    * [[contaminationReport]] for EVERY benchmark in one corpus scan.
    * `probe` carries a `benchCol` label per eval doc; docs shared by
    * several benchmarks (MMLU items quoted in two suites) are deduped by
    * id before shingling, joined against the corpus ONCE, and the verdict
    * is fanned back to every (benchmark, doc) membership row. Running K
    * separate audits scans the 100 TB corpus K times; this scans it once
    * — the benchmark label never rides the shingle join at all.
    * Returns `(benchCol, idCol, n_contaminating, max_containment,
    * contaminated)` — identical rows, per benchmark, to K separate
    * [[contaminationReport]] runs (parity asserted in DedupSpec).
    *
    * For the recurring form, compose the same fan-back over
    * [[containmentJoinPrebuilt]] + [[corpusContainmentIndex]] — the
    * membership/fan-back stages are corpus-free, so the prebuilt
    * argument (q115) carries over unchanged. */
  def contaminationReportMulti(probe: DataFrame, benchCol: String,
                               corpus: DataFrame, textCol: String,
                               idCol: String, n: Int,
                               threshold: Double): DataFrame = {
    // same id ⇒ same text by contract (an eval item is one document);
    // dedup by id so a doc in many benchmarks is shingled and joined once
    val uniq = probe.select(col(idCol), col(textCol)).dropDuplicates(idCol)
    // membership fan-back: (benchmark, doc) universe × per-doc verdict —
    // probe-sized frames only, the corpus never appears here
    probeReport(containmentJoin(uniq, corpus, textCol, idCol, n, threshold),
      probe, idCol, Seq(benchCol))
  }

  /** Per-benchmark rollup of [[contaminationReportMulti]] — the table a
    * decontamination run actually publishes: how dirty is each eval
    * suite. `contamination_rate` is one exact-integer division per
    * benchmark; `worst_containment` is null for a fully clean suite. */
  def contaminationSummary(reportMulti: DataFrame, benchCol: String): DataFrame =
    reportMulti.groupBy(col(benchCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("contaminated"), lit(1L)).otherwise(lit(0L))).as("n_contaminated"),
        max(col("max_containment")).as("worst_containment"))
      .withColumn("contamination_rate",
        col("n_contaminated").cast("double") / col("n_docs"))

  /** SPAN-LEVEL (surgical) decontamination: instead of dropping a whole
    * training doc that shares content with an eval benchmark (the
    * [[containmentJoin]] family), remove ONLY the contaminated token
    * spans and keep the rest of the doc — the higher-recall hygiene used
    * when benchmarks quote common boilerplate that would otherwise
    * delete good documents wholesale.
    *
    * Semantics: whitespace-tokenize both sides; any corpus token
    * position that starts a word n-gram present ANYWHERE in `bench`
    * taints positions [p, p+n−1]; the union of the tainted intervals
    * (overlaps merge by construction) is cut and the survivors re-joined
    * with single spaces. Output one row per corpus doc: `(idCol,
    * clean_text, removed_tokens, total_tokens, kept)` where `kept` is
    * the integer-exact per-mille gate `removed·1000 ≤
    * removedPerMilleMax·total` (docs that lose more than the cap should
    * be dropped, not published with holes).
    *
    * Scale shape: bench n-grams are one distinct over the (benchmark-
    * suite-sized) eval set — broadcast-able in practice, and AQE will;
    * corpus grams travel as scalar `(id, pos, gram)` rows through ONE
    * equi-join shuffle (never arrays); matched positions aggregate to a
    * per-doc set bounded by doc length; reconstruction is scan-side HOFs
    * (clean docs take the left join's null arm, whose empty hit array
    * makes the taint check a no-op). The in-lambda check is
    * O(tokens · hits) per doc — hits are few by construction (a
    * benchmark's quotable span count). No windows, no cross joins.
    *
    * Null/empty text: `split('', ' ')` is `[""]` (1 token) on both
    * engines; null text is not supported (filter upstream). */
  def scrubContaminatedSpans(corpus: DataFrame, bench: DataFrame,
                             textCol: String, idCol: String, n: Int,
                             removedPerMilleMax: Int = 1000): DataFrame = {
    require(n >= 1, s"n-gram order must be positive: $n")
    require(removedPerMilleMax >= 0 && removedPerMilleMax <= 1000,
      s"per-mille cap out of range: $removedPerMilleMax")
    // tokenize ONCE per row into a projected column: the gram kernel and
    // the taint-check lambda below read a bound reference, never a split
    // re-run per element. Grams are position-aligned (gram i starts at
    // token i); fewer than n tokens → no grams.
    val toks = split(col(textCol), " ", -1)
    def grams(t: Column): Column = graft.functions.TextExpressions.tokenNgrams(t, n)
    val benchGrams = bench.select(toks.as("__toks"))
      .select(explode(grams(col("__toks"))).as("__gram")).distinct()
    val hits = corpus.select(col(idCol), toks.as("__toks"))
      .select(col(idCol),
        posexplode(grams(col("__toks"))).as(Seq("__pos", "__gram")))
      .join(benchGrams, "__gram")
      .groupBy(col(idCol))
      .agg(collect_set(col("__pos")).as("__hits"))
    val hitArr = coalesce(col("__hits"), array().cast("array<int>"))
    val keptToks = filter(col("__toks"), (t, i) =>
      !exists(hitArr, p => i >= p && i <= p + lit(n - 1)))
    corpus.select(col(idCol), toks.as("__toks"))
      .join(hits, Seq(idCol), "left")
      // project the taint-check filter ONCE: referencing it from both
      // clean_text and the count would run the O(tokens·hits) lambda
      // twice per row (CollapseProject keeps multi-referenced non-cheap
      // expressions un-inlined, so this projection survives planning)
      .select(col(idCol), col("__toks"), keptToks.as("__kept"))
      .select(col(idCol),
        concat_ws(" ", col("__kept")).as("clean_text"),
        (size(col("__toks")) - size(col("__kept"))).cast("long")
          .as("removed_tokens"),
        size(col("__toks")).cast("long").as("total_tokens"))
      .withColumn("kept",
        col("removed_tokens") * 1000L <=
          lit(removedPerMilleMax.toLong) * col("total_tokens"))
  }

  /** Per-row distinct shingle HASH array, computed statelessly (array
    * functions only — no window, no distinct aggregate), so it is legal
    * on a STREAMING DataFrame. Same shingle semantics as [[shingleRows]]
    * (the same [[shingles]] construction, hashed): token n-grams joined by
    * " ", whole normalized text for docs shorter than `n` tokens,
    * xxhash64, distinct. Parity with the batch path is
    * asserted in StreamingSpec (the two constructions must agree or the
    * streaming filter diverges from backfill). */
  private[graft] def shingleHashArray(textCol: Column, n: Int): Column =
    array_distinct(transform(shingles(TextOps.tokens(textCol), n), g => xxhash64(g)))

  /** STREAMING decontamination: arriving docs probed against a PREBUILT
    * static corpus shingle index ([[shingleRows]] output, persisted —
    * the 100 TB side never rides the stream). Emits one row per
    * (sealed doc, contaminating corpus doc) with containment ≥
    * `threshold`: `(idCol, tsCol, id_r, containment)` — the hits stream
    * a live ingest pipeline uses to drop eval-contaminated docs before
    * they land. Clean docs emit nothing (the full clean-rows-included
    * audit is [[contaminationReportPrebuilt]]'s batch job).
    *
    * Shape: stateless per-row shingling ([[shingleHashArray]]) →
    * stream-static inner join on `g` (STATELESS — the stream probes the
    * index; bucket the persisted index by `g` and the probe is
    * exchange-free) → ONE watermark-sealed aggregate keyed by
    * (doc, ts, corpus doc), state bounded by candidates inside the
    * horizon. Containment is the same `inter / n_sh` integer-derived
    * ratio as the batch join, so a doc scores identically live or in
    * backfill (parity asserted in StreamingSpec). */
  def streamingContaminationHits(docs: DataFrame, corpusIdx: DataFrame,
                                 textCol: String, idCol: String,
                                 tsCol: String, n: Int, threshold: Double,
                                 watermark: String = "1 hour"): DataFrame = {
    val sh = docs.withWatermark(tsCol, watermark)
      .select(col(idCol), col(tsCol),
        shingleHashArray(col(textCol), n).as("__sh"))
      .select(col(idCol), col(tsCol), size(col("__sh")).as("n_sh"),
        explode(col("__sh")).as("g"))
    sh.join(corpusIdx.select(col(idCol).as("id_r"), col("g")), "g")
      .groupBy(col(idCol), col(tsCol), col("id_r"), col("n_sh"))
      .agg(count(lit(1)).as("inter"))
      .select(col(idCol), col(tsCol), col("id_r"),
        (col("inter").cast("double") / col("n_sh")).as("containment"))
      .where(col("containment") >= threshold)
  }

  /** 2^31 - 1 (Mersenne prime): a*x < 2^62 keeps the modular multiply
    * inside Long under ANSI arithmetic (no overflow). */
  val MinhashP = 2147483647L

  /** MinHash+LSH near-dup candidate pairs: signature → `bands` bands of
    * `rowsPerBand` → (band, bucket) keys → self-join on buckets →
    * distinct pairs, with optional exact-Jaccard confirmation. The
    * shuffle key (band, bucket) is high-cardinality and well
    * distributed, pairs form only within buckets (the standard
    * sub-quadratic path), and the confirm touches candidate pairs only.
    *
    * HOF-free: distinct shingle-hash rows (scan-side kernel
    * pipeline), ONE hash-aggregate computing all `bands × rowsPerBand`
    * minima as separate min() columns PLUS the per-doc shingle count
    * (map-side partial agg), band buckets assembled by concat+hash of
    * those columns, candidate pairs from the (band, bucket) self-join on
    * ids only, and exact-Jaccard confirmation via the same inverted-count
    * join — every stage whole-stage-codegen, nothing interpreted, no
    * array columns through any shuffle.
    *
    * Subtree-reuse design: the expensive shingle pipeline feeds exactly
    * THREE consumers — the signature aggregate and the two sides of the
    * confirmation join (a self-join is inherently two scans). The shingle
    * count rides inside the signature aggregate (no separate `sizes` pass),
    * and the confirm join takes n_a/n_b from the already-tiny per-doc
    * signature table instead of re-aggregating shingles. The banded
    * self-join's two sides are canonically identical, so runtime
    * ReuseExchange shares their shuffle. */
  def minhashLshPairs(docs: DataFrame, textCol: String, idCol: String,
                      n: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
                      confirmThreshold: Option[Double] = None): DataFrame =
    minhashLshPairsFromRows(shingleRows(docs, textCol, idCol, Nil, n),
      idCol, bands, rowsPerBand, confirmThreshold)

  /** Per-doc MinHash signature table from a shingle index: ONE hash
    * aggregate computes all `bands × rowsPerBand` minima as columns
    * `m0..m(N-1)` plus the per-doc shingle count — output
    * (idCol, m0.., n_sh). Deterministic under the fixed seed, so
    * signature tables built at different times (a persisted history table
    * vs today's batch) band-join consistently. This is the CHEAPEST
    * history artifact of all the near-dup paths — `bands × rowsPerBand`
    * longs + one count per doc, orders of magnitude smaller than a
    * shingle index — which makes [[minhashLshJoinFromSigs]] the practical
    * incremental near-dup primitive when storing history shingles is too
    * expensive. */
  def minhashSigTable(rows: DataFrame, idCol: String,
                      bands: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    val p = MinhashP
    val numHashes = bands * rowsPerBand
    val rnd = new scala.util.Random(42L)
    val params = Seq.fill(numHashes)((rnd.nextInt((p - 1).toInt).toLong + 1L,
      rnd.nextInt(p.toInt).toLong))
    val base = rows.select(col(idCol), pmod(col("g"), lit(p)).as("h"))
    val minCols = params.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * lit(a) + lit(b), lit(p))).as(s"m$i")
    }
    base.groupBy(col(idCol))
      .agg(minCols.head, (minCols.tail :+ count(lit(1)).as("n_sh")): _*)
  }

  /** (idCol, band, bucket) LSH banding rows from a signature table. */
  private def bandedBuckets(sig: DataFrame, idCol: String,
                            bands: Int, rowsPerBand: Int): DataFrame = {
    val bandBuckets = (0 until bands).map { bnd =>
      xxhash64(concat_ws("_", lit(bnd) +:
        (0 until rowsPerBand).map(r => col(s"m${bnd * rowsPerBand + r}")): _*))
    }
    sig.select(col(idCol), posexplode(array(bandBuckets: _*)).as(Seq("band", "bucket")))
  }

  /** Cross-corpus MinHash+LSH near-dup join: batch signatures banded
    * against a (typically persisted) history SIGNATURE table — the
    * incremental form of [[minhashLshPairsFromRows]], and the one whose
    * history state is signature-sized, not shingle-sized. Candidates are
    * (id_l ∈ batch, id_r ∈ history) pairs agreeing on at least one full
    * band; both tables must come from [[minhashSigTable]] with the same
    * seed/band geometry (the fixed default makes tables comparable across
    * builds). `confirm = Some((batchRows, histRows, t))` adds the exact-
    * Jaccard gate over the two shingle indexes, candidates only — at
    * scale the history index can stay in cold storage and only candidate
    * docs' shingles are fetched. */
  def minhashLshJoinFromSigs(batchSigs: DataFrame, histSigs: DataFrame,
                             idCol: String, bands: Int = 16, rowsPerBand: Int = 4,
                             confirm: Option[(DataFrame, DataFrame, Double)] = None): DataFrame = {
    val l = bandedBuckets(batchSigs, idCol, bands, rowsPerBand)
      .select(col("band"), col("bucket"), col(idCol).as("id_l"))
    val r = bandedBuckets(histSigs, idCol, bands, rowsPerBand)
      .select(col("band"), col("bucket"), col(idCol).as("id_r"))
    val cand = l.join(r, Seq("band", "bucket"))
      .select(col("id_l"), col("id_r"))
      .dropDuplicates("id_l", "id_r")
    confirm match {
      case Some((batchRows, histRows, t)) =>
        minhashConfirm(cand, batchRows, histRows, batchSigs, histSigs, idCol, "l", "r", t)
      case None => cand
    }
  }

  /** Exact-Jaccard confirmation of MinHash candidates (id_<l>, id_<r>):
    * the overlap verifier over both shingle indexes, then each side's
    * shingle count `n_sh` from its signature table. */
  private def minhashConfirm(cand: DataFrame, lRows: DataFrame, rRows: DataFrame,
                             lSigs: DataFrame, rSigs: DataFrame, idCol: String,
                             l: String, r: String, threshold: Double): DataFrame =
    jaccardAtLeast(overlapCounts(cand, lRows, rRows, idCol, l, r)
      .join(lSigs.select(col(idCol).as(s"id_$l"), col("n_sh").as(s"n_$l")), s"id_$l")
      .join(rSigs.select(col(idCol).as(s"id_$r"), col("n_sh").as(s"n_$r")), s"id_$r"),
      l, r, threshold)

  /** [[minhashLshPairs]] over a precomputed shingle index (`shingleRows`
    * output, (idCol, g)) — the corpus-scale form where one materialized
    * index feeds MinHash banding, exact-Jaccard, and the incremental
    * cross-join without re-shingling. */
  def minhashLshPairsFromRows(rows: DataFrame, idCol: String,
                              bands: Int = 16, rowsPerBand: Int = 4,
                              confirmThreshold: Option[Double] = None): DataFrame = {
    // one pass: all 64 minima + the shingle count (|A| for Jaccard)
    val sig = minhashSigTable(rows, idCol, bands, rowsPerBand)
    val banded = bandedBuckets(sig, idCol, bands, rowsPerBand)
    val cand = banded.select(col("band"), col("bucket"), col(idCol).as("id_a"))
      .join(banded.select(col("band"), col("bucket"), col(idCol).as("id_b")),
        Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    confirmThreshold match {
      case Some(t) =>
        val sizes = sig.select(col(idCol), col("n_sh"))
        minhashConfirm(cand, rows, rows, sizes, sizes, idCol, "a", "b", t)
      case None => cand
    }
  }

  /** 64-bit SimHash over token hashes: each bit is the sign of the sum
    * of ±1 votes over the doc's token occurrences. Explode tokens → one
    * hash-aggregate with 64 conditional sign-sums (single pass over
    * tokens; map-side partial aggregation shuffles just 64 longs per doc
    * per partition). Returns (idCol, simhash). */
  def simhashDF(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val tokens = docs.select(col(idCol),
      explode(TextOps.tokens(col(textCol))).as("w"))
      .select(col(idCol), xxhash64(col("w")).as("h"))
    val votes = (0 until 64).map { bit =>
      sum(when(shiftright(col("h"), bit).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
        .as(s"v$bit")
    }
    tokens.groupBy(col(idCol))
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol),
        (0 until 64).map(bit =>
          when(col(s"v$bit") > 0, lit(1L << bit)).otherwise(lit(0L)))
          .reduce((a, b) => a.bitwiseOR(b)).as("simhash"))
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs over pre-computed signatures, with pigeonhole
    * multi-block banding (Manku et al., "Detecting Near-Duplicates for Web
    * Crawling", WWW'07 §3): the 64 bits split into `tables` disjoint
    * blocks; a pair within Hamming distance ≤ maxDist differs in at most
    * maxDist blocks, so with `tables > maxDist` it agrees EXACTLY on at
    * least one block — candidate recall is 1.0 by construction, unlike
    * single-prefix blocking, which misses any near-dup whose differing bit
    * lands in the prefix. Cost: `tables`× the banding rows, same join
    * shape (equi-join on (table, block-key), still sub-quadratic).
    * `sigs` = (idCol, simhashCol: Long). */
  def simhashPairsFromSigs(sigs: DataFrame, idCol: String, simhashCol: String,
                           maxDist: Int = 3, tables: Int = 4): DataFrame = {
    require(tables > maxDist && tables <= 64,
      s"pigeonhole cover needs maxDist < tables <= 64 (got $maxDist, $tables)")
    val banded = simhashBanded(sigs, idCol, simhashCol, tables)
    val l = banded.select(col("tbl"), col("key"), col(idCol).as("id_a"), col("sh").as("sh_a"))
    val r = banded.select(col("tbl"), col("key"), col(idCol).as("id_b"), col("sh").as("sh_b"))
    l.join(r, Seq("tbl", "key")).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming(col("sh_a"), col("sh_b")).as("dist"))
      .where(col("dist") <= maxDist)
      .dropDuplicates("id_a", "id_b") // a pair can agree on several blocks
  }

  /** SimHash near-dup pairs from raw text: signature pass + pigeonhole
    * banding. Finds EVERY pair within `maxDist` (see simhashPairsFromSigs). */
  def simhashPairs(docs: DataFrame, textCol: String, idCol: String,
                   maxDist: Int = 3, tables: Int = 4): DataFrame =
    simhashPairsFromSigs(
      simhashDF(docs, textCol, idCol), idCol, "simhash", maxDist, tables)

  /** (tbl, key, id, sh) pigeonhole banding rows for a signature table. */
  private def simhashBanded(sigs: DataFrame, idCol: String, simhashCol: String,
                            tables: Int): DataFrame = {
    val blocks = (0 until tables).map { t =>
      val lo = t * 64 / tables
      val width = (t + 1) * 64 / tables - lo
      val key = shiftrightunsigned(col(simhashCol), lo)
        .bitwiseAND(lit(if (width == 64) -1L else (1L << width) - 1))
      struct(lit(t).as("tbl"), key.as("key"))
    }
    sigs.select(col(idCol), col(simhashCol).as("sh"), explode(array(blocks: _*)).as("b"))
      .select(col(idCol), col("sh"), col("b.tbl").as("tbl"), col("b.key").as("key"))
  }

  /** Cross-corpus SimHash near-dup join: batch signatures banded against a
    * (typically persisted) history signature table — the incremental form
    * of [[simhashPairsFromSigs]], with the smallest possible history state
    * of any near-dup path: ONE long per doc. Same pigeonhole guarantee —
    * every (batch, history) pair within `maxDist` agrees exactly on at
    * least one of the `tables` disjoint bit blocks, so recall is 1.0 by
    * construction. Both tables must carry signatures from the same
    * [[simhashDF]] (deterministic, parameter-free). Emits
    * (id_l ∈ batch, id_r ∈ history, dist ≤ maxDist). */
  def simhashJoinFromSigs(batchSigs: DataFrame, histSigs: DataFrame,
                          idCol: String, simhashCol: String,
                          maxDist: Int = 3, tables: Int = 4): DataFrame = {
    require(tables > maxDist && tables <= 64,
      s"pigeonhole cover needs maxDist < tables <= 64 (got $maxDist, $tables)")
    val l = simhashBanded(batchSigs, idCol, simhashCol, tables)
      .select(col("tbl"), col("key"), col(idCol).as("id_l"), col("sh").as("sh_l"))
    val r = simhashBanded(histSigs, idCol, simhashCol, tables)
      .select(col("tbl"), col("key"), col(idCol).as("id_r"), col("sh").as("sh_r"))
    l.join(r, Seq("tbl", "key"))
      .select(col("id_l"), col("id_r"), hamming(col("sh_l"), col("sh_r")).as("dist"))
      .where(col("dist") <= maxDist)
      .dropDuplicates("id_l", "id_r") // a pair can agree on several blocks
  }

  /** Connected components over an `(id_a, id_b)` near-dup pair list — the step that turns
    * pairwise similarity into actual deduplication: every id in a cluster
    * maps to the cluster's minimum id (its "component"), so keeping only
    * `id == component` retains exactly one survivor per cluster. Returns
    * (id, component) for every id that appears in a NON-self-loop pair
    * (an id seen only as (x, x) has no edge, hence no row — callers
    * wanting every-doc coverage left-join and coalesce, as
    * [[dedupeByPairs]] does). Throws if 50 rounds pass without
    * convergence rather than returning a silently-partial edge set
    * (which would map one id to several components and fan out joins).
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * shuffle-native CC algorithm with O(log² n) round convergence. The
    * per-node minimum comes from a window MIN over the edge ROWS, never a
    * collected adjacency list, so a hub node with millions of neighbors
    * streams through sort-based window evaluation instead of building an
    * in-memory array. Each round is two window passes + two distincts;
    * the edge set is checkpointed per round to truncate the iterative
    * lineage; once a round's checkpoint materializes, the PREVIOUS round's
    * blocks are unpersisted, so at most two rounds' edge sets occupy
    * executor storage at any time (vs one copy per round pinned for the job's
    * lifetime). Convergence is an order-independent (count, hash-XOR)
    * signature of the directed edge set — one tiny aggregate per round,
    * no edge-set EXCEPT join.
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("u")
    // lazy checkpoints: the per-round signature aggregate is the action
    // that materializes them, so each round costs ONE job instead of two
    def ckpt(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)
    // directed large→small; self-loops dropped
    var edges = ckpt(pairs
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .where(col("u") =!= col("v")).distinct())
    // order-independent set signature: (count, XOR of row hashes) — XOR
    // never overflows (vs SUM under ANSI) and distinct inputs mean no
    // duplicate self-cancellation
    def sig(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var cur = sig(edges)
    var done = cur._1 == 0L
    var it = 0
    while (!done && it < 50) {
      // large-star, over the symmetric view: every neighbor v > u links to
      // m = min(Γ(u) ∪ {u}); output stays directed large→small
      val sym = edges.unionAll(edges.select(col("v").as("u"), col("u").as("v")))
      // NO distinct between the stars (r17): duplicate (u, m) rows from
      // different large-star centers don't change the small-star window
      // min, and ss applies its own distinct — the dedup here only paid
      // a full extra exchange per round (4 → 3) to shrink the small-star
      // sort input by the shared-min-neighbor factor
      val ls = sym.withColumn("m", least(min(col("v")).over(w), col("u")))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      // small-star: u and all its (smaller) neighbors link to their min
      val withM = ls.withColumn("m", min(col("v")).over(w))
      val ss = ckpt(withM.where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionAll(withM.select(col("u"), col("m").as("v")))
        .distinct())
      val next = sig(ss) // action: materializes ss's checkpoint (lineage truncated)
      Ckpt.release(edges) // prior round's blocks are now unreachable — release them
      done = next == cur
      cur = next
      edges = ss
      it += 1
    }
    if (!done) throw new IllegalStateException(
      s"connectedComponents did not converge in 50 rounds " +
        s"(${cur._1} directed edges remain)")
    edges.select(col("u").as("id"), col("v").as("component"))
      .unionAll(edges.select(col("v").as("id"), col("v").as("component")))
      .distinct()
  }

  /** Corpus dedupe from an `(id_a, id_b)` pair list: label every doc with its component
    * and a survivor flag (`keep` = the cluster's min id; docs in no pair
    * keep themselves). The component map only holds docs that appear in a
    * pair — tiny next to the corpus — so AQE turns the join back into a
    * broadcast at any scale where near-dups are a small fraction. */
  def dedupeByPairs(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val cc = connectedComponents(pairs)
    docs.join(cc.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
      .withColumn("keep", col("component") === col(idCol))
  }

  /** [[dedupeByPairs]] over `(id_a, id_b)` pairs with QUALITY-AWARE
    * survivor selection: instead of
    * the min-id member, each near-dup cluster keeps its best member by
    * `prefer` (highest wins; ties to the lowest id) — the curation form a
    * training pipeline actually wants ("of these near-duplicate pages,
    * keep the longest / cleanest / highest-scoring one"). `prefer` is any
    * deterministic numeric expression over `docs`' columns; `idCol` must
    * be numeric (the tie-break negates it).
    *
    * Survivor pick is `groupBy(component).agg(max(struct(prefer, -id)))`
    * + a flag-back join — the skew-safe first-occurrence discipline
    * (never a window over the component; a viral boilerplate cluster
    * would pin one task). The component map still only holds docs that
    * appear in a pair, so both joins stay broadcast-promotable where
    * near-dups are a small fraction. */
  def dedupeByPairsBest(docs: DataFrame, idCol: String, pairs: DataFrame,
                        prefer: Column): DataFrame = {
    val cc = connectedComponents(pairs)
    val labeled = docs.join(cc.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
    val best = labeled
      .groupBy(col("component"))
      .agg(max(struct(prefer.as("__p"), (-col(idCol)).as("__nid"))).as("__b"))
      .select(col("component"), (-col("__b.__nid")).as("__best_id"))
    labeled.join(best, Seq("component"))
      .withColumn("keep", col(idCol) === col("__best_id"))
      .drop("__best_id")
  }
}
