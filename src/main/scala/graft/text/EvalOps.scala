package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Generation-evaluation operators: n-gram overlap scoring between model
  * output and references (ROUGE-N — Lin 2004), and the Carlini-style
  * memorization audit (what fraction of a generation's n-grams appear
  * verbatim in the training corpus — "Quantifying Memorization Across
  * Neural Language Models", Carlini et al. 2022).
  *
  * Both score in EXACT INTEGER micro units (counts and `div`), never
  * through libm — the repo-wide bit-replayability discipline: an eval
  * harness that disagrees with its own replay in the last ulp cannot be
  * regression-gated.
  */
object EvalOps {

  private def idiv(a: Column, b: Column): Column = call_function("div", a, b)

  /** The chrF-family β=2 per-order F in exact micro units:
    * `F = 5·o div (4r + c)` (the closed rational form of
    * (1+β²)PR/(β²P+R)); both-sides-gramless orders contribute 0 and
    * still divide into the mean — the sacrebleu short-string
    * convention. Single-sourced so the quantization cannot diverge
    * between the segment operators and the corpus rollup. */
  private def chrfFMicro(o: Column, c: Column, r: Column): Column =
    when(lit(4L) * r + c > 0L, idiv(lit(5000000L) * o, lit(4L) * r + c))
      .otherwise(lit(0L))

  /** Whitespace tokens with empties dropped and NULL text reading as
    * the EMPTY token array — the family-wide null contract (zero
    * counts, NULL ratios via the when-guards), and what keeps the
    * null-intolerant DP/overlap kernels from ever seeing null. */
  private def toksOrEmpty(c: Column): Column = coalesce(
    filter(TextOps.tokens(c), t => length(t) > 0),
    array().cast("array<string>"))

  /** The family's prologue: fail on input columns that clash with
    * `reserved` (the operator's outputs and staging columns); returns
    * the input columns every stage passes through. */
  private def passthroughOf(op: String, pairs: org.apache.spark.sql.DataFrame,
                            reserved: Seq[String]): Seq[Column] = {
    val clashes = pairs.columns.filter(reserved.contains)
    require(clashes.isEmpty,
      s"$op reserves column names ${reserved.mkString(", ")}; " +
        s"input already has ${clashes.mkString(", ")}")
    pairs.columns.toSeq.map(col)
  }

  /** Multi-reference staging: candidate tokens `__ct` and per-reference
    * tokens `__rts`. A row with no references fails loudly (the metric
    * against an empty reference set is undefined); the guard sits on
    * the candidate tokens too, so no projection can prune it away. */
  private def stageRefs(op: String, metric: String,
                        pairs: org.apache.spark.sql.DataFrame,
                        passthrough: Seq[Column], candCol: String,
                        refsCol: String): org.apache.spark.sql.DataFrame = {
    val noRefs = col(refsCol).isNull || size(col(refsCol)) === 0
    def loudRefs(c: Column): Column = when(noRefs, raise_error(lit(
        s"$op: no references — $metric against an empty reference set is undefined")))
      .otherwise(c)
    pairs.select(passthrough :+ loudRefs(toksOrEmpty(col(candCol))).as("__ct") :+
      transform(loudRefs(col(refsCol)), r => toksOrEmpty(r)).as("__rts"): _*)
  }

  /** Word n-grams of order `n` (multiplicity kept — ROUGE clips per
    * distinct gram, so duplicates matter) over a PRE-MATERIALIZED
    * token-array column, as one native codegen expression
    * ([[graft.functions.TokenNgrams]]) — one compiled pass, `concat_ws`
    * join semantics, <n tokens (or NULL input) → empty array. (Two
    * earlier costs retired here: the inline non-staged form re-ran the
    * regex split per gram position — q240's first cut, the q229 lesson —
    * and the staged HOF form still interpreted a slice+concat per gram,
    * which dominated the BLEU 4-order scan; BENCH_NOTES round 16.) */
  def ngramsOfTokens(toks: Column, n: Int): Column = {
    require(n >= 1, s"n-gram order must be positive: $n")
    graft.functions.TextExpressions.tokenNgrams(toks, n)
  }

  /** Clipped n-gram overlap `Σ_g min(count_cand(g), count_ref(g))` — the
    * ROUGE/BLEU/chrF numerator — as a native codegen expression
    * ([[graft.functions.ClippedOverlapCount]]): hash-count the smaller
    * side, stream the other, O(C+R) per row, entirely scan-side — never
    * a (doc, gram) explosion + shuffle. (Earlier rounds used an
    * interpreted sorted-run `aggregate` fold here; at six chrF orders
    * per row the fold's array_sort + lambda interpretation cost 40 s at
    * sf0.1 where the kernel is ~2 s — BENCH_NOTES round 16.) A NULL
    * gram array reads as empty (overlap 0), matching the fold's
    * historical contract. */
  def clippedOverlap(candGrams: Column, refGrams: Column): Column =
    coalesce(
      graft.functions.TextExpressions.clippedOverlapCount(
        candGrams, refGrams),
      lit(0L))

  /** ROUGE-N between a candidate and a reference text column: appends
    * `(n_cand_grams, n_ref_grams, n_overlap, rouge_p_micro,
    * rouge_r_micro, rouge_f_micro)` to `pairs`.
    *
    * `n_overlap` is the CLIPPED count (a gram repeated 3× in the
    * candidate but 1× in the reference contributes 1 — Lin 2004 §3);
    * precision = o/C, recall = o/R, and F1 has the closed integer form
    * `2o/(C+R)` (exactly 2PR/(P+R) — no float intermediate needed).
    * A side with zero grams makes its ratio NULL (undefined), the
    * honest value — 0 would claim "measured and disjoint".
    *
    * A DataFrame operator, not a column set, for a measured reason: six
    * output columns naming the gram/overlap computation as a
    * sub-expression re-evaluate it per column (q240's first cut: 86 s
    * at sf0.1; the q229 lesson). Staged projections evaluate each stage
    * ONCE per row — CollapseProject leaves multi-referenced non-cheap
    * aliases staged — and the ratios read materialized integers. Since
    * round 16 the stages themselves are NATIVE codegen kernels
    * ([[graft.functions.TokenNgrams]] gram building,
    * [[graft.functions.ClippedOverlapCount]] via [[clippedOverlap]]).
    * Entirely scan-side: composes with any scan, nothing shuffles. */
  def rougeN(pairs: org.apache.spark.sql.DataFrame, candCol: String,
             refCol: String, n: Int): org.apache.spark.sql.DataFrame = {
    val reserved = Seq("n_cand_grams", "n_ref_grams", "n_overlap",
      "rouge_p_micro", "rouge_r_micro", "rouge_f_micro",
      "__ct", "__rt", "__cg", "__rg")
    val passthrough = passthroughOf("rougeN", pairs, reserved)
    def toksNoNull(c: Column): Column =
      filter(TextOps.tokens(c), t => length(t) > 0)
    pairs
      .select(passthrough :+ toksNoNull(col(candCol)).as("__ct") :+
        toksNoNull(col(refCol)).as("__rt"): _*)
      .select(passthrough :+ ngramsOfTokens(col("__ct"), n).as("__cg") :+
        ngramsOfTokens(col("__rt"), n).as("__rg"): _*)
      .select(passthrough :+ size(col("__cg")).cast("long").as("n_cand_grams") :+
        size(col("__rg")).cast("long").as("n_ref_grams") :+
        clippedOverlap(col("__cg"), col("__rg")).as("n_overlap"): _*)
      .select(passthrough :+ col("n_cand_grams") :+ col("n_ref_grams") :+
        col("n_overlap") :+
        when(col("n_cand_grams") > 0,
          idiv(lit(1000000L) * col("n_overlap"), col("n_cand_grams")))
          .as("rouge_p_micro") :+
        when(col("n_ref_grams") > 0,
          idiv(lit(1000000L) * col("n_overlap"), col("n_ref_grams")))
          .as("rouge_r_micro") :+
        when(col("n_cand_grams") + col("n_ref_grams") > 0,
          idiv(lit(2000000L) * col("n_overlap"),
            col("n_cand_grams") + col("n_ref_grams")))
          .as("rouge_f_micro"): _*)
  }

  /** ROUGE-L between a candidate and a reference text column (Lin 2004
    * §3.2 — the LCS half of the report [[rougeN]] starts): appends
    * `(n_cand_tokens, n_ref_tokens, lcs_len, rougel_p_micro,
    * rougel_r_micro, rougel_f_micro)` to `pairs`.
    *
    * `lcs_len` is the longest-common-SUBSEQUENCE token length (in-order,
    * gaps allowed — the sentence-structure credit n-gram overlap can't
    * give); precision = lcs/C, recall = lcs/R, F1 = 2·lcs/(C+R) (the
    * exact closed harmonic form, same as rougeN's). Zero-token sides
    * make their ratio NULL — undefined, not 0 ("measured and disjoint").
    * All exact integers; bit-replayable.
    *
    * The DP is a native codegen expression
    * ([[graft.functions.LcsTokenLength]]) — O(C·R) per ROW, doc-bounded
    * (both sides are single documents by contract; the corpus dimension
    * never enters), one compiled kernel instead of a fold-within-a-fold
    * HOF that would interpret O(C·R²) allocations. The operator itself
    * is UNCAPPED — it scores documents of any length (EvalOpsSpec pins
    * a >120-token case); the 120-token cap in the q256 gate fixture
    * exists only to bound the closed-form oracle classes there, not
    * because the DP needs it. Token arrays are
    * staged projections (the q240 interpreted-HOF discipline) and the
    * DP value is materialized once before the three ratios read it.
    * Entirely scan-side: composes with any scan, nothing shuffles. */
  def rougeL(pairs: org.apache.spark.sql.DataFrame, candCol: String,
             refCol: String): org.apache.spark.sql.DataFrame = {
    val reserved = Seq("n_cand_tokens", "n_ref_tokens", "lcs_len",
      "rougel_p_micro", "rougel_r_micro", "rougel_f_micro", "__ct", "__rt")
    val passthrough = passthroughOf("rougeL", pairs, reserved)
    // NULL text tokenizes to a NULL array — coalesce to empty so the
    // null-contract row keeps ZERO counts (ratios go NULL via the
    // when-guards) and the null-intolerant DP expression never sees null
    pairs
      .select(passthrough :+ toksOrEmpty(col(candCol)).as("__ct") :+
        toksOrEmpty(col(refCol)).as("__rt"): _*)
      .select(passthrough :+
        size(col("__ct")).cast("long").as("n_cand_tokens") :+
        size(col("__rt")).cast("long").as("n_ref_tokens") :+
        graft.functions.TextExpressions.lcsLen(col("__ct"), col("__rt"))
          .as("lcs_len"): _*)
      .select(passthrough :+ col("n_cand_tokens") :+ col("n_ref_tokens") :+
        col("lcs_len") :+
        when(col("n_cand_tokens") > 0,
          idiv(lit(1000000L) * col("lcs_len"), col("n_cand_tokens")))
          .as("rougel_p_micro") :+
        when(col("n_ref_tokens") > 0,
          idiv(lit(1000000L) * col("lcs_len"), col("n_ref_tokens")))
          .as("rougel_r_micro") :+
        when(col("n_cand_tokens") + col("n_ref_tokens") > 0,
          idiv(lit(2000000L) * col("lcs_len"),
            col("n_cand_tokens") + col("n_ref_tokens")))
          .as("rougel_f_micro"): _*)
  }

  /** BLEU components (Papineni et al. 2002) between a candidate and a
    * reference text column: appends `(cand_len, ref_len, p1_num, p1_den,
    * …, p{maxN}_num, p{maxN}_den)` — the EXACT INTEGER parts of BLEU:
    * per order n, the clipped (modified-precision) n-gram match count
    * over the candidate n-gram count, plus both token lengths for the
    * brevity penalty. Each overlap is the same compiled clipped-overlap
    * kernel ROUGE-N uses ([[clippedOverlap]]); all arrays are staged
    * projections (the q240 discipline). Scan-side, nothing shuffles.
    *
    * The components are the gated surface; the geometric-mean +
    * exp-brevity COMBINE is irrational and lives in [[bleuScore]] as a
    * documented double — gating the exact parts and pinning the float
    * combine in ScalaTest beats pretending `exp` is replayable. */
  def bleuComponents(pairs: org.apache.spark.sql.DataFrame, candCol: String,
                     refCol: String, maxN: Int = 4)
      : org.apache.spark.sql.DataFrame = {
    require(maxN >= 1 && maxN <= 6, s"maxN out of [1, 6]: $maxN")
    val orders = 1 to maxN
    val reserved = Seq("cand_len", "ref_len", "__ct", "__rt") ++
      orders.flatMap(n => Seq(s"p${n}_num", s"p${n}_den", s"__cg$n", s"__rg$n"))
    val passthrough = passthroughOf("bleuComponents", pairs, reserved)
    // NULL text → empty token array (zero counts), the rougeL contract
    pairs
      .select(passthrough :+ toksOrEmpty(col(candCol)).as("__ct") :+
        toksOrEmpty(col(refCol)).as("__rt"): _*)
      .select(passthrough ++ Seq(
        size(col("__ct")).cast("long").as("cand_len"),
        size(col("__rt")).cast("long").as("ref_len")) ++
        orders.flatMap(n => Seq(
          ngramsOfTokens(col("__ct"), n).as(s"__cg$n"),
          ngramsOfTokens(col("__rt"), n).as(s"__rg$n"))): _*)
      .select(passthrough ++ Seq(col("cand_len"), col("ref_len")) ++
        orders.flatMap(n => Seq(
          clippedOverlap(col(s"__cg$n"), col(s"__rg$n")).as(s"p${n}_num"),
          size(col(s"__cg$n")).cast("long").as(s"p${n}_den"))): _*)
  }

  /** MULTI-reference ROUGE-N (Lin 2004 §5): summarization eval sets ship
    * several human references, and the multi-reference score is the
    * BEST pairwise match — `max_j F(cand, ref_j)` — per candidate.
    * With `jackknife = true` the DUC evaluation protocol's statistic is
    * appended too: `rougen_jk_micro = (Σ_j max_{i≠j} F_i) div k`, the
    * mean over leave-one-out maxima (comparable against a human scored
    * the same way) — NULL for single-reference rows or when a
    * leave-one-out subset is entirely unmeasurable. Appends
    * `(n_cand_grams, n_refs, rougen_best_micro[, rougen_jk_micro])`: each per-reference F1 is the exact closed
    * integer form [[rougeN]] uses (`2·10⁶·o div (C+R)`, NULL when both
    * sides are gramless), and the max ignores NULL entries (all-null →
    * NULL — nothing was measurable). The candidate gram array is staged
    * ONCE and each reference rides the same compiled builders/overlap
    * kernel inside a per-reference fold (1–4 refs in every real set —
    * the lambda interprets per REFERENCE, the per-gram work stays
    * compiled; the q240 discipline). NULL candidate → zero grams; a
    * null reference ELEMENT is the empty reference; an empty/NULL
    * reference ARRAY fails loudly (prune-proof). Scan-side. */
  def rougeNMulti(pairs: org.apache.spark.sql.DataFrame, candCol: String,
                  refsCol: String, n: Int, jackknife: Boolean = false)
      : org.apache.spark.sql.DataFrame = {
    val reserved = Seq("n_cand_grams", "n_refs", "rougen_best_micro",
      "rougen_jk_micro", "__ct", "__rts", "__cg", "__rgs", "__fs")
    val passthrough = passthroughOf("rougeNMulti", pairs, reserved)
    // the per-reference F array is staged so best-match AND jackknife
    // read the same materialized scores
    val staged = stageRefs("rougeNMulti", "ROUGE", pairs, passthrough,
        candCol, refsCol)
      .select(passthrough :+ ngramsOfTokens(col("__ct"), n).as("__cg") :+
        transform(col("__rts"), r =>
          graft.functions.TextExpressions.tokenNgrams(r, n)).as("__rgs"): _*)
      .select(passthrough :+ col("__cg") :+
        transform(col("__rgs"), g =>
          when(size(col("__cg")) + size(g) > 0,
            idiv(lit(2000000L) *
              coalesce(graft.functions.TextExpressions
                .clippedOverlapCount(col("__cg"), g), lit(0L)),
              (size(col("__cg")) + size(g)).cast("long")))).as("__fs"): _*)
    val jkCols = if (!jackknife) Nil else {
      // Lin 2004 §5 jackknife: mean over j of the best match among the
      // OTHER references — NULL for single-reference rows (leave-one-out
      // of one reference is empty) or when any leave-one-out subset is
      // entirely unmeasurable
      val maxes = transform(sequence(lit(1), size(col("__fs"))), j =>
        array_max(filter(col("__fs"), (_, i) => i =!= (j - 1))))
      Seq(when(size(col("__fs")) >= 2 && !exists(maxes, m => m.isNull),
        idiv(aggregate(maxes, lit(0L), (a, m) => a + m),
          size(col("__fs")).cast("long"))).as("rougen_jk_micro"))
    }
    staged.select(passthrough ++ Seq(
      size(col("__cg")).cast("long").as("n_cand_grams"),
      size(col("__fs")).cast("long").as("n_refs"),
      array_max(col("__fs")).as("rougen_best_micro")) ++ jkCols: _*)
  }

  /** MULTI-reference ROUGE-L — [[rougeNMulti]]'s best-match rule over
    * the LCS F1 ([[rougeL]] per reference): `max_j 2·lcs_j/(C+R_j)` in
    * exact micro units, the compiled DP running once per (candidate,
    * reference) pair — 1–4 doc-bounded DPs per row, scan-side. Appends
    * `(n_cand_tokens, n_refs, rougel_best_micro)`; same null/loud
    * contracts as [[rougeNMulti]]. */
  def rougeLMulti(pairs: org.apache.spark.sql.DataFrame, candCol: String,
                  refsCol: String): org.apache.spark.sql.DataFrame = {
    val reserved = Seq("n_cand_tokens", "n_refs", "rougel_best_micro",
      "__ct", "__rts")
    val passthrough = passthroughOf("rougeLMulti", pairs, reserved)
    stageRefs("rougeLMulti", "ROUGE", pairs, passthrough, candCol, refsCol)
      .select(passthrough :+
        size(col("__ct")).cast("long").as("n_cand_tokens") :+
        size(col("__rts")).cast("long").as("n_refs") :+
        array_max(transform(col("__rts"), r =>
          when(size(col("__ct")) + size(r) > 0,
            idiv(lit(2000000L) *
              graft.functions.TextExpressions.lcsLen(col("__ct"), r),
              (size(col("__ct")) + size(r)).cast("long")))))
          .as("rougel_best_micro"): _*)
  }

  /** Word error rate (Levenshtein 1966 / the standard ASR-and-generation
    * edit metric; NIST scoring convention) — the edit-distance member
    * that completes the metric quartet next to ROUGE-N/L, BLEU and
    * chrF: unit-cost token insertions + deletions + substitutions
    * against the reference, normalized by the REFERENCE length,
    * `wer_micro = 10⁶·d div R` (can exceed 10⁶ — a long hypothesis
    * against a short reference does, and reporting it capped would
    * hide the failure mode). Appends `(n_cand_tokens, n_ref_tokens,
    * edit_dist, wer_micro)`; an empty reference makes the rate NULL
    * (undefined), never 0 — while `edit_dist` still reports the
    * insertion count. NULL text reads as empty (the family contract).
    *
    * The DP is a native codegen expression
    * ([[graft.functions.TokenEditDistance]]) — O(C·R) per ROW,
    * doc-bounded exactly like ROUGE-L's LCS kernel, and the two are
    * mutually bounding (`d ≥ max(C,R) − LCS`, spec-pinned). Token
    * arrays are staged projections; entirely scan-side. */
  def wer(pairs: org.apache.spark.sql.DataFrame, candCol: String,
          refCol: String): org.apache.spark.sql.DataFrame = {
    val reserved = Seq("n_cand_tokens", "n_ref_tokens", "edit_dist",
      "wer_micro", "__ct", "__rt")
    val passthrough = passthroughOf("wer", pairs, reserved)
    pairs
      .select(passthrough :+ toksOrEmpty(col(candCol)).as("__ct") :+
        toksOrEmpty(col(refCol)).as("__rt"): _*)
      .select(passthrough :+
        size(col("__ct")).cast("long").as("n_cand_tokens") :+
        size(col("__rt")).cast("long").as("n_ref_tokens") :+
        graft.functions.TextExpressions
          .tokenEditDistance(col("__ct"), col("__rt")).as("edit_dist"): _*)
      .select(passthrough :+ col("n_cand_tokens") :+ col("n_ref_tokens") :+
        col("edit_dist") :+
        when(col("n_ref_tokens") > 0,
          idiv(lit(1000000L) * col("edit_dist"), col("n_ref_tokens")))
          .as("wer_micro"): _*)
  }

  /** MULTI-reference WER — the NIST/sclite scoring convention for
    * multi-transcript references: the hypothesis is scored against the
    * reference it matches BEST (minimum edit distance; ties break to
    * the SHORTER reference — the conservative pick, since the same
    * distance over fewer reference tokens reads as the HIGHER error
    * rate), and the rate normalizes by THAT reference's length.
    * Appends `(n_cand_tokens, n_refs, edit_dist_best, ref_len_best,
    * wer_best_micro)`; `wer_best_micro` is NULL when the chosen
    * reference is empty (undefined rate — the [[wer]] contract), and
    * the choice itself is a replayable sort over `(d, len)` structs.
    * One compiled DP per (candidate, reference) — 1–4 doc-bounded DPs
    * per row, scan-side; same loud no-references + null-element
    * contracts as the other multi-reference operators. */
  def werMulti(pairs: org.apache.spark.sql.DataFrame, candCol: String,
               refsCol: String): org.apache.spark.sql.DataFrame = {
    val reserved = Seq("n_cand_tokens", "n_refs", "edit_dist_best",
      "ref_len_best", "wer_best_micro", "__ct", "__rts", "__best")
    val passthrough = passthroughOf("werMulti", pairs, reserved)
    stageRefs("werMulti", "WER", pairs, passthrough, candCol, refsCol)
      .select(passthrough :+ size(col("__ct")).cast("long")
          .as("n_cand_tokens") :+
        size(col("__rts")).cast("long").as("n_refs") :+
        element_at(array_sort(transform(col("__rts"), r =>
          struct(graft.functions.TextExpressions
              .tokenEditDistance(col("__ct"), r).as("d"),
            size(r).cast("long").as("l")))), 1).as("__best"): _*)
      .select(passthrough :+ col("n_cand_tokens") :+ col("n_refs") :+
        col("__best")("d").as("edit_dist_best") :+
        col("__best")("l").as("ref_len_best") :+
        when(col("__best")("l") > 0,
          idiv(lit(1000000L) * col("__best")("d"), col("__best")("l")))
          .as("wer_best_micro"): _*)
  }

  /** MULTI-reference BLEU components — the actual Papineni et al. 2002
    * definition ([[bleuComponents]] is its single-reference special
    * case): real MT/generation eval sets ship 1–4 references per
    * candidate, and per §2.1 each candidate gram is clipped against the
    * MAXIMUM count of that gram over the references (never the sum —
    * concatenation would inflate the clip; and never a max of pairwise
    * overlaps — the per-gram maxima can come from DIFFERENT references).
    * The clip rides one compiled kernel
    * ([[graft.functions.ClippedOverlapMaxCount]]): hash-count the
    * candidate, stream each reference, fold the per-gram max —
    * O(C + Σ Rᵢ) per row, scan-side. The brevity-penalty `ref_len` is
    * the reference length CLOSEST to the candidate's (§2.2.2's "best
    * match length"), ties to the SHORTER (the NLTK/sacrebleu
    * convention) — a replayable `min_by` over `(|len−c|, len)` via one
    * sorted struct array over ≤4 references.
    *
    * `refsCol` is an `array<string>`; appends `(cand_len, ref_len,
    * p{n}_num, p{n}_den, …)` — the same exact-integer surface as the
    * single-ref form, so [[bleuScore]] combines either. NULL candidate
    * text → zero counts (the family contract); a null reference
    * ELEMENT reads as the empty reference (zero grams, length 0); a
    * NULL or EMPTY reference ARRAY fails loudly — BLEU against no
    * references is undefined, and the guard threads through the staged
    * token arrays every output column reads (prune-proof). */
  def bleuComponentsMulti(pairs: org.apache.spark.sql.DataFrame,
                          candCol: String, refsCol: String, maxN: Int = 4)
      : org.apache.spark.sql.DataFrame = {
    require(maxN >= 1 && maxN <= 6, s"maxN out of [1, 6]: $maxN")
    val orders = 1 to maxN
    val reserved = Seq("cand_len", "ref_len", "__ct", "__rts") ++
      orders.flatMap(n => Seq(s"p${n}_num", s"p${n}_den", s"__cg$n", s"__rgs$n"))
    val passthrough = passthroughOf("bleuComponentsMulti", pairs, reserved)
    stageRefs("bleuComponentsMulti", "BLEU", pairs, passthrough, candCol, refsCol)
      .select(passthrough ++ Seq(
        size(col("__ct")).cast("long").as("cand_len"), col("__rts")) ++
        orders.flatMap(n => Seq(
          ngramsOfTokens(col("__ct"), n).as(s"__cg$n"),
          transform(col("__rts"), r =>
            graft.functions.TextExpressions.tokenNgrams(r, n))
            .as(s"__rgs$n"))): _*)
      .select(passthrough ++ Seq(col("cand_len"),
        element_at(array_sort(transform(col("__rts"), r =>
          struct(abs(size(r).cast("long") - col("cand_len")).as("d"),
            size(r).cast("long").as("l")))), 1)("l").as("ref_len")) ++
        orders.flatMap(n => Seq(
          graft.functions.TextExpressions
            .clippedOverlapMaxCount(col(s"__cg$n"), col(s"__rgs$n"))
            .as(s"p${n}_num"),
          size(col(s"__cg$n")).cast("long").as(s"p${n}_den"))): _*)
  }

  /** CORPUS-level WER — the ASR reporting convention: total edit
    * operations over total reference tokens, `10⁶·Σd div ΣN` (NEVER
    * the mean of per-utterance rates, which over-weights short
    * utterances — a 1-token utterance with one error is a 100% rate
    * but one operation). Takes a [[wer]] output table (`edit_dist`,
    * `n_ref_tokens`) and folds it to
    * ONE row `(n_segments, edit_dist, ref_len, wer_micro)`; a corpus
    * with zero reference tokens has an undefined rate → NULL (the
    * totals still report); an EMPTY table fails loudly. One
    * partial-aggregable hash aggregate. */
  def corpusWer(components: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    def guarded(c: Column): Column =
      when(col("__nseg") === 0L, raise_error(lit(
          "corpusWer: empty components table — no segments to score")))
        .otherwise(c)
    components
      .agg(count(lit(1)).as("__nseg"), sum(col("edit_dist")).as("__d"),
        sum(col("n_ref_tokens")).as("__r"))
      .select(guarded(col("__nseg")).as("n_segments"),
        guarded(col("__d")).as("edit_dist"),
        guarded(col("__r")).as("ref_len"),
        guarded(when(col("__r") > 0,
          idiv(lit(1000000L) * col("__d"), col("__r")))).as("wer_micro"))
  }

  /** CORPUS-level BLEU statistics (Papineni 2002 §2.3): BLEU is defined
    * over the WHOLE test set — clipped counts and candidate counts are
    * SUMMED across segments before the precision ratios form, and the
    * brevity penalty compares total candidate length against the total
    * effective reference length (the per-segment best-match lengths
    * summed — exactly what [[bleuComponentsMulti]]'s `ref_len` column
    * carries). Averaging per-segment BLEU instead is the classic
    * mistake this operator exists to prevent: short segments with zero
    * higher-order matches zero out a mean, while the corpus statistic
    * absorbs them.
    *
    * Takes a BLEU-4 [[bleuComponents]] / [[bleuComponentsMulti]] output
    * table and folds it to ONE row with the SAME column names `(cand_len,
    * ref_len, p{n}_num, p{n}_den, …)` — so [[bleuScore]] applies to the
    * result unchanged for the final (spec-pinned, irrational) combine.
    * One partial-aggregable hash aggregate; an EMPTY components table
    * fails loudly through every output column (a corpus score over
    * nothing is a harness bug). */
  def corpusBleu(components: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // a components table built with MORE orders than this rollup reads
    // would silently become a different statistic (a BLEU-4 score from
    // BLEU-6 parts) — fail loudly instead
    require(!components.columns.contains("p5_den"),
      "corpusBleu: components carry order-5 columns but the BLEU-4 " +
        "rollup would drop them")
    val orders = 1 to 4
    val names = Seq("cand_len", "ref_len") ++
      orders.flatMap(n => Seq(s"p${n}_num", s"p${n}_den"))
    val aggs = names.map(c => sum(col(c)).as(s"__$c")) :+
      count(lit(1)).as("__nseg")
    def guarded(c: Column): Column =
      when(col("__nseg") === 0L, raise_error(lit(
          "corpusBleu: empty components table — no segments to score")))
        .otherwise(c)
    components
      .agg(aggs.head, aggs.tail: _*)
      .select(guarded(col("__nseg")).as("n_segments") +:
        names.map(c => guarded(col(s"__$c")).as(c)): _*)
  }

  /** CORPUS-level chrF (Popović 2015 §2, the sacrebleu aggregation):
    * per-order overlap/candidate/reference gram counts are SUMMED over
    * segments and the β=2 F forms on the totals — entirely rational,
    * so unlike corpus-BLEU the final corpus score is itself
    * oracle-gated, in the same exact micro units as the per-segment
    * form. Takes a [[chrF]] output table of orders 1-6 and folds it to
    * ONE row `(n_segments, chrf{n}_o/c/r, chrf{n}_f_micro, chrf_micro)`; the
    * combined mean keeps the documented per-order double-floor. One
    * partial-aggregable hash aggregate; empty input fails loudly. */
  def corpusChrf(components: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // dropping component orders present in the input silently changes
    // the statistic (corpus chrF labeled from chrF++ parts) — loud
    require(!components.columns.contains("chrf7_o"),
      "corpusChrf: components carry char order 7 but the order-6 " +
        "rollup would drop it")
    require(!components.columns.contains("chrfw1_o"),
      "corpusChrf: components carry word order 1 (a chrF++ table) but " +
        "the chrF rollup would drop it")
    val keyed = (1 to 6).map(n => ("chrf", n))
    val names = keyed.flatMap { case (p, n) =>
      Seq(s"$p${n}_o", s"$p${n}_c", s"$p${n}_r") }
    val aggs = names.map(c => sum(col(c)).as(s"__$c")) :+
      count(lit(1)).as("__nseg")
    def guarded(c: Column): Column =
      when(col("__nseg") === 0L, raise_error(lit(
          "corpusChrf: empty components table — no segments to score")))
        .otherwise(c)
    components
      .agg(aggs.head, aggs.tail: _*)
      .select(guarded(col("__nseg")).as("n_segments") +:
        names.map(c => guarded(col(s"__$c")).as(c)): _*)
      .select(col("n_segments") +: names.map(col) ++:
        keyed.map { case (p, n) =>
          chrfFMicro(col(s"$p${n}_o"), col(s"$p${n}_c"), col(s"$p${n}_r"))
            .as(s"$p${n}_f_micro") }: _*)
      .select(col("n_segments") +: names.map(col) ++:
        keyed.map { case (p, n) => col(s"$p${n}_f_micro") } :+
        idiv(keyed.map { case (p, n) => col(s"$p${n}_f_micro") }
          .reduce(_ + _), lit(6L)).as("chrf_micro"): _*)
  }

  /** The BLEU combine over [[bleuComponents]] output columns, as a
    * DOUBLE micro score: `10⁶ · min(1, e^(1−r/c)) · (Π pₙ)^(1/maxN)`,
    * floored to a long. Zero anywhere (an order with no match, the
    * unsmoothed convention) → 0; a zero-gram candidate → NULL
    * (undefined, not 0). Deliberately NOT part of any oracle gate —
    * `exp`/`pow` are libm and the repo gates only bit-replayable
    * values; this is pinned in ScalaTest instead. */
  def bleuScore(maxN: Int = 4): Column = {
    require(maxN >= 1 && maxN <= 6, s"maxN out of [1, 6]: $maxN")
    val orders = 1 to maxN
    val allDens = orders.map(n => col(s"p${n}_den") > 0).reduce(_ && _)
    val anyZero = orders.map(n => col(s"p${n}_num") === 0).reduce(_ || _)
    val geo = pow(
      orders.map(n => col(s"p${n}_num").cast("double") /
        col(s"p${n}_den").cast("double")).reduce(_ * _),
      lit(1.0 / maxN))
    val bp = when(col("cand_len") >= col("ref_len"), lit(1.0))
      .otherwise(exp(lit(1.0) - col("ref_len").cast("double") /
        col("cand_len").cast("double")))
    when(col("cand_len") === 0 || !allDens, lit(null).cast("long"))
      .when(anyZero, lit(0L))
      .otherwise(floor(lit(1000000.0) * bp * geo).cast("long"))
  }

  /** chrF (Popović 2015) between a candidate and a reference text
    * column — the character-n-gram F-score that completes the
    * generation-metric set next to ROUGE-N/L and BLEU (the standard
    * WMT metric for morphology-rich languages, robust to tokenizer
    * choice because there isn't one). Whitespace is removed (the chrF
    * convention), the text becomes a character array, and per order
    * n = 1..`maxN` the clipped overlap `o` rides the same compiled
    * kernel as ROUGE-N. With the standard β = 2 the per-order F has an
    * EXACT closed rational form:
    * {{{
    * F_n = (1+β²)·P·R / (β²·P + R) = 5·o / (4·r + c)    (P=o/c, R=o/r)
    * }}}
    * so every per-order score is one integer floor division, and
    * `chrf_micro` is their mean over the orders — floored per order
    * then once more for the mean (documented double-floor, the
    * krippendorff quantization discipline; ≤1 micro-unit per order).
    * Orders where candidate AND reference have no grams contribute 0
    * and still divide by `maxN` (the sacrebleu convention for short
    * strings). Appends `(chrf{n}_o, chrf{n}_c, chrf{n}_r,
    * chrf{n}_f_micro)` per order plus `chrf_micro`; NULL text reads as
    * the empty string (zero counts — the rougeL contract). Staged
    * projections throughout; scan-side, nothing shuffles. */
  def chrF(pairs: org.apache.spark.sql.DataFrame, candCol: String,
           refCol: String, maxN: Int = 6): org.apache.spark.sql.DataFrame = {
    require(maxN >= 1 && maxN <= 8, s"maxN out of [1, 8]: $maxN")
    val orders = 1 to maxN
    val reserved = Seq("chrf_micro", "__cc", "__rc") ++
      orders.flatMap(n => Seq(s"chrf${n}_o", s"chrf${n}_c", s"chrf${n}_r",
        s"chrf${n}_f_micro", s"__cg$n", s"__rg$n"))
    val passthrough = passthroughOf("chrF", pairs, reserved)
    // whitespace out (the chrF convention), then COMPILED gram builders:
    // CharNgrams + ClippedOverlapCount keep all 6 orders inside codegen
    // (the HOF forms interpreted per gram and cost 20× — BENCH_NOTES
    // round 16)
    def despaced(c: Column): Column =
      regexp_replace(coalesce(c, lit("")), "\\s+", "")
    pairs
      .select(passthrough :+ despaced(col(candCol)).as("__cc") :+
        despaced(col(refCol)).as("__rc"): _*)
      .select(passthrough ++
        orders.flatMap(n => Seq(
          graft.functions.TextExpressions.charNgrams(col("__cc"), n)
            .as(s"__cg$n"),
          graft.functions.TextExpressions.charNgrams(col("__rc"), n)
            .as(s"__rg$n"))): _*)
      .select(passthrough ++
        orders.flatMap(n => Seq(
          clippedOverlap(col(s"__cg$n"), col(s"__rg$n")).as(s"chrf${n}_o"),
          size(col(s"__cg$n")).cast("long").as(s"chrf${n}_c"),
          size(col(s"__rg$n")).cast("long").as(s"chrf${n}_r"))): _*)
      .select(passthrough ++
        orders.flatMap(n => Seq(col(s"chrf${n}_o"), col(s"chrf${n}_c"),
          col(s"chrf${n}_r"))) ++
        orders.map(n =>
          chrfFMicro(col(s"chrf${n}_o"), col(s"chrf${n}_c"),
            col(s"chrf${n}_r")).as(s"chrf${n}_f_micro")): _*)
      .select(passthrough ++
        orders.flatMap(n => Seq(col(s"chrf${n}_o"), col(s"chrf${n}_c"),
          col(s"chrf${n}_r"), col(s"chrf${n}_f_micro"))) :+
        idiv(orders.map(n => col(s"chrf${n}_f_micro"))
          .reduce(_ + _), lit(maxN.toLong)).as("chrf_micro"): _*)
  }

  /** chrF++ (Popović 2017) — [[chrF]] extended with WORD n-gram
    * F-scores (orders 1..`wordN`, the standard `++` uses 2) folded into
    * the same uniform mean, which is chrF as actually used at WMT since
    * 2017: character grams capture morphology, the word grams add back
    * word-order sensitivity. Per-order F keeps the exact β = 2 closed
    * form `5·o div (4r + c)` in micro units; word grams ride the same
    * compiled builders as ROUGE/BLEU ([[graft.functions.TokenNgrams]]
    * over whitespace tokens — chrF++ has no other tokenizer, which is
    * the metric's point) and char grams ride
    * [[graft.functions.CharNgrams]] over the despaced text. The
    * combined score is the mean over ALL `maxN + wordN` orders (floored
    * per order then once for the mean — the documented double-floor);
    * orders with no grams on either side contribute 0 and still divide
    * (the short-string convention [[chrF]] documents). `wordN = 0`
    * degenerates to exactly [[chrF]] (spec-pinned identity). Appends
    * the char-order components `(chrf{n}_o, chrf{n}_c, chrf{n}_r,
    * chrf{n}_f_micro)`, the word-order components `(chrfw{n}_*)`, and
    * `chrfpp_micro`. NULL text reads as empty (zero counts). Staged
    * projections; scan-side, nothing shuffles. */
  def chrFpp(pairs: org.apache.spark.sql.DataFrame, candCol: String,
             refCol: String, maxN: Int = 6, wordN: Int = 2)
      : org.apache.spark.sql.DataFrame = {
    require(maxN >= 1 && maxN <= 8, s"maxN out of [1, 8]: $maxN")
    require(wordN >= 0 && wordN <= 4, s"wordN out of [0, 4]: $wordN")
    val cOrders = 1 to maxN
    val wOrders = 1 to wordN
    val reserved = Seq("chrfpp_micro", "__cc", "__rc", "__cwt", "__rwt") ++
      cOrders.flatMap(n => Seq(s"chrf${n}_o", s"chrf${n}_c", s"chrf${n}_r",
        s"chrf${n}_f_micro", s"__cg$n", s"__rg$n")) ++
      wOrders.flatMap(n => Seq(s"chrfw${n}_o", s"chrfw${n}_c", s"chrfw${n}_r",
        s"chrfw${n}_f_micro", s"__cwg$n", s"__rwg$n"))
    val passthrough = passthroughOf("chrFpp", pairs, reserved)
    def despaced(c: Column): Column =
      regexp_replace(coalesce(c, lit("")), "\\s+", "")
    // (prefix, order) pairs drive the shared per-order column plumbing
    val keyed = cOrders.map(n => ("chrf", "__cg", "__rg", n)) ++
      wOrders.map(n => ("chrfw", "__cwg", "__rwg", n))
    pairs
      .select(passthrough :+ despaced(col(candCol)).as("__cc") :+
        despaced(col(refCol)).as("__rc") :+ toksOrEmpty(col(candCol)).as("__cwt") :+
        toksOrEmpty(col(refCol)).as("__rwt"): _*)
      .select(passthrough ++
        cOrders.flatMap(n => Seq(
          graft.functions.TextExpressions.charNgrams(col("__cc"), n)
            .as(s"__cg$n"),
          graft.functions.TextExpressions.charNgrams(col("__rc"), n)
            .as(s"__rg$n"))) ++
        wOrders.flatMap(n => Seq(
          ngramsOfTokens(col("__cwt"), n).as(s"__cwg$n"),
          ngramsOfTokens(col("__rwt"), n).as(s"__rwg$n"))): _*)
      .select(passthrough ++
        keyed.flatMap { case (pfx, cg, rg, n) => Seq(
          clippedOverlap(col(s"$cg$n"), col(s"$rg$n")).as(s"$pfx${n}_o"),
          size(col(s"$cg$n")).cast("long").as(s"$pfx${n}_c"),
          size(col(s"$rg$n")).cast("long").as(s"$pfx${n}_r")) }: _*)
      .select(passthrough ++
        keyed.flatMap { case (pfx, _, _, n) => Seq(col(s"$pfx${n}_o"),
          col(s"$pfx${n}_c"), col(s"$pfx${n}_r")) } ++
        keyed.map { case (pfx, _, _, n) =>
          chrfFMicro(col(s"$pfx${n}_o"), col(s"$pfx${n}_c"),
            col(s"$pfx${n}_r")).as(s"$pfx${n}_f_micro") }: _*)
      .select(passthrough ++
        keyed.flatMap { case (pfx, _, _, n) => Seq(col(s"$pfx${n}_o"),
          col(s"$pfx${n}_c"), col(s"$pfx${n}_r"),
          col(s"$pfx${n}_f_micro")) } :+
        idiv(keyed.map { case (pfx, _, _, n) => col(s"$pfx${n}_f_micro") }
          .reduce(_ + _), lit((maxN + wordN).toLong)).as("chrfpp_micro"): _*)
  }

  /** ECE/MCE rollup over a [[calibrationReport]] table — the one-row
    * judge-calibration verdict (Guo et al. 2017 §2): expected
    * calibration error is the item-weighted mean of the per-bucket
    * |acc − conf| gaps, `ECE = Σ_b gap_b·n_b div N`, and MCE the worst
    * bucket's gap. One more partial-aggregable aggregate over the
    * bucket table (the report stays the diagnosis surface; this is the
    * regression-gateable number). Returns ONE row `(n_items,
    * ece_micro, mce_micro)`; an EMPTY report (no items at all) fails
    * loudly — a calibration verdict over nothing is a harness bug, and
    * the guard threads through every output column (prune-proof). */
  def eceReport(report: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    def guarded(c: Column): Column =
      when(col("__n").isNull || col("__n") === 0L, raise_error(lit(
          "eceReport: empty calibration report — no items to roll up")))
        .otherwise(c)
    report
      .agg(sum(col("n_items")).as("__n"),
        sum(col("gap_micro") * col("n_items")).as("__gapsum"),
        max(col("gap_micro")).as("__mce"))
      .select(guarded(col("__n")).as("n_items"),
        guarded(idiv(col("__gapsum"), col("__n"))).as("ece_micro"),
        guarded(col("__mce")).as("mce_micro"))
  }

  /** Unbiased pass@k (Chen et al. 2021, "Evaluating Large Language
    * Models Trained on Code" §2.1): per problem with `n` samples of
    * which `c` pass,
    * {{{
    * pass@k = 1 − C(n−c, k)/C(n, k) = 1 − Π_{i=0}^{k−1} (n−c−i)/(n−i)
    * }}}
    * Returns `(problemCol, n_samples, n_passed, pass_at_k_micro)` with
    * the probability in EXACT INTEGER micro units: both falling
    * factorials are integer products (the numerator clamps at 0 —
    * fewer than k failures means pass@k is exactly 1), one floor
    * division total. A problem with n < k fails LOUDLY — the estimator
    * is undefined there and a silently-skipped problem inflates the
    * suite average. Long-regime bound: `10⁶·n^k` — exact through e.g.
    * n=100 @ k≤6 or n=20 @ k≤10 (ANSI errors loudly past); eval
    * harnesses sample tens-to-hundreds per problem.
    *
    * Scale shape: ONE partial-aggregable hash aggregate over the
    * sample log, then a per-problem scalar projection. Null ok-flags
    * fail loudly (an unscored sample is a harness bug, not a fail). */
  def passAtK(results: org.apache.spark.sql.DataFrame, problemCol: String,
              okCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    require(k >= 1 && k <= 12, s"k out of [1, 12]: $k")
    val okLoud = when(col(okCol).isNull, raise_error(lit(
        s"passAtK: null $okCol — every sample needs a verdict")))
      .otherwise(col(okCol).cast("boolean"))
    val st = results
      .select(col(problemCol), okLoud.as("__ok"))
      .groupBy(col(problemCol))
      .agg(count(lit(1)).as("n_samples"),
        sum(when(col("__ok"), 1L).otherwise(0L)).as("n_passed"))
    val n = col("n_samples")
    val c = col("n_passed")
    val num = (0 until k)
      .map(i => greatest(n - c - i, lit(0L)))
      .reduce(_ * _)
    val den = (0 until k).map(i => n - i).reduce(_ * _)
    // the n < k guard lives INSIDE the ratio column (CaseWhen is lazy):
    // a zero denominator must surface as this message, never as a
    // generic divide-by-zero racing it from a sibling column
    st.select(col(problemCol),
      n.as("n_samples"),
      c.as("n_passed"),
      when(n < k, raise_error(concat(
          lit(s"passAtK: a problem has fewer than k=$k samples ("),
          n.cast("string"),
          lit(") — pass@k is undefined; fix the harness or lower k"))))
        .otherwise(lit(1000000L) - idiv(lit(1000000L) * num, den))
        .as("pass_at_k_micro"))
  }

  /** Distinct-n generation diversity (Li et al. 2016, "A Diversity-
    * Promoting Objective"): per document, `(n_grams, n_distinct,
    * distinct_micro = 10⁶·distinct div total)` for word n-grams of
    * order `n` — the degenerate-decoding detector (greedy/low-temp
    * output repeats itself, driving distinct-n toward 0; lexical
    * diversity's TTR is the n=1 special case of the same family at a
    * different gram notion). Documents with no n-grams (NULL / empty /
    * fewer than n tokens — the ROUGE gram convention) keep a row with
    * zero counts and a NULL ratio. Token and gram arrays are staged
    * projections (the q240 interpreted-HOF discipline); everything is
    * scan-side, nothing shuffles. */
  def distinctNgramRatio(docs: org.apache.spark.sql.DataFrame,
                         textCol: String, idCol: String, n: Int)
      : org.apache.spark.sql.DataFrame = {
    val reserved = Seq("n_grams", "n_distinct", "distinct_micro",
      "__toks", "__grams")
    val clashes = docs.columns.filter(reserved.contains)
    require(clashes.isEmpty,
      s"distinctNgramRatio reserves ${reserved.mkString(", ")}; " +
        s"input already has ${clashes.mkString(", ")}")
    docs
      .select(col(idCol),
        filter(TextOps.tokens(col(textCol)), t => length(t) > 0).as("__toks"))
      .select(col(idCol), ngramsOfTokens(col("__toks"), n).as("__grams"))
      .select(col(idCol),
        size(col("__grams")).cast("long").as("n_grams"),
        size(array_distinct(col("__grams"))).cast("long").as("n_distinct"))
      .select(col(idCol), col("n_grams"), col("n_distinct"),
        when(col("n_grams") > 0,
          idiv(lit(1000000L) * col("n_distinct"), col("n_grams")))
          .as("distinct_micro"))
  }

  /** Self-consistency majority vote (Wang et al. 2022, "Self-
    * Consistency Improves Chain of Thought Reasoning"): per problem,
    * the modal answer over n samples, with deterministic ties (highest
    * vote count, then lexicographically smallest answer — a replayable
    * argmax via `min_by` over `(-votes, answer)`), its vote count, and
    * `majority_micro = 10⁶·votes div n`. Pass `goldCol` non-empty on
    * the input to also emit `correct` (majority <=> gold — gold must be
    * constant per problem, guarded by a max/min equality check that
    * fails loudly on conflicting golds). Null answers fail loudly (an
    * unparsed sample is a harness bug — drop it upstream, explicitly).
    * Two partial-aggregable hash aggregates ((problem, answer) votes →
    * per-problem argmax); no windows, any sample volume. */
  def selfConsistency(results: org.apache.spark.sql.DataFrame,
                      problemCol: String, answerCol: String,
                      goldCol: Option[String] = None)
      : org.apache.spark.sql.DataFrame = {
    val ans = when(col(answerCol).isNull, raise_error(lit(
        s"selfConsistency: null $answerCol — drop unparsed samples " +
          "upstream, explicitly")))
      .otherwise(col(answerCol).cast("string"))
    val goldExprs = goldCol.toSeq.flatMap { g =>
      Seq(min(col(g).cast("string")).as("__gmin"),
        max(col(g).cast("string")).as("__gmax"))
    }
    val votes = results
      .select(col(problemCol) +: ans.as("__ans") +:
        goldCol.toSeq.map { g =>
          when(col(g).isNull, raise_error(lit(
              s"selfConsistency: null $g — every sample needs the gold")))
            .otherwise(col(g).cast("string")).as(g)
        }: _*)
      .groupBy(col(problemCol), col("__ans"))
      .agg(count(lit(1)).as("__v"), goldExprs: _*)
    val ranked = struct((-col("__v")).as("nv"), col("__ans").as("a"))
    val problemAggs =
      min_by(ranked, ranked).as("__top") +:
        goldCol.toSeq.flatMap(_ => Seq(
          min(col("__gmin")).as("__gmin"), max(col("__gmax")).as("__gmax")))
    val perProblem = votes
      .groupBy(col(problemCol))
      .agg(sum(col("__v")).as("n_samples"), problemAggs: _*)
    val outCols =
      col(problemCol) +:
        col("n_samples") +:
        col("__top")("a").as("majority_answer") +:
        (-col("__top")("nv")).as("n_votes") +:
        expr("(1000000 * -__top.nv) div n_samples").as("majority_micro") +:
        goldCol.toSeq.map { _ =>
          when(col("__gmin") =!= col("__gmax"), raise_error(concat(
              lit("selfConsistency: conflicting gold answers for problem "),
              col(problemCol).cast("string"))))
            .otherwise(col("__top")("a") <=> col("__gmin")).as("correct")
        }
    perProblem.select(outCols: _*)
  }

  /** Calibration audit for a judge/classifier (Guo et al. 2017's
    * reliability-diagram table, the per-bucket form ECE sums over):
    * given per-item `(confidence_micro ∈ [0, 10⁶], ok)`, buckets
    * confidence by `bucketWidth` and reports
    * `(conf_bucket, n_items, n_correct, acc_micro, mean_conf_micro,
    * gap_micro)` where `gap_micro = |acc − mean_conf|` — the bucket's
    * contribution to expected calibration error before the n_b/N
    * weighting (Σ gap·n div N is one more aggregate the caller owns;
    * the per-bucket table is what a calibration FIX actually reads).
    * All integer: acc and mean-confidence are floor micro ratios. An
    * LLM-as-judge pipeline that doesn't run this ships a judge whose
    * "90% sure" means 60%. Out-of-range confidence and null inputs
    * fail loudly. One bucket-keyed hash aggregate. */
  def calibrationReport(results: org.apache.spark.sql.DataFrame,
                        confMicroCol: String, okCol: String,
                        bucketWidth: Long): org.apache.spark.sql.DataFrame = {
    require(bucketWidth >= 1L && bucketWidth <= 1000000L,
      s"bucket width out of [1, 10⁶]: $bucketWidth")
    val conf = when(col(confMicroCol).isNull ||
        col(confMicroCol) < 0L || col(confMicroCol) > 1000000L,
        raise_error(concat(lit("calibrationReport: confidence out of " +
          "[0, 1000000] micro: "), col(confMicroCol).cast("string"))))
      .otherwise(col(confMicroCol).cast("long"))
    val ok = when(col(okCol).isNull, raise_error(lit(
        s"calibrationReport: null $okCol — every item needs a verdict")))
      .otherwise(col(okCol).cast("boolean"))
    results
      .select(conf.as("__conf"), ok.as("__ok"))
      // exact 10⁶ joins the TOP bucket (the reliability-diagram
      // convention), not a one-value bucket of its own
      .select(expr(s"least(__conf, 999999L) div ${bucketWidth}L")
        .as("conf_bucket"), col("__ok"), col("__conf"))
      .groupBy(col("conf_bucket"))
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("__ok"), 1L).otherwise(0L)).as("n_correct"),
        sum(col("__conf")).as("__confsum"))
      .select(col("conf_bucket"), col("n_items"), col("n_correct"),
        expr("(1000000 * n_correct) div n_items").as("acc_micro"),
        expr("__confsum div n_items").as("mean_conf_micro"))
      .select(col("conf_bucket"), col("n_items"), col("n_correct"),
        col("acc_micro"), col("mean_conf_micro"),
        abs(col("acc_micro") - col("mean_conf_micro")).as("gap_micro"))
  }

  /** Verbatim-memorization audit: for each generated document, the
    * fraction of its distinct word n-grams that appear ANYWHERE in the
    * training corpus (Carlini et al. 2022's extraction metric at n-gram
    * granularity; the operational question behind it — "is the model
    * reciting training data" — is answered per generation).
    *
    * Returns `(idCol, n_grams, n_memorized, memorized_micro)`. Gram
    * semantics ride [[graft.dedup.Dedup.shingleRows]] — distinct grams
    * per doc, short docs contribute their whole normalized text as the
    * single gram (a 2-token generation copied verbatim still counts) —
    * so a persisted dedup shingle index doubles as the corpus side.
    * Content-less generations (NULL/empty text) keep a row with
    * `n_grams 0` and NULL rate — the fingerprint null-contract family.
    *
    * Scale shape: the corpus collapses to its DISTINCT gram set in one
    * map-side-partial aggregate (the 100 TB side is scanned once, and a
    * prebuilt shingle index substitutes via [[memorizationRateFromRows]]);
    * the probe joins by gram hash — both sides key-partitioned,
    * AQE-skew-splittable, never all-pairs. */
  def memorizationRate(gens: org.apache.spark.sql.DataFrame, textCol: String,
                       idCol: String, corpus: org.apache.spark.sql.DataFrame,
                       corpusTextCol: String, n: Int)
      : org.apache.spark.sql.DataFrame = {
    val corpusGrams = graft.dedup.Dedup
      .shingleRows(corpus, corpusTextCol, idCol, Nil, n)
      .select(col("g")).distinct()
    memorizationRateFromRows(gens, textCol, idCol, corpusGrams, n)
  }

  /** [[memorizationRate]] against a PREBUILT corpus gram set — `(g)`
    * distinct gram hashes, e.g. a persisted dedup shingle index's gram
    * column deduped. The corpus is the static 100 TB side; re-shingling
    * it per audit belongs in index-build time, not in every run. */
  def memorizationRateFromRows(gens: org.apache.spark.sql.DataFrame,
                               textCol: String, idCol: String,
                               corpusGrams: org.apache.spark.sql.DataFrame,
                               n: Int): org.apache.spark.sql.DataFrame = {
    val genGrams = graft.dedup.Dedup.shingleRows(gens, textCol, idCol, Nil, n)
    val hits = genGrams
      .join(corpusGrams.select(col("g"), lit(1L).as("__hit")), Seq("g"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_memorized"))
    gens.select(col(idCol)).distinct()
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_memorized"), lit(0L)).as("n_memorized"),
        when(col("n_grams") > 0,
          idiv(lit(1000000L) * col("n_memorized"), col("n_grams")))
          .as("memorized_micro"))
  }
}
