package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.json.ChatOps
import graft.ops.Agreement
import graft.text.EvalOps
import OracleSql.{nullInjected, shingleSet, toks}

/** Query surface for the evaluation/annotation-QA suite: generation
  * scoring (ROUGE-N), the verbatim-memorization audit, inter-annotator
  * agreement (Fleiss/Cohen κ), and SFT chat-transcript validation.
  * Fixtures are synthesized from `documents` with expressions shared
  * verbatim with the oracle SQL (the q232 template discipline), and
  * null/malformed rows injected in-query pin the operators' null
  * contracts at the gate, not just in specs.
  */
object EvalQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Candidate-side text with the q24/q25 null/empty/whitespace
    * injection (%13 of ids) — replayed verbatim in the oracle SQL. */
  private def nullableCand: org.apache.spark.sql.Column =
    when(col("doc_id") % 13 === 0, lit(null).cast("string"))
      .when(col("doc_id") % 13 === 1, lit(""))
      .when(col("doc_id") % 13 === 2, lit("   "))
      .otherwise(col("text"))

  /** Chat-transcript JSON synthesized from a template shared with the
    * oracle: %11 malformed, %5 a double-user alternation violation,
    * %7 an empty assistant content — replayed byte-identically. */
  private def chatJson: org.apache.spark.sql.Column = {
    val safe = regexp_replace(substring(col("text"), 1, 40),
      "[^a-zA-Z0-9 ]", "")
    when(col("doc_id") % 11 === 0, lit("oops not json"))
      .otherwise(concat(
        lit("[{\"role\":\"system\",\"content\":\"be helpful\"}," +
          "{\"role\":\"user\",\"content\":\""),
        safe, lit("\"},"),
        when(col("doc_id") % 5 === 0,
            lit("{\"role\":\"user\",\"content\":\"more\"},"))
          .otherwise(lit("")),
        lit("{\"role\":\"assistant\",\"content\":\""),
        when(col("doc_id") % 7 === 0, lit(""))
          .otherwise(concat(lit("about "), col("source"))),
        lit("\"}]")))
  }

  val queries: Map[String, Q] = Map(
    // ───── ROUGE-2 between each doc (null-injected) and its successor:
    // clipped overlap + P/R/F in exact micro units, all scan-side ─────
    "q240_rouge_overlap" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val a = docs.select(col("doc_id"), nullableCand.as("cand"))
      val b = docs.select((col("doc_id") - 1).as("doc_id"),
        col("text").as("ref"))
      EvalOps.rougeN(a.join(b, "doc_id"), "cand", "ref", 2)
        .drop("cand", "ref")
        .orderBy(col("doc_id"))
    }),

    // ───── ROUGE-L (LCS) between ANALYTIC candidate classes and the
    // (120-token-capped) reference: identity / prefix / every-3rd-token
    // substituted by a novel token / all-novel / null-contract rows.
    // Each class has a CLOSED-FORM LCS (prefix and unreplaced-token
    // subsequences are provably maximal — novel tokens match nothing),
    // so the full DP output is oracle-gated exactly; adversarial
    // reorder/repeat cases are pinned in EvalOpsSpec ─────
    "q256_rouge_l" -> ((s, d) => {
      EvalOps.rougeL(analyticClassPairs(s, d), "cand", "ref")
        .drop("cand", "ref")
        .orderBy(col("doc_id"))
    }),

    // ───── WER (token edit distance / reference length) over the q256
    // ANALYTIC candidate classes: identity (d=0) / prefix (d=r−k, pure
    // deletions) / every-3rd-token novel-substituted (d=r div 3 — LCS
    // bound d ≥ max(C,R)−LCS makes substitution-count provably optimal)
    // / all-novel (d=max(r,3)) / null-contract (d=r) — the full DP
    // output exactly oracle-gated; adversarial cases in EvalOpsSpec ─────
    "q267_wer" -> ((s, d) => {
      EvalOps.wer(analyticClassPairs(s, d), "cand", "ref")
        .drop("cand", "ref")
        .orderBy(col("doc_id"))
    }),

    // ───── corpus-level WER over the q267 segment table: Σd div ΣN,
    // the ASR convention — never a mean of per-utterance rates ─────
    "q275_corpus_wer" -> ((s, d) => {
      EvalOps.corpusWer(EvalOps.wer(analyticClassPairs(s, d), "cand", "ref"))
    }),

    // ───── multi-reference WER (the NIST/sclite min-error-reference
    // convention) over PREFIX-class references — d(prefix_a, prefix_b)
    // = |a−b| provably, so the real per-reference DPs and the min-by
    // (d, len) pick are exactly oracle-gated ─────
    "q272_wer_multi" -> ((s, d) => {
      val rt = slice(
        filter(graft.text.TextOps.tokens(col("text")), t => length(t) > 0),
        1, 120)
      val pairs = Tables.documents(s, d).select(col("doc_id"), rt.as("__rt"))
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 0, lit(null).cast("string"))
            .when(col("doc_id") % 13 === 1, lit(""))
            .when(col("doc_id") % 13 === 2, lit("   "))
            .otherwise(array_join(slice(col("__rt"), lit(1),
              (lit(5) + col("doc_id") % 11).cast("int")), " ")).as("cand"),
          array(
            array_join(col("__rt"), " "),
            array_join(slice(col("__rt"), lit(1),
              (lit(3) + col("doc_id") % 7).cast("int")), " "),
            array_join(slice(col("__rt"), lit(1),
              (lit(9) + col("doc_id") % 5).cast("int")), " ")).as("refs"))
      EvalOps.werMulti(pairs, "cand", "refs")
        .drop("cand", "refs")
        .orderBy(col("doc_id"))
    }),

    // ───── Krippendorff's α over an INCOMPLETE design: 1–4 raters per
    // item (single-rating items dropped, visibly), labels correlated
    // through length(text) — the table fleissKappa loudly rejects ─────
    "q257_krippendorff_alpha" -> ((s, d) => {
      val ann = Tables.documents(s, d)
        .select(col("doc_id").as("item"), length(col("text")).as("lt"),
          explode(sequence(lit(0), (col("doc_id") % 4).cast("int")))
            .as("rater"))
        .select(col("item"), col("rater"),
          ((col("lt") + col("rater") * (col("item") % 5)) % 4)
            .cast("string").as("label"))
      Agreement.krippendorffAlpha(ann, "item", "rater", "label")
    }),

    // ───── first-position win rate per pair: a synthetic order-biased
    // judge (first-presented side wins when doc_id % 7 < 4 — ≈571428
    // micro) over the duel fixture, presentation side varying within
    // every pair ─────
    "q258_position_bias" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val a = docs.select(col("doc_id"), length(col("text")).as("la"),
        col("source").as("sa"))
      val b = docs.select((col("doc_id") - 1).as("doc_id"),
        length(col("text")).as("lb"), col("source").as("sb"))
      val duels = a.join(b, "doc_id").where(col("sa") =!= col("sb"))
        .select(col("doc_id"),
          when(col("la") > col("lb"), col("sa"))
            .when(col("la") < col("lb"), col("sb"))
            .otherwise(least(col("sa"), col("sb"))).as("w"),
          when(col("la") > col("lb"), col("sb"))
            .when(col("la") < col("lb"), col("sa"))
            .otherwise(greatest(col("sa"), col("sb"))).as("l"))
        .select(col("w"), col("l"),
          when(col("doc_id") % 7 < 4, col("w")).otherwise(col("l")).as("f"))
      graft.ops.Preference.positionBias(duels, "w", "l", "f")
        .orderBy(col("player_a"), col("player_b"))
    }),

    // ───── BLEU exact-integer components (orders 1-4) between the
    // null-injected candidate and its successor doc, both capped at 300
    // chars — clipped modified-precision numerators/denominators +
    // brevity lengths; the irrational combine is bleuScore (spec-pinned,
    // deliberately outside the oracle gate) ─────
    "q261_bleu_components" -> ((s, d) => {
      // token-capped, not char-capped: a char cut lands differently
      // across engines on multibyte text (grapheme vs codepoint), while
      // list slicing is identical — the q256 capping discipline
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), array_join(
          slice(filter(graft.text.TextOps.tokens(col("text")),
            t => length(t) > 0), 1, 60), " ").as("text"))
      val a = docs.select(col("doc_id"), nullableCand.as("cand"))
      val b = docs.select((col("doc_id") - 1).as("doc_id"),
        col("text").as("ref"))
      EvalOps.bleuComponents(a.join(b, "doc_id"), "cand", "ref", maxN = 4)
        .drop("cand", "ref")
        .orderBy(col("doc_id"))
    }),

    // ───── the WMT 13a tokenizer over raw document text (punctuation
    // split, decimals joined, digit-dash split — the sacrebleu
    // pre-BLEU convention), gated via count + md5 over the exact
    // token sequence ─────
    "q276_tokenize_13a" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          graft.text.TextOps.tokens13a(col("text")).as("__t"))
        .select(col("doc_id"),
          size(col("__t")).cast("long").as("n_toks"),
          md5(encode(array_join(col("__t"), "\u001f"), "UTF-8"))
            .as("toks_md5"))
        .orderBy(col("doc_id"))
    }),

    // ───── corpus-level BLEU statistics over the q261 segment table:
    // summed clipped counts / lengths (Papineni §2.3 — never a mean of
    // segment scores); bleuScore composes on the one-row result ─────
    "q273_corpus_bleu" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), array_join(
          slice(filter(graft.text.TextOps.tokens(col("text")),
            t => length(t) > 0), 1, 60), " ").as("text"))
      val a = docs.select(col("doc_id"), nullableCand.as("cand"))
      val b = docs.select((col("doc_id") - 1).as("doc_id"),
        col("text").as("ref"))
      EvalOps.corpusBleu(
        EvalOps.bleuComponents(a.join(b, "doc_id"), "cand", "ref", maxN = 4))
    }),

    // ───── corpus-level chrF over the q262 segment table: per-order
    // gram counts summed, F on the totals — fully oracle-gated incl.
    // the combined corpus score (rational end to end) ─────
    "q274_corpus_chrf" -> ((s, d) => {
      val docs = graft.text.TextOps.spreadByKey( // r17: see analyticClassPairs
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          col("doc_id"))
        .select(col("doc_id"),
          substring(regexp_replace(col("text"), "[^a-zA-Z0-9 ]", ""), 1, 120)
            .as("text"))
      val a = docs.select(col("doc_id"), nullableCand.as("cand"))
      val b = docs.select((col("doc_id") - 1).as("doc_id"),
        col("text").as("ref"))
      EvalOps.corpusChrf(
        EvalOps.chrF(a.join(b, "doc_id"), "cand", "ref", maxN = 6))
    }),

    // ───── chrF (character-n-gram F, β=2, orders 1-6) between the
    // null-injected candidate and its successor — ASCII-sanitized and
    // char-capped so character slicing agrees across engines; every
    // per-order component AND the combined mean are exact integers ─────
    "q262_chrf" -> ((s, d) => {
      val docs = graft.text.TextOps.spreadByKey( // r17: see analyticClassPairs
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          col("doc_id"))
        .select(col("doc_id"),
          substring(regexp_replace(col("text"), "[^a-zA-Z0-9 ]", ""), 1, 120)
            .as("text"))
      val a = docs.select(col("doc_id"), nullableCand.as("cand"))
      val b = docs.select((col("doc_id") - 1).as("doc_id"),
        col("text").as("ref"))
      EvalOps.chrF(a.join(b, "doc_id"), "cand", "ref", maxN = 6)
        .drop("cand", "ref")
        .orderBy(col("doc_id"))
    }),

    // ───── MULTI-reference BLEU components: three references per
    // candidate (successor doc, a 5-13-token prefix of it, and the
    // doc after that — all 60-token-capped), so the per-gram MAX clip
    // and the closest-length brevity pick both do real work ─────
    "q263_bleu_multi" -> ((s, d) => {
      EvalOps.bleuComponentsMulti(multiRefFixture(s, d), "cand", "refs",
          maxN = 4)
        .drop("cand", "refs")
        .orderBy(col("doc_id"))
    }),

    // ───── multi-reference ROUGE-2 best-match (Lin 2004 §5) over the
    // same three-reference fixture — max per-reference F1 ─────
    "q269_rouge_n_multi" -> ((s, d) => {
      EvalOps.rougeNMulti(multiRefFixture(s, d), "cand", "refs", n = 2)
        .drop("cand", "refs")
        .orderBy(col("doc_id"))
    }),

    // ───── jackknifed multi-reference ROUGE-2 (the DUC protocol:
    // mean over leave-one-out best matches) over the same fixture ─────
    "q271_rouge_jackknife" -> ((s, d) => {
      EvalOps.rougeNMulti(multiRefFixture(s, d), "cand", "refs", n = 2,
          jackknife = true)
        .drop("cand", "refs")
        .orderBy(col("doc_id"))
    }),

    // ───── multi-reference ROUGE-L best-match over PREFIX-class
    // references (cand and all refs are prefixes of the same token
    // base, so LCS(prefix_a, prefix_b) = min(a, b) PROVABLY — the full
    // per-reference DP output is exactly oracle-gated) ─────
    "q270_rouge_l_multi" -> ((s, d) => {
      val rt = slice(
        filter(graft.text.TextOps.tokens(col("text")), t => length(t) > 0),
        1, 120)
      val pairs = Tables.documents(s, d).select(col("doc_id"), rt.as("__rt"))
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 0, lit(null).cast("string"))
            .when(col("doc_id") % 13 === 1, lit(""))
            .when(col("doc_id") % 13 === 2, lit("   "))
            .otherwise(array_join(slice(col("__rt"), lit(1),
              (lit(5) + col("doc_id") % 11).cast("int")), " ")).as("cand"),
          array(
            array_join(col("__rt"), " "),
            array_join(slice(col("__rt"), lit(1),
              (lit(3) + col("doc_id") % 7).cast("int")), " "),
            array_join(slice(col("__rt"), lit(1),
              (lit(9) + col("doc_id") % 5).cast("int")), " ")).as("refs"))
      EvalOps.rougeLMulti(pairs, "cand", "refs")
        .drop("cand", "refs")
        .orderBy(col("doc_id"))
    }),

    // ───── ORDINAL-metric α over the q260 numeric-rating incomplete
    // design — cumulative-marginal squared-distance weights, the
    // Likert-correct member of the α family; HUGEINT/DECIMAL combine ─────
    "q264_krippendorff_ordinal" -> ((s, d) => {
      val ann = Tables.documents(s, d)
        .select(col("doc_id").as("item"), length(col("text")).as("lt"),
          explode(sequence(lit(0), (col("doc_id") % 4).cast("int")))
            .as("rater"))
        .select(col("item"), col("rater"),
          ((col("lt") + col("rater") * (col("item") % 5)) % 7)
            .cast("long").as("v"))
      Agreement.krippendorffAlphaOrdinal(ann, "item", "rater", "v")
    }),

    // ───── RATIO-metric α over the q260 non-negative-rating incomplete
    // design — squared RELATIVE distance weights, completing all four
    // standard Krippendorff metrics; HUGEINT/DECIMAL combine ─────
    "q268_krippendorff_ratio" -> ((s, d) => {
      val ann = Tables.documents(s, d)
        .select(col("doc_id").as("item"), length(col("text")).as("lt"),
          explode(sequence(lit(0), (col("doc_id") % 4).cast("int")))
            .as("rater"))
        .select(col("item"), col("rater"),
          ((col("lt") + col("rater") * (col("item") % 5)) % 7)
            .cast("long").as("v"))
      Agreement.krippendorffAlphaRatio(ann, "item", "rater", "v")
    }),

    // ───── ECE/MCE rollup over the q251 reliability table — the
    // one-row calibration verdict (item-weighted mean gap + max gap) ─────
    "q265_ece" -> ((s, d) => {
      val lt = length(col("text")).cast("long")
      val conf = (lt * 7919L + col("doc_id") * 131L) % 1000001L
      val ok = (col("doc_id") * 37L + lt * 13L) % 1000000L < conf
      EvalOps.eceReport(EvalOps.calibrationReport(
        Tables.documents(s, d).select(conf.as("conf"), ok.as("ok")),
        "conf", "ok", 100000L))
    }),

    // ───── chrF++ (char orders 1-6 + word orders 1-2, β=2) over the
    // q262 sanitized pair fixture — the WMT metric as actually used ─────
    "q266_chrfpp" -> ((s, d) => {
      val docs = graft.text.TextOps.spreadByKey( // r17: see analyticClassPairs
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          col("doc_id"))
        .select(col("doc_id"),
          substring(regexp_replace(col("text"), "[^a-zA-Z0-9 ]", ""), 1, 120)
            .as("text"))
      val a = docs.select(col("doc_id"), nullableCand.as("cand"))
      val b = docs.select((col("doc_id") - 1).as("doc_id"),
        col("text").as("ref"))
      EvalOps.chrFpp(a.join(b, "doc_id"), "cand", "ref", maxN = 6, wordN = 2)
        .drop("cand", "ref")
        .orderBy(col("doc_id"))
    }),

    // ───── both-orders judging audit: every duel judged twice with the
    // presentation flipped; %11 matches flip their verdict with the
    // order (the position-driven class the discipline would drop) ─────
    "q259_order_consistency" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val a = docs.select(col("doc_id"), length(col("text")).as("la"),
        col("source").as("sa"))
      val b = docs.select((col("doc_id") - 1).as("doc_id"),
        length(col("text")).as("lb"), col("source").as("sb"))
      val base = a.join(b, "doc_id").where(col("sa") =!= col("sb"))
        .select(col("doc_id"),
          when(col("la") > col("lb"), col("sa"))
            .when(col("la") < col("lb"), col("sb"))
            .otherwise(least(col("sa"), col("sb"))).as("w"),
          when(col("la") > col("lb"), col("sb"))
            .when(col("la") < col("lb"), col("sa"))
            .otherwise(greatest(col("sa"), col("sb"))).as("l"))
      val j1 = base.select(col("doc_id").as("m"), col("w"), col("l"),
        when(col("doc_id") % 7 < 4, col("w")).otherwise(col("l")).as("f"))
      val j2 = base.select(col("doc_id").as("m"),
        when(col("doc_id") % 11 === 0, col("l")).otherwise(col("w")).as("w2"),
        when(col("doc_id") % 11 === 0, col("w")).otherwise(col("l")).as("l2"),
        when(col("doc_id") % 7 < 4, col("l")).otherwise(col("w")).as("f"))
        .select(col("m"), col("w2").as("w"), col("l2").as("l"), col("f"))
      graft.ops.Preference.orderConsistency(j1.unionAll(j2),
          "m", "w", "l", "f")
        .orderBy(col("player_a"), col("player_b"))
    }),

    // ───── interval-metric α over synthetic 0-6 numeric ratings on the
    // q257 incomplete design — squared-distance disagreement ─────
    "q260_krippendorff_interval" -> ((s, d) => {
      val ann = Tables.documents(s, d)
        .select(col("doc_id").as("item"), length(col("text")).as("lt"),
          explode(sequence(lit(0), (col("doc_id") % 4).cast("int")))
            .as("rater"))
        .select(col("item"), col("rater"),
          ((col("lt") + col("rater") * (col("item") % 5)) % 7)
            .cast("long").as("v"))
      Agreement.krippendorffAlphaInterval(ann, "item", "rater", "v")
    }),

    // ───── memorization audit: generations = corpus-prefix + novel
    // suffix (length and suffix vary by id; %13 null → content-less
    // contract row; %4==1 pure copies score exactly 10⁶) ─────
    "q241_memorization_rate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val t = graft.text.TextOps.tokens(col("text"))
      val gtext = when(col("doc_id") % 13 === 0, lit(null).cast("string"))
        .otherwise(concat(
          array_join(slice(t, lit(1), (lit(4) + col("doc_id") % 12).cast("int")), " "),
          when(col("doc_id") % 4 === 1, lit(""))
            .otherwise(concat(lit(" zzz"), col("doc_id").cast("string")))))
      val gens = docs.where(col("doc_id") % 3 === 0)
        .select(col("doc_id"), gtext.as("text"))
      EvalOps.memorizationRate(gens, "text", "doc_id",
          docs.select(col("doc_id"), col("text")), "text", 3)
        .orderBy(col("doc_id"))
    }),

    // ───── Fleiss' κ over synthetic 3-rater annotations whose labels
    // correlate through length(text) — mid-range agreement, exact ─────
    "q242_fleiss_kappa" -> ((s, d) => {
      val ann = Tables.documents(s, d)
        .select(col("doc_id").as("item"), length(col("text")).as("l"),
          explode(sequence(lit(0), lit(2))).as("rater"))
        .select(col("item"), col("rater"),
          ((col("l") + col("rater") * (col("item") % 5)) % 4)
            .cast("string").as("label"))
      Agreement.fleissKappa(ann, "item", "rater", "label")
    }),

    // ───── Cohen's κ: two synthetic raters sharing the length signal,
    // one perturbed by id parity ─────
    "q243_cohen_kappa" -> ((s, d) => {
      val p = Tables.documents(s, d).select(
        (length(col("text")) % 3).cast("string").as("la"),
        ((length(col("text")) + col("doc_id") % 2) % 3)
          .cast("string").as("lb"))
      Agreement.cohenKappa(p, "la", "lb")
    }),

    // ───── chat-protocol stats + flattened training string over the
    // shared JSON template (malformed / double-user / empty-content
    // variants all exercised) ─────
    "q244_chat_stats" -> ((s, d) => {
      val cols = ChatOps.chatStats(col("j"))
      Tables.documents(s, d).select(col("doc_id"), chatJson.as("j"))
        .select(col("doc_id") +:
          (cols.map { case (n, c) => c.as(n) } :+
            ChatOps.flattenChat(col("j")).as("flat")): _*)
        .orderBy(col("doc_id"))
    }),

    // ───── exploded turn view of the same transcripts (malformed
    // conversations contribute no rows — the documented contract) ─────
    "q245_chat_turns" -> ((s, d) => {
      ChatOps.chatTurns(
          Tables.documents(s, d).select(col("doc_id"), chatJson.as("j")),
          "j", "doc_id")
        .orderBy(col("doc_id"), col("turn"))
    }),

    // ───── unbiased pass@k over a synthetic sample log: 5-8 samples
    // per problem, verdicts correlated through length(text) ─────
    "q248_pass_at_k" -> ((s, d) => {
      val samples = Tables.documents(s, d)
        .select(col("doc_id"), length(col("text")).as("lt"),
          explode(sequence(lit(0),
            (lit(4) + col("doc_id") % 4).cast("int"))).as("smp"))
        .select(col("doc_id"),
          (((col("lt") + col("smp") * col("doc_id")) % 3) === 0).as("ok"))
      EvalOps.passAtK(samples, "doc_id", "ok", 3)
        .orderBy(col("doc_id"))
    }),

    // ───── distinct-2 generation diversity over null-injected text;
    // %9 ids get a degenerate repeated-token tail ─────
    "q255_distinct_ngrams" -> ((s, d) => {
      val t = when(col("doc_id") % 9 === 0,
          concat(col("text"), lit(" loop loop loop loop loop")))
        .otherwise(nullableCand)
      EvalOps.distinctNgramRatio(
          Tables.documents(s, d).select(col("doc_id"), t.as("text")),
          "text", "doc_id", 2)
        .orderBy(col("doc_id"))
    }),

    // ───── SFT pair-quality signals: responses with echo / truncation
    // / empty / null variants injected by id class ─────
    "q253_sft_signals" -> ((s, d) => {
      val prompt = substring(col("text"), 1, 60)
      val response = when(col("doc_id") % 11 === 0,
          lit(null).cast("string"))
        .when(col("doc_id") % 5 === 0,
          concat(substring(col("text"), 1, 60), lit(" indeed.")))
        .when(col("doc_id") % 7 === 0,
          lit("unterminated response without punctuation"))
        .otherwise(concat(lit("The answer is "), col("source"), lit(".")))
      ChatOps.sftSignals(
          Tables.documents(s, d).select(col("doc_id"),
            prompt.as("prompt"), response.as("response")),
          "prompt", "response")
        .drop("prompt", "response")
        .orderBy(col("doc_id"))
    }),

    // ───── per-annotator consensus agreement over the q242 annotation
    // fixture — the "which rater diverges" table ─────
    "q254_annotator_report" -> ((s, d) => {
      val ann = Tables.documents(s, d)
        .select(col("doc_id").as("item"), length(col("text")).as("l"),
          explode(sequence(lit(0), lit(2))).as("rater"))
        .select(col("item"), col("rater"),
          ((col("l") + col("rater") * (col("item") % 5)) % 4)
            .cast("string").as("label"))
      graft.ops.Agreement.annotatorReport(ann, "item", "rater", "label")
        .orderBy(col("rater"))
    }),

    // ───── self-consistency majority vote: 5 samples per problem,
    // answers spread over 4 classes, gold constant per problem ─────
    "q252_self_consistency" -> ((s, d) => {
      val samples = Tables.documents(s, d)
        .select(col("doc_id"), length(col("text")).cast("long").as("lt"),
          explode(sequence(lit(0), lit(4))).as("smp"))
        .select(col("doc_id"),
          ((col("lt") + col("smp") * col("doc_id")) % 4)
            .cast("string").as("ans"),
          (col("lt") % 4).cast("string").as("gold"))
      EvalOps.selfConsistency(samples, "doc_id", "ans", Some("gold"))
        .orderBy(col("doc_id"))
    }),

    // ───── judge-calibration reliability table: synthetic confidences
    // with a noisy-but-calibrated verdict rule — acc per bucket tracks
    // mean confidence, gap_micro measures the residual ─────
    "q251_calibration" -> ((s, d) => {
      val lt = length(col("text")).cast("long")
      val conf = (lt * 7919L + col("doc_id") * 131L) % 1000001L
      val ok = (col("doc_id") * 37L + lt * 13L) % 1000000L < conf
      EvalOps.calibrationReport(
          Tables.documents(s, d).select(conf.as("conf"), ok.as("ok")),
          "conf", "ok", 100000L)
        .orderBy(col("conf_bucket"))
    }),

    // ───── per-source datacard: the corpus-composition rollup a
    // training-mix decision reads (docs, tokens, language spread,
    // exact-dup exposure, eval-contamination exposure) — a COMPOSITION
    // of gated primitives (fingerprint, tokenCount, containmentJoin);
    // %17 ids collapse to one cross-source dup class, %29==1 ids act as
    // the eval-benchmark probe suite, so dup AND contamination columns
    // measure something real. At crawl scale the contamination verdicts
    // come pre-joined from the RECURRING decontamination audit's
    // persisted pairs (contaminationReportPrebuilt / the q115 shape) —
    // the datacard aggregate itself stays one corpus scan; the batch
    // containmentJoin here is the gate-replayable composition of it ─────
    "q250_source_datacard" -> ((s, d) => {
      val t = when(col("doc_id") % 17 === 0,
        lit("duplicate boilerplate page")).otherwise(col("text"))
      val base = Tables.documents(s, d).select(col("doc_id"), col("source"),
        col("lang"), t.as("text"))
      val e = base.select(col("doc_id"), col("source"), col("lang"),
        graft.text.TextOps.tokenCount(col("text")).cast("long").as("n_toks"),
        graft.text.TextOps.fingerprint(col("text")).as("fp"))
      val fc = e.groupBy(col("fp")).agg(count(lit(1)).as("n_fp"))
      // corpus docs covering ≥80% of a probe doc's shingles (self-pairs
      // out: the probe rides inside the corpus here)
      val contamIds = graft.dedup.Dedup.containmentJoin(
          base.where(col("doc_id") % 29 === 1), base,
          "text", "doc_id", n = 3, threshold = 0.8)
        .where(col("id_l") =!= col("id_r"))
        .select(col("id_r").as("doc_id")).distinct()
        .select(col("doc_id"), lit(1L).as("__contam"))
      e.join(fc, "fp")
        .join(contamIds, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          sum(when(col("n_fp") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
          sum(coalesce(col("__contam"), lit(0L))).as("n_contam_docs"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("n_langs"), col("n_dup_docs"), col("n_contam_docs"),
          expr("(1000000 * n_tokens) div n_docs").as("mean_tokens_micro"),
          expr("(1000 * n_dup_docs) div n_docs").as("dup_permille"),
          expr("(1000 * n_contam_docs) div n_docs").as("contam_permille"))
        .orderBy(col("source"))
    }),

    // ───── pairwise win-rate table over the synthetic duel log
    // (sources "duel" via adjacent docs; longer text wins) ─────
    "q246_win_rates" -> ((s, d) => {
      graft.ops.Preference.winRates(duelFixture(s, d), "w", "l")
        .orderBy(col("player_a"), col("player_b"))
    }),

    // ───── Bradley–Terry strengths, two exact integer MM iterations,
    // unrolled term-for-term in the oracle (the q152 pattern) ─────
    "q247_bradley_terry" -> ((s, d) => {
      graft.ops.Preference.bradleyTerry(duelFixture(s, d), "w", "l", 2)
        .orderBy(col("player"))
    }),

    // ───── verbosity-bias curve: a noisy length-biased judge (longer
    // wins unless the id-perturbation flips it) — the rate must rise
    // with the length gap and sit mixed near zero gap ─────
    "q249_length_bias" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val a = docs.select(col("doc_id"), length(col("text")).as("la"),
        col("source").as("sa"))
      val b = docs.select((col("doc_id") - 1).as("doc_id"),
        length(col("text")).as("lb"), col("source").as("sb"))
      val lens = a.join(b, "doc_id").where(col("sa") =!= col("sb"))
        .select(
          when(col("la") + col("doc_id") % 40 > col("lb"), col("la"))
            .otherwise(col("lb")).as("wlen"),
          when(col("la") + col("doc_id") % 40 > col("lb"), col("lb"))
            .otherwise(col("la")).as("llen"))
      graft.ops.Preference.lengthBias(lens, "wlen", "llen", 20L)
        .orderBy(col("len_gap_bucket"))
    }))

  /** ANALYTIC candidate-class fixture shared by the closed-form DP
    * gates (q256 ROUGE-L, q267 WER, q275 corpus WER): reference = the
    * 120-token-capped text; candidate classes null/empty/whitespace
    * (%13), identity, prefix, every-3rd-token novel-substituted and
    * all-novel (%4) — each with PROVABLY closed-form LCS AND edit
    * distance, so the full DP outputs are oracle-gated exactly. One
    * definition: the three gates' oracles depend on byte-identical
    * replay of this when-chain. */
  private def analyticClassPairs(s: SparkSession, d: String): DataFrame = {
    val rt = slice(
      filter(graft.text.TextOps.tokens(col("text")), t => length(t) > 0),
      1, 120)
    // spread before the per-row DP kernels downstream (r17): the LCS /
    // edit-distance / gram kernels are CPU-dense and the single-split
    // fixture scan would serialize them on one task
    graft.text.TextOps.spreadByKey(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        col("doc_id"))
      .select(col("doc_id"), rt.as("__rt"))
      .select(col("doc_id"),
        array_join(col("__rt"), " ").as("ref"),
        when(col("doc_id") % 13 === 0, lit(null).cast("string"))
          .when(col("doc_id") % 13 === 1, lit(""))
          .when(col("doc_id") % 13 === 2, lit("   "))
          .when(col("doc_id") % 4 === 0, array_join(col("__rt"), " "))
          .when(col("doc_id") % 4 === 1, array_join(
            slice(col("__rt"), lit(1), (lit(3) + col("doc_id") % 7).cast("int")),
            " "))
          .when(col("doc_id") % 4 === 2, array_join(
            transform(col("__rt"), (t, i) =>
              when((i + 1) % 3 === 0,
                  concat(lit("zzznovel"), col("doc_id").cast("string")))
                .otherwise(t)), " "))
          .otherwise(concat_ws(" ",
            concat(lit("zzza"), col("doc_id").cast("string")),
            concat(lit("zzzb"), col("doc_id").cast("string")),
            concat(lit("zzzc"), col("doc_id").cast("string"))))
          .as("cand"))
  }

  /** Three-reference fixture shared by the multi-reference metrics
    * (q263/q269): candidate = own 60-token-capped text (null-injected),
    * references = successor doc, a 5–13-token prefix of it, and the doc
    * after that — so max-clip / best-match / closest-length all do real
    * work. Replayed verbatim in the oracle SQL. */
  private def multiRefFixture(s: SparkSession, d: String): DataFrame = {
    val docs = graft.text.TextOps.spreadByKey( // r17: see analyticClassPairs
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        col("doc_id"))
      .select(col("doc_id"), array_join(
        slice(filter(graft.text.TextOps.tokens(col("text")),
          t => length(t) > 0), 1, 60), " ").as("text"))
    val a = docs.select(col("doc_id"), nullableCand.as("cand"))
    val b = docs.select((col("doc_id") - 1).as("doc_id"),
      col("text").as("r1"))
    val c = docs.select((col("doc_id") - 2).as("doc_id"),
      col("text").as("r3"))
    a.join(b, "doc_id").join(c, "doc_id")
      .select(col("doc_id"), col("cand"),
        array(col("r1"),
          array_join(slice(split(col("r1"), " "), lit(1),
            (lit(5) + col("doc_id") % 9).cast("int")), " "),
          col("r3")).as("refs"))
  }

  /** Duel log synthesized from adjacent different-source docs: the
    * longer text's source wins (length ties to the lexicographically
    * smaller source) — replayed verbatim in the oracle SQL. */
  private def duelFixture(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val a = docs.select(col("doc_id"), length(col("text")).as("la"),
      col("source").as("sa"))
    val b = docs.select((col("doc_id") - 1).as("doc_id"),
      length(col("text")).as("lb"), col("source").as("sb"))
    a.join(b, "doc_id").where(col("sa") =!= col("sb"))
      .select(
        when(col("la") > col("lb"), col("sa"))
          .when(col("la") < col("lb"), col("sb"))
          .otherwise(least(col("sa"), col("sb"))).as("w"),
        when(col("la") > col("lb"), col("sb"))
          .when(col("la") < col("lb"), col("sa"))
          .otherwise(greatest(col("sa"), col("sb"))).as("l"))
  }

  /** Each adjacent cross-source doc pair as a duel: the longer text's
    * source wins `w`, ties to the smaller source name; loser `l`. */
  private val duelCols =
    """CASE WHEN length(a.text) > length(b.text) THEN a.source
              WHEN length(a.text) < length(b.text) THEN b.source
              ELSE least(a.source, b.source) END AS w,
         CASE WHEN length(a.text) > length(b.text) THEN b.source
              WHEN length(a.text) < length(b.text) THEN a.source
              ELSE greatest(a.source, b.source) END AS l
       FROM documents a JOIN documents b
         ON b.doc_id = a.doc_id + 1 AND a.source <> b.source"""

  private val duelsSql = s"SELECT $duelCols"

  private val chatJsonSql =
    """CASE WHEN doc_id % 11 = 0 THEN 'oops not json'
    ELSE '[{"role":"system","content":"be helpful"},{"role":"user","content":"'
      || regexp_replace(substr(text, 1, 40), '[^a-zA-Z0-9 ]', '', 'g') || '"},'
      || CASE WHEN doc_id % 5 = 0 THEN '{"role":"user","content":"more"},' ELSE '' END
      || '{"role":"assistant","content":"'
      || CASE WHEN doc_id % 7 = 0 THEN '' ELSE 'about ' || source END
      || '"}]'
    END"""

  /** The chrF-family β=2 per-order F as oracle SQL — single-sourced
    * with the Spark-side form (EvalOps.chrfFMicro) across the segment
    * and corpus oracles. */
  private def chrfFMicroSql(pfx: String, n: Int): String =
    s"CASE WHEN 4 * $pfx${n}_r + $pfx${n}_c > 0 " +
      s"THEN (5000000 * $pfx${n}_o) // (4 * $pfx${n}_r + $pfx${n}_c) " +
      s"ELSE 0 END AS $pfx${n}_f_micro"

  /** DuckDB n-gram builder over a 1-based token list column (q240's
    * bigram form generalized): grams of order n, [] when too short. */
  private def gramSql(c: String, n: Int): String =
    s"CASE WHEN len($c) >= $n THEN list_transform(range(1, len($c) - ${n - 2}), " +
      s"i -> array_to_string($c[i:i+${n - 1}], ' ')) ELSE []::VARCHAR[] END"

  /** The multi-reference fixture (q263/q269/q271): candidate `cand` (the
    * 60-token doc with the %13 null/empty/blank injection) against three
    * references — the next doc, a doc-dependent prefix of it, the doc
    * after — as token lists `ctk.ct` and `rtk(doc_id, ridx, rt)`. */
  private lazy val multiRefStageCtes =
    s"""d2 AS (
          SELECT doc_id, array_to_string(
            (list_filter($toks,
               x -> len(x) > 0))[1:60], ' ') AS text
          FROM documents),
        p AS (
          SELECT a.doc_id,
            ${nullInjected("a.")} AS cand,
            b.text AS r1,
            array_to_string((str_split(b.text, ' '))[1:(5 + a.doc_id % 9)], ' ') AS r2,
            c.text AS r3
          FROM d2 a JOIN d2 b ON b.doc_id = a.doc_id + 1
                    JOIN d2 c ON c.doc_id = a.doc_id + 2),
        ctk AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(trim(coalesce(cand, '')), '\\s+'), x -> len(x) > 0) AS ct
          FROM p),
        rl AS (
          SELECT doc_id, 1 AS ridx, r1 AS ref FROM p
          UNION ALL SELECT doc_id, 2, r2 FROM p
          UNION ALL SELECT doc_id, 3, r3 FROM p),
        rtk AS (
          SELECT doc_id, ridx,
            list_filter(regexp_split_to_array(trim(coalesce(ref, '')), '\\s+'), x -> len(x) > 0) AS rt
          FROM rl)"""

  /** The chrF fixture (q262/q266): candidate (%13-injected) and next-doc
    * reference as alphanumeric 120-char strings `p(cand, ref)`. */
  private lazy val charPairCtes =
    s"""d2 AS (
          SELECT doc_id, substr(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'), 1, 120) AS text
          FROM documents),
        p AS (
          SELECT a.doc_id,
            ${nullInjected("a.")} AS cand,
            b.text AS ref
          FROM d2 a JOIN d2 b ON b.doc_id = a.doc_id + 1)"""

  /** q261 oracle, generated per order: the q240 unnest+GROUP BY+least
    * overlap mechanism (deliberately different from the Spark fold). */
  private lazy val bleuComponentsSql: String = {
    val orders = 1 to 4
    val gramCols = orders.flatMap(n =>
      Seq(s"${gramSql("ct", n)} AS cg$n", s"${gramSql("rt", n)} AS rg$n"))
      .mkString(",\n              ")
    val overlapCtes = orders.map(n =>
      s"""o$n AS (
            SELECT ca.doc_id, CAST(sum(least(ca.c, cb.c)) AS BIGINT) AS o
            FROM (SELECT doc_id, g2, CAST(count(*) AS BIGINT) AS c
                  FROM (SELECT doc_id, unnest(cg$n) AS g2 FROM g) GROUP BY doc_id, g2) ca
            JOIN (SELECT doc_id, g2, CAST(count(*) AS BIGINT) AS c
                  FROM (SELECT doc_id, unnest(rg$n) AS g2 FROM g) GROUP BY doc_id, g2) cb
            USING (doc_id, g2) GROUP BY ca.doc_id)""").mkString(",\n          ")
    val outCols = orders.flatMap(n => Seq(
      s"coalesce(o$n.o, 0) AS p${n}_num",
      s"CAST(len(cg$n) AS BIGINT) AS p${n}_den")).mkString(",\n            ")
    val joins = orders.map(n => s"LEFT JOIN o$n ON g.doc_id = o$n.doc_id")
      .mkString(" ")
    s"""WITH d2 AS (
            SELECT doc_id, array_to_string(
              (list_filter($toks,
                 x -> len(x) > 0))[1:60], ' ') AS text
            FROM documents),
          p AS (
            SELECT a.doc_id,
              ${nullInjected("a.")} AS cand,
              b.text AS ref
            FROM d2 a JOIN d2 b ON b.doc_id = a.doc_id + 1),
          tk AS (
            SELECT doc_id,
              list_filter(regexp_split_to_array(trim(coalesce(cand, '')), '\\s+'), x -> len(x) > 0) AS ct,
              list_filter(regexp_split_to_array(trim(coalesce(ref,  '')), '\\s+'), x -> len(x) > 0) AS rt
            FROM p),
          g AS (
            SELECT doc_id, CAST(len(ct) AS BIGINT) AS cand_len,
              CAST(len(rt) AS BIGINT) AS ref_len,
              $gramCols
            FROM tk),
          $overlapCtes
          SELECT g.doc_id, cand_len, ref_len,
            $outCols
          FROM g $joins ORDER BY g.doc_id"""
  }

  /** DuckDB char n-gram builder via STRING slicing (1-based inclusive)
    * over a whitespace-free string column — mirrors [[graft.functions
    * .CharNgrams]]'s substring grams (ASCII by fixture construction, so
    * engine char notions agree). */
  private def charGramSql(c: String, n: Int): String =
    s"CASE WHEN length($c) >= $n THEN list_transform(range(1, length($c) - ${n - 2}), " +
      s"i -> $c[i:i+${n - 1}]) ELSE []::VARCHAR[] END"

  /** q262 oracle, generated per order over character substrings. */
  private lazy val chrfSql: String = {
    val orders = 1 to 6
    val gramCols = orders.flatMap(n =>
      Seq(s"${charGramSql("cc", n)} AS cg$n", s"${charGramSql("rc", n)} AS rg$n"))
      .mkString(",\n              ")
    val overlapCtes = orders.map(n =>
      s"""o$n AS (
            SELECT ca.doc_id, CAST(sum(least(ca.c, cb.c)) AS BIGINT) AS o
            FROM (SELECT doc_id, g2, CAST(count(*) AS BIGINT) AS c
                  FROM (SELECT doc_id, unnest(cg$n) AS g2 FROM g) GROUP BY doc_id, g2) ca
            JOIN (SELECT doc_id, g2, CAST(count(*) AS BIGINT) AS c
                  FROM (SELECT doc_id, unnest(rg$n) AS g2 FROM g) GROUP BY doc_id, g2) cb
            USING (doc_id, g2) GROUP BY ca.doc_id)""").mkString(",\n          ")
    val compCols = orders.flatMap(n => Seq(
      s"coalesce(o$n.o, 0) AS chrf${n}_o",
      s"CAST(len(cg$n) AS BIGINT) AS chrf${n}_c",
      s"CAST(len(rg$n) AS BIGINT) AS chrf${n}_r")).mkString(",\n            ")
    val fCols = orders.map(n => chrfFMicroSql("chrf", n))
      .mkString(",\n            ")
    val joins = orders.map(n => s"LEFT JOIN o$n ON g.doc_id = o$n.doc_id")
      .mkString(" ")
    val passComp = orders.flatMap(n =>
      Seq(s"chrf${n}_o", s"chrf${n}_c", s"chrf${n}_r")).mkString(", ")
    val passF = orders.map(n => s"chrf${n}_f_micro").mkString(", ")
    val fSum = orders.map(n => s"chrf${n}_f_micro").mkString(" + ")
    s"""WITH $charPairCtes,
          ch AS (
            SELECT doc_id,
              regexp_replace(coalesce(cand, ''), '\\s+', '', 'g') AS cc,
              regexp_replace(coalesce(ref, ''), '\\s+', '', 'g') AS rc
            FROM p),
          g AS (
            SELECT doc_id,
              $gramCols
            FROM ch),
          $overlapCtes,
          comp AS (
            SELECT g.doc_id,
              $compCols
            FROM g $joins),
          withf AS (
            SELECT doc_id, $passComp,
              $fCols
            FROM comp)
          SELECT doc_id, $passComp, $passF,
            ($fSum) // 6 AS chrf_micro
          FROM withf ORDER BY doc_id"""
  }

  /** q263 oracle, generated per order: the q261 mechanism with a LONG
    * reference table and a per-gram MAX over references before the
    * clip (deliberately different plumbing from the Spark kernel), and
    * the closest-length brevity pick via a per-doc ordered window. */
  private lazy val bleuMultiSql: String = {
    val orders = 1 to 4
    val gramCols = orders.map(n => s"${gramSql("ct", n)} AS cg$n")
      .mkString(",\n              ")
    val rgramCols = orders.map(n => s"${gramSql("rt", n)} AS rg$n")
      .mkString(",\n              ")
    val overlapCtes = orders.map(n =>
      s"""o$n AS (
            SELECT ca.doc_id, CAST(sum(least(ca.c, cb.mx)) AS BIGINT) AS o
            FROM (SELECT doc_id, g2, CAST(count(*) AS BIGINT) AS c
                  FROM (SELECT doc_id, unnest(cg$n) AS g2 FROM cg) GROUP BY doc_id, g2) ca
            JOIN (SELECT doc_id, g2, CAST(max(c) AS BIGINT) AS mx
                  FROM (SELECT doc_id, ridx, g2, CAST(count(*) AS BIGINT) AS c
                        FROM (SELECT doc_id, ridx, unnest(rg$n) AS g2 FROM rg)
                        GROUP BY doc_id, ridx, g2)
                  GROUP BY doc_id, g2) cb
            USING (doc_id, g2) GROUP BY ca.doc_id)""").mkString(",\n          ")
    val outCols = orders.flatMap(n => Seq(
      s"coalesce(o$n.o, 0) AS p${n}_num",
      s"CAST(len(cg$n) AS BIGINT) AS p${n}_den")).mkString(",\n            ")
    val joins = orders.map(n => s"LEFT JOIN o$n ON cg.doc_id = o$n.doc_id")
      .mkString(" ")
    s"""WITH $multiRefStageCtes,
          closest AS (
            SELECT doc_id, rlen AS ref_len FROM (
              SELECT r.doc_id, CAST(len(r.rt) AS BIGINT) AS rlen,
                row_number() OVER (PARTITION BY r.doc_id
                  ORDER BY abs(CAST(len(r.rt) AS BIGINT) - CAST(len(c.ct) AS BIGINT)), len(r.rt)) AS rn
              FROM rtk r JOIN ctk c USING (doc_id))
            WHERE rn = 1),
          cg AS (SELECT doc_id, CAST(len(ct) AS BIGINT) AS cand_len,
              $gramCols
            FROM ctk),
          rg AS (SELECT doc_id, ridx,
              $rgramCols
            FROM rtk),
          $overlapCtes
          SELECT cg.doc_id, cand_len, closest.ref_len,
            $outCols
          FROM cg JOIN closest ON cg.doc_id = closest.doc_id $joins
          ORDER BY cg.doc_id"""
  }

  /** q266 oracle: the q262 chrF mechanism extended with word orders
    * 1–2 over the whitespace token lists, mean over all 8 orders. */
  private lazy val chrfppSql: String = {
    val korders = (1 to 6).map(n => ("chrf", n)) ++ (1 to 2).map(n => ("chrfw", n))
    def gramsOf(pfx: String, n: Int): (String, String) =
      if (pfx == "chrf") (s"ccg$n", s"rcg$n") else (s"cwg$n", s"rwg$n")
    val gramCols = (
      (1 to 6).map(n => s"${charGramSql("cc", n)} AS ccg$n, ${charGramSql("rc", n)} AS rcg$n") ++
      (1 to 2).map(n => s"${gramSql("cwt", n)} AS cwg$n, ${gramSql("rwt", n)} AS rwg$n"))
      .mkString(",\n              ")
    val overlapCtes = korders.map { case (p, n) =>
      val (cg, rg) = gramsOf(p, n)
      s"""o_$p$n AS (
            SELECT ca.doc_id, CAST(sum(least(ca.c, cb.c)) AS BIGINT) AS o
            FROM (SELECT doc_id, g2, CAST(count(*) AS BIGINT) AS c
                  FROM (SELECT doc_id, unnest($cg) AS g2 FROM g) GROUP BY doc_id, g2) ca
            JOIN (SELECT doc_id, g2, CAST(count(*) AS BIGINT) AS c
                  FROM (SELECT doc_id, unnest($rg) AS g2 FROM g) GROUP BY doc_id, g2) cb
            USING (doc_id, g2) GROUP BY ca.doc_id)""" }.mkString(",\n          ")
    val compCols = korders.map { case (p, n) =>
      val (cg, rg) = gramsOf(p, n)
      s"coalesce(o_$p$n.o, 0) AS ${p}${n}_o, CAST(len($cg) AS BIGINT) AS ${p}${n}_c, " +
        s"CAST(len($rg) AS BIGINT) AS ${p}${n}_r" }.mkString(",\n            ")
    val fCols = korders.map { case (p, n) => chrfFMicroSql(p, n) }
      .mkString(",\n            ")
    val joins = korders.map { case (p, n) =>
      s"LEFT JOIN o_$p$n ON g.doc_id = o_$p$n.doc_id" }.mkString(" ")
    val passComp = korders.map { case (p, n) =>
      s"${p}${n}_o, ${p}${n}_c, ${p}${n}_r" }.mkString(", ")
    val passF = korders.map { case (p, n) => s"${p}${n}_f_micro" }.mkString(", ")
    val fSum = korders.map { case (p, n) => s"${p}${n}_f_micro" }.mkString(" + ")
    s"""WITH $charPairCtes,
          ch AS (
            SELECT doc_id,
              regexp_replace(coalesce(cand, ''), '\\s+', '', 'g') AS cc,
              regexp_replace(coalesce(ref, ''), '\\s+', '', 'g') AS rc,
              list_filter(regexp_split_to_array(trim(coalesce(cand, '')), '\\s+'), x -> len(x) > 0) AS cwt,
              list_filter(regexp_split_to_array(trim(coalesce(ref, '')), '\\s+'), x -> len(x) > 0) AS rwt
            FROM p),
          g AS (
            SELECT doc_id,
              $gramCols
            FROM ch),
          $overlapCtes,
          comp AS (
            SELECT g.doc_id,
              $compCols
            FROM g $joins),
          withf AS (
            SELECT doc_id, $passComp,
              $fCols
            FROM comp)
          SELECT doc_id, $passComp, $passF,
            ($fSum) // 8 AS chrfpp_micro
          FROM withf ORDER BY doc_id"""
  }

  /** Shared CTE prefix (through the per-(doc, ref) F table `f`) for
    * the multi-reference ROUGE oracles — q269 and q271 compose their
    * final SELECTs from ONE definition instead of splicing text. */
  private lazy val rougeNMultiCtes: String =
    s"""WITH $multiRefStageCtes,
          cg AS (SELECT doc_id, ${gramSql("ct", 2)} AS g FROM ctk),
          rg AS (SELECT doc_id, ridx, ${gramSql("rt", 2)} AS g FROM rtk),
          rcnt AS (SELECT doc_id, ridx, g2, CAST(count(*) AS BIGINT) AS c
                   FROM (SELECT doc_id, ridx, unnest(g) AS g2 FROM rg)
                   GROUP BY doc_id, ridx, g2),
          ccnt AS (SELECT doc_id, g2, CAST(count(*) AS BIGINT) AS c
                   FROM (SELECT doc_id, unnest(g) AS g2 FROM cg)
                   GROUP BY doc_id, g2),
          o AS (SELECT rcnt.doc_id, rcnt.ridx, CAST(sum(least(rcnt.c, ccnt.c)) AS BIGINT) AS o
                FROM rcnt JOIN ccnt USING (doc_id, g2)
                GROUP BY rcnt.doc_id, rcnt.ridx),
          f AS (
            SELECT rg.doc_id, rg.ridx,
              CASE WHEN len(cg.g) + len(rg.g) > 0
                THEN (2000000 * coalesce(o.o, 0)) // CAST(len(cg.g) + len(rg.g) AS BIGINT) END AS f
            FROM rg JOIN cg USING (doc_id)
            LEFT JOIN o ON rg.doc_id = o.doc_id AND rg.ridx = o.ridx)"""

  /** q269 oracle: per-reference bigram F, best via max() (NULL-ignoring
    * on both engines). */
  private lazy val rougeNMultiSql: String =
    s"""$rougeNMultiCtes
          SELECT cg.doc_id, CAST(len(cg.g) AS BIGINT) AS n_cand_grams,
            CAST(3 AS BIGINT) AS n_refs,
            max(f.f) AS rougen_best_micro
          FROM cg JOIN f ON cg.doc_id = f.doc_id
          GROUP BY cg.doc_id, cg.g ORDER BY cg.doc_id"""

  /** q271 oracle: the q269 CTE prefix + the leave-one-out max CTE,
    * mean over the 3 exclusions (NULL-guarded: all three leave-one-out
    * maxima must be measurable). */
  private lazy val rougeJackknifeSql: String =
    s"""$rougeNMultiCtes,
          jk AS (
            SELECT a.doc_id, a.ridx, max(b.f) AS m
            FROM f a JOIN f b ON a.doc_id = b.doc_id AND a.ridx <> b.ridx
            GROUP BY a.doc_id, a.ridx),
          jkagg AS (
            SELECT doc_id,
              CASE WHEN count(m) = 3 THEN CAST(sum(m) // 3 AS BIGINT) END AS jk
            FROM jk GROUP BY doc_id)
          SELECT cg.doc_id, CAST(len(cg.g) AS BIGINT) AS n_cand_grams,
            CAST(3 AS BIGINT) AS n_refs,
            max(f.f) AS rougen_best_micro,
            max(jkagg.jk) AS rougen_jk_micro
          FROM cg JOIN f ON cg.doc_id = f.doc_id
          JOIN jkagg ON cg.doc_id = jkagg.doc_id
          GROUP BY cg.doc_id, cg.g ORDER BY cg.doc_id"""

  /** q273 oracle: the q261 segment oracle wrapped in the corpus sums. */
  private lazy val corpusBleuSql: String = {
    val cols = Seq("cand_len", "ref_len") ++
      (1 to 4).flatMap(n => Seq(s"p${n}_num", s"p${n}_den"))
    val sums = cols.map(c => s"CAST(sum($c) AS BIGINT) AS $c")
      .mkString(",\n            ")
    s"""SELECT CAST(count(*) AS BIGINT) AS n_segments,
            $sums
          FROM ($bleuComponentsSql)"""
  }

  /** q274 oracle: the q262 segment oracle wrapped in per-order sums +
    * the β=2 F on the totals + the corpus mean. */
  private lazy val corpusChrfSql: String = {
    val orders = 1 to 6
    val sums = orders.flatMap(n => Seq(s"chrf${n}_o", s"chrf${n}_c",
        s"chrf${n}_r"))
      .map(c => s"CAST(sum($c) AS BIGINT) AS $c").mkString(",\n              ")
    val fCols = orders.map(n => chrfFMicroSql("chrf", n))
      .mkString(",\n            ")
    val passComp = orders.flatMap(n => Seq(s"chrf${n}_o", s"chrf${n}_c",
      s"chrf${n}_r")).mkString(", ")
    val passF = orders.map(n => s"chrf${n}_f_micro").mkString(", ")
    val fSum = orders.map(n => s"chrf${n}_f_micro").mkString(" + ")
    s"""WITH tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n_segments,
              $sums
            FROM ($chrfSql)),
          withf AS (
            SELECT n_segments, $passComp,
              $fCols
            FROM tot)
          SELECT n_segments, $passComp, $passF,
            ($fSum) // 6 AS chrf_micro
          FROM withf"""
  }

  /** The synthetic calibration fixture (q251/q265): per doc a confidence
    * `conf` in micro-units and correctness `ok`, bucketed by tenths
    * (`b.conf_bucket`). */
  private val confBucketCtes =
    """r AS (
          SELECT (length(text) * 7919 + doc_id * 131) % 1000001 AS conf,
            ((doc_id * 37 + length(text) * 13) % 1000000)
              < ((length(text) * 7919 + doc_id * 131) % 1000001) AS ok
          FROM documents),
        b AS (SELECT least(conf, 999999) // 100000 AS conf_bucket, ok, conf FROM r)"""

  /** The WER/ROUGE-L synthetic edit classes (q256/q267/q275): each doc's
    * first 120 tokens as the reference `rt`, length `r`, edit class `cl`
    * (-1 for the %13 null/empty/blank rows, else doc_id % 4) and edit
    * size `k`. */
  private val editClassCtes =
    s"""tk AS (
          SELECT doc_id,
            (list_filter($toks, x -> len(x) > 0))[1:120] AS rt
          FROM documents),
        cls AS (
          SELECT doc_id, CAST(len(rt) AS BIGINT) AS r,
            CASE WHEN doc_id % 13 IN (0, 1, 2) THEN -1 ELSE doc_id % 4 END AS cl,
            CAST(least(3 + doc_id % 7, len(rt)) AS BIGINT) AS k
          FROM tk)"""

  /** The multi-reference length table (q270/q272): candidate length `kc`
    * (0 for the %13 rows) against the three reference lengths `kj`, one
    * row per (doc, reference) in CTE `refs`. */
  private val multiRefCtes =
    s"""tk AS (
          SELECT doc_id,
            CAST(len((list_filter($toks, x -> len(x) > 0))[1:120]) AS BIGINT) AS r
          FROM documents),
        cls AS (
          SELECT doc_id, r,
            CASE WHEN doc_id % 13 IN (0, 1, 2) THEN 0
                 ELSE least(5 + doc_id % 11, r) END AS kc,
            least(3 + doc_id % 7, r) AS k2,
            least(9 + doc_id % 5, r) AS k3
          FROM tk),
        refs AS (
          SELECT doc_id, kc, r AS kj FROM cls
          UNION ALL SELECT doc_id, kc, k2 FROM cls
          UNION ALL SELECT doc_id, kc, k3 FROM cls)"""

  /** One row per (doc, rater r) with 1 + doc_id % 4 raters per doc — the
    * Krippendorff oracles' annotation fan-out. */
  private val raterFanout =
    """(SELECT doc_id, text, unnest(range(0, 1 + doc_id % 4)) AS r
        FROM documents)"""

  /** Krippendorff's α over the integer ratings v = (len + r·(id % 5)) % 7
    * (q264/q268): coincidence cells, pairable items, then `weights` — CTE
    * `w(vc, vk, na, nb, e)` with the metric distance e per value pair —
    * and the integer-scaled observed/expected disagreement. */
  private def krippendorffSql(weights: String): String =
    s"""WITH ann AS (
          SELECT doc_id AS i, r,
            CAST((length(text) + r * (doc_id % 5)) % 7 AS BIGINT) AS v
          FROM $raterFanout),
        cells AS (SELECT i, v, CAST(count(*) AS BIGINT) AS c FROM ann GROUP BY i, v),
        items AS (SELECT i, CAST(sum(c) AS BIGINT) AS n_i FROM cells GROUP BY i),
        kept AS (SELECT * FROM items WHERE n_i >= 2),
        cellsk AS (SELECT cells.i, cells.v, cells.c, kept.n_i
                   FROM cells JOIN kept USING (i)),
        mg AS (SELECT v, CAST(sum(c) AS BIGINT) AS n_g FROM cellsk GROUP BY v),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
                  CAST(sum(n_i) AS BIGINT) AS n
                FROM kept),
        $weights,
        w2 AS (SELECT vc, vk, na, nb, e * e AS w FROM w),
        ip AS (SELECT a.i, a.n_i, a.v AS va, b.v AS vb, a.c AS ca, b.c AS cb
               FROM cellsk a JOIN cellsk b ON a.i = b.i AND a.v < b.v),
        ai AS (SELECT ip.i, max(ip.n_i) AS n_i,
                 sum(2 * CAST(ip.ca AS HUGEINT) * ip.cb * w2.w) AS a2
               FROM ip JOIN w2 ON ip.va = w2.vc AND ip.vb = w2.vk
               GROUP BY ip.i),
        dorow AS (SELECT CAST(coalesce(sum(a2 // (n_i - 1)), 0) AS BIGINT) AS do_scaled FROM ai),
        derow AS (SELECT coalesce(sum(2 * CAST(na AS HUGEINT) * nb * w), 0) AS de_num FROM w2),
        vt AS (SELECT CAST(count(DISTINCT v) AS BIGINT) AS n_values FROM ann JOIN kept USING (i))
        SELECT n_items, n AS n_ratings, n_values, do_scaled,
          CAST(de_num // 1000000 AS BIGINT) AS de_scaled,
          CASE WHEN de_num > 0
            THEN CAST(1000000 - (CAST(1000000 AS HUGEINT) * (n - 1) * do_scaled) // de_num AS BIGINT)
            END AS alpha_micro
        FROM tot, dorow, derow, vt"""

  val oracles: Map[String, String] = Map(
    "q273_corpus_bleu" -> corpusBleuSql,
    "q274_corpus_chrf" -> corpusChrfSql,
    "q263_bleu_multi" -> bleuMultiSql,
    "q269_rouge_n_multi" -> rougeNMultiSql,
    "q271_rouge_jackknife" -> rougeJackknifeSql,

    "q270_rouge_l_multi" ->
      s"""WITH $multiRefCtes,
          f AS (
            SELECT doc_id, kc,
              CASE WHEN kc + kj > 0
                THEN (2000000 * least(kc, kj)) // (kc + kj) END AS f
            FROM refs)
          SELECT doc_id, CAST(max(kc) AS BIGINT) AS n_cand_tokens,
            CAST(3 AS BIGINT) AS n_refs,
            CAST(max(f) AS BIGINT) AS rougel_best_micro
          FROM f GROUP BY doc_id ORDER BY doc_id""",
    "q266_chrfpp" -> chrfppSql,

    "q276_tokenize_13a" ->
      """WITH n1 AS (
            SELECT doc_id,
              replace(replace(replace(replace(replace(replace(replace(
                coalesce(text, ''),
                '<skipped>', ''), chr(45) || chr(10), ''), chr(10), ' '),
                '&quot;', '"'), '&amp;', '&'), '&lt;', '<'), '&gt;', '>') AS s
            FROM documents),
          p0 AS (SELECT doc_id, ' ' || s || ' ' AS s FROM n1),
          k1 AS (SELECT doc_id, regexp_replace(s, '([\{-\~\[-\` -\&\(-\+\:-\@\/])', ' \1 ', 'g') AS s FROM p0),
          k2 AS (SELECT doc_id, regexp_replace(s, '([^0-9])([\.,])', '\1 \2 ', 'g') AS s FROM k1),
          k3 AS (SELECT doc_id, regexp_replace(s, '([\.,])([^0-9])', ' \1 \2', 'g') AS s FROM k2),
          k4 AS (SELECT doc_id, regexp_replace(s, '([0-9])(-)', '\1 - ', 'g') AS s FROM k3),
          tk AS (SELECT doc_id,
                   list_filter(regexp_split_to_array(trim(s), '\s+'), x -> len(x) > 0) AS toks
                 FROM k4)
          SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
            md5(array_to_string(toks, chr(31))) AS toks_md5
          FROM tk ORDER BY doc_id""",

    "q275_corpus_wer" ->
      s"""WITH $editClassCtes,
          ct AS (
            SELECT doc_id, r,
              CASE cl WHEN -1 THEN r WHEN 0 THEN 0 WHEN 1 THEN r - k WHEN 2 THEN r // 3 ELSE greatest(r, 3) END AS d
            FROM cls)
          SELECT CAST(count(*) AS BIGINT) AS n_segments,
            CAST(sum(d) AS BIGINT) AS edit_dist,
            CAST(sum(r) AS BIGINT) AS ref_len,
            CASE WHEN sum(r) > 0
              THEN CAST((1000000 * sum(d)) // sum(r) AS BIGINT) END AS wer_micro
          FROM ct""",

    "q272_wer_multi" ->
      s"""WITH $multiRefCtes,
          ranked AS (
            SELECT doc_id, kc, abs(kc - kj) AS d, kj,
              row_number() OVER (PARTITION BY doc_id ORDER BY abs(kc - kj), kj) AS rn
            FROM refs)
          SELECT doc_id, CAST(kc AS BIGINT) AS n_cand_tokens,
            CAST(3 AS BIGINT) AS n_refs,
            CAST(d AS BIGINT) AS edit_dist_best,
            CAST(kj AS BIGINT) AS ref_len_best,
            CASE WHEN kj > 0 THEN (1000000 * d) // kj END AS wer_best_micro
          FROM ranked WHERE rn = 1 ORDER BY doc_id""",

    "q267_wer" ->
      s"""WITH $editClassCtes,
          ct AS (
            SELECT doc_id, r,
              CASE cl WHEN -1 THEN 0 WHEN 0 THEN r WHEN 1 THEN k WHEN 2 THEN r ELSE 3 END AS c,
              CASE cl WHEN -1 THEN r WHEN 0 THEN 0 WHEN 1 THEN r - k WHEN 2 THEN r // 3 ELSE greatest(r, 3) END AS d
            FROM cls)
          SELECT doc_id, c AS n_cand_tokens, r AS n_ref_tokens, d AS edit_dist,
            CASE WHEN r > 0 THEN (1000000 * d) // r END AS wer_micro
          FROM ct ORDER BY doc_id""",

    // ordinal metric: squared cumulative-marginal distance
    "q264_krippendorff_ordinal" -> krippendorffSql(
      """cum AS (SELECT v, n_g, CAST(sum(n_g) OVER (ORDER BY v) AS BIGINT) AS cs FROM mg),
          w AS (SELECT a.v AS vc, b.v AS vk, a.n_g AS na, b.n_g AS nb,
                  ((1000000 * (2 * (b.cs - a.cs + a.n_g) - a.n_g - b.n_g)) // (2 * tot.n)) AS e
                FROM cum a JOIN cum b ON a.v < b.v, tot)"""),

    // ratio metric: squared (b − a)/(a + b)
    "q268_krippendorff_ratio" -> krippendorffSql(
      """w AS (SELECT a.v AS vc, b.v AS vk, a.n_g AS na, b.n_g AS nb,
                  ((1000000 * (b.v - a.v)) // (a.v + b.v)) AS e
                FROM mg a JOIN mg b ON a.v < b.v)"""),

    "q265_ece" ->
      s"""WITH $confBucketCtes,
          agg AS (
            SELECT conf_bucket,
              CAST(count(*) AS BIGINT) AS n_items,
              (1000000 * CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT))
                // CAST(count(*) AS BIGINT) AS acc_micro,
              CAST(sum(conf) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_conf_micro
            FROM b GROUP BY conf_bucket),
          g AS (SELECT conf_bucket, n_items,
                  abs(acc_micro - mean_conf_micro) AS gap_micro FROM agg)
          SELECT CAST(sum(n_items) AS BIGINT) AS n_items,
            CAST(sum(gap_micro * n_items) AS BIGINT) // CAST(sum(n_items) AS BIGINT) AS ece_micro,
            CAST(max(gap_micro) AS BIGINT) AS mce_micro
          FROM g""",

    "q262_chrf" -> chrfSql,
    "q261_bleu_components" -> bleuComponentsSql,
    "q256_rouge_l" ->
      s"""WITH $editClassCtes,
          ct AS (
            SELECT doc_id, r,
              CASE cl WHEN -1 THEN 0 WHEN 0 THEN r WHEN 1 THEN k WHEN 2 THEN r ELSE 3 END AS c,
              CASE cl WHEN -1 THEN 0 WHEN 0 THEN r WHEN 1 THEN k WHEN 2 THEN r - r // 3 ELSE 0 END AS lcs
            FROM cls)
          SELECT doc_id, c AS n_cand_tokens, r AS n_ref_tokens, lcs AS lcs_len,
            CASE WHEN c > 0 THEN (1000000 * lcs) // c END AS rougel_p_micro,
            CASE WHEN r > 0 THEN (1000000 * lcs) // r END AS rougel_r_micro,
            CASE WHEN c + r > 0 THEN (2000000 * lcs) // (c + r) END AS rougel_f_micro
          FROM ct ORDER BY doc_id""",

    "q257_krippendorff_alpha" ->
      s"""WITH ann AS (
            SELECT doc_id AS i, r,
              CAST((length(text) + r * (doc_id % 5)) % 4 AS VARCHAR) AS l
            FROM $raterFanout),
          cells AS (SELECT i, l, CAST(count(*) AS BIGINT) AS c FROM ann GROUP BY i, l),
          items AS (SELECT i, CAST(sum(c) AS BIGINT) AS n_i,
                      CAST(sum(c * c) AS BIGINT) AS sq
                    FROM cells GROUP BY i),
          kept AS (SELECT * FROM items WHERE n_i >= 2),
          lab AS (SELECT l, CAST(sum(c) AS BIGINT) AS n_c
                  FROM cells JOIN kept USING (i) GROUP BY l),
          tot AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
                    CAST(sum(n_i) AS BIGINT) AS n_ratings,
                    CAST(sum((1000000 * (n_i * n_i - sq)) // (n_i - 1)) AS BIGINT) AS do_scaled
                  FROM kept),
          de AS (SELECT CAST(sum(n_c * n_c) AS BIGINT) AS sumc2,
                   CAST(count(*) AS BIGINT) AS n_categories
                 FROM lab)
          SELECT n_items, n_ratings, n_categories, do_scaled,
            n_ratings * n_ratings - sumc2 AS de_num,
            CASE WHEN n_ratings * n_ratings - sumc2 > 0
              THEN 1000000 - ((n_ratings - 1) * do_scaled)
                // (n_ratings * n_ratings - sumc2) END AS alpha_micro
          FROM tot, de""",

    "q258_position_bias" ->
      s"""WITH duels AS (
            SELECT a.doc_id,
              $duelCols),
          pd AS (SELECT w, l, CASE WHEN doc_id % 7 < 4 THEN w ELSE l END AS f
                 FROM duels),
          c AS (SELECT least(w, l) AS player_a, greatest(w, l) AS player_b,
                  CASE WHEN f = least(w, l) THEN 1 ELSE 0 END AS a_first,
                  CASE WHEN w = f THEN 1 ELSE 0 END AS first_won
                FROM pd)
          SELECT player_a, player_b,
            CAST(count(*) AS BIGINT) AS n_duels,
            CAST(sum(a_first) AS BIGINT) AS n_a_first,
            CAST(sum(first_won) AS BIGINT) AS n_first_won,
            (1000000 * CAST(sum(first_won) AS BIGINT)) // CAST(count(*) AS BIGINT)
              AS first_win_micro
          FROM c GROUP BY 1, 2 ORDER BY 1, 2""",

    "q259_order_consistency" ->
      s"""WITH base AS (
            SELECT a.doc_id,
              $duelCols),
          duels AS (
            SELECT doc_id AS m, w, l,
              CASE WHEN doc_id % 7 < 4 THEN w ELSE l END AS f FROM base
            UNION ALL
            SELECT doc_id AS m,
              CASE WHEN doc_id % 11 = 0 THEN l ELSE w END AS w,
              CASE WHEN doc_id % 11 = 0 THEN w ELSE l END AS l,
              CASE WHEN doc_id % 7 < 4 THEN l ELSE w END AS f
            FROM base),
          c AS (SELECT m, least(w, l) AS lo, greatest(w, l) AS hi,
                  CASE WHEN w = least(w, l) THEN 1 ELSE 0 END AS win_lo,
                  CASE WHEN w = f THEN 1 ELSE 0 END AS fol
                FROM duels),
          per_match AS (
            SELECT m, lo, hi, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(win_lo) AS BIGINT) AS wins, CAST(sum(fol) AS BIGINT) AS fol
            FROM c GROUP BY m, lo, hi)
          SELECT lo AS player_a, hi AS player_b,
            CAST(count(*) AS BIGINT) AS n_matches,
            CAST(sum(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_paired,
            CAST(sum(CASE WHEN n = 2 AND wins IN (0, 2) THEN 1 ELSE 0 END) AS BIGINT) AS n_consistent,
            CAST(sum(CASE WHEN n = 2 AND fol = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_both_followed,
            CASE WHEN sum(CASE WHEN n = 2 THEN 1 ELSE 0 END) > 0
              THEN (1000000 * CAST(sum(CASE WHEN n = 2 AND wins IN (0, 2) THEN 1 ELSE 0 END) AS BIGINT))
                // CAST(sum(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) END AS consistency_micro
          FROM per_match GROUP BY lo, hi ORDER BY lo, hi""",

    "q260_krippendorff_interval" ->
      s"""WITH ann AS (
            SELECT doc_id AS i,
              CAST((length(text) + r * (doc_id % 5)) % 7 AS BIGINT) AS v
            FROM $raterFanout),
          items AS (SELECT i, CAST(count(*) AS BIGINT) AS n_i,
                      CAST(sum(v) AS BIGINT) AS s1,
                      CAST(sum(v * v) AS BIGINT) AS s2
                    FROM ann GROUP BY i),
          kept AS (SELECT * FROM items WHERE n_i >= 2),
          vt AS (SELECT CAST(count(DISTINCT v) AS BIGINT) AS n_values
                 FROM ann JOIN kept USING (i)),
          tot AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
                    CAST(sum(n_i) AS BIGINT) AS n,
                    CAST(sum(s1) AS BIGINT) AS gs1, CAST(sum(s2) AS BIGINT) AS gs2,
                    CAST(sum((1000000 * (2 * (n_i * s2 - s1 * s1))) // (n_i - 1)) AS BIGINT) AS do_scaled
                  FROM kept)
          SELECT n_items, n AS n_ratings, n_values, do_scaled,
            2 * (n * gs2 - gs1 * gs1) AS de_num,
            CASE WHEN 2 * (n * gs2 - gs1 * gs1) > 0
              THEN 1000000 - ((n - 1) * do_scaled) // (2 * (n * gs2 - gs1 * gs1)) END AS alpha_micro
          FROM tot, vt""",

    "q240_rouge_overlap" ->
      s"""WITH p AS (
            SELECT a.doc_id, ${nullInjected("a.")} AS cand, b.text AS ref
            FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
          tk AS (
            SELECT doc_id,
              list_filter(regexp_split_to_array(trim(coalesce(cand, '')), '\\s+'), x -> len(x) > 0) AS ct,
              list_filter(regexp_split_to_array(trim(coalesce(ref,  '')), '\\s+'), x -> len(x) > 0) AS rt
            FROM p),
          g AS (
            SELECT doc_id,
              CASE WHEN len(ct) >= 2 THEN list_transform(range(1, len(ct)), i -> array_to_string(ct[i:i+1], ' ')) ELSE []::VARCHAR[] END AS cg,
              CASE WHEN len(rt) >= 2 THEN list_transform(range(1, len(rt)), i -> array_to_string(rt[i:i+1], ' ')) ELSE []::VARCHAR[] END AS rg
            FROM tk),
          ca AS (SELECT doc_id, g2 AS gram, CAST(count(*) AS BIGINT) AS c FROM (SELECT doc_id, unnest(cg) AS g2 FROM g) GROUP BY doc_id, g2),
          cb AS (SELECT doc_id, g2 AS gram, CAST(count(*) AS BIGINT) AS c FROM (SELECT doc_id, unnest(rg) AS g2 FROM g) GROUP BY doc_id, g2),
          o AS (SELECT ca.doc_id, CAST(sum(least(ca.c, cb.c)) AS BIGINT) AS o
                FROM ca JOIN cb ON ca.doc_id = cb.doc_id AND ca.gram = cb.gram GROUP BY ca.doc_id)
          SELECT g.doc_id,
            CAST(len(cg) AS BIGINT) AS n_cand_grams,
            CAST(len(rg) AS BIGINT) AS n_ref_grams,
            coalesce(o.o, 0) AS n_overlap,
            CASE WHEN len(cg) > 0 THEN (1000000 * coalesce(o.o, 0)) // len(cg) END AS rouge_p_micro,
            CASE WHEN len(rg) > 0 THEN (1000000 * coalesce(o.o, 0)) // len(rg) END AS rouge_r_micro,
            CASE WHEN len(cg) + len(rg) > 0 THEN (2000000 * coalesce(o.o, 0)) // (len(cg) + len(rg)) END AS rouge_f_micro
          FROM g LEFT JOIN o ON g.doc_id = o.doc_id ORDER BY g.doc_id""",

    "q241_memorization_rate" ->
      s"""WITH tk AS (
            SELECT doc_id, $toks AS t
            FROM documents),
          corpus AS (
            SELECT DISTINCT unnest(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
              ELSE list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' ')) END) AS g
            FROM tk),
          gensrc AS (
            SELECT doc_id,
              CASE WHEN doc_id % 13 = 0 THEN NULL
                   ELSE array_to_string(t[1:(4 + doc_id % 12)], ' ')
                     || CASE WHEN doc_id % 4 = 1 THEN '' ELSE ' zzz' || CAST(doc_id AS VARCHAR) END
              END AS gtext
            FROM tk WHERE doc_id % 3 = 0),
          gtk AS (
            SELECT doc_id, regexp_split_to_array(trim(gtext), '\\s+') AS t
            FROM gensrc WHERE gtext IS NOT NULL),
          gg AS (
            SELECT doc_id, unnest(list_distinct(
              CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                   ELSE list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' ')) END)) AS g
            FROM gtk),
          hit AS (
            SELECT gg.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
              CAST(sum(CASE WHEN c.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_memorized
            FROM gg LEFT JOIN corpus c ON gg.g = c.g GROUP BY gg.doc_id)
          SELECT u.doc_id,
            coalesce(n_grams, 0) AS n_grams,
            coalesce(n_memorized, 0) AS n_memorized,
            CASE WHEN n_grams > 0 THEN (1000000 * n_memorized) // n_grams END AS memorized_micro
          FROM (SELECT doc_id FROM gensrc) u LEFT JOIN hit ON u.doc_id = hit.doc_id
          ORDER BY u.doc_id""",

    "q242_fleiss_kappa" ->
      """WITH ann AS (
            SELECT doc_id AS i, r.r AS r,
              CAST((length(text) + r.r * (doc_id % 5)) % 4 AS VARCHAR) AS l
            FROM documents, range(0, 3) r(r)),
          cells AS (SELECT i, l, CAST(count(*) AS BIGINT) AS n FROM ann GROUP BY i, l),
          items AS (SELECT i, CAST(sum(n) AS BIGINT) AS r_i, CAST(sum(n * n) AS BIGINT) AS sq FROM cells GROUP BY i),
          ist AS (SELECT CAST(count(*) AS BIGINT) AS n_items, CAST(max(r_i) AS BIGINT) AS r, CAST(sum(sq) AS BIGINT) AS a FROM items),
          lst AS (SELECT CAST(sum(c * c) AS BIGINT) AS sumc2, CAST(count(*) AS BIGINT) AS n_categories
                  FROM (SELECT l, CAST(sum(n) AS BIGINT) AS c FROM cells GROUP BY l)),
          k AS (SELECT n_items, r AS n_raters, n_categories,
                  (a - n_items * r) * (n_items * r) - (r - 1) * sumc2 AS kappa_num,
                  (r - 1) * ((n_items * r) * (n_items * r) - sumc2) AS kappa_den
                FROM ist, lst)
          SELECT n_items, n_raters, n_categories, kappa_num, kappa_den,
            CASE WHEN kappa_den > 0
              THEN (kappa_num * 1000000 + 2000000 * kappa_den) // kappa_den - 2000000 END AS kappa_micro
          FROM k""",

    "q243_cohen_kappa" ->
      """WITH p AS (
            SELECT CAST(length(text) % 3 AS VARCHAR) AS la,
                   CAST((length(text) + doc_id % 2) % 3 AS VARCHAR) AS lb
            FROM documents),
          base AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
            CAST(sum(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT) AS n_agree FROM p),
          ma AS (SELECT la AS l, CAST(count(*) AS BIGINT) AS ca FROM p GROUP BY la),
          mb AS (SELECT lb AS l, CAST(count(*) AS BIGINT) AS cb FROM p GROUP BY lb),
          pe AS (SELECT CAST(coalesce(sum(ca * cb), 0) AS BIGINT) AS pe_num FROM ma JOIN mb ON ma.l = mb.l),
          k AS (SELECT n_items, n_agree, pe_num,
                  n_agree * n_items - pe_num AS kappa_num,
                  n_items * n_items - pe_num AS kappa_den
                FROM base, pe)
          SELECT n_items, n_agree, pe_num, kappa_num, kappa_den,
            CASE WHEN kappa_den > 0
              THEN (kappa_num * 1000000 + 2000000 * kappa_den) // kappa_den - 2000000 END AS kappa_micro
          FROM k""",

    "q244_chat_stats" ->
      s"""WITH src AS (
            SELECT doc_id, $chatJsonSql AS j
            FROM documents),
          parsed AS (
            SELECT doc_id, j, json_valid(j) AS ok,
              CASE WHEN json_valid(j) THEN CAST(json_array_length(j) AS INTEGER) END AS n
            FROM src),
          lists AS (
            SELECT doc_id, ok, n,
              CASE WHEN ok THEN list_transform(range(0, n), k -> json_extract_string(j, '$$[' || k || '].role')) END AS roles,
              CASE WHEN ok THEN list_transform(range(0, n), k -> json_extract_string(j, '$$[' || k || '].content')) END AS contents
            FROM parsed),
          derived AS (
            SELECT doc_id, ok, n, roles, contents,
              CASE WHEN ok THEN list_filter(roles, r -> r <> 'system') END AS rest,
              CASE WHEN ok THEN coalesce(list_position(list_transform(roles, r -> r = 'system'), false), n + 1) END AS first_non_sys
            FROM lists),
          stats AS (
            SELECT doc_id, ok, n AS n_turns,
              CASE WHEN ok THEN CAST(len(list_filter(roles, r -> r = 'system')) AS INTEGER) END AS n_system,
              CASE WHEN ok THEN CAST(len(list_filter(roles, r -> r = 'user')) AS INTEGER) END AS n_user,
              CASE WHEN ok THEN CAST(len(list_filter(roles, r -> r = 'assistant')) AS INTEGER) END AS n_assistant,
              CASE WHEN ok THEN coalesce(rest[1] = 'user', FALSE) END AS starts_user,
              CASE WHEN ok THEN (CASE WHEN len(rest) >= 2
                THEN len(list_filter(range(1, len(rest)), k -> rest[k] = rest[k + 1])) = 0
                ELSE TRUE END) END AS alternates,
              CASE WHEN ok THEN coalesce(rest[len(rest)] = 'assistant', FALSE) END AS ends_assistant,
              CASE WHEN ok THEN len(list_filter(contents, c -> c IS NULL OR len(trim(c)) = 0)) = 0 END AS contents_ok,
              CASE WHEN ok THEN len(list_filter(roles, r -> r NOT IN ('system', 'user', 'assistant'))) = 0 END AS roles_ok,
              CASE WHEN ok THEN len(list_filter(range(1, n + 1), k -> roles[k] = 'system' AND k > first_non_sys)) > 0 END AS sys_violated,
              CASE WHEN ok THEN array_to_string(list_transform(range(0, n),
                k -> '<|' || roles[k + 1] || '|>' || coalesce(contents[k + 1], '')), chr(10)) END AS flat
            FROM derived)
          SELECT doc_id, n_turns, n_system, n_user, n_assistant, starts_user, alternates,
            ends_assistant, contents_ok, sys_violated AS sys_prefix_violated,
            coalesce(roles_ok AND NOT sys_violated AND alternates AND starts_user
              AND ends_assistant AND contents_ok, FALSE) AS valid,
            flat
          FROM stats ORDER BY doc_id""",

    "q245_chat_turns" ->
      s"""WITH src AS (
            SELECT doc_id, $chatJsonSql AS j
            FROM documents),
          valid AS (SELECT doc_id, j, CAST(json_array_length(j) AS INTEGER) AS n FROM src WHERE json_valid(j))
          SELECT doc_id, CAST(k + 1 AS INTEGER) AS turn,
            json_extract_string(j, '$$[' || k || '].role') AS role,
            json_extract_string(j, '$$[' || k || '].content') AS content
          FROM (SELECT doc_id, j, unnest(range(0, n)) AS k FROM valid)
          ORDER BY doc_id, turn""",

    "q255_distinct_ngrams" ->
      """WITH t AS (
            SELECT doc_id,
              CASE WHEN doc_id % 9 = 0 THEN text || ' loop loop loop loop loop'
                   WHEN doc_id % 13 = 0 THEN NULL
                   WHEN doc_id % 13 = 1 THEN ''
                   WHEN doc_id % 13 = 2 THEN '   '
                   ELSE text END AS text
            FROM documents),
          tk AS (SELECT doc_id,
                   list_filter(regexp_split_to_array(trim(coalesce(text, '')), '\s+'),
                     x -> len(x) > 0) AS toks
                 FROM t),
          g AS (SELECT doc_id,
                  CASE WHEN len(toks) >= 2
                    THEN list_transform(range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' '))
                    ELSE []::VARCHAR[] END AS grams
                FROM tk)
          SELECT doc_id,
            CAST(len(grams) AS BIGINT) AS n_grams,
            CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
            CASE WHEN len(grams) > 0
              THEN (1000000 * CAST(len(list_distinct(grams)) AS BIGINT))
                // CAST(len(grams) AS BIGINT)
              END AS distinct_micro
          FROM g ORDER BY doc_id""",

    "q253_sft_signals" ->
      """WITH p AS (
            SELECT doc_id, substr(text, 1, 60) AS prompt,
              CASE WHEN doc_id % 11 = 0 THEN NULL
                   WHEN doc_id % 5 = 0 THEN substr(text, 1, 60) || ' indeed.'
                   WHEN doc_id % 7 = 0 THEN 'unterminated response without punctuation'
                   ELSE 'The answer is ' || source || '.' END AS response
            FROM documents),
          tk AS (
            SELECT doc_id, response,
              list_filter(regexp_split_to_array(trim(coalesce(prompt, '')), '\s+'), t -> len(t) > 0) AS pt,
              list_filter(regexp_split_to_array(trim(coalesce(response, '')), '\s+'), t -> len(t) > 0) AS rt
            FROM p)
          SELECT doc_id,
            CAST(len(pt) AS BIGINT) AS prompt_tokens,
            CAST(len(rt) AS BIGINT) AS response_tokens,
            CASE WHEN len(pt) > 0
              THEN (1000000 * CAST(len(rt) AS BIGINT)) // CAST(len(pt) AS BIGINT)
              END AS len_ratio_micro,
            len(rt) = 0 AS empty_response,
            len(rt) > 0 AND regexp_matches(coalesce(response, ''),
              '[.!?]["'')\]]*[ \t\r\n]*$') AS ends_terminal,
            len(pt) > 0 AND len(rt) > 0 AND
              starts_with(lower(array_to_string(rt, ' ')),
                lower(array_to_string(pt[1:8], ' '))) AS echoes_prompt
          FROM tk ORDER BY doc_id""",

    "q254_annotator_report" ->
      """WITH ann AS (
            SELECT doc_id AS i, CAST(r.r AS VARCHAR) AS r,
              CAST((length(text) + r.r * (doc_id % 5)) % 4 AS VARCHAR) AS l
            FROM documents, range(0, 3) r(r)),
          v AS (SELECT i, l, CAST(count(*) AS BIGINT) AS v FROM ann GROUP BY i, l),
          m AS (SELECT i, l AS maj FROM (
                  SELECT i, l, row_number() OVER
                    (PARTITION BY i ORDER BY v DESC, l ASC) AS rn FROM v)
                WHERE rn = 1)
          SELECT ann.r AS rater,
            CAST(count(*) AS BIGINT) AS n_items,
            CAST(sum(CASE WHEN ann.l = m.maj THEN 1 ELSE 0 END) AS BIGINT) AS n_majority,
            (1000000 * CAST(sum(CASE WHEN ann.l = m.maj THEN 1 ELSE 0 END) AS BIGINT))
              // CAST(count(*) AS BIGINT) AS agree_micro
          FROM ann JOIN m ON ann.i = m.i
          GROUP BY ann.r ORDER BY rater""",

    "q252_self_consistency" ->
      """WITH smp AS (
            SELECT doc_id,
              CAST((length(text) + s * doc_id) % 4 AS VARCHAR) AS ans,
              CAST(length(text) % 4 AS VARCHAR) AS gold
            FROM (SELECT doc_id, text, unnest(range(0, 5)) AS s FROM documents)),
          v AS (SELECT doc_id, ans, CAST(count(*) AS BIGINT) AS v, max(gold) AS gold
                FROM smp GROUP BY doc_id, ans),
          r AS (SELECT doc_id, ans, v, gold,
                  row_number() OVER (PARTITION BY doc_id ORDER BY v DESC, ans ASC) AS rn,
                  CAST(sum(v) OVER (PARTITION BY doc_id) AS BIGINT) AS n
                FROM v)
          SELECT doc_id, n AS n_samples, ans AS majority_answer, v AS n_votes,
            (1000000 * v) // n AS majority_micro, ans = gold AS correct
          FROM r WHERE rn = 1 ORDER BY doc_id""",

    "q251_calibration" ->
      s"""WITH $confBucketCtes,
          agg AS (
            SELECT conf_bucket,
              CAST(count(*) AS BIGINT) AS n_items,
              CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
              (1000000 * CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT))
                // CAST(count(*) AS BIGINT) AS acc_micro,
              CAST(sum(conf) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_conf_micro
            FROM b GROUP BY conf_bucket)
          SELECT conf_bucket, n_items, n_correct, acc_micro, mean_conf_micro,
            abs(acc_micro - mean_conf_micro) AS gap_micro
          FROM agg ORDER BY conf_bucket""",

    "q250_source_datacard" ->
      s"""WITH t AS (
            SELECT doc_id, source, lang,
              CASE WHEN doc_id % 17 = 0 THEN 'duplicate boilerplate page' ELSE text END AS text
            FROM documents),
          e AS (
            SELECT doc_id, source, lang,
              CAST(len($toks) AS BIGINT) AS n_toks,
              md5(lower(array_to_string(regexp_split_to_array(trim(coalesce(text, '')), '\\s+'), ' '))) AS fp
            FROM t),
          fc AS (SELECT fp, CAST(count(*) AS BIGINT) AS n_fp FROM e GROUP BY fp),
          sh AS (
            SELECT doc_id, ${shingleSet(toks)} AS s
            FROM t),
          contam AS (
            SELECT DISTINCT b.doc_id
            FROM sh a JOIN sh b ON a.doc_id % 29 = 1 AND a.doc_id <> b.doc_id
            WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) >= 0.8),
          j AS (SELECT e.source, e.lang, e.n_toks, fc.n_fp,
                  c.doc_id IS NOT NULL AS is_contam
                FROM e JOIN fc USING (fp)
                LEFT JOIN contam c ON e.doc_id = c.doc_id)
          SELECT source,
            CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(n_toks) AS BIGINT) AS n_tokens,
            CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
            CAST(sum(CASE WHEN n_fp > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
            CAST(sum(CASE WHEN is_contam THEN 1 ELSE 0 END) AS BIGINT) AS n_contam_docs,
            (1000000 * CAST(sum(n_toks) AS BIGINT)) // CAST(count(*) AS BIGINT) AS mean_tokens_micro,
            (1000 * CAST(sum(CASE WHEN n_fp > 1 THEN 1 ELSE 0 END) AS BIGINT)) // CAST(count(*) AS BIGINT) AS dup_permille,
            (1000 * CAST(sum(CASE WHEN is_contam THEN 1 ELSE 0 END) AS BIGINT)) // CAST(count(*) AS BIGINT) AS contam_permille
          FROM j GROUP BY source ORDER BY source""",

    "q248_pass_at_k" ->
      """WITH smp AS (
            SELECT doc_id, ((length(text) + s * doc_id) % 3) = 0 AS ok
            FROM (SELECT doc_id, text, unnest(range(0, 5 + doc_id % 4)) AS s
                  FROM documents)),
          st AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS c
                 FROM smp GROUP BY doc_id)
          SELECT doc_id, n AS n_samples, c AS n_passed,
            1000000 - (1000000 * (greatest(n - c, 0) * greatest(n - c - 1, 0) * greatest(n - c - 2, 0)))
              // (n * (n - 1) * (n - 2)) AS pass_at_k_micro
          FROM st ORDER BY doc_id""",

    "q246_win_rates" ->
      s"""WITH duels AS ($duelsSql),
          pairs AS (
            SELECT least(w, l) AS player_a, greatest(w, l) AS player_b,
              CAST(count(*) AS BIGINT) AS n_games,
              CAST(sum(CASE WHEN w <= l THEN 1 ELSE 0 END) AS BIGINT) AS n_wins_a
            FROM duels GROUP BY 1, 2)
          SELECT player_a, player_b, n_games, n_wins_a,
            (1000000 * n_wins_a) // n_games AS winrate_a_micro
          FROM pairs ORDER BY player_a, player_b""",

    "q247_bradley_terry" ->
      s"""WITH duels AS ($duelsSql),
          pairs AS (
            SELECT least(w, l) AS lo, greatest(w, l) AS hi,
              CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CASE WHEN w <= l THEN 1 ELSE 0 END) AS BIGINT) AS wins_lo
            FROM duels GROUP BY 1, 2),
          e AS (SELECT lo AS i, hi AS j, n FROM pairs UNION ALL SELECT hi AS i, lo AS j, n FROM pairs),
          stats AS (
            SELECT p, CAST(sum(g) AS BIGINT) AS n_games, CAST(sum(v) AS BIGINT) AS n_wins
            FROM (SELECT lo AS p, n AS g, wins_lo AS v FROM pairs
                  UNION ALL SELECT hi AS p, n AS g, n - wins_lo AS v FROM pairs)
            GROUP BY p),
          np AS (SELECT CAST(count(*) AS BIGINT) AS np FROM stats),
          s0 AS (SELECT p, CAST(1000000 AS BIGINT) AS s FROM stats),
          dp1 AS (SELECT e.i AS p, CAST(sum((e.n * 1000000000000) // (si.s + sj.s)) AS BIGINT) AS dp
                  FROM e JOIN s0 si ON e.i = si.p JOIN s0 sj ON e.j = sj.p GROUP BY e.i),
          raw1 AS (SELECT st.p, greatest(1, ((st.n_wins + 1) * 1000000000000) //
                     (coalesce(dp.dp, 0) + 2000000000000 // (s.s + 1000000))) AS raw
                   FROM stats st JOIN s0 s ON st.p = s.p LEFT JOIN dp1 dp ON st.p = dp.p),
          m1 AS (SELECT CAST(sum(raw) AS BIGINT) // max(np.np) AS mean FROM raw1, np),
          s1 AS (SELECT p, greatest(1, (raw * 1000000) // mean) AS s FROM raw1, m1),
          dp2 AS (SELECT e.i AS p, CAST(sum((e.n * 1000000000000) // (si.s + sj.s)) AS BIGINT) AS dp
                  FROM e JOIN s1 si ON e.i = si.p JOIN s1 sj ON e.j = sj.p GROUP BY e.i),
          raw2 AS (SELECT st.p, greatest(1, ((st.n_wins + 1) * 1000000000000) //
                     (coalesce(dp.dp, 0) + 2000000000000 // (s.s + 1000000))) AS raw
                   FROM stats st JOIN s1 s ON st.p = s.p LEFT JOIN dp2 dp ON st.p = dp.p),
          m2 AS (SELECT CAST(sum(raw) AS BIGINT) // max(np.np) AS mean FROM raw2, np),
          s2 AS (SELECT p, greatest(1, (raw * 1000000) // mean) AS s FROM raw2, m2)
          SELECT st.p AS player, st.n_games, st.n_wins, s2.s AS strength_micro
          FROM stats st JOIN s2 ON st.p = s2.p ORDER BY player""",

    "q249_length_bias" ->
      """WITH lens AS (
            SELECT CASE WHEN length(a.text) + a.doc_id % 40 > length(b.text)
                     THEN length(a.text) ELSE length(b.text) END AS wl,
                   CASE WHEN length(a.text) + a.doc_id % 40 > length(b.text)
                     THEN length(b.text) ELSE length(a.text) END AS ll
            FROM documents a JOIN documents b
              ON b.doc_id = a.doc_id + 1 AND a.source <> b.source),
          bk AS (
            SELECT abs(wl - ll) // 20 AS len_gap_bucket,
              CASE WHEN wl > ll THEN 1 ELSE 0 END AS lw,
              CASE WHEN wl = ll THEN 1 ELSE 0 END AS eq
            FROM lens)
          SELECT len_gap_bucket,
            CAST(count(*) AS BIGINT) AS n_duels,
            CAST(sum(lw) AS BIGINT) AS n_longer_won,
            CAST(sum(eq) AS BIGINT) AS n_equal_len,
            CASE WHEN count(*) > sum(eq)
              THEN CAST((1000000 * sum(lw)) // (count(*) - sum(eq)) AS BIGINT)
              END AS longer_win_micro
          FROM bk GROUP BY len_gap_bucket ORDER BY len_gap_bucket""")
}
