package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, fingerprinting.
  *
  * All are pure Column expressions (`functions._` built-ins only) — they
  * stay inside whole-stage codegen and vectorize over the parquet scan; no
  * UDFs, no shuffles. Designed for the `documents` table but generic over
  * any string column.
  */
object TextOps {

  /** Fan a SMALL input out to the session's full parallelism before a
    * compute-heavy scan (per-gram hashing costs orders of magnitude more
    * than the bytes feeding it). Guarded by the optimizer's size
    * estimate, NOT by executing anything: below 1 GiB the source
    * cannot have enough row groups to split (a single-file fixture scans
    * as ONE task, serializing every downstream gram on one core — at
    * local[32] that is a 32× loss), and a one-pass round-robin shuffle of
    * ≤1 GB is cheap; at or above it, real corpora split natively across
    * files/row-groups and the repartition would be a catastrophic
    * whole-input shuffle — so it is a no-op exactly where 100 TB lives.
    *
    * Use ONLY where the heavy compute is entirely map-side with no
    * downstream row shuffle to spread it (DSIR's fit/score scans: the
    * only exchange is a dim-sized aggregate). Operators whose gram
    * stream shuffles anyway (shingle window/groupBy, LM count tables,
    * paragraph fingerprint groupBy) get their parallelism from that
    * exchange, and an extra round-robin here measured as pure overhead
    * (+0.5-1 s per shingle query, bench r7). */
  def fanOutSmall(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val size = leafScanBytes(df)
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (size < (1L << 30)) df.repartition(target) else df
  }

  /** Size signal for the spread guards, from the LEAF SCANS of the
    * already-analyzed plan instead of `optimizedPlan.stats`: the old
    * probe ran a full analyze+optimize of the upstream subtree per call
    * site (plus bottom-up statistics propagation), which on the big
    * checkpointed compositions (q104-class) duplicated exactly the
    * Catalyst planning work profiled as the remaining driver bottleneck
    * (r17 verdict). The analyzed plan is already materialized on every
    * Dataset, so summing its file-relation sizes costs nothing. Any leaf
    * that is not a file scan or a literal local relation (checkpoints,
    * RDD seams, streaming sources) reports UNKNOWN → the caller treats
    * the frame as large and spreads nothing — the same no-op-at-scale
    * contract as before (those plans previously estimated huge). A
    * filter's selectivity no longer shrinks the estimate: frames whose
    * RAW inputs exceed the threshold already scan as enough splits that
    * the spread was pointless there anyway.
    *
    * Spread decisions therefore depend on the SCALE FACTOR: the same
    * query spreads on small inputs and not once its raw leaf scans pass
    * the threshold, even when a selective filter leaves a small frame.
    * Decision-equivalence with the old optimizer-stats probe was checked
    * at the bench SF only (24-query sample); at other scale factors a
    * small post-filter frame over a large source may lose a spread
    * (perf-only, and the conservative direction). */
  private[graft] def leafScanBytes(df: org.apache.spark.sql.DataFrame): BigInt = {
    val sizes = df.queryExecution.analyzed.collectLeaves().map {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        Some(BigInt(r.relation.sizeInBytes))
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        Some(l.stats.sizeInBytes)
      case _: org.apache.spark.sql.catalyst.plans.logical.OneRowRelation =>
        Some(BigInt(1))
      case _ => None // checkpoint / RDD / unknown leaf: treat as unbounded
    }
    if (sizes.forall(_.isDefined)) sizes.flatten.map(identity).sum
    else BigInt(Long.MaxValue)
  }

  /** Whitespace tokenization (leading/trailing space trimmed). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Key-hash fan-out PINNED to the session's configured shuffle width
    * (`spark.sql.shuffle.partitions` — the cluster-tuned knob, so the
    * width scales with deployment, never a hard-coded core count).
    * Used in front of compute-dense scan-side kernels (gram builders,
    * per-row DPs): a small input (one parquet split) would otherwise run
    * the kernel AND the map-side partials of the next aggregate on 1-2
    * scan tasks while the rest of the cluster idles. Pinned, because an
    * UNPINNED `repartition(key)` is AQE-coalescible and byte-based
    * coalescing collapses byte-light/CPU-heavy exchanges right back to
    * one task. The shipped bytes are the raw doc rows — strictly less
    * than the token-stream exchange+sort the pre-r17 window-lead gram
    * builders paid for the same spreading effect. */
  private[graft] def spreadByKey(df: org.apache.spark.sql.DataFrame,
                                 key: Column,
                                 thresholdBytes: Long = 1L << 30)
      : org.apache.spark.sql.DataFrame = {
    // [[fanOutSmall]]'s size guard ([[leafScanBytes]] — the analyzed
    // plan's leaf-scan sum, never a per-call optimizer pass): below the
    // threshold the input cannot split into enough scan tasks on its own
    // and a one-pass shuffle of ≤1 GB is cheap; at or above it (real
    // corpora — and any frame fed by a checkpoint/RDD seam, which reads
    // as unbounded) the input is already wide and the spread is a no-op,
    // so 100 TB pays nothing.
    val size = leafScanBytes(df)
    if (size < thresholdBytes)
      df.repartition(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, key)
    else df
  }

  /** [[spreadByKey]] without a key: size-guarded ROUND-ROBIN fan-out for
    * order-insensitive consumers (whole-frame aggregates) whose input
    * has no natural doc key. Same pinned width, same no-op-at-scale
    * guard. */
  private[graft] def spreadSmall(df: org.apache.spark.sql.DataFrame,
                                 thresholdBytes: Long = 1L << 30)
      : org.apache.spark.sql.DataFrame = {
    val size = leafScanBytes(df)
    if (size < thresholdBytes)
      df.repartition(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
    else df
  }

  /** The WMT `13a` tokenization (NIST mteval-v13a's language-
    * independent normalization + punctuation splitting — what
    * sacrebleu applies before BLEU, so scores computed over these
    * tokens reproduce the WMT convention exactly): SGML entities
    * restored, `<skipped>` and hyphenated line-breaks removed,
    * newlines → spaces, then — on the SPACE-PADDED line, the mteval
    * detail that makes trailing punctuation split — symbols and
    * punctuation get surrounding spaces, except `.`/`,` BETWEEN
    * digits (decimal/thousand marks stay joined: `3.50` is one
    * token) and `-` after a digit splits (`3-4` → `3 - 4`) while
    * word-internal hyphens stay (`A-B`). Returns the token ARRAY;
    * NULL text → empty array (the family null contract). Pure
    * regexp_replace chain — replayable in the oracle engine with the
    * same patterns. */
  def tokens13a(text: Column): Column = {
    val norm = regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        coalesce(text, lit("")),
        "<skipped>", ""), "-\n", ""), "\n", " "),
        "&quot;", "\""), "&amp;", "&"), "&lt;", "<"), "&gt;", ">")
    val padded = concat(lit(" "), norm, lit(" "))
    val t1 = regexp_replace(padded,
      "([\\{-\\~\\[-\\` -\\&\\(-\\+\\:-\\@\\/])", " $1 ")
    val t2 = regexp_replace(t1, "([^0-9])([\\.,])", "$1 $2 ")
    val t3 = regexp_replace(t2, "([\\.,])([^0-9])", " $1 $2")
    val t4 = regexp_replace(t3, "([0-9])(-)", "$1 - ")
    filter(tokens(t4), t => length(t) > 0)
  }

  def tokenCount(text: Column): Column = size(tokens(text))

  def charCount(text: Column): Column = length(text)

  /** Mean token length — exact int/int double division (oracle-stable).
    * The length sum is a native codegen loop ([[graft.functions
    * .ArrayStringLenSum]]) — the `aggregate` HOF form interprets its
    * lambda per token, in the quality gate's per-document hot path. */
  def meanTokenLen(text: Column): Column = {
    val t = tokens(text)
    graft.functions.TextExpressions.lenSum(t).cast("double") / size(t)
  }

  /** Fraction of token OCCURRENCES found in `words` (e.g. stopwords).
    * Native codegen membership count ([[graft.functions.ArrayCountInSet]])
    * — `filter(t, w -> ...)` interprets per element, and `array_except`
    * cannot express occurrence counting (it dedupes). */
  def wordSetRatio(text: Column, words: Seq[String]): Column = {
    val t = tokens(text)
    graft.functions.TextExpressions.countInSet(t, words).cast("double") / size(t)
  }

  /** Quality heuristics bundle: length bounds + stopword presence +
    * all-distinct-token ratio. Mirrors common pretraining-corpus filters
    * (Gopher/C4-style rules) with fully deterministic arithmetic. */
  def qualitySignals(text: Column, stopwords: Seq[String]): Seq[(String, Column)] = Seq(
    "n_tokens" -> tokenCount(text),
    "n_chars" -> charCount(text),
    "mean_token_len" -> meanTokenLen(text),
    "stopword_ratio" -> wordSetRatio(text, stopwords),
    "distinct_token_ratio" ->
      (size(array_distinct(tokens(text))).cast("double") / size(tokens(text)))
  )

  /** Classic UTF-8-read-as-Latin-1 damage: Ã or Â followed by a
    * continuation-range code point (é→Ã©, ü→Ã¼, nbsp→Â ). Engine-portable
    * (literal chars + an explicit class — no `\p{...}`). */
  private[graft] val MojibakeLatin1 = "[ÃÂ][\\x{0080}-\\x{00BF}]"

  /** UTF-8 punctuation read as cp1252: â€ then the cp1252 image of the
    * third byte — ™ (’), œ (“), U+009D (”) cover the smart-quote family
    * that dominates real crawl damage. */
  private[graft] val MojibakeCp1252 = "â€[™œ\\x{009D}]"

  /** Encoding-damage counters (ftfy-lite, the Dolma/C4 cleanup signal):
    * non-overlapping counts of the two classic mojibake signatures plus
    * U+FFFD replacement chars (decoder already gave up). Scan-side
    * expressions; the caller gates on a per-10k-chars rate (integer
    * arithmetic — see q223) rather than absolute counts so long docs
    * aren't penalized. A hit does not PROVE damage ("CafÃ©" is valid
    * Latin text about... nothing), which is why this is a scored signal
    * feeding a threshold, not a hard filter. */
  def mojibakeSignals(text: Column): Seq[(String, Column)] = Seq(
    "n_latin1" -> regexp_count(text, lit(MojibakeLatin1)).cast("long"),
    "n_cp1252" -> regexp_count(text, lit(MojibakeCp1252)).cast("long"),
    "n_fffd" ->
      (length(text) - length(replace(text, lit("�"), lit("")))).cast("long")
  )

  /** Readability signals (Flesch–Kincaid grade): the classic
    * syllable-rate readability score used as a quality/difficulty
    * signal when stratifying pretraining text (and the backbone of
    * "educational value" heuristics). Heuristics, stated plainly:
    * a sentence is a run of `[.!?]` (min 1 per doc — headline-style
    * fragments are one sentence, not zero); a word's syllables are its
    * vowel GROUPS `[aeiouy]+` (min 1 — "rhythm" has a syllable, the
    * English silent-e overcount is accepted noise at corpus scale).
    * Counts are exact integers; the grade is the standard
    * `0.39·(W/S) + 11.8·(Syl/W) − 15.59` computed in one fixed IEEE
    * order, so an external engine replays it bit-for-bit. Scan-side:
    * one regexp count for sentences + one O(tokens) fold for
    * syllables; no shuffle. */
  def readabilitySignals(text: Column): Seq[(String, Column)] = {
    val t = tokens(text)
    val words = size(t).cast("long")
    val sentences =
      greatest(regexp_count(text, lit("[.!?]+")), lit(1)).cast("long")
    val syllables = aggregate(t, lit(0L), (acc, w) =>
      acc + greatest(regexp_count(lower(w), lit("[aeiouy]+")), lit(1))
        .cast("long"))
    val grade = lit(0.39) * (words.cast("double") / sentences) +
      lit(11.8) * (syllables.cast("double") / words) - lit(15.59)
    Seq("n_words" -> words, "n_sentences" -> sentences,
      "n_syllables" -> syllables, "fk_grade" -> grade)
  }

  /** Lexical-diversity signals WITHOUT logarithms — the entropy-class
    * redundancy screen in exactly replayable arithmetic. Shannon entropy
    * needs `ln`, and libm implementations differ across engines in the
    * last ulp, so the diversity number here is Simpson's index
    * (Simpson 1949; 1−λ, the probability two random tokens differ)
    * beside the type-token ratio — both pure integer ratios. Per doc,
    * over whitespace tokens with empty tokens dropped:
    *
    *   n_tokens      — N
    *   n_types       — distinct tokens
    *   ttr_micro     — (10⁶·types) div N
    *   simpson_micro — 10⁶ − (10⁶·Σc²) div N²   (c = per-type counts)
    *
    * Content-less docs (NULL/''/whitespace — the [[fingerprint]] null
    * contract's family) emit (0, 0, NULL, NULL): a ratio over zero
    * tokens is undefined, and NULL is the honest undefined (an SQL `div`
    * by zero would error on some engines and return NULL on others).
    *
    * Scale shape: entirely scan-side — Σc² and the type count come from
    * ONE sorted-run fold over the doc's own sorted token array
    * (array_sort + aggregate HOF, O(tokens log tokens) per row, state
    * is four scalars), never a token explosion + (doc, token) shuffle.
    * The fold touches only the projected array, so the operator streams
    * and composes with any scan. */
  def lexicalDiversity(text: Column): Seq[(String, Column)] = {
    def idiv(a: Column, b: Column): Column = call_function("div", a, b)
    val toks = filter(tokens(text), t => length(t) > 0)
    val n = coalesce(size(toks), lit(0)).cast("long")
    val zero = struct(lit(null).cast("string").as("prev"),
      lit(0L).as("run"), lit(0L).as("sumsq"), lit(0L).as("types"))
    val st = aggregate(array_sort(toks), zero,
      (acc, t) => when(acc("prev").isNull || acc("prev") =!= t,
          struct(t.as("prev"), lit(1L).as("run"),
            (acc("sumsq") + acc("run") * acc("run")).as("sumsq"),
            (acc("types") + lit(1L)).as("types")))
        .otherwise(struct(t.as("prev"), (acc("run") + lit(1L)).as("run"),
          acc("sumsq").as("sumsq"), acc("types").as("types"))),
      acc => struct((acc("sumsq") + acc("run") * acc("run")).as("sumsq"),
        acc("types").as("types")))
    val sumsq = coalesce(st("sumsq"), lit(0L))
    val types = coalesce(st("types"), lit(0L))
    Seq(
      "n_tokens" -> n,
      "n_types" -> types,
      "ttr_micro" -> when(n > 0, idiv(lit(1000000L) * types, n)),
      "simpson_micro" ->
        when(n > 0, lit(1000000L) - idiv(lit(1000000L) * sumsq, n * n)))
  }

  /** Language-ID by marker-word voting: score per language = count of
    * tokens in that language's marker set; argmax wins, ties broken by
    * alphabetical language code (deterministic). N-gram-free variant of the
    * classic stopword-profile detector. */
  def langId(text: Column, markers: Map[String, Seq[String]]): Column = {
    val t = tokens(text)
    // argmax by (score, -alphabetical rank): array_max over structs compares
    // fields in order, so ties on score resolve to the alphabetically first
    // language — deterministic on both engines.
    val ranked = markers.keys.toSeq.sorted.zipWithIndex.toMap
    val scored = markers.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(graft.functions.TextExpressions.countInSet(t, words).as("score"),
        lit(-ranked(lang)).as("nrank"), lit(lang).as("lang"))
    }
    array_max(array(scored: _*)).getField("lang")
  }

  /** Document fingerprint: md5 of the whitespace-normalized, lower-cased
    * text — the exact-dedupe key.
    *
    * Null contract: NULL, empty, and whitespace-only text all normalize
    * to the EMPTY token stream and share md5("") — never a NULL
    * fingerprint (`concat_ws` skips the null token array). Content-less
    * docs are exact duplicates of each other by definition; a NULL key
    * would instead ride SQL's all-NULLs-one-group semantics on some
    * engines and drop from equi-joins on others — the cross-engine
    * divergence class the q25 gate pins with injected null/empty rows. */
  def fingerprint(text: Column): Column =
    md5(encode(lower(concat_ws(" ", tokens(text))), "UTF-8"))

  /** Token-window chunking: split each doc into chunks of `chunkSize`
    * tokens advancing by `chunkSize − overlap`, the standard shape for
    * fitting long documents into a model's context window. Returns one
    * row per chunk: (idCol, chunk_id, chunk_text, n_chunk_tokens).
    * Chunk starts stop at `max(n − overlap, 1)` so a final fragment
    * already covered by the previous window is not re-emitted; docs
    * shorter than a chunk yield exactly one chunk.
    *
    * Tokens are materialized in their own projection BEFORE the
    * chunk-slicing lambda (the [[graft.dedup.Dedup.shingles]] PERF
    * CONTRACT: higher-order-function lambdas re-evaluate captured
    * expressions per element, so an inline tokenizer would re-split the
    * doc once per chunk). */
  def chunkRows(docs: org.apache.spark.sql.DataFrame, textCol: String,
                idCol: String, chunkSize: Int, overlap: Int): org.apache.spark.sql.DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize, got chunkSize=$chunkSize overlap=$overlap")
    val step = chunkSize - overlap
    // null text has no tokens and yields no chunks (a malformed
    // empty-chunk row would otherwise surface from null propagation)
    val toksed = docs.where(col(textCol).isNotNull)
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
    val t = col("__toks")
    val starts = filter(
      sequence(lit(0), greatest(size(t) - 1, lit(0)), lit(step)),
      s => s < greatest(size(t) - overlap, lit(1)))
    toksed
      .select(col(idCol), t,
        posexplode(starts).as(Seq("chunk_id", "__start")))
      .select(col(idCol), col("chunk_id"),
        concat_ws(" ", slice(t, col("__start") + 1, lit(chunkSize))).as("chunk_text"),
        size(slice(t, col("__start") + 1, lit(chunkSize))).as("n_chunk_tokens"))
  }

  /** Conservative redaction patterns shared with SQL oracles — kept to
    * syntax Java regex and RE2 interpret identically. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe = "https?://[^\\s]+"

  /** PII/link scrubbing for training text: URLs then emails replaced with
    * typed placeholder tokens (URL first — addresses inside query strings
    * would otherwise leave partial URLs behind). Pure codegen
    * `regexp_replace`, no UDF. */
  def redact(text: Column): Column =
    regexp_replace(regexp_replace(text, UrlRe, "<URL>"),
      EmailRe, "<EMAIL>")

  /** Control characters with no place in training text: C0 except
    * tab/LF/CR, plus DEL. Hex escapes read identically in Java regex and
    * RE2 — shared with the SQL oracle. */
  val ControlCharRe = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"

  /** Ingest-time text canonicalization: Unicode NFC (composed forms —
    * without it, fingerprints/shingles/paragraph hashes silently miss
    * duplicates whose bytes differ only by composition) then control-char
    * strip. NFC is a codegen expression ([[graft.functions.NfcNormalize]])
    * with an identity fast path for ASCII and already-normalized text. */
  def normalizeText(text: Column): Column =
    regexp_replace(graft.functions.TextExpressions.nfc(text), ControlCharRe, "")

  /** Hashing-trick document vector ([[graft.functions.HashingVector]]):
    * md5-bucketed token counts as `array<long>`, the engine-replayable
    * no-external-embedder representation for the vector operators. */
  def hashingVector(text: Column, dim: Int): Column =
    graft.functions.TextExpressions.hashingVector(tokens(text), dim)

  /** Polynomial rolling hash over tokens (base-31 Horner form mod 2^31-1 —
    * modular to stay inside Long under ANSI arithmetic). Order-sensitive
    * unlike `fingerprint`'s normalization-insensitive md5 — detects
    * reorderings; used by shingle pipelines. */
  def rollingHash(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, w) =>
      pmod(acc * lit(31L) + crc32(encode(w, "UTF-8")).cast("long"), lit(2147483647L)))

  /** Terminal-punctuation set for [[cleanLines]] — shared with the SQL
    * oracle (kept to characters Java regex and RE2 read identically). */
  val TerminalPunctRe = "[.!?\"']$"

  /** GPT-2-style pre-tokenizer pattern (Radford et al. 2019, the
    * `tiktoken`/BPE segmentation BEFORE merges): contraction suffixes,
    * space-prefixed letter runs, digit runs, punctuation runs. The
    * original's trailing-whitespace lookahead is dropped so the pattern
    * stays in the Java-regex ∩ RE2 dialect (DuckDB oracles replay it
    * verbatim); whitespace itself is never counted as a token. BPE merges
    * only ever FUSE pre-tokens, so this count upper-bounds (and tracks
    * within ~10-20% of) a real BPE tokenizer's — the statistic token
    * budgeting and cost models need, without shipping a vocab. */
  val BpeTokenRe: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"

  /** All BPE-ish pre-tokens (array<string>, codegen regexp). */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpeTokenRe), lit(0))

  /** BPE-ish token count — the budget-relevant size of a document. */
  def bpeTokenCount(text: Column): Column = size(bpeTokens(text))

  /** C4-style line-level cleaning (Raffel et al. 2020, §2.2): drop
    * boilerplate LINES rather than whole documents. A trimmed non-empty
    * line is kept iff it has ≥ 3 whitespace words, ends in terminal
    * punctuation (`. ! ? " '`), and contains none of the C4 markers
    * "lorem ipsum", "javascript" and `{` (case-insensitive substrings).
    * Returns one row per
    * input doc: (idCol, `clean_text` — surviving lines re-joined in
    * original order, empty string when none survive, `n_kept`,
    * `n_dropped` over non-empty lines).
    *
    * Shape: explode → codegen predicates → ONE doc-keyed aggregate (the
    * sorted re-assembly collects each doc's own lines — bounded per-group
    * arrays, never a corpus-wide sort). */
  def cleanLines(docs: org.apache.spark.sql.DataFrame, textCol: String,
                 idCol: String): org.apache.spark.sql.DataFrame = {
    val id = col(idCol)
    val lines = docs
      .select(id, posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__raw")))
      .select(id, col("__pos"), trim(col("__raw")).as("__line"))
      .where(length(col("__line")) > 0)
    val keepPred = size(split(col("__line"), "\\s+")) >= 3 &&
      col("__line").rlike(TerminalPunctRe) &&
      Seq("lorem ipsum", "javascript", "{").map(b => !lower(col("__line")).contains(b))
        .reduce(_ && _)
    // one collect: dropped lines ride as nulls (concat_ws skips them), so
    // the kept/dropped counts and the re-assembly share a single aggregate
    val packed = graft.udafs.CollectOps.sortedCollect(
      // sortedCollect orders DESC — negated pos yields original order
      Seq(-col("__pos")),
      Seq("__lines" -> when(col("__keep"), col("__line"))), Int.MaxValue)
    val agged = lines
      .withColumn("__keep", keepPred)
      .groupBy(id)
      .agg(
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("__keep"), 0L).otherwise(1L)).as("n_dropped"),
        packed.head.as("__all"))
      .select(id, col("n_kept"), col("n_dropped"),
        concat_ws("\n", col("__all")).as("clean_text"))
    docs.select(id)
      .join(agged, Seq(idCol), "left")
      .select(id,
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
  }

  /** Corpus-relative rare-token ratio — the CCNet-style outlier signal
    * with exact (hashable) arithmetic: the fraction of a document's token
    * OCCURRENCES whose corpus-wide document frequency is below
    * `minDocFreq`. High values flag gibberish/OCR noise/codeswitching
    * that per-doc signals miss, because the reference statistic is the
    * whole corpus. All counting is integer (one double division per doc
    * at the end), so the result is bit-reproducible across engines —
    * the same discipline as q58's rational tf·N/df.
    *
    * Scale: token df is `groupBy(token).count` (map-side partials absorb
    * Zipfian heads) and the flag-back join on the token is
    * AQE-skew-splittable — never a window over the token. Returns
    * (idCol, n_tokens, n_rare, rare_ratio). */
  def rareTokenRatio(docs: org.apache.spark.sql.DataFrame, textCol: String,
                     idCol: String, minDocFreq: Long): org.apache.spark.sql.DataFrame = {
    val id = col(idCol)
    val toks = docs
      .select(id, explode(tokens(col(textCol))).as("__w"))
      .where(length(col("__w")) > 0)
    // document frequency: in how many distinct docs does the token occur
    val df = toks.select(id, col("__w")).distinct()
      .groupBy(col("__w")).agg(count(lit(1)).as("__df"))
    val agged = toks.join(df, Seq("__w"))
      .groupBy(id).agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("__df") < minDocFreq, 1L).otherwise(0L)).as("n_rare"))
      .select(id, col("n_tokens"), col("n_rare"),
        (col("n_rare").cast("double") / col("n_tokens")).as("rare_ratio"))
    docs.select(id).join(agged, Seq(idCol), "left")
      .select(id,
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_rare"), lit(0L)).as("n_rare"),
        coalesce(col("rare_ratio"), lit(0.0)).as("rare_ratio"))
  }

  /** Repetition quality signals per document — the Gopher-style filters
    * (Rae et al. 2021, §A1.1) that catch boilerplate/spam the per-token
    * [[qualitySignals]] miss:
    *
    *  - `n_lines`: non-empty (trimmed) line count;
    *  - `dup_line_frac`: `1 − distinct_lines / total_lines` — the
    *    fraction of line occurrences that repeat an earlier line;
    *  - `dup_line_char_frac`: characters on lines that occur more than
    *    once (ALL their occurrences) over total line characters;
    *  - `top_bigram_char_frac`: characters covered by the most frequent
    *    word 2-gram (`count × chars(bigram)`, occurrences of overlapping
    *    repeats double-counted, capped at 1.0) over total token
    *    characters. Ties resolve to the larger character coverage
    *    (lexicographic struct max — deterministic, mirrored by the SQL
    *    oracle's struct max).
    *
    * Docs with no non-empty lines / fewer than 2 tokens report 0 for the
    * respective signals. Shape notes for scale: both stages aggregate
    * keyed by the DOCUMENT id — two shuffles of (id, small-row) data,
    * map-side partial aggregation absorbing per-doc repetition; the only
    * window is the per-doc bigram `lead`, partitioned by id (never by a
    * Zipfian token key — the [[graft.dedup.Dedup.shingleDf]] rule). */
  def repetitionSignals(docs: org.apache.spark.sql.DataFrame, textCol: String,
                        idCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val id = col(idCol)
    // Spread the doc rows across the cluster BEFORE the heavy scan-side
    // explodes: a small input (few parquet splits) would otherwise run
    // the line/gram construction AND the map-side partials of every
    // aggregate below on 1-2 scan tasks. The id-hash exchange ships raw
    // text once, and — because hash(id) clusters every groupBy key below
    // (all start with id) — BOTH aggregate chains plan exchange-free
    // after it: strictly fewer exchanges than the pre-r17 window form,
    // and no sort. AQE still right-sizes the partition count.
    val src = spreadByKey(docs.select(id, col(textCol)), id)
    val lines = src
      .select(id, explode(split(col(textCol), "\n")).as("__raw"))
      .select(id, trim(col("__raw")).as("__line"))
      .where(length(col("__line")) > 0)
    val perLine = lines.groupBy(id, col("__line"))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__len", length(col("__line")).cast("long"))
    val lineSig = perLine.groupBy(id).agg(
      sum("__cnt").as("n_lines"),
      (lit(1.0) - count(lit(1)).cast("double") / sum("__cnt")).as("dup_line_frac"),
      (sum(when(col("__cnt") > 1, col("__cnt") * col("__len")).otherwise(0L))
        .cast("double") / sum(col("__cnt") * col("__len"))).as("dup_line_char_frac"))
    // Bigrams come from the compiled BigramArray kernel (scan-side, exact
    // concat_ws parity) instead of a posexplode + per-doc lead window —
    // the window paid an exchange+sort of the whole token stream. Token
    // characters ride the same scan via the ArrayStringLenSum kernel and
    // travel through the gram aggregate (constant per doc, max() picks it
    // up), so the separate per-doc token-chars aggregate AND its join are
    // gone too. tokens() never yields whitespace inside a token, so a
    // bigram's cover is its length minus the one joining space; the only
    // empty-token case (empty/whitespace text → [""]) has < 2 tokens and
    // yields no bigrams, exactly like the old length-filtered stream.
    // array_remove(tokens, "") replays the old stream's length(__w) > 0
    // filter (split keeps leading/trailing EMPTY tokens on e.g. tab-only
    // text; bigrams must pair the non-empty sequence) — a codegen
    // built-in, not an interpreted HOF filter
    val bigSig = src
      .select(id,
        graft.functions.TextExpressions.lenSum(
          array_remove(tokens(col(textCol)), ""))
          .cast("long").as("__tok_chars"),
        explode(graft.functions.TextExpressions
          .bigramArray(array_remove(tokens(col(textCol)), ""))).as("__g"))
      .groupBy(id, col("__g"),
        (length(col("__g")) - 1L).cast("long").as("__cover"))
      .agg(count(lit(1)).as("__cnt"), max(col("__tok_chars")).as("__tc"))
      .groupBy(id)
      .agg(max(struct(col("__cnt"), col("__cover"))).as("__top"),
        max(col("__tc")).as("__tok_chars"))
      .select(id, least(lit(1.0),
        (col("__top.__cnt") * col("__top.__cover")).cast("double") / col("__tok_chars"))
        .as("top_bigram_char_frac"))
    docs.select(id)
      .join(lineSig, Seq(idCol), "left")
      .join(bigSig, Seq(idCol), "left")
      .select(id,
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("dup_line_frac"), lit(0.0)).as("dup_line_frac"),
        coalesce(col("dup_line_char_frac"), lit(0.0)).as("dup_line_char_frac"),
        coalesce(col("top_bigram_char_frac"), lit(0.0)).as("top_bigram_char_frac"))
  }

  /** The OTHER half of Gopher's repetition table (Rae et al. 2021,
    * Table A1): fraction of token characters covered by DUPLICATE
    * n-grams (any gram occurring more than once), for each n in `ns` —
    * [[repetitionSignals]] carries the top-single-gram form; together
    * they complete the published rule set. Overlapping duplicates
    * overcount characters, so the fraction is capped at 1 (the published
    * rules threshold well below it).
    *
    * One token explode + ONE per-doc window pass builds every lead
    * column up to max(ns); each n then costs one (doc, gram) hash
    * aggregate — scalar gram rows through the shuffles, the
    * [[graft.dedup.Dedup.shingles]] discipline, never an array-valued
    * shuffle. Returns (idCol, dup_<n>gram_char_frac…), 0.0 for docs
    * shorter than n tokens. */
  def dupNgramCharFrac(docs: org.apache.spark.sql.DataFrame, textCol: String,
                       idCol: String,
                       ns: Seq[Int] = Seq(2, 3, 4)): org.apache.spark.sql.DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 2), "n-grams need n >= 2")
    val id = col(idCol)
    // Grams come from the compiled TokenNgrams kernel per order — each n
    // is one scan-side explode + one (doc, gram) hash aggregate. The old
    // posexplode + shared-lead window paid an exchange+sort of the token
    // stream per ORDER (the lead frame was re-executed under every n's
    // aggregate subtree); token characters are the scan-side
    // ArrayStringLenSum kernel (identical to the old per-doc sum — only
    // the empty-text token "" differs and it contributes 0 chars). A
    // gram's character cover is its length minus the n−1 joining spaces
    // (tokens never contain whitespace).
    // array_remove: the old stream's empty-token filter (see
    // repetitionSignals) as a codegen built-in
    val tokChars = docs.select(id,
      graft.functions.TextExpressions.lenSum(
        array_remove(tokens(col(textCol)), ""))
        .cast("long").as("__tok_chars"))
    // id-hash spread before the gram explodes (the repetitionSignals
    // rationale): gram construction and the (id, g) partials then run
    // cluster-wide, and both aggregates below reuse the id clustering
    val spread = spreadByKey(docs.select(id, col(textCol)), id)
    ns.sorted.foldLeft(tokChars) { (acc, n) =>
      val sig = spread
        .select(id, explode(graft.functions.TextExpressions
          .tokenNgrams(array_remove(tokens(col(textCol)), ""), n)).as("__g"))
        .groupBy(id, col("__g"),
          (length(col("__g")) - lit(n - 1).cast("long")).as("__cover"))
        .agg(count(lit(1)).as("__cnt"))
        .groupBy(id)
        .agg(sum(when(col("__cnt") > 1, col("__cnt") * col("__cover"))
          .otherwise(0L)).as("__dupcov"))
      acc.join(sig, Seq(idCol), "left")
        .withColumn(s"dup_${n}gram_char_frac",
          least(lit(1.0), coalesce(
            col("__dupcov").cast("double") / col("__tok_chars"), lit(0.0))))
        .drop("__dupcov")
    }.drop("__tok_chars")
  }

  /** Unicode-script classes profiled by [[scriptProfile]], in dominance
    * tie-break priority order. Each entry is (name, Java-regex class);
    * the classes cover the fixture's languages and the bulk of web text —
    * extend the list for broader corpora. */
  val scriptClasses: Seq[(String, String)] = Seq(
    "latin" -> "\\p{IsLatin}",
    "han" -> "\\p{IsHan}",
    "cyrillic" -> "\\p{IsCyrillic}",
    "arabic" -> "\\p{IsArabic}")

  /** Per-document Unicode script histogram + dominant script — the
    * pre-language-ID routing signal CCNet-style pipelines cut on (a doc
    * whose chars are 95% Han goes to the zh models regardless of what a
    * stopword vote says), and the garbage filter for mixed-script spam.
    *
    * Returns `(n_<script>… , n_digit, n_space, dominant)` as
    * exact integer counts (regexp_count per class — codegen'd, one scan
    * pass, no shuffle). `dominant` is the argmax over the script classes
    * with ties broken by [[scriptClasses]] order; all-zero docs get
    * "none". */
  def scriptProfile(text: Column): Seq[(String, Column)] = {
    val counts = scriptClasses.map { case (name, re) =>
      name -> regexp_count(text, lit(re)) }
    // argmax via array_max over (count, -priority, name) structs: field-
    // order comparison makes earlier classes win count ties — same trick
    // as langId, deterministic on both engines
    val ranked = counts.zipWithIndex.map { case ((name, c), i) =>
      struct(c.as("n"), lit(-i).as("nrank"), lit(name).as("script")) }
    val top = array_max(array(ranked: _*))
    counts.map { case (n, c) => s"n_$n" -> c.cast("long") } ++ Seq(
      "n_digit" -> regexp_count(text, lit("[0-9]")).cast("long"),
      "n_space" -> regexp_count(text, lit("\\s")).cast("long"),
      "dominant" -> when(top.getField("n") === 0, "none")
        .otherwise(top.getField("script")))
  }

  /** Gopher-style composite quality verdict (Rae et al. 2021, Appendix A
    * — the published web-corpus filter rules, restricted to the
    * deterministic-arithmetic subset):
    *   - word count within [minWords, 100000];
    *   - mean word length within [3, 10] chars;
    *   - symbol-to-word ratio (`#` or `…`/`...`) below 0.1;
    *   - at most 90% of lines starting with a bullet and at most 30%
    *     ending in an ellipsis;
    *   - at least 80% of words containing an alphabetic character;
    *   - at least 2 hits from the stopword list.
    * Returns one boolean per rule plus the conjunction `keep` — callers
    * log per-rule rejection rates (the published pipelines tune rules
    * individually) and filter on `keep`.
    *
    * One codegen'd projection per doc: tokens and lines are each
    * materialized once in their own projection (the [[graft.dedup.Dedup
    * .shingles]] PERF CONTRACT — lambdas re-evaluate captured
    * expressions), then every rule is arithmetic over them. No shuffle,
    * no UDF. */
  def gopherSignals(text: Column, stopwords: Seq[String],
                    minWords: Int = 50): Seq[(String, Column)] = {
    val t = tokens(text)
    val nWords = size(t)
    val meanLen = meanTokenLen(text)
    val symbolRatio =
      (regexp_count(text, lit("#")) + regexp_count(text, lit("\\.\\.\\.|…")))
        .cast("double") / nWords
    val lines = filter(split(text, "\n"), l => length(trim(l)) > 0)
    val nLines = size(lines)
    val bulletFrac = size(filter(lines, l =>
        regexp_like(trim(l), lit("^([-*•‣▪]|\\d+[.)])\\s")))).cast("double") /
      greatest(nLines, lit(1))
    val ellipsisFrac = size(filter(lines, l =>
        regexp_like(trim(l), lit("(\\.\\.\\.|…)$")))).cast("double") /
      greatest(nLines, lit(1))
    val alphaFrac = size(filter(t, w => regexp_like(w, lit("\\p{L}"))))
      .cast("double") / greatest(nWords, lit(1))
    val stopHits = graft.functions.TextExpressions.countInSet(t, stopwords)
    val rules = Seq(
      "ok_word_count" -> (nWords >= minWords && nWords <= 100000),
      "ok_mean_word_len" -> (meanLen >= 3.0 && meanLen <= 10.0),
      "ok_symbol_ratio" -> (symbolRatio < 0.1),
      "ok_bullet_lines" -> (bulletFrac <= 0.9),
      "ok_ellipsis_lines" -> (ellipsisFrac <= 0.3),
      "ok_alpha_words" -> (alphaFrac >= 0.8),
      "ok_stopwords" -> (stopHits >= 2))
    rules ++ Seq("keep" -> rules.map(_._2).reduce(_ && _))
  }

  /** χ² FEATURE SELECTION over token presence vs a boolean label — the
    * vocabulary-pruning stage in front of a quality/domain classifier
    * ([[graft.ml.QualityClassifier]]): score each token by the χ²
    * statistic of its document-presence contingency table
    * `(a, b; c, d)` (a = labeled docs containing it, b = unlabeled
    * containing, c/d = the complements) and keep the top
    * discriminators. Returns
    * `(token, n_pos, n_neg, chi2_num, chi2_den)` where
    * {{{ χ² = chi2_num / chi2_den
    *        = N·(ad − bc)² / ((a+b)(c+d)(a+c)(b+d)) }}}
    * BOTH halves are EXACT 64-bit integers (`N⁵/16` headroom: safe to
    * ~10⁴ docs, and ANSI mode fails LOUDLY past it — sample the doc
    * frame beyond that, the statistic estimates fine from a sample, or
    * shift the projection to doubles) — the score is one IEEE
    * division, so ranking replays
    * bit-exact on any engine, the [[graft.ops.Sampling]] no-libm
    * discipline. Tokens present in every document or none score null
    * (degenerate table, zero denominator) and drop.
    *
    * One token-presence aggregate (distinct (doc, token) — partial-
    * aggregable) + one vocab-sized score projection; the doc totals
    * are a 1-row broadcast. */
  /** COLLOCATION mining: adjacent token pairs ranked by association
    * LIFT — `P(xy) / (P(x)·P(y))`, the monotone core of PMI without
    * the log (a libm call whose last-ulp varies by engine; the RANKING
    * is what matters and lift preserves it). The phrase-detection
    * stage of corpus pipelines (multi-word expressions, named
    * entities, boilerplate signatures). Returns
    * `(w1, w2, n_xy, n_w1, n_w2, lift)` for pairs with
    * `n_xy ≥ minCount`;
    * `lift = (double(n_xy) · N) / (n_w1 · n_w2)` — integer products
    * first, one IEEE multiply + divide, bit-replayable.
    *
    * Bigrams ride the q79/q135 window-lead pattern (one window pass
    * per doc, partitions bounded by doc length — never a corpus-wide
    * window); unigram counts and the token total are plain hash
    * aggregates, the total a 1-row broadcast. */
  def collocations(docs: org.apache.spark.sql.DataFrame, textCol: String,
                   idCol: String, minCount: Long)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{broadcast => bc}
    require(minCount >= 1L, s"minCount must be positive: $minCount")
    // NO spread here (r18): r17's id-hash spread made this query 23%
    // SLOWER at bench SF (0.62 → 0.76 s, 16 → 22 exchanges — the r17
    // verdict's one perf-weak mark). Unlike the shingle pipelines, both
    // consumers aggregate into small keyed tables (unigram/bigram
    // counts) whose map-side partials give the parallelism an exchange
    // would buy, so the spread only added plan weight — exactly the
    // fanOutSmall doc's "operators whose stream shuffles anyway" case.
    val spread =
      docs.select(col(idCol).as("__id"), col(textCol).as("__t"))
    val pos = spread
      .select(col("__id"), posexplode(tokens(col("__t"))).as(Seq("__p", "__w")))
    // Adjacent pairs from the compiled BigramArray kernel (scan-side)
    // instead of a per-doc lead window (exchange+sort of the token
    // stream). tokens() never contains whitespace inside a token, so the
    // single joining space splits the bigram back unambiguously.
    val pairs = spread
      .select(explode(graft.functions.TextExpressions
        .bigramArray(tokens(col("__t")))).as("__g"))
      .groupBy(substring_index(col("__g"), " ", 1).as("w1"),
        substring_index(col("__g"), " ", -1).as("w2"))
      .agg(count(lit(1)).as("n_xy"))
      .where(col("n_xy") >= minCount)
    val uni = pos.groupBy(col("__w")).agg(count(lit(1)).as("n"))
    // the corpus token total is the SUM of the unigram counts — roll it
    // up from the (vocab-sized) aggregate instead of paying a third full
    // pass + exchange over the token stream (guide §2.3: aggregate the
    // already-aggregated)
    val total = uni.agg(coalesce(sum(col("n")), lit(0L)).as("__N"))
    pairs
      .join(uni.select(col("__w").as("w1"), col("n").as("n_w1")), Seq("w1"))
      .join(uni.select(col("__w").as("w2"), col("n").as("n_w2")), Seq("w2"))
      .crossJoin(bc(total))
      .select(col("w1"), col("w2"), col("n_xy"), col("n_w1"), col("n_w2"),
        ((col("n_xy").cast("double") * col("__N")) /
          (col("n_w1") * col("n_w2"))).as("lift"))
  }

  def chiSquareTokens(docs: org.apache.spark.sql.DataFrame, textCol: String,
                      idCol: String, labelCol: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{broadcast => bc}
    val base = docs.select(col(idCol).as("__id"), col(textCol).as("__t"),
      col(labelCol).cast("boolean").as("__l"))
    val totals = base.agg(
      sum(when(col("__l"), 1L).otherwise(0L)).as("__n1"),
      sum(when(!col("__l"), 1L).otherwise(0L)).as("__n0"))
    val present = base
      .select(col("__id"), explode(tokens(col("__t"))).as("token"),
        col("__l"))
      .distinct() // PRESENCE per (doc, token) — repeat tokens count once
      .groupBy(col("token"))
      .agg(sum(when(col("__l"), 1L).otherwise(0L)).as("a"),
        sum(when(!col("__l"), 1L).otherwise(0L)).as("b"))
    present.crossJoin(bc(totals))
      .select(col("token"), col("a").as("n_pos"), col("b").as("n_neg"),
        expr("""(__n1 + __n0) *
                (a * (__n0 - b) - b * (__n1 - a)) *
                (a * (__n0 - b) - b * (__n1 - a))""").as("chi2_num"),
        expr("""(a + b) * ((__n1 - a) + (__n0 - b)) *
                (a + (__n1 - a)) * (b + (__n0 - b))""").as("chi2_den"))
      .where(col("chi2_den") =!= 0L)
  }

  /** Word-boundary tokens for blocklist matching: lowercase, split on
    * runs of non-word chars (ASCII `[a-z0-9_]` word class — the same
    * class Java and RE2 give `\w`, so an engine-portable regex can
    * replay a match decision exactly). Distinct from [[tokens]]
    * (whitespace split), which preserves punctuation inside tokens —
    * a blocklist must match "ban-word." as `ban word`. */
  private def wordTokens(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9_]+"), t => length(t) > 0)

  /** C4-style word/phrase blocklist hits (Raffel et al. 2020 §2.2 — the
    * "List of Dirty, Naughty ..." filter; Dolma and FineWeb carry the
    * same stage): one row per (doc, matched phrase), where a phrase
    * matches iff its word sequence appears as CONSECUTIVE word-boundary
    * tokens of the lowercased document. Matching is existence per phrase
    * (a phrase is reported once however often it occurs) so the verdict
    * is order- and overlap-independent.
    *
    * Shape at scale: the blocklist is list-sized (10²–10⁵ phrases) →
    * broadcast. CANDIDATE positions (tokens equal to some phrase's HEAD
    * word) are computed scan-side with a HOF membership test over the
    * distinct head-word literal, so only candidate rows — rare for a
    * blocklist — explode and carry the document's token array into the
    * adjacency `slice` compare against the broadcast phrase table.
    * In-stage row width is O(candidates × tokens) per doc, never
    * O(tokens²) (the exploded-every-token form carried the array on
    * every token row). Per-token scan cost is one O(|distinct head
    * words|) array membership inside codegen — fine through ~10⁴ heads;
    * a larger list should pre-trim heads against a corpus vocabulary
    * first. No UDF, no per-phrase regex union (a 10⁴-pattern regex
    * alternation is the non-scalable form this replaces). */
  def blocklistHits(docs: org.apache.spark.sql.DataFrame, textCol: String,
                    idCol: String, phrases: Seq[String])
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{broadcast => bc}
    require(phrases.nonEmpty, "empty blocklist")
    val spark = docs.sparkSession
    import spark.implicits._
    val phraseRows = phrases.map { p =>
      // Locale.ROOT: under tr_TR a default-locale lowercase maps I to
      // dotless ı, silently un-matching an ASCII blocklist phrase
      val toks = p.toLowerCase(java.util.Locale.ROOT)
        .split("[^a-z0-9_]+").filter(_.nonEmpty).toSeq
      require(toks.nonEmpty, s"blocklist phrase has no word tokens: '$p'")
      (p, toks.head, toks, toks.size)
    }
    require(phraseRows.map(_._1).distinct.size == phraseRows.size,
      "duplicate blocklist phrases")
    val phraseDf = phraseRows.toDF("phrase", "__head", "__ptoks", "__plen")
    val heads = array(phraseRows.map(_._2).distinct.sorted.map(lit): _*)
    // 0-based candidate positions, scan-side: i where token(i) ∈ heads
    val candPos = filter(
      sequence(lit(0), size(col("__toks")) - 1),
      i => array_contains(heads, element_at(col("__toks"), i + 1)))
    docs
      .select(col(idCol), wordTokens(col(textCol)).as("__toks"))
      .where(size(col("__toks")) > 0)
      .select(col(idCol), col("__toks"), explode(candPos).as("__p"))
      .join(bc(phraseDf),
        element_at(col("__toks"), col("__p") + 1) === col("__head"))
      // adjacency check: the phrase's tokens must run from this position
      .where(slice(col("__toks"), col("__p") + 1, col("__plen"))
        === col("__ptoks"))
      .select(col(idCol), col("phrase"))
      .distinct()
  }

  /** Per-document blocklist verdict over ALL docs: matched-phrase count,
    * the alphabetically-first matched phrase (deterministic evidence for
    * audit), and the `blocked` flag. Clean documents keep a row
    * (n_blocked 0, null phrase) — the caller chooses filter vs audit. */
  def blocklistVerdict(docs: org.apache.spark.sql.DataFrame, textCol: String,
                       idCol: String, phrases: Seq[String])
      : org.apache.spark.sql.DataFrame = {
    val hits = blocklistHits(docs, textCol, idCol, phrases)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_blocked"), min(col("phrase")).as("first_phrase"))
    docs.join(hits, Seq(idCol), "left")
      .withColumn("n_blocked", coalesce(col("n_blocked"), lit(0L)))
      .withColumn("blocked", col("n_blocked") > 0L)
  }
}
