package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** HTML → training text extraction (the jusText/trafilatura-lite stage a
  * web-crawl pipeline runs before any quality/dedup pass): strip
  * script/style/comments, split the page into text blocks at block-level
  * tags, drop boilerplate blocks by word count and link density, strip
  * the remaining inline tags, decode the common entities, and rejoin.
  *
  * Everything is a scan-side Column expression — no UDF, no shuffle; the
  * only non-codegen pieces are the higher-order lambdas over the
  * per-page block array (bounded by block count, evaluated where the
  * scan already materialized the page). Regexes avoid every construct
  * Java and RE2 disagree on: no `\w`/`\s` shorthands (ASCII classes
  * spelled out), no backreferences, no lookarounds — so a SQL engine can
  * replay the extraction verbatim for verification.
  *
  * Link density is gated in INTEGER per-mille (`anchors · 1000 ≤
  * maxLinkPerMille · words`) — no float compare to drift between
  * engines. The heuristic is the jusText/Arc90 one: a block whose words
  * are mostly anchor text is chrome (nav bars, footers, related-link
  * soup), not content. */
object HtmlOps {

  /** Block-level boundaries: opening OR closing forms of the usual
    * content-sectioning tags (br included — line-break-separated text
    * should gate independently). */
  // private[graft]: the q222 oracle builder replays the chain in SQL
  // from these SAME pattern strings (Java∩RE2 dialect — see Scaladoc)
  private[graft] val BlockTagPattern =
    "(?i)</?(?:p|div|br|h1|h2|h3|h4|h5|h6|li|ul|ol|tr|td|th|table|thead" +
      "|tbody|section|article|header|footer|nav|blockquote|pre)[^>]*>"

  private[graft] val AnchorPattern = "(?i)<a[ \\t\\n\\r>]"
  private[graft] val WsRun = "[ \\t\\n\\r]+"

  /** Remove content that must never reach text: script/style bodies and
    * HTML comments. Lazy spans are linear for both Java and RE2 here
    * (fixed closing literal). */
  private def dropInvisible(html: Column): Column = {
    val noScript =
      regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle =
      regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
  }

  /** Numeric character-reference patterns (bounded digit runs — 7
    * decimal digits cover every codepoint, 6 hex keep the run finite;
    * Java∩RE2 dialect like every pattern here). The hex group captures
    * the `x`/`X` so an INVALID reference reconstructs byte-identically. */
  private[graft] val DecRefPattern = "&#([0-9]{1,7});"
  private[graft] val HexRefPattern = "&#([xX][0-9a-fA-F]{1,6});"

  /** Markers for the one-level decode: control chars invalid in HTML
    * text, pre-stripped from input so a crafted page cannot forge a
    * marked span. */
  private[graft] val Mark1 = "\u0001"
  private[graft] val Mark2 = "\u0002"

  /** Fence numeric character references in control-char markers:
    * `&#8217;` → `<m1>8217<m2>`, `&#x2019;` → `<m1>x2019<m2>`.
    * Runs ONCE per page (three regex passes over the full document are
    * much cheaper than three per block), which is sound because a
    * marked span contains no `<`/`>` — it cannot overlap a block-tag
    * boundary, an anchor match, or the inline-tag strip. Raw marker
    * chars are pre-stripped (invalid in HTML text) so a crafted page
    * cannot forge a marked span. */
  private def markNumericRefs(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, s"[$Mark1$Mark2]", ""),
        DecRefPattern, s"$Mark1$$1$Mark2"),
      HexRefPattern, s"$Mark1$$1$Mark2")

  /** Decode the entities that actually occur in crawl text, ONE LEVEL
    * exactly, over text whose numeric references were ALREADY fenced by
    * [[markNumericRefs]]. Named entities replace first with `&amp;`
    * LAST (so `&amp;lt;` → literal `&lt;`, never `<`) — they cannot
    * touch the fenced digits — then the marked spans decode (so
    * `&#38;lt;` → literal `&lt;` too: a decoded `&` is never
    * re-examined). Valid scalar BMP codepoints only (1..0xFFFF minus
    * surrogates); anything else — zero, surrogates, astral —
    * reconstructs its original text. The decoded char comes from UTF-8
    * byte arithmetic (`hex → unhex → decode`) — pure codegen built-ins,
    * and DuckDB replays the chain with `chr()`. */
  private def decodeEntities(marked: Column): Column = {
    val named = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(marked) { case (acc, (from, to)) =>
        replace(acc, lit(from), lit(to))
      }
    val pieces = split(named, Mark1)
    array_join(transform(pieces, (p, i) =>
      when(i === 0, p).otherwise(decodeMarkedPiece(p))), "")
  }

  /** One marked piece `<num><Mark2><tail>` → decoded char + tail (or the
    * reconstructed original reference when the codepoint is invalid). */
  private def decodeMarkedPiece(p: Column): Column = {
    val parts = split(p, Mark2, 2)
    val num = element_at(parts, 1)
    val tail = coalesce(element_at(parts, 2), lit(""))
    val isHex = lower(substring(num, 1, 1)) === "x"
    val cp = when(isHex, conv(lower(substring(num, 2, 6)), 16, 10))
      .otherwise(num).cast("long")
    val valid = cp.isNotNull && cp >= 1L && cp <= 0xFFFFL &&
      !(cp >= 0xD800L && cp <= 0xDFFFL)
    // UTF-8 bytes of a BMP scalar, as hex: 1 byte < 0x80, 2 < 0x800, else 3
    def b(x: Column) = lpad(hex(x), 2, "0")
    val utf8 = when(cp < 0x80L, b(cp))
      .when(cp < 0x800L, concat(
        b(shiftright(cp, 6) + lit(0xC0L)),
        b(cp.bitwiseAND(lit(0x3FL)) + lit(0x80L))))
      .otherwise(concat(
        b(shiftright(cp, 12) + lit(0xE0L)),
        b(shiftright(cp, 6).bitwiseAND(lit(0x3FL)) + lit(0x80L)),
        b(cp.bitwiseAND(lit(0x3FL)) + lit(0x80L))))
    concat(
      when(valid, decode(unhex(utf8), "UTF-8"))
        .otherwise(concat(lit("&#"), num, lit(";"))),
      tail)
  }

  /** All visible text, tags stripped and whitespace collapsed — the
    * no-heuristics form (diffing, token counting over everything). */
  def stripHtml(html: Column): Column = {
    val txt = decodeEntities(
      regexp_replace(markNumericRefs(dropInvisible(html)), "<[^>]*>", " "))
    trim(regexp_replace(txt, WsRun, " "))
  }

  /** Per-block diagnostics: `array<struct<text, n_words, n_anchors>>` in
    * page order, where `text` is the block's visible text (tags
    * stripped, entities decoded, whitespace collapsed). The audit form —
    * [[extractText]] is a filter + join over exactly this. */
  def blockStats(html: Column): Column =
    transform(split(markNumericRefs(dropInvisible(html)), BlockTagPattern),
      b => {
        val anchors = size(split(b, AnchorPattern)) - 1
        val txt = decodeEntities(regexp_replace(b, "<[^>]*>", " "))
        val words = filter(split(txt, WsRun), w => length(w) > 0)
        struct(
          array_join(words, " ").as("text"),
          size(words).as("n_words"),
          anchors.as("n_anchors"))
      })

  /** Extracted content: blocks with ≥ 3 words whose anchor density
    * stays at most 500 anchors per 1000 words, rejoined with newlines.
    * Empty result → empty string (callers gate on length, as with every
    * other quality signal). */
  def extractText(html: Column): Column = {
    val kept = filter(blockStats(html), c =>
      c.getField("n_words") >= 3 &&
        c.getField("n_anchors") * lit(1000) <=
          lit(500) * c.getField("n_words"))
    array_join(transform(kept, c => c.getField("text")), "\n")
  }

  /** Robots-meta directives — the page-level opt-out a compliant crawl
    * pipeline honors BEFORE any text reaches training data (the
    * page-granular sibling of the domain blocklist): `<meta
    * name="robots" …>` tags are located with one bounded regex, only
    * tags actually NAMED robots are consulted (a description mentioning
    * "noindex" must not trip the gate), and each directive is a
    * word-boundary test inside those tags — so `content="index,
    * follow"` never reads as noindex/nofollow. Case-insensitive
    * throughout; attribute order and quote style are free. Named flags:
    * `noindex`, `nofollow`, `noarchive`.
    *
    * Java∩RE2 regex discipline (the [[extractText]] contract): bounded
    * `[^>]*` tag scans, `\b` word boundaries, inline `(?i)` — the
    * oracle replays the chain verbatim. Scan-side only: one
    * `regexp_extract_all` + array HOFs per page, no shuffle, streams
    * unchanged. */
  def robotsDirectives(html: Column): Seq[(String, Column)] = {
    val tags = regexp_extract_all(html, lit("(?i)<meta\\b[^>]*>"), lit(0))
    // attribute names anchor on (^|[^\w-]): `data-name="robots"` must
    // not read as a robots tag — and RE2 has no lookbehind, so the
    // Java∩RE2 discipline forces the character-class form, not (?<!…)
    val robots = filter(tags, t =>
      t.rlike("(?i)(^|[^\\w-])name\\s*=\\s*[\"']?robots\\b"))
    // directives are tested against the CONTENT attribute's VALUE, not
    // the whole tag: `content="all" data-note="noindex"` is not an
    // opt-out. One extract per quote style (exactly one is non-empty;
    // no content attribute ⇒ all empty ⇒ no flags).
    def contentOf(t: Column): Column = concat(
      regexp_extract(t, "(?i)(^|[^\\w-])content\\s*=\\s*\"([^\"]*)\"", 2),
      regexp_extract(t, "(?i)(^|[^\\w-])content\\s*=\\s*'([^']*)'", 2),
      regexp_extract(t, "(?i)(^|[^\\w-])content\\s*=\\s*([^\\s\"'>][^\\s>]*)", 2))
    def has(flag: String): Column =
      exists(robots, t => contentOf(t).rlike(s"(?i)\\b$flag\\b"))
    Seq("noindex" -> has("noindex"),
      "nofollow" -> has("nofollow"),
      "noarchive" -> has("noarchive"))
  }
}
