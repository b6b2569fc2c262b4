package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class HtmlOpsSpec extends SparkSpec {
  import spark.implicits._

  private def extract(html: String): String =
    Seq(html).toDF("h")
      .select(HtmlOps.extractText(col("h")).as("t"))
      .as[String].head()

  test("extractText: keeps content, drops nav/link-soup and short blocks") {
    val html =
      """<html><head><title>T</title><style>p {color: red}</style>
        |<script type="text/javascript">var x = 1 < 2;</script></head>
        |<body><div class="nav"><a href="/">Home</a> <a href="/a">About</a>
        |<a href="/l">Login</a></div>
        |<h1>two words</h1>
        |<p>the quick brown fox jumps over the lazy dog</p>
        |<div>See: <a href="/x">alpha</a> <a href="/y">beta</a>
        |<a href="/z">gamma</a></div>
        |<footer>&copy; 2026 Example &amp; Sons &lt;legal&gt;</footer>
        |</body></html>""".stripMargin
    val got = extract(html)
    // nav: 3 anchors / 3 words -> dropped; h1: 2 words -> dropped;
    // link-soup div: 3 anchors / 4 words -> dropped; p + footer kept
    assert(got ===
      "the quick brown fox jumps over the lazy dog\n" +
        "&copy; 2026 Example & Sons <legal>")
  }

  test("script/style/comment bodies never reach text; entities decode " +
      "one level (&amp;lt; stays literal &lt;)") {
    val html = "<p>a b c <!-- hidden words --> d</p>" +
      "<p>x &amp;lt; y literal</p><script>secret()</script>"
    assert(extract(html) === "a b c d\nx &lt; y literal")
    assert(extract("<style>.x{}</style><p>one two three</p>")
      === "one two three")
  }

  test("br splits blocks so each line gates independently") {
    // 'tiny' alone fails minWords; the long line passes
    assert(extract("<p>tiny<br>this line has five words</p>")
      === "this line has five words")
  }

  test("stripHtml keeps everything visible, collapsed") {
    val got = Seq("<div><a href='/'>Home</a>  <b>bold</b>\n\ttext</div>")
      .toDF("h").select(HtmlOps.stripHtml(col("h")).as("t"))
      .as[String].head()
    assert(got === "Home bold text")
  }

  test("blockStats exposes the audit triple per block") {
    val stats = Seq("<p>one two</p><div><a href='/'>x</a> y z w</div>")
      .toDF("h").select(explode(HtmlOps.blockStats(col("h"))).as("b"))
      .select("b.text", "b.n_words", "b.n_anchors")
      .as[(String, Int, Int)].collect()
      .filter(_._2 > 0)
    assert(stats === Array(("one two", 2, 0), ("x y z w", 4, 1)))
  }

  test("extractText matches a driver-side Java-regex model on random " +
      "messy pages (independent of Catalyst's regexp/HOF evaluation)") {
    def decode(s: String): String = HtmlOpsSpec.decodeModel(s)
    def model(html: String, minWords: Int, perMille: Int): String = {
      val vis = html
        .replaceAll("(?is)<script[^>]*>.*?</script>", " ")
        .replaceAll("(?is)<style[^>]*>.*?</style>", " ")
        .replaceAll("(?s)<!--.*?-->", " ")
      vis.split(HtmlOps.BlockTagPattern, -1).flatMap { b =>
        val anchors = b.split(HtmlOps.AnchorPattern, -1).length - 1
        val words = decode(b.replaceAll("<[^>]*>", " "))
          .split(HtmlOps.WsRun).filter(_.nonEmpty)
        if (words.length >= minWords &&
            anchors * 1000 <= perMille * words.length)
          Some(words.mkString(" "))
        else None
      }.mkString("\n")
    }
    val rnd = new scala.util.Random(1337L)
    val words = Seq("alpha", "beta", "gamma", "delta", "text", "words",
      "&amp;", "&lt;x&gt;", "&amp;lt;", "a&nbsp;b", "it&#39;s",
      // numeric refs: curly quote, hex dash, uppercase X, one-level
      // interactions, and invalids (surrogate, zero, astral, overlong)
      "don&#8217;t", "x&#x2013;y", "&#X201C;q&#X201D;", "&#38;lt;",
      "&amp;#60;", "&#xDC00;", "&#0;", "&#150000;", "&#99999999;")
    val blockTags = Seq("p", "div", "li", "h2", "BR", "section", "TD")
    def phrase(n: Int): String =
      (0 until n).map(_ => words(rnd.nextInt(words.size))).mkString(" ")
    def randBlock(): String = rnd.nextInt(6) match {
      case 0 => s"<p>${phrase(1 + rnd.nextInt(8))}</p>"
      case 1 =>
        val t = blockTags(rnd.nextInt(blockTags.size))
        s"<$t class='x'>${phrase(1 + rnd.nextInt(6))}</$t>"
      case 2 => // link soup with a variable anchor/word balance
        val links = (0 to rnd.nextInt(4)).map(i =>
          s"<a href='/$i'>${phrase(1 + rnd.nextInt(2))}</a>").mkString(" ")
        s"<div>${phrase(rnd.nextInt(3))} $links</div>"
      case 3 => s"<script>var x = ${rnd.nextInt(99)} < 7;</script>"
      case 4 => s"<!-- ${phrase(2)} --><style>.q{}</style>"
      case 5 => s"${phrase(1 + rnd.nextInt(4))}<br>${phrase(rnd.nextInt(3))}"
    }
    val pages = (1L to 120L).map(i =>
      (i, (0 to rnd.nextInt(7)).map(_ => randBlock()).mkString(" ")))
    val got = pages.toDF("id", "h")
      .select(col("id"), HtmlOps.extractText(col("h")).as("t"))
      .as[(Long, String)].collect().toMap
    pages.foreach { case (id, html) =>
      assert(got(id) === model(html, 3, 500), s"page $id: $html")
    }
  }

  test("degenerate inputs: empty page, page with no block tags, null") {
    assert(extract("") === "")
    assert(extract("plain words with no tags at all")
      === "plain words with no tags at all")
    val n = Seq((1L, null: String)).toDF("id", "h")
      .select(HtmlOps.extractText(col("h")).as("t"))
      .as[Option[String]].head()
    assert(n.isEmpty) // null in, null out — no crash
  }

  test("numeric character references decode across the BMP, one level, " +
      "invalids reconstructed byte-identically") {
    assert(extract("<p>don&#8217;t stop &#x2013; ever</p>")
      === "don’t stop – ever")
    assert(extract("<p>say &#X201C;hey&#X201D; now</p>")
      === "say “hey” now")
    // one-level exactness in both directions
    assert(extract("<p>a &#38;lt; b literal</p>") === "a &lt; b literal")
    assert(extract("<p>a &amp;#60; b literal</p>") === "a &#60; b literal")
    // ascii + 2-byte + 3-byte UTF-8 arms
    assert(extract("<p>x &#65; &#233; &#8364; y</p>") === "x A é € y")
    // invalid codepoints keep their original text: zero, surrogate,
    // astral (out of BMP scope), over-long digit run (never matched)
    assert(extract("<p>a &#0; &#xD800; &#150000; &#99999999; z</p>")
      === "a &#0; &#xD800; &#150000; &#99999999; z")
    // markers can't be forged: raw control chars strip before marking
    assert(extract("<p>a \u00018217\u0002 b c</p>") === "a 8217 b c")
  }

  test("randomized round-trip: encoding any valid BMP scalar as a dec or " +
      "hex reference decodes back to the exact character") {
    val rnd = new scala.util.Random(4242L)
    val cps = (1 to 60).map { _ =>
      var cp = 0
      while (cp == 0 || (cp >= 0xD800 && cp <= 0xDFFF) ||
        Character.isWhitespace(cp) || cp == 0x1 || cp == 0x2)
        cp = 1 + rnd.nextInt(0xFFFF)
      cp
    }
    val rows = cps.zipWithIndex.map { case (cp, i) =>
      val ref = rnd.nextInt(3) match {
        case 0 => s"&#$cp;"
        case 1 => s"&#x${Integer.toHexString(cp)};"
        case 2 => s"&#X${Integer.toHexString(cp).toUpperCase};"
      }
      (i.toLong, s"<p>pre $ref post tail</p>", cp)
    }
    val got = rows.map(r => (r._1, r._2)).toDF("id", "h")
      .select(col("id"), HtmlOps.extractText(col("h")).as("t"))
      .as[(Long, String)].collect().toMap
    rows.foreach { case (id, _, cp) =>
      val expected = s"pre ${new String(Character.toChars(cp))} post tail"
      assert(got(id) === expected, s"cp=U+${Integer.toHexString(cp)}")
    }
  }

  test("robotsDirectives: quote styles, attribute order, name traps, " +
       "word boundaries") {
    val cases = Seq(
      // plain double-quoted, both directives
      ("""<meta name="robots" content="noindex, nofollow">""",
        (true, true, false)),
      // upper case, single quotes, reversed attribute order
      ("""<META CONTENT='NOARCHIVE' NAME='ROBOTS'>""",
        (false, false, true)),
      // unquoted name attribute
      ("""<meta name=robots content="noindex">""", (true, false, false)),
      // description tag mentioning directives must not trip the gate
      ("""<meta name="description" content="noindex nofollow noarchive">""",
        (false, false, false)),
      // index/follow never read as their negations (word boundaries)
      ("""<meta name="robots" content="index, follow, archive">""",
        (false, false, false)),
      // directive in a NON-content attribute of a robots tag: no opt-out
      ("""<meta name="robots" content="all" data-note="noindex">""",
        (false, false, false)),
      // data-name is not a name attribute (RE2-safe boundary, no lookbehind)
      ("""<meta data-name="robots" content="noindex">""",
        (false, false, false)),
      // unquoted content value
      ("""<meta name=robots content=noindex,nofollow>""", (true, true, false)),
      // two robots tags union their directives
      ("""<meta name="robots" content="noindex">""" +
        """<meta name="robots" content="nofollow">""", (true, true, false)),
      // no meta at all
      ("<html><body><p>text</p></body></html>", (false, false, false)))
    val df = cases.zipWithIndex
      .map { case ((h, _), i) => (i.toLong, s"<html><head>$h</head></html>") }
      .toDF("id", "h")
    val sigs = HtmlOps.robotsDirectives(col("h"))
    val got = df.select(col("id") +: sigs.map { case (n, c) => c.as(n) }: _*)
      .as[(Long, Boolean, Boolean, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    cases.zipWithIndex.foreach { case ((h, want), i) =>
      assert(got(i.toLong) === want, s"case $i: $h")
    }
  }

  test("readabilitySignals: hand-checked counts and grade") {
    // "the cat sat. it ran away! done?" → 7 words, 3 sentences,
    // syllables: the(1) cat(1) sat.(1) it(1) ran(1) away!(2: a, ay) done?(2: o, e)
    val r = Seq("the cat sat. it ran away! done?").toDF("t")
      .select(TextOps.readabilitySignals(col("t"))
        .map { case (n, c) => c.as(n) }: _*)
      .as[(Long, Long, Long, Double)].head()
    assert(r._1 === 7L && r._2 === 3L && r._3 === 9L)
    val grade = 0.39 * (7.0 / 3) + 11.8 * (9.0 / 7) - 15.59
    assert(r._4 === grade)
    // vowel-less tokens still count one syllable; no punctuation → 1 sentence
    val z = Seq("hmm pfft").toDF("t")
      .select(TextOps.readabilitySignals(col("t"))
        .map { case (n, c) => c.as(n) }: _*)
      .as[(Long, Long, Long, Double)].head()
    assert(z === ((2L, 1L, 2L, 0.39 * 2 + 11.8 * (2.0 / 2) - 15.59)))
  }
}

object HtmlOpsSpec {
  /** Driver-side Java model of the FULL entity-decode chain (marker
    * fencing, named replaces with `&amp;` last, numeric decode with
    * invalid-reference reconstruction) — mirrors HtmlOps.decodeEntities
    * step for step so the randomized page test covers the interaction
    * cases. */
  def decodeModel(s0: String): String = {
    val marked = s0.replaceAll("[\\u0001\\u0002]", "")
      .replaceAll(HtmlOps.DecRefPattern, "\u0001$1\u0002")
      .replaceAll(HtmlOps.HexRefPattern, "\u0001$1\u0002")
    val named = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(marked) { case (acc, (f, t)) => acc.replace(f, t) }
    val pieces = named.split("\u0001", -1)
    pieces.head + pieces.tail.map { p =>
      val parts = p.split("\u0002", 2)
      val num = parts(0)
      val tail = if (parts.length > 1) parts(1) else ""
      val cp =
        if (num.headOption.exists(c => c == 'x' || c == 'X'))
          java.lang.Long.parseLong(num.drop(1).toLowerCase, 16)
        else num.toLong
      val valid = cp >= 1 && cp <= 0xFFFF && !(cp >= 0xD800 && cp <= 0xDFFF)
      (if (valid) new String(Character.toChars(cp.toInt)) else s"&#$num;") + tail
    }.mkString
  }
}
