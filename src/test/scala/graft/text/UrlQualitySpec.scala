package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[UrlOps]] canonicalization/dedup + the round-8 TextOps additions
  * ([[TextOps.scriptProfile]], [[TextOps.gopherSignals]]). */
class UrlQualitySpec extends SparkSpec {
  import spark.implicits._

  test("canonicalizeUrl: case, ports, www, fragments, tracking params") {
    val cases = Seq(
      // scheme+host lowercase, www and default port stripped, fragment cut
      "HTTP://WWW.Example.COM:80/A/B#frag" -> "http://example.com/A/B",
      // https default port; params sorted; utm_/gclid dropped
      "https://example.com:443/x?b=2&utm_source=f&a=1&gclid=z" ->
        "https://example.com/x?a=1&b=2",
      // NON-default port kept (443 on http is not the scheme default)
      "http://example.com:443/x" -> "http://example.com:443/x",
      // trailing slash trimmed on non-root, kept on root
      "http://example.com/path/" -> "http://example.com/path",
      "http://example.com/" -> "http://example.com/",
      // empty query after tracking-drop: no dangling '?'
      "http://example.com/x?utm_campaign=c" -> "http://example.com/x",
      // bare tracking param without '=' also dropped; 'refresh' is NOT
      // a prefix match for 'ref'
      "http://example.com/x?ref&refresh=1" -> "http://example.com/x?refresh=1",
      // path case preserved (paths are case-sensitive per RFC 3986)
      "http://example.com/CaseSensitive" -> "http://example.com/CaseSensitive",
      // non-URL passes through trimmed
      "  not a url  " -> "not a url")
    val out = cases.map(_._1).toDF("url")
      .select(UrlOps.canonicalizeUrl(col("url")).as("c")).as[String].collect()
    out.zip(cases).foreach { case (got, (in, want)) =>
      assert(got === want, s"input $in")
    }
  }

  test("canonicalizeUrl is idempotent and produces invariant-clean keys") {
    // seeded pseudo-random messy URLs: every combination of case, www,
    // port, params (tracking/plain/empty/bare), trailing slash, fragment
    val rnd = new scala.util.Random(7)
    val schemes = Seq("http://", "https://", "HTTP://", "HtTpS://")
    val hosts = Seq("www.Ex.COM", "ex.com", "WWW.ex.com", "a.b.ex.com")
    val ports = Seq("", ":80", ":443", ":8080")
    val paths = Seq("", "/", "/A/b", "/A/b/", "/x%20y")
    val queries = Seq("", "?a=1", "?b=2&a=1", "?utm_s=1", "?ref&z=9",
      "?gclid=x&a=1&a=0")
    val frags = Seq("", "#f", "#a/b?c")
    val urls = (1 to 300).map { _ =>
      schemes(rnd.nextInt(schemes.size)) + hosts(rnd.nextInt(hosts.size)) +
        ports(rnd.nextInt(ports.size)) + paths(rnd.nextInt(paths.size)) +
        queries(rnd.nextInt(queries.size)) + frags(rnd.nextInt(frags.size))
    }
    val once = urls.toDF("url")
      .select(UrlOps.canonicalizeUrl(col("url")).as("c")).as[String].collect()
    val twice = once.toSeq.toDF("c")
      .select(UrlOps.canonicalizeUrl(col("c")).as("c2")).as[String].collect()
    once.zip(twice).foreach { case (a, b) => assert(a === b, "not a fixed point") }
    once.foreach { c =>
      assert(!c.contains("#"), c)
      assert(!c.contains("utm_") && !c.contains("gclid"), c)
      assert(!c.contains("://www."), c)
      // no scheme-DEFAULT port survives (non-defaults like http://..:443
      // and :8080 legitimately do)
      assert(!c.matches("^http://[^/?#]*:80([/?].*)?$"), c)
      assert(!c.matches("^https://[^/?#]*:443([/?].*)?$"), c)
      // kept params are sorted
      val qi = c.indexOf('?')
      if (qi >= 0) {
        val ps = c.substring(qi + 1).split("&").toSeq
        assert(ps === ps.sorted, c)
      }
    }
  }

  test("urlDedupe collapses canonical twins to min-id keeper") {
    val docs = Seq(
      (1L, "http://www.a.com/p?utm_x=1"),
      (2L, "HTTP://A.COM:80/p"),
      (3L, "https://a.com/p"), // different scheme — different key
      (4L, "http://a.com/p#s")).toDF("doc_id", "url")
    val out = UrlOps.urlDedupe(docs, "url", "doc_id")
      .as[(String, Long, Long)].collect().sortBy(_._1)
    assert(out === Array(
      ("http://a.com/p", 1L, 3L),
      ("https://a.com/p", 3L, 1L)))
  }

  test("scriptProfile counts scripts and picks a deterministic dominant") {
    val sigs = TextOps.scriptProfile(col("t"))
    val df = Seq(
      ("latin mostly здесь", "latin"), // latin wins on count
      ("中文测试", "han"),
      ("привет мир", "cyrillic"),
      ("مرحبا", "arabic"),
      ("12345 !!!", "none") // no script chars at all
    ).toDF("t", "want")
    val out = df.select(col("want") +: sigs.map { case (n, c) => c.as(n) }: _*)
      .collect()
    out.foreach { r =>
      assert(r.getAs[String]("dominant") === r.getAs[String]("want"),
        r.toString)
    }
    // exact counts on the mixed row
    val m = df.where(col("want") === "latin")
      .select(sigs.map { case (n, c) => c.as(n) }: _*).collect()(0)
    assert(m.getAs[Long]("n_latin") === 11L)
    assert(m.getAs[Long]("n_cyrillic") === 5L)
    assert(m.getAs[Long]("n_space") === 2L)
  }

  test("gopherSignals matches a driver-side reference model on random docs") {
    val stop = Seq("the", "a", "of", "and", "to")
    val vocab = Seq("the", "a", "of", "and", "to", "alpha", "beta", "gamma",
      "###", "x", "12", "3456", "räksmörgås", "...", "word...", "- item")
    val rnd = new scala.util.Random(11)
    val docs = (1L to 120L).map { i =>
      // every line carries ≥1 token: empty docs tokenize differently in
      // the two models ([""] vs []) and are covered by the violator test
      val lines = (0 to rnd.nextInt(4)).map { _ =>
        (0 to rnd.nextInt(28)).map(_ => vocab(rnd.nextInt(vocab.size)))
          .mkString(" ")
      }
      (i, lines.mkString("\n"))
    }
    def model(text: String): (Boolean, Boolean, Boolean, Boolean) = {
      val toks = text.trim.split("\\s+").filter(_.nonEmpty).toSeq
      val n = toks.size
      val meanLen = if (n == 0) Double.NaN else toks.map(_.length).sum.toDouble / n
      val symbols = "#".r.findAllIn(text).size +
        "(\\.\\.\\.|…)".r.findAllIn(text).size
      val alpha = toks.count(_.exists(_.isLetter))
      (n >= 20 && n <= 100000,
        meanLen >= 3.0 && meanLen <= 10.0,
        symbols.toDouble / n < 0.1,
        alpha.toDouble / math.max(n, 1) >= 0.8)
    }
    val sigs = TextOps.gopherSignals(col("text"), stop, minWords = 20)
    val got = docs.toDF("doc_id", "text")
      .select(col("doc_id") +: sigs.map { case (nm, c) => c.as(nm) }: _*)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("ok_word_count"), r.getAs[Boolean]("ok_mean_word_len"),
          r.getAs[Boolean]("ok_symbol_ratio"), r.getAs[Boolean]("ok_alpha_words")))
      .toMap
    docs.foreach { case (id, text) =>
      assert(got(id) === model(text), s"doc $id: ${text.take(80)}")
    }
  }

  test("gopherSignals: each rule fires on its designed violator") {
    val stop = Seq("the", "a", "of", "and", "to")
    val okDoc = ("the quick brown fox jumps over a lazy dog and runs to " +
      "the river bank where the water flows past stones and reeds") // 24 words
    val rows = Seq(
      1L -> okDoc,
      2L -> "too short to pass", // word count
      3L -> okDoc.replaceAll("\\b\\w+\\b", "xx"), // mean len < 3, no stopwords
      4L -> (okDoc + " " + Seq.fill(10)("###").mkString(" ")), // symbols
      5L -> (1 to 25).map(i => s"- bullet item $i the a of").mkString("\n"),
      6L -> ((1 to 25).map(_ => "the and of to a item line...").mkString("\n")),
      7L -> (okDoc.split(" ").map(_ => "123 456").mkString(" ")) // no alpha
    ).toDF("doc_id", "text")
    val sigs = TextOps.gopherSignals(col("text"), stop, minWords = 20)
    val out = rows.select(col("doc_id") +: sigs.map { case (n, c) => c.as(n) }: _*)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Boolean]("keep"))
    assert(!out(2L).getAs[Boolean]("ok_word_count"))
    assert(!out(3L).getAs[Boolean]("ok_mean_word_len"))
    assert(!out(3L).getAs[Boolean]("ok_stopwords"))
    assert(!out(4L).getAs[Boolean]("ok_symbol_ratio"))
    assert(!out(5L).getAs[Boolean]("ok_bullet_lines"))
    assert(!out(6L).getAs[Boolean]("ok_ellipsis_lines"))
    assert(!out(7L).getAs[Boolean]("ok_alpha_words"))
    assert(out.values.count(r => !r.getAs[Boolean]("keep")) === 6)
  }

  test("collocations: hand-checked lift on adjacent pairs; bigrams stay per-doc") {
    // "a b" appears 3 times; "b a" twice; doc boundary must NOT pair
    // (doc1 ends in b, doc2 starts with a)
    val docs = Seq((1L, "a b a b"), (2L, "a b x"), (3L, "x y"))
      .toDF("id", "text")
    val out = TextOps.collocations(docs, "text", "id", minCount = 2L)
      .as[(String, String, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    // tokens: a=3 b=3 x=2 y=1, N=9; "a b": n_xy=3 → lift = 3·9/(3·3) = 3
    assert(out(("a", "b")) === (("a", "b", 3L, 3L, 3L, 3.0)))
    assert(!out.contains(("b", "a")), "b,a occurs once — below minCount")
    assert(!out.contains(("b", "x")), "cross-doc boundary must not pair")
  }

  test("collocations: an empty corpus (no docs, or no tokens) yields no pairs") {
    // the token total is a sum over zero unigrams there: it must read 0,
    // not null, rather than rely on the pair side being empty too
    val none = Seq.empty[(Long, String)].toDF("id", "text")
    val blank = Seq((1L, ""), (2L, "   ")).toDF("id", "text")
    Seq(none, blank).foreach { docs =>
      assert(TextOps.collocations(docs, "text", "id", minCount = 1L).collect().isEmpty)
    }
  }

  test("chiSquareTokens: exact contingency halves on a hand-checked fixture") {
    // 2 positive docs, 2 negative. "hot" in both positives only;
    // "cold" in both negatives only; "both" everywhere (degenerate —
    // must drop); "dup hot" repeats within a doc (presence counts once)
    val docs = Seq(
      (1L, "hot both hot", true), (2L, "hot both", true),
      (3L, "cold both", false), (4L, "cold both cold", false)
    ).toDF("id", "text", "lbl")
    val out = TextOps.chiSquareTokens(docs, "text", "id", "lbl")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // hot: a=2 b=0 c=0 d=2, N=4: num = 4·(2·2 − 0)² = 64;
    // den = (a+b)(c+d)(a+c)(b+d) = 2·2·2·2 = 16 → χ² = 4 (perfect)
    assert(out("hot") === (("hot", 2L, 0L, 64L, 16L)))
    assert(out("cold") === (("cold", 0L, 2L, 64L, 16L)))
    assert(!out.contains("both"), "all-docs token is degenerate")
    // χ² ranks the perfect discriminators at 4.0 exactly
    assert(out("hot")._4.toDouble / out("hot")._5 === 4.0)
  }

  test("blocklistHits: word boundaries, case, adjacency, multiplicity") {
    val docs = Seq(
      1L -> "Ban Word here",        // case-insensitive 2-token match
      2L -> "banword",              // joined — no boundary, no match
      3L -> "ban-word!",            // punctuation separators DO match
      4L -> "ban the word",         // tokens not adjacent — no match
      5L -> "sparked",              // substring must NOT match 'spark'
      6L -> "spark ban word spark", // two phrases; 'spark' twice = once
      7L -> "word ban",             // order matters
      8L -> ""                      // empty text
    ).toDF("id", "text")
    val phrases = Seq("ban word", "spark")
    val hits = TextOps.blocklistHits(docs, "text", "id", phrases)
      .as[(Long, String)].collect().toSet
    assert(hits === Set(1L -> "ban word", 3L -> "ban word",
      6L -> "ban word", 6L -> "spark"))
    val verdict = TextOps.blocklistVerdict(docs, "text", "id", phrases)
      .select("id", "n_blocked", "first_phrase", "blocked")
      .as[(Long, Long, Option[String], Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(verdict(6L) === ((6L, 2L, Some("ban word"), true)))
    assert(verdict(2L) === ((2L, 0L, None, false)))
    assert(verdict(8L) === ((8L, 0L, None, false)))
    assert(verdict.size === 8, "every doc keeps an audit row")
    // phrase at the very start and very end of the text
    val edges = TextOps.blocklistHits(
      Seq(9L -> "ban word x", 10L -> "x ban word").toDF("id", "text"),
      "text", "id", Seq("ban word")).as[(Long, String)].collect()
    assert(edges.map(_._1).toSet === Set(9L, 10L))
    // null text → clean audit row, no crash
    val nullRow = TextOps.blocklistVerdict(
      Seq((11L, null: String)).toDF("id", "text"), "text", "id", phrases)
      .select("id", "n_blocked", "blocked")
      .as[(Long, Long, Boolean)].collect()
    assert(nullRow === Array((11L, 0L, false)))
  }

  test("mojibakeSignals: counts the real mis-decode byte images") {
    def sig(s: String): (Long, Long, Long) =
      Seq(s).toDF("t")
        .select(TextOps.mojibakeSignals(col("t"))
          .map { case (n, c) => c.as(n) }: _*)
        .as[(Long, Long, Long)].head()
    // explicit code points so no editor can mangle the fixtures:
    // e-acute -> C3 A9, i-diaeresis -> C3 AF, nbsp -> C2 A0
    assert(sig("Caf\u00C3\u00A9 na\u00C3\u00AFve x\u00C2\u00A0y")
      === ((3L, 0L, 0L)))
    // curly apostrophe -> E2 80 99, left quote -> E2 80 9C,
    // right quote -> E2 80 9D (third char lands on U+2122/U+0153/U+009D)
    assert(sig("it\u00E2\u20AC\u2122s \u00E2\u20AC\u0153q\u00E2\u20AC\u009D")
      === ((0L, 3L, 0L)))
    // replacement chars count by length-diff, one per occurrence
    assert(sig("a\uFFFDb\uFFFD\uFFFDc") === ((0L, 0L, 3L)))
    // clean ASCII and LEGIT accented text (e-acute as itself) score zero
    assert(sig("plain ascii words") === ((0L, 0L, 0L)))
    assert(sig("caf\u00E9 na\u00EFve r\u00E9sum\u00E9") === ((0L, 0L, 0L)))
    // adjacent signatures don't swallow each other (non-overlapping scan)
    assert(sig("\u00C3\u00A9\u00C3\u00A9\u00C3\u00A9") === ((3L, 0L, 0L)))
  }

  test("urlHost: lowercase, port/userinfo/trailing-dot stripped, www kept, " +
       "non-URL empty") {
    val r = Seq("HTTP://WWW.Ex.COM:80/a", "https://ex.com:8443/x?q=1",
        "http://a.b.ex.com#f", "not a url",
        // evasion forms a compliance gate must normalize away:
        "http://user:pw@Evil.COM:8080/x", "https://evil.com./x",
        // WHATWG: host is after the LAST '@' of the authority — a
        // multi-'@' userinfo must not leave an '@' in the key …
        "http://a@b@Evil.com/x", "http://x@y:1@evil.com.:443/p",
        // … and a host-SHAPED userinfo must not shadow the real host
        "https://evil.com@innocent.org/y")
      .toDF("u").select(UrlOps.urlHost(col("u"))).as[String].collect().toSeq
    assert(r === Seq("www.ex.com", "ex.com", "a.b.ex.com", "",
      "evil.com", "evil.com", "evil.com", "evil.com", "innocent.org"))
  }

  test("null-URL contracts: canonicalizeUrl(NULL) is NULL, urlDedupe " +
       "groups null-canon rows once, urlHost(NULL) never matches") {
    // the URL-keyed family's null contract (the q220/q25 class): a NULL
    // url canonicalizes to NULL on Spark; Spark's groupBy puts all NULL
    // keys in ONE group (same as SQL GROUP BY), so null-URL rows form a
    // single collapse group with the min id as keeper — never dropped,
    // never one-group-per-row
    val docs = Seq(
      (1L, Option("http://ex.com/a")),
      (2L, Option("http://ex.com:80/a?utm_source=x")), // canon twin of 1
      (3L, Option.empty[String]),
      (4L, Option.empty[String]),
      (5L, Option("not a url at all"))
    ).toDF("doc_id", "url")
    val canon = docs
      .select(col("doc_id"), UrlOps.canonicalizeUrl(col("url")).as("c"))
      .as[(Long, Option[String])].collect().toMap
    assert(canon(3L).isEmpty && canon(4L).isEmpty, "NULL url → NULL canon")
    assert(canon(5L) === Some("not a url at all"), "non-URL passes through")
    assert(canon(1L) === canon(2L) && canon(1L).nonEmpty)
    val dedup = UrlOps.urlDedupe(docs, "url", "doc_id")
      .as[(Option[String], Long, Long)].collect()
    // groups: ex.com canon (keeper 1, n 2), NULL (keeper 3, n 2), non-URL
    assert(dedup.length === 3)
    val nullGroup = dedup.filter(_._1.isEmpty)
    assert(nullGroup.toSeq === Seq((None, 3L, 2L)),
      "all NULL canons form ONE group, min-id keeper")
    // and the blocklist gate: a NULL url is blocked=false, never NULL
    val gate = UrlOps.domainBlocklistFilter(docs, "url", "doc_id",
        Seq("ex.com").toDF("pattern"), "pattern")
      .select(col("doc_id"), col("blocked"))
      .as[(Long, Boolean)].collect().toMap
    assert(gate(3L) === false && gate(4L) === false && gate(1L) === true)
  }

  test("domainBlocklistFilter: multi-'@' authority cannot evade the gate") {
    val docs = Seq(
      (1L, "http://a@b@evil.com/x"),          // ADVICE evasion form
      (2L, "http://u@p:w@evil.com.:80/x"),    // + port + trailing dot
      (3L, "https://evil.com@clean.org/y")    // userinfo is NOT the host
    ).toDF("doc_id", "url")
    val bl = Seq("evil.com").toDF("pattern")
    val r = UrlOps.domainBlocklistFilter(docs, "url", "doc_id", bl, "pattern")
      .orderBy(col("doc_id"))
      .select(col("doc_id"), col("blocked")).as[(Long, Boolean)].collect().toSeq
    assert(r === Seq(1L -> true, 2L -> true, 3L -> false))
  }

  test("domainBlocklistFilter: label-boundary suffixes, depth, no substring traps") {
    val docs = Seq(
      (1L, "http://a.b.example.com/x"),     // subtree of example.com
      (2L, "http://example.com/x"),         // the domain itself
      (3L, "http://notexample.com/x"),      // substring, NOT a suffix
      (4L, "https://www.deep.org:443/x"),   // www-specific pattern hits
      (5L, "https://deep.org/x"),           // bare form NOT hit by www. pattern
      (6L, "no url here"),                  // empty host never matches
      (7L, "http://u:p@example.com/x"),     // userinfo must not evade the gate
      (8L, "http://example.com./x")         // nor the trailing-dot FQDN form
    ).toDF("doc_id", "url")
    val bl = Seq("example.com", "www.deep.org", "  UNUSED.NET  ", "")
      .toDF("pattern")
    val r = UrlOps.domainBlocklistFilter(docs, "url", "doc_id", bl, "pattern")
      .orderBy(col("doc_id"))
      .select(col("doc_id"), col("blocked")).as[(Long, Boolean)].collect().toSeq
    assert(r === Seq(1L -> true, 2L -> true, 3L -> false, 4L -> true,
      5L -> false, 6L -> false, 7L -> true, 8L -> true))
    // rows and columns pass through: audit form keeps every input row
    val out = UrlOps.domainBlocklistFilter(docs, "url", "doc_id", bl, "pattern")
    assert(out.count() === 8 && out.columns.toSeq === Seq("doc_id", "url", "blocked"))
    // reserved output column is a loud error, not a silent overwrite
    val clash = docs.withColumn("blocked", lit(true))
    assertThrows[IllegalArgumentException] {
      UrlOps.domainBlocklistFilter(clash, "url", "doc_id", bl, "pattern")
    }
  }
}
