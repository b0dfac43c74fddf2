package graft

import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, HashKernels}
import graft.operators.TextOps

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("tokenCount: whitespace semantics with empty and messy input") {
    val df = Seq("hello world", "  padded   out  ", "", "   ", "one").toDF("text")
      .select(TextOps.tokenCount(col("text")).as("n"))
    assert(df.as[Int].collect().sameElements(Array(2, 2, 0, 0, 1)))
  }

  test("bpeTokenCount: letter runs, digit runs, punctuation pieces") {
    val df = Seq(("hello world 42 foo-bar", 0)).toDF("text", "x")
      .select(TextOps.bpeTokenCount(col("text")).as("n"))
    // hello|world|42|foo|-|bar = 6 (matches DuckDB regexp_extract_all)
    assert(df.as[Int].collect().head == 6)
  }

  test("chunkByTokens: stride windows with overlap, short tails, empty drop") {
    val df = Seq((1L, "t0 t1 t2 t3 t4"), (2L, "solo"), (3L, "   ")).toDF("doc_id", "text")
    val got = TextOps.chunkByTokens(df, "doc_id", "text", width = 3, step = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> (r.getInt(2), r.getString(3))).toMap
    assert(got == Map(
      (1L, 0) -> (3, "t0 t1 t2"),
      (1L, 1) -> (3, "t2 t3 t4"),
      (1L, 2) -> (1, "t4"),
      (2L, 0) -> (1, "solo")))
    // overlap: consecutive chunks share width - step tokens
    assert(got((1L, 0))._2.split(" ").last == got((1L, 1))._2.split(" ").head)
  }

  test("qualityScore: bounded [0,1], zero for empty, higher for diverse text") {
    val rows = Seq(
      "",
      "spam spam spam spam spam spam spam spam",
      "the quick brown fox jumps over a lazy dog and then it runs away to the hills"
    ).toDF("text").select(TextOps.qualityScore(col("text")).as("q")).as[Double].collect()
    assert(rows(0) == 0.0)
    assert(rows.forall(q => q >= 0.0 && q <= 1.0))
    assert(rows(2) > rows(1))
  }

  test("langId: real multilingual fixtures route to the right profile") {
    val fixtures = Seq(
      ("the cat sat on the mat and it is a fine day for the walk", "en"),
      ("el gato se sienta en la alfombra y la casa es un lugar", "es"),
      ("le chat est sur le tapis et les jours du printemps", "fr"),
      ("der hund und die katze sind in den garten mit der sonne", "de"),
      ("你好世界这是一个中文测试文本需要足够长", "zh"),
      ("xyzzy plugh qwerty", "und"))
    val got = fixtures.map(_._1).toDF("text")
      .select(TextOps.langId(col("text")).as("p")).as[String].collect().toSeq
    assert(got == fixtures.map(_._2))
  }

  test("fingerprint: deterministic FNV-1a, content-sensitive") {
    val got = Seq("abc", "abc", "abd").toDF("text")
      .select(TextOps.fingerprint(col("text")).as("f")).as[Long].collect()
    assert(got(0) == got(1) && got(0) != got(2))
    // pin the constant so accidental kernel changes fail loudly
    assert(got(0) == HashKernels.fnv1a(
      org.apache.spark.unsafe.types.UTF8String.fromString("abc")))
  }

  test("repetitionStats: exact distinct/total gram arithmetic") {
    val docs = Seq(
      (1L, "a b c a b c a b c"),    // 9 toks → 7 3-grams, 3 distinct
      (2L, "w x y z"),              // 4 toks → 2 3-grams, both distinct
      (3L, ""),                     // degenerate: single empty gram
      (4L, "one two")               // < k tokens: whole text is the gram
    ).toDF("doc_id", "text")
    val out = TextOps.repetitionStats(docs, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getDouble(3))).toMap
    assert(out(1L) == ((7, 3, 1.0 - 3.0 / 7.0)))
    assert(out(2L) == ((2, 2, 0.0)))
    assert(out(3L) == ((1, 1, 0.0)))
    assert(out(4L) == ((1, 1, 0.0)))
  }

  test("contamination: planted benchmark overlap is counted exactly") {
    val benchText = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (0L, benchText),                                    // the benchmark doc
      (1L, benchText),                                    // fully contaminated copy
      (2L, "alpha beta gamma delta epsilon other words here now"), // partial overlap
      (3L, "nothing in common with that benchmark document at all")
    ).toDF("doc_id", "text")
    val out = TextOps.contamination(docs, "doc_id", "text",
      benchFilter = col("doc_id") === 0, k = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(!out.contains(0L)) // benchmark docs are excluded from scoring
    assert(out(1L) == ((4L, 4L, 1.0))) // 8 toks → 4 5-grams, all benchmark grams
    // doc 2: 9 toks → 5 distinct 5-grams, exactly one ("alpha ... epsilon") in benchmark
    assert(out(2L) == ((5L, 1L, 0.2)))
    assert(out(3L)._2 == 0L && out(3L)._3 == 0.0)
  }

  test("redactPii: emails and IPv4 replaced with placeholders, counts exact") {
    val docs = Seq(
      (1L, "contact alice.smith+spam@example.co.uk or bob@test.org today"),
      (2L, "server at 10.0.0.1 talks to 192.168.255.254 nightly"),
      (3L, "mixed: eve@corp.io from 172.16.4.20 logged in"),
      (4L, "clean text with no identifiers at all")
    ).toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
      TextOps.piiEmailCount(col("text")).as("e"),
      TextOps.piiIpCount(col("text")).as("i"),
      TextOps.redactPii(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    assert(out(1L)._1 == 2 && out(1L)._2 == 0)
    assert(out(1L)._3 == "contact [EMAIL] or [EMAIL] today")
    assert(out(2L) == ((0, 2, "server at [IP] talks to [IP] nightly")))
    assert(out(3L) == ((1, 1, "mixed: [EMAIL] from [IP] logged in")))
    assert(out(4L) == ((0, 0, "clean text with no identifiers at all")))
  }

  test("simhash: near-identical docs within small hamming distance, unrelated far") {
    val a = "the quick brown fox jumps over the lazy dog near the river bank today"
    val b = a.replace("today", "tonight") // one token changed
    val c = "completely different words about database engines and vectorized execution plans"
    val hs = Seq(a, b, c).toDF("text")
      .select(GraftFunctions.simhash64(TextOps.tokens(col("text"))).as("h"))
      .as[Long].collect()
    assert(java.lang.Long.bitCount(hs(0) ^ hs(1)) <= 12)
    assert(java.lang.Long.bitCount(hs(0) ^ hs(2)) > 12)
  }
  private def extract(html: String): String = {
    import spark.implicits._
    Seq(html).toDF("h").select(TextOps.htmlText(col("h"))).as[String].collect().head
  }

  test("htmlText: tags strip, blocks segment, inline tags space-join") {
    assert(extract("<html><body><h1>Title</h1><p>one <b>two</b> three</p>" +
      "<div>four</div></body></html>") == "Title\none two three\nfour")
    // inline tag replacement is a SPACE, never a word-join
    assert(extract("a<b>c</b>d") == "a c d")
    // attribute-bearing and uppercase tags strip the same way
    assert(extract("<P CLASS=\"lead\" data-x='1'>para</P>") == "para")
  }

  test("htmlText: script/style/comment bodies are dropped, closed or not") {
    assert(extract("<script>var x = \"<p>leak</p>\";</script>kept") == "kept")
    assert(extract("<style>p { color: red }</style>kept") == "kept")
    assert(extract("<!-- secret -->kept") == "kept")
    // unclosed raw-text elements swallow to end of input (HTML5 rule)
    assert(extract("kept<script>leak() forever") == "kept")
    assert(extract("kept<style>p{") == "kept")
    assert(extract("kept<!-- dangling") == "kept")
    // case-insensitive, attribute-bearing openers
    assert(extract("<SCRIPT type=\"text/javascript\">leak</SCRIPT>kept") == "kept")
  }

  test("htmlText: entity subset decodes after tag removal; others stay literal") {
    // entity-encoded markup is CONTENT, not markup
    assert(extract("<p>&lt;b&gt;not a tag&lt;/b&gt;</p>") == "<b>not a tag</b>")
    assert(extract("a &amp; b &#38; c") == "a & b & c")
    assert(extract("&quot;q&quot; &#39;a&#39; x&nbsp;y") == "\"q\" 'a' x y")
    // amp-producing decodes run LAST as one global pass: output is
    // never re-scanned, for any spelling or their concatenation
    assert(extract("&amp;lt;") == "&lt;")
    assert(extract("&#38;amp;") == "&amp;")
    assert(extract("&amp;#38;") == "&#38;")
    assert(extract("&#x26;amp;") == "&amp;")
    assert(extract("&amp;#x26;") == "&#x26;")
    // hex spellings of the subset decode, case-insensitively in the
    // x and the digits (VERDICT r15 item 2)
    assert(extract("&#x3c;b&#x3E;hex&#X3c;/b&#X3E;") == "<b>hex</b>")
    assert(extract("&#x22;q&#x22; &#X27;a&#x27; x&#xA0;y &#xa0;z") ==
      "\"q\" 'a' x y z")
    assert(extract("a &#x26; b") == "a & b")
    // zero-padded numerics are outside the subset -> literal
    assert(extract("&#x03C; &#060;") == "&#x03C; &#060;")
    // numerics outside the subset's five -> literal (needs tables)
    assert(extract("&#x41; &#65;") == "&#x41; &#65;")
  }

  test("htmlText: pinned named Latin-1 entity subset (VERDICT r16 item 6)") {
    // the crawl-frequent names decode to their exact codepoints
    assert(extract("dash&mdash;here") == "dash—here")
    assert(extract("it&rsquo;s &ldquo;q&rdquo;") ==
      "it’s “q”")
    assert(extract("&copy; 2024 &reg; &trade;") ==
      "© 2024 ® ™")
    assert(extract("caf&eacute; na&ntilde;a stra&szlig;e") ==
      "café naña straße")
    assert(extract("&frac12; price &plusmn; 3&deg;") ==
      "½ price ± 3°")
    assert(extract("5&euro; &middot; 4&pound;") ==
      "5€ · 4£")
    // amp-shielded names stay literal: the amp pass runs LAST and its
    // output is never re-scanned (the standing no-redecode invariant)
    assert(extract("&amp;mdash;") == "&mdash;")
    assert(extract("&#38;copy;") == "&copy;")
    // names are case-sensitive, like the XML five
    assert(extract("&COPY; &MDASH;") == "&COPY; &MDASH;")
    // names outside the pinned table stay literal
    assert(extract("&zwnj; &oelig; &alpha;") == "&zwnj; &oelig; &alpha;")
    // every table entry decodes (the table is the spec, end to end)
    TextOps.namedEntities.foreach { case (n, v) =>
      assert(extract(s"x &$n; y") == s"x $v y", s"entity &$n;")
    }
  }

  test("htmlText: nested/unclosed tags and degenerate '<'-only text") {
    // unclosed inline element: the open tag strips, text survives
    assert(extract("<p>unclosed <em>emphasis</p>") == "unclosed emphasis")
    // a '<' never closed by '>' is literal text
    assert(extract("price < 100") == "price < 100")
    assert(extract("trailing <") == "trailing <")
    // a '<' WITH a later '>' is consumed as one (garbage) tag - the
    // documented chain semantics: deterministic, replayable, and the
    // price of no speculative parser
    assert(extract("a < b > c") == "a c")
    // nested blocks collapse to clean block-per-line output
    assert(extract("<div><ul><li> one </li><li>two</li></ul></div>") ==
      "one\ntwo")
  }

  test("htmlText: whitespace discipline") {
    assert(extract("  a\t\tb\r\n<p>  c  </p>\n\n") == "a b\nc")
    assert(extract("<br><br><br>") == "")
    assert(extract("") == "")
    assert(extract("   \t  ") == "")
  }

  test("stripBoilerplateLines: cross-doc frequent lines drop, order survives, empty doc keeps its row") {
    import spark.implicits._
    val docs = Seq(
      (1L, "BANNER\nunique one\nFOOTER"),
      (2L, "BANNER\nunique two\nFOOTER\nextra two"),
      (3L, "BANNER\nunique three\nFOOTER"),
      // doc 4 is ALL boilerplate - it must survive as an empty row
      (4L, "BANNER\nFOOTER"),
      // doc 5 repeats a line WITHIN itself: self-repetition is the
      // doc's own structure, docfreq counts it once
      (5L, "solo\nsolo\nunique five"),
      // doc 6: NULL text (a real crawl has null extractions) — must
      // surface as the empty doc, never vanish from the accounting
      (6L, null.asInstanceOf[String])).toDF("doc_id", "t")
    val out = TextOps.stripBoilerplateLines(docs, "doc_id", "t", maxDocFreq = 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("unique one", 1L, 2L)))
    assert(out(2L) == (("unique two\nextra two", 2L, 2L)), s"order must survive: ${out(2L)}")
    assert(out(3L) == (("unique three", 1L, 2L)))
    assert(out(4L) == (("", 0L, 2L)), s"all-boilerplate doc must keep its row: ${out(4L)}")
    assert(out(5L) == (("solo\nsolo\nunique five", 3L, 0L)),
      s"within-doc repetition is not boilerplate: ${out(5L)}")
    // the null-text doc reads as one "" line; with only one such doc its
    // docfreq is 1 <= cap, so it survives as the empty doc, counted kept
    assert(out(6L) == (("", 1L, 0L)),
      s"null text must surface as the empty doc, not vanish: ${out(6L)}")
  }

  test("urlHost / registrableDomain: ports, case, deep subdomains, degenerate input") {
    import spark.implicits._
    def run(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column, s: String): String =
      Seq(s).toDF("u").select(f(col("u"))).as[String].collect().head
    assert(run(TextOps.urlHost, "https://WWW.Example.COM/Path/Q?x=1") == "www.example.com")
    assert(run(TextOps.urlHost, "http://a.b.c.d:8080/x") == "a.b.c.d")
    assert(run(TextOps.urlHost, "ftp+ssh://host.io#frag") == "host.io")
    assert(run(TextOps.urlHost, "not a url") == "")
    assert(run(u => TextOps.registrableDomain(TextOps.urlHost(u)),
      "https://en.news.src3press.com/a") == "src3press.com")
    // userinfo is skipped, greedily to the LAST @ before the path
    // (WHATWG); an @ in the query never reaches the userinfo scan
    assert(run(TextOps.urlHost, "https://user:pw@Example.com/x") == "example.com")
    assert(run(TextOps.urlHost, "https://a@b@c.io/x") == "c.io")
    assert(run(TextOps.urlHost, "https://host.io/p?reply=a@b") == "host.io")
    assert(run(TextOps.urlHost, "https://user:pw@host.io:8080/x") == "host.io")
    // pinned ccSLD exceptions take three labels; generic TLDs take two
    assert(run(TextOps.registrableDomain, "deep.sub.example.co.uk") == "example.co.uk")
    assert(run(TextOps.registrableDomain, "www.shop.com.au") == "shop.com.au")
    assert(run(TextOps.registrableDomain, "coop.example.org") == "example.org")
    // a bare ccSLD has no registrable domain, like a single label
    assert(run(TextOps.registrableDomain, "co.uk") == "")
    assert(run(TextOps.registrableDomain, "localhost") == "")
    // FQDN trailing dots strip instead of poisoning the extract
    assert(run(TextOps.registrableDomain, "www.example.com.") == "example.com")
    assert(run(TextOps.registrableDomain, "sub.example.co.uk.") == "example.co.uk")
  }

  /** [[TextOps.domainLinkEdges]] over one page per `(markup, edges)`
    * case, page i at `https://p<i>.org/`: each page's edges must be the
    * case's dst → n_links map, with "self" for the page's own domain. */
  private def assertPageEdges(cases: (String, Map[String, Long])*): Unit = {
    import spark.implicits._
    val pages = cases.map(_._1).zipWithIndex
      .map { case (m, i) => (s"https://p$i.org/", m) }.toDF("url", "markup")
    val got = TextOps.domainLinkEdges(pages, "markup", "url").collect()
      .groupBy(_.getString(0)).map { case (src, rs) =>
        src -> rs.map(r =>
          (if (r.getString(1) == src) "self" else r.getString(1)) -> r.getLong(2)).toMap
      }
    cases.zipWithIndex.foreach { case ((m, want), i) =>
      assert(got.getOrElse(s"p$i.org", Map.empty) == want, m)
    }
  }

  test("domainLinkEdges: all three href quote styles, multiple and no-href anchors") {
    assertPageEdges(
      """<a href="https://x.com/a">a</a> <a href='b.html'>b</a>""" ->
        Map("x.com" -> 1L, "self" -> 1L),
      // unquoted values terminate at whitespace or '>'
      "<a href=https://u.com/p/q.html>r</a>" -> Map("u.com" -> 1L),
      "<a href=//v.com class=y>r</a>" -> Map("v.com" -> 1L),
      // case-insensitive tag/attr; attributes before href are skipped
      """<A CLASS='k' HREF='https://up.com/'>u</A>""" -> Map("up.com" -> 1L),
      // no-href anchors and non-anchor tags contribute nothing
      """<a name="x">t</a> <img src="https://i.com/i.png"> plain""" -> Map.empty,
      // an empty href extracts as "" and linkDomain classifies it away
      """<a href="">e</a>""" -> Map.empty,
      // multiple dq anchors in one document all extract
      """<a href="1">x</a><a href="2">y</a><a href="https://two.com/">z</a>""" ->
        Map("self" -> 2L, "two.com" -> 1L))
  }

  test("domainLinkEdges: rel=nofollow anchors drop in every quote style") {
    assertPageEdges(
      // all three rel quote styles, rel before or after href
      "<a rel=nofollow href=https://a.com/q.html>r</a>" -> Map.empty,
      """<a rel='nofollow' href='https://b.com/'>r</a>""" -> Map.empty,
      """<a rel="nofollow" href="https://c.com/">r</a>""" -> Map.empty,
      """<a href="https://d.com/" rel="nofollow">r</a>""" -> Map.empty,
      // multi-token rel values still count as nofollow
      """<a rel="nofollow sponsored" href="/s">r</a>""" -> Map.empty,
      """<a rel="noopener nofollow" href="/o">r</a>""" -> Map.empty,
      // a followed sibling anchor is untouched by the strip
      """<a rel=nofollow href="https://no.com/">n</a><a href="https://yes.com/">y</a>""" ->
        Map("yes.com" -> 1L),
      // rel values WITHOUT nofollow keep their href
      """<a rel="noopener" href="https://ok.com/">r</a>""" -> Map("ok.com" -> 1L),
      "<a rel=author href=/a>r</a>" -> Map("self" -> 1L))
  }

  test("baseHrefDomain: first base tag's host, else null; relative bases ignored") {
    import spark.implicits._
    def base(m: String): Option[String] =
      Seq(m).toDF("m").select(TextOps.baseHrefDomain(col("m")))
        .as[Option[String]].collect().head
    assert(base("""<base href="https://cdn.example.org/">""") ==
      Some("example.org"))
    assert(base("""<base target="_b" href='http://a.mirror.co.uk/x/'>""") ==
      Some("mirror.co.uk"))
    assert(base("<base href=//static.host.net/>") == Some("host.net"))
    // relative base paths change the path, not the domain -> null
    assert(base("""<base href="/docs/">""") == None)
    assert(base("""<base target="_blank">""") == None)
    assert(base("no base tag at all") == None)
    // only the FIRST base href counts (dq precedence within a style)
    assert(base("""<base href="https://a.one.com/"><base href="https://b.two.com/">""") ==
      Some("one.com"))
  }

  test("domainLinkEdges: base href redirects relative links; nofollow never edges") {
    import spark.implicits._
    val pages = Seq(
      // base names a host: relative links edge to it, absolute ones don't
      ("https://a.site1.com/p1",
        """<head><base href="https://cdn.assets.io/v2/"></head>""" +
          """<a href="/self">s</a><a href=nav.html>n</a>""" +
          """<a href="https://x.other.org/1">o</a>"""),
      // no base: relative links self-edge as before
      ("https://b.site1.com/p2",
        """<a href="/local">l</a>"""),
      // relative base: domain unchanged, still a self-edge
      ("https://site2.co.uk/p3",
        """<base href="/sub/"><a href="page.html">p</a>"""),
      // nofollow relative link under a base: no edge at all
      ("https://site3.org/p4",
        """<base href="https://cdn.assets.io/"><a rel=nofollow href="/x">x</a>""")
    ).toDF("url", "markup")
    val edges = TextOps.domainLinkEdges(pages, "markup", "url")
      .as[(String, String, Long)].collect().toSet
    assert(edges == Set(
      ("site1.com", "assets.io", 2L),
      ("site1.com", "other.org", 1L),
      ("site1.com", "site1.com", 1L),
      ("site2.co.uk", "site2.co.uk", 1L)))
  }

  test("linkDomain: http/relative/fragment/scheme/protocol-relative classification") {
    import spark.implicits._
    def dom(href: String): Option[String] =
      Seq(href).toDF("h")
        .select(TextOps.linkDomain(col("h"), lit("self.com")))
        .as[Option[String]].collect().head
    assert(dom("https://en.wiki.example.org/page") == Some("example.org"))
    assert(dom("HTTPS://X.CO.UK/p") == Some("x.co.uk"))
    assert(dom("http://news.partner3.co.uk/l?a=1") == Some("partner3.co.uk"))
    // relative paths are self-edges; fragments and empties are no edge
    assert(dom("/docs/1.html") == Some("self.com"))
    assert(dom("../up.html") == Some("self.com"))
    assert(dom(" spaced.html ") == Some("self.com"))
    assert(dom("#top") == None)
    assert(dom("") == None)
    // non-http schemes never reach the graph
    assert(dom("mailto:a@b.com") == None)
    assert(dom("javascript:void(0)") == None)
    assert(dom("tel:+15551234") == None)
    assert(dom("ftp://files.example.com/x") == None)
    // protocol-relative resolves by host
    assert(dom("//cdn.static-example.net/lib.js") == Some("static-example.net"))
    // invalid absolute host -> '' (filtered by domainLinkEdges)
    assert(dom("https:///nohost") == Some(""))
  }

  test("domainLinkEdges: edges aggregate per (src,dst); dead targets drop") {
    import spark.implicits._
    val pages = Seq(
      ("https://a.site1.com/p1",
        """<a href="https://x.other.org/1">o</a><a href="/self">s</a>""" +
          """<a href="#f">f</a><a href="mailto:m@x.org">m</a>"""),
      ("https://b.site1.com/p2",
        """<a href='https://y.other.org/2'>o</a><a href=nav.html>s</a>"""),
      ("https://site2.co.uk/p3",
        """<a href="//cdn.static.io/l.js">c</a>""")
    ).toDF("url", "markup")
    val edges = TextOps.domainLinkEdges(pages, "markup", "url")
      .as[(String, String, Long)].collect().toSet
    assert(edges == Set(
      ("site1.com", "other.org", 2L),
      ("site1.com", "site1.com", 2L),
      ("site2.co.uk", "static.io", 1L)))
  }

  test("removeDuplicateSpans: shared spans cut everywhere, junction tokens survive, degenerate docs") {
    import spark.implicits._
    val docs = Seq(
      // docs 1+2 share one 5-gram (c1..c5) embedded in unique context
      (1L, "u1 u2 c1 c2 c3 c4 c5 u3"),
      (2L, "c1 c2 c3 c4 c5 v1 v2 v3 v4 v5"),
      // doc 3 shares nothing
      (3L, "totally distinct words without repeats here"),
      // docs 4+5: under k tokens -> the whole doc is its single gram;
      // identical docs therefore erase each other completely
      (4L, "short doc"), (5L, "short doc"),
      (6L, "")).toDF("doc_id", "t")
    val out = TextOps.removeDuplicateSpans(docs, "doc_id", "t", k = 5)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(1L) == (("u1 u2 u3", 3L, 5L)), s"doc 1: ${out(1L)}")
    assert(out(2L) == (("v1 v2 v3 v4 v5", 5L, 5L)), s"doc 2: ${out(2L)}")
    assert(out(3L) == (("totally distinct words without repeats here", 6L, 0L)))
    assert(out(4L) == (("", 0L, 2L)) && out(5L) == (("", 0L, 2L)),
      s"identical short docs must erase both ways: ${out(4L)} ${out(5L)}")
    assert(out(6L) == (("", 0L, 0L)), "the empty doc keeps its row")
  }

  test("hashedLinearScore: independent weight re-derivation, bigrams, empty/null docs") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def weightOf(feat: String): Long = {
      val b = java.lang.Long.parseLong(md5hex("gw1:" + feat).take(8), 16) % 4096
      java.lang.Long.parseLong(md5hex("w:" + b).take(8), 16) % 2001 - 1000
    }
    val docs = Seq((1L, "good words here"), (2L, ""), (3L, null), (4L, "Solo"))
      .toDF("doc_id", "text")
    val out = TextOps.hashedLinearScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    // doc 1: 3 unigrams + 2 bigrams, score re-derived off-Spark
    val s1 = Seq("good", "words", "here", "good_words", "words_here")
      .map(weightOf).sum
    assert(out(1L) == ((5L, s1, if (s1 > 0) 1 else 0)), s"doc 1: ${out(1L)}")
    // doc 4: single token, lowercased, no bigram
    val s4 = weightOf("solo")
    assert(out(4L) == ((1L, s4, if (s4 > 0) 1 else 0)), s"doc 4: ${out(4L)}")
    // empty and null docs surface with zero score, never vanish
    assert(out(2L) == ((0L, 0L, 0)) && out(3L) == ((0L, 0L, 0)))
  }

  test("canonicalizeUrl: fragments and tracking params strip, real params survive") {
    import spark.implicits._
    def canon(u: String): String =
      Seq(u).toDF("u").select(TextOps.canonicalizeUrl(col("u")))
        .as[String].collect().head
    // fragment dies, including any tracking param inside it
    assert(canon("https://x.com/p#sec") == "https://x.com/p")
    assert(canon("https://x.com/p?q=1#utm_source=feed") == "https://x.com/p?q=1")
    // leading tracking param: '?' survives iff real params follow
    assert(canon("https://x.com/p?utm_source=a&q=1") == "https://x.com/p?q=1")
    assert(canon("https://x.com/p?utm_source=a") == "https://x.com/p")
    // mid/trailing tracking params
    assert(canon("https://x.com/p?q=1&utm_medium=social") == "https://x.com/p?q=1")
    assert(canon("https://x.com/p?a=1&gclid=XYZ&b=2") == "https://x.com/p?a=1&b=2")
    // an all-tracking query vanishes entirely
    assert(canon("https://x.com/p?utm_a=1&utm_b=2&fbclid=F") == "https://x.com/p")
    assert(canon("https://x.com/p?utm_a=1&msclkid=m&mc_eid=e#f") == "https://x.com/p")
    // real params, empty values, and ?-less urls are fixed points
    assert(canon("https://x.com/p?a=1&b=2") == "https://x.com/p?a=1&b=2")
    assert(canon("https://x.com/p?gclid=") == "https://x.com/p")
    assert(canon("https://x.com/p") == "https://x.com/p")
    // a dangling separator left by hand-authored urls tidies away
    assert(canon("https://x.com/p?") == "https://x.com/p")
    // the path is never case-folded or rewritten
    assert(canon("https://x.com/Path/UPPER?utm_x=1") == "https://x.com/Path/UPPER")
  }

  test("applyBpeMerges: hand-computed merges, tie order, counts") {
    import spark.implicits._
    val docs = Seq((1L, "aa ab"), (2L, "aab, B!")).toDF("doc_id", "text")
    // round 1: "|a| |a|":2 ties "|a| |b|":2 -> lexicographic min on the
    //   WRAPPED string picks "|a| |a|" ('a' < 'b' at the tie position)
    // round 2: "|a| |b|":1 ties "|aa| |b|":1 -> "|aa| |b|" wins ('a' <
    //   '|' bytewise), the documented wrapped-form tie order
    // round 3: only "|a| |b|" remains
    val out = TextOps.applyBpeMerges(docs, "doc_id", "text", rounds = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(5)))).toMap
    val merges = "|a| |a|;|aa| |b|;|a| |b|"
    assert(out(1L) == ((2L, 4L, 2L, merges)), s"doc 1: ${out(1L)}")
    // punctuation/case fold away: "aab, B!" -> words aab, b
    assert(out(2L) == ((2L, 4L, 2L, merges)), s"doc 2: ${out(2L)}")
  }

  test("applyBpeMerges: no-pair fixed point passes seqs through, never empties") {
    import spark.implicits._
    // all words single-letter: no adjacent pair exists in any round
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val r = TextOps.applyBpeMerges(docs, "doc_id", "text", rounds = 2)
      .collect().head
    assert(r.getLong(1) == 3L && r.getLong(2) == 3L && r.getLong(3) == 3L)
    assert(r.getString(5) == ";", "unlearned rounds render as empty slots")
    // pairs exhaust mid-run: round 1 merges the only pair, rounds 2-3 no-op
    val docs2 = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val r2 = TextOps.applyBpeMerges(docs2, "doc_id", "text", rounds = 3)
      .collect().head
    assert(r2.getLong(3) == 2L, "both words merge to one symbol")
    assert(r2.getString(5) == "|a| |b|;;")
  }

  test("canonicalizeUnicode: NFC subset composes, homoglyphs fold") {
    import spark.implicits._
    def canon(s: String): String =
      Seq(s).toDF("t").select(TextOps.canonicalizeUnicode(col("t")))
        .as[String].collect().head
    // decomposed base+combining composes to the precomposed codepoint
    assert(canon("cafe\u0301") == "caf\u00e9")
    assert(canon("man\u0303ana") == "ma\u00f1ana")
    assert(canon("u\u0308ber U\u0308BER") == "\u00fcber \u00dcBER")
    // Cyrillic homoglyphs fold to Latin (the planted near-dup family)
    assert(canon("p\u0430yp\u0430l") == "paypal")
    assert(canon("\u0421\u043epy") == "Copy")
    // Greek omicron folds; genuinely distinct Greek (lambda) does not
    assert(canon("l\u03bfg") == "log")
    assert(canon("\u03bb") == "\u03bb")
    // ASCII is a fixed point
    assert(canon("plain ascii 123") == "plain ascii 123")
    // confusables fold BEFORE composition (chain order is spec): a
    // homoglyph base under a combining mark folds to the ASCII base and
    // THEN composes - fully canonical in one pass
    assert(canon("a\u0301 \u0430") == "\u00e1 a")
    assert(canon("\u0430\u0301") == "\u00e1")
    // the fold-then-compose pipeline works mid-word; a combining mark
    // over an unmapped base (y+0301) stays decomposed
    assert(canon("p\u0430\u0301y") == "p\u00e1y")
    assert(canon("y\u0301") == "y\u0301")
  }
}
