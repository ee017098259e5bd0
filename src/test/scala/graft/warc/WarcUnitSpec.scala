package graft.warc

import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

import graft.rake.{Rake, Stopwords}

/** Unit specs for the non-Spark core of the WARC pipeline (SURVEY.md §5:
  * per-operator tests mirroring the reference's `tests/lib-tests.rs`). */
class WarcUnitSpec extends AnyFunSuite {

  // ---- S1 WARC split ----

  test("splitWarc roundtrips records written by toWireFormat") {
    val b1 = "hello world".getBytes(StandardCharsets.UTF_8)
    val b2 = Array[Byte](0, 1, 2, 3, -1)
    val bytes = WarcSource.toWireFormat("response", "http://a/", 11, b1) ++
      WarcSource.toWireFormat("metadata", "http://b/", 5, b2)
    val recs = WarcSource.splitWarc(bytes, "t.warc").toList
    assert(recs.map(_.version) == List("1.0", "1.0"))
    assert(recs.head.header("warc-type") == "response")
    assert(recs.head.header("warc-target-uri") == "http://a/")
    assert(recs.head.header("uncompressed-content-length") == "11")
    assert(new String(recs.head.content, StandardCharsets.UTF_8) == "hello world")
    assert(recs(1).content.toSeq == b2.toSeq)
    assert(recs.forall(_.source == "t.warc"))
  }

  test("splitWarc yields sentinel version=0 on truncated record") {
    val good = WarcSource.toWireFormat("response", "http://a/", 3, "abc".getBytes)
    val bad = "WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 9999\r\n\r\nshort"
      .getBytes(StandardCharsets.ISO_8859_1)
    val recs = WarcSource.splitWarc(good ++ bad, "t.warc").toList
    assert(recs.map(_.version) == List("1.0", "0"))
  }

  // ---- S5 gzip ----

  test("gunzip roundtrips and rejects corrupt input") {
    val data = ("x" * 10000).getBytes(StandardCharsets.UTF_8)
    assert(WarcSource.gunzip(WarcSource.gzip(data)).get.toSeq == data.toSeq)
    assert(WarcSource.gunzip(Array[Byte](0x1f, 0x0b, 1)).isEmpty)
    assert(WarcSource.gunzip(Array.emptyByteArray).isEmpty)
  }

  // ---- §2.4 HTML parse ----

  test("parse extracts title, meta precedence, links, resources, headings") {
    val html =
      """<html><head><title>My &amp; Title</title>
        |<meta name="description" content="desc">
        |<meta http-equiv="refresh" content="30">
        |<meta property="og:title" content="OG">
        |<link href="/style.css"></head>
        |<body><h1>Big <b>Heading</b></h1><p>Some body text.</p>
        |<a href="/page1">one</a><a href="#frag">skip</a><a href="_tpl">skip2</a>
        |<script src="/app.js">var hidden = 1;</script>
        |<style>.x{color:red}</style>
        |<noscript>no js text</noscript>
        |<img src="/logo.png">
        |</body></html>""".stripMargin
    val r = HtmlParse.parse(html)
    assert(r.ok)
    assert(r.title == "My & Title")
    assert(r.meta_tags == Map("description" -> "desc", "refresh" -> "30",
      "og:title" -> "OG"))
    assert(r.links == Seq("/page1"))
    assert(r.resource_urls == Seq("/style.css", "/app.js", "/logo.png"))
    assert(r.headings_text == Seq("Big Heading"))
    assert(r.text.contains("Some body text."))
    // suppressed contexts never leak into body text
    assert(!r.text.exists(_.contains("hidden")))
    assert(!r.text.exists(_.contains("color")))
    assert(!r.text.exists(_.contains("no js")))
    assert(!r.text.exists(_.contains("Title")))
  }

  test("parse is lenient on tag soup and empty input") {
    assert(HtmlParse.parse("") == HtmlResult.empty)
    val r = HtmlParse.parse("<div><p>unclosed <a href='/x'>text")
    assert(r.ok && r.links == Seq("/x") && r.text.nonEmpty)
    // 5 < 6 math in text must not be eaten as a tag
    val r2 = HtmlParse.parse("<body>5 < 6 is true</body>")
    assert(r2.text.mkString(" ").contains("<"))
  }

  test("meta precedence is name over http-equiv over itemprop over property") {
    val r = HtmlParse.parse(
      """<meta name="k" http-equiv="e" content="v1">
        |<meta itemprop="i" property="p" content="v2">""".stripMargin)
    assert(r.meta_tags == Map("k" -> "v1", "i" -> "v2"))
  }

  // ---- P12 fallback ----

  test("fallback regex path extracts title, trailing text, hrefs") {
    val soup = "<html><title>T</title><body class=x><div>mid</div>" +
      "<a class=c href=\"/a/1\">tail text"
    val r = HtmlParse.parseFallback(soup)
    assert(r.title == "T")
    assert(r.text == Seq("tail text"))
    assert(r.links == Seq("/a/1"))
  }

  // ---- P9 absolutize ----

  test("absolutize resolves, cleans, sorts, dedups") {
    val out = UrlTools.absolutize("https://ex.gov.au/dir/page.html",
      Seq("b.html", "/root.html", "https://other.com", "b.html",
        "\"quoted.html\"", "bad url %zz"))
    assert(out.contains("https://ex.gov.au/dir/b.html"))
    assert(out.contains("https://ex.gov.au/root.html"))
    assert(out.contains("https://other.com/")) // bare authority gets /
    assert(out.contains("https://ex.gov.au/dir/quoted.html")) // quotes stripped
    assert(out == out.sorted && out.distinct == out)
  }

  test("absolutize strips trailing %XX and entities per reference regex") {
    val out = UrlTools.absolutize("https://ex.gov.au/",
      Seq("page%20", "x&quot;y", "“z"))
    assert(out == Seq("https://ex.gov.au/page", "https://ex.gov.au/xy",
      "https://ex.gov.au/z").sorted)
  }

  test("absolutize with a page URL that does not parse keeps every link, cleaned") {
    val out = UrlTools.absolutize("https://ex gov.au/a b",
      Seq("b.html", "\"/q.html\"", "https://other.com", "b.html"))
    assert(out == Seq("/q.html", "b.html", "https://other.com/"))
  }

  // ---- P2 domain root ----

  test("domainRoot handles 2-level public suffixes and plain TLDs") {
    assert(UrlTools.domainRoot("www.finance.gov.au") == "finance.gov.au")
    assert(UrlTools.domainRoot("a.b.example.com.au") == "example.com.au")
    assert(UrlTools.domainRoot("www.example.com") == "example.com")
    assert(UrlTools.domainRoot("example.org") == "example.org")
    assert(UrlTools.domainRoot("localhost") == "localhost")
    assert(UrlTools.domainRoot("127.0.0.1") == "127.0.0.1")
    assert(UrlTools.domainRoot("") == "")
  }

  test("domainRoot follows the PSL algorithm for ccTLD registries, private suffixes, wildcards") {
    // ccTLD second-level registries
    assert(UrlTools.domainRoot("shop.foo.co.za") == "foo.co.za")
    assert(UrlTools.domainRoot("www.registro.com.br") == "registro.com.br")
    assert(UrlTools.domainRoot("deep.sub.example.co.uk") == "example.co.uk")
    // private-registry suffixes: the user site is the registrable domain
    assert(UrlTools.domainRoot("user.github.io") == "user.github.io")
    assert(UrlTools.domainRoot("sub.user.github.io") == "user.github.io")
    assert(UrlTools.domainRoot("myapp.herokuapp.com") == "myapp.herokuapp.com")
    assert(UrlTools.domainRoot("bucket.s3.amazonaws.com") == "bucket.s3.amazonaws.com")
    // a bare public suffix comes back unchanged
    assert(UrlTools.domainRoot("gov.au") == "gov.au")
    assert(UrlTools.domainRoot("github.io") == "github.io")
    // wildcard rule *.ck and its !www.ck exception
    assert(UrlTools.domainRoot("foo.bar.ck") == "foo.bar.ck")
    assert(UrlTools.domainRoot("deep.foo.bar.ck") == "foo.bar.ck")
    assert(UrlTools.domainRoot("www.ck") == "www.ck")
    assert(UrlTools.domainRoot("sub.www.ck") == "www.ck")
    // unknown TLD falls back to the default single-label rule
    assert(UrlTools.domainRoot("a.b.example.dev") == "example.dev")
  }

  test("domainRoot passes the official PSL checkPublicSuffix vectors") {
    // publicsuffix.org/list/'s own test file (public-domain test data),
    // adapted to this engine's documented divergence: a hostname that IS
    // a public suffix returns unchanged instead of null. Exercises the
    // FULL embedded list: ICANN literals, *.wildcards, !exceptions, the
    // PRIVATE section, and case normalization.
    def check(host: String, expected: String): Unit =
      assert(UrlTools.domainRoot(host) == expected,
        s"domainRoot($host) = ${UrlTools.domainRoot(host)}, want $expected")
    // mixed case
    check("example.COM", "example.com")
    check("WwW.example.COM", "example.com")
    // unlisted TLD: default rule
    check("example", "example")
    check("example.example", "example.example")
    check("b.example.example", "example.example")
    // listed TLD
    check("biz", "biz")
    check("domain.biz", "domain.biz")
    check("b.domain.biz", "domain.biz")
    // PRIVATE-section 2-level rule
    check("uk.com", "uk.com")
    check("example.uk.com", "example.uk.com")
    check("b.example.uk.com", "example.uk.com")
    check("test.ac", "test.ac")
    // *.mm wildcard: c.mm is a suffix, b.c.mm registrable
    check("mm", "mm")
    check("c.mm", "c.mm")
    check("b.c.mm", "b.c.mm")
    check("a.b.c.mm", "b.c.mm")
    // jp: plain 2-level rules, literal 3-level (ide.kyoto.jp), *.kobe.jp
    // wildcard and its !city.kobe.jp exception
    check("test.jp", "test.jp")
    check("www.test.jp", "test.jp")
    check("ac.jp", "ac.jp")
    check("test.ac.jp", "test.ac.jp")
    check("www.test.ac.jp", "test.ac.jp")
    check("kyoto.jp", "kyoto.jp")
    check("test.kyoto.jp", "test.kyoto.jp")
    check("ide.kyoto.jp", "ide.kyoto.jp")
    check("b.ide.kyoto.jp", "b.ide.kyoto.jp")
    check("a.b.ide.kyoto.jp", "b.ide.kyoto.jp")
    check("c.kobe.jp", "c.kobe.jp")
    check("b.c.kobe.jp", "b.c.kobe.jp")
    check("a.b.c.kobe.jp", "b.c.kobe.jp")
    check("city.kobe.jp", "city.kobe.jp")
    check("www.city.kobe.jp", "city.kobe.jp")
    // *.ck wildcard + !www.ck exception
    check("ck", "ck")
    check("test.ck", "test.ck")
    check("b.test.ck", "b.test.ck")
    check("a.b.test.ck", "b.test.ck")
    check("www.ck", "www.ck")
    check("www.www.ck", "www.ck")
    // us: state codes and k12.<state>.us are suffixes
    check("us", "us")
    check("test.us", "test.us")
    check("www.test.us", "test.us")
    check("ak.us", "ak.us")
    check("test.ak.us", "test.ak.us")
    check("www.test.ak.us", "test.ak.us")
    check("k12.ak.us", "k12.ak.us")
    check("test.k12.ak.us", "test.k12.ak.us")
    check("www.test.k12.ak.us", "test.k12.ak.us")
    // trailing-dot normalization
    check("example.com.", "example.com")
    // wildcard with many labels under the base (*.compute.amazonaws.com)
    check("x.y.ap-south-1.compute.amazonaws.com", "y.ap-south-1.compute.amazonaws.com")
  }

  test("domainRoot passes the official IDN checkPublicSuffix vectors") {
    // the IDN block of publicsuffix.org's test file, both forms — the
    // Unicode hostnames match the Unicode-form rules directly; the
    // punycoded ones must decode (java.net.IDN) for matching and return
    // the root in the INPUT's punycode form, like the reference's PSL
    // crate (/root/reference/src/main.rs:333-339). Suffix-only hostnames
    // return unchanged (this engine's documented null-divergence).
    def check(host: String, expected: String): Unit =
      assert(UrlTools.domainRoot(host) == expected,
        s"domainRoot($host) = ${UrlTools.domainRoot(host)}, want $expected")
    // Unicode form
    check("食狮.com.cn", "食狮.com.cn")
    check("食狮.公司.cn", "食狮.公司.cn")
    check("www.食狮.公司.cn", "食狮.公司.cn")
    check("shishi.公司.cn", "shishi.公司.cn")
    check("公司.cn", "公司.cn")
    check("食狮.中国", "食狮.中国")
    check("www.食狮.中国", "食狮.中国")
    check("shishi.中国", "shishi.中国")
    check("中国", "中国")
    // same hostnames, punycoded
    check("xn--85x722f.com.cn", "xn--85x722f.com.cn")
    check("xn--85x722f.xn--55qx5d.cn", "xn--85x722f.xn--55qx5d.cn")
    check("www.xn--85x722f.xn--55qx5d.cn", "xn--85x722f.xn--55qx5d.cn")
    check("shishi.xn--55qx5d.cn", "shishi.xn--55qx5d.cn")
    check("xn--55qx5d.cn", "xn--55qx5d.cn")
    check("xn--85x722f.xn--fiqs8s", "xn--85x722f.xn--fiqs8s")
    check("www.xn--85x722f.xn--fiqs8s", "xn--85x722f.xn--fiqs8s")
    check("shishi.xn--fiqs8s", "shishi.xn--fiqs8s")
    check("xn--fiqs8s", "xn--fiqs8s")
    // mixed-form hostname: punycode label under a Unicode-rule ccTLD
    check("sub.www.xn--85x722f.xn--55qx5d.cn", "xn--85x722f.xn--55qx5d.cn")
    // malformed punycode degrades to literal matching, never throws
    check("xn--this-is-not-punycode.example.com", "example.com")
  }

  // ---- F2 blacklist ----

  test("blacklist matches hosts, urls, and substrings") {
    assert(Blacklist.onBlacklist("data.gov.au", "https://data.gov.au/x"))
    assert(Blacklist.onBlacklist("ok.gov.au",
      "https://www.sbs.com.au/news/article"))
    assert(!Blacklist.onBlacklist("finance.gov.au", "https://finance.gov.au/"))
  }

  // ---- P4 header parse ----

  test("parseHeaders skips status line and truncates at second ': '") {
    val m = Pipeline.parseHeaders(
      "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nX-Odd: a: b: c\r\nNoColon\r\n")
    assert(m == Map("Content-Type" -> "text/html", "X-Odd" -> "a"))
  }

  // ---- RAKE ----

  test("rake segments phrases at stopwords and punctuation") {
    val phrases = Rake.candidatePhrases(
      "Compatibility of systems of linear constraints", Stopwords.english)
    // original case is preserved (only the stopword lookup lowercases)
    assert(phrases == Seq(Vector("Compatibility"),
      Vector("systems"), Vector("linear", "constraints")))
  }

  test("rake scores: solo words 1.0, pair words 2.0, phrase sums") {
    val kw = Rake.keywords("linear constraints. linear constraints. solo")
    // freq(linear)=2, degree=2 → score 2.0; same for constraints; solo → 1.0
    assert(kw("linear constraints") == 4.0f)
    assert(kw("solo") == 1.0f)
  }

  test("rake excludes numbers from scoring but keeps them in phrases") {
    val kw = Rake.keywords("version 42 released")
    // "version 42 released" is one phrase; 42 contributes 0
    val key = kw.keys.find(_.contains("42"))
    assert(key.isDefined)
    // substring semantics (reference is_match): "v42" counts as a number
    assert(Rake.isNumber("42") && Rake.isNumber("-1.5") && Rake.isNumber("v42"))
    assert(!Rake.isNumber("version"))
  }

  test("rake stopwords never appear in keyword keys") {
    val kw = Rake.keywords("the quick brown fox jumps over the lazy dog")
    assert(kw.keys.forall(k => !k.split(" ").exists(Stopwords.english.contains)))
  }
}
