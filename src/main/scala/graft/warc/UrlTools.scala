package graft.warc

import java.net.URI

/** URL canonicalization + public-suffix domain root (SURVEY.md §2.3
  * P2/P9; reference `src/lib.rs:400-417`, `src/main.rs:333-339`).
  */
object UrlTools {

  private val StripRe = java.util.regex.Pattern.compile("'|“|\"|&quot;|%\\d\\d$")

  /** The page URL, parsed once per page; None when it does not parse
    * (every link is then kept, cleaned). */
  private def parseBase(pageUrl: String): Option[URI] =
    try Some(new URI(pageUrl)) catch { case _: Exception => None }

  /** Resolve one link against the page URL; unresolvable links are kept
    * as-is (reference behavior). Normalizes bare-authority URLs to end
    * with "/" (rust-url does; java.net.URI does not —
    * `tests/lib-tests.rs:34-37` depends on it). */
  private def resolveOne(base: Option[URI], link: String): String = {
    val cleaned = StripRe.matcher(link.trim).replaceAll("")
    val resolved = base match {
      case Some(b) =>
        try b.resolve(cleaned).toString catch { case _: Exception => cleaned }
      case None => cleaned
    }
    // bare authority (scheme://host[:port] with no path) gets a trailing /
    val schemeEnd = resolved.indexOf("://")
    if (schemeEnd > 0 && resolved.indexOf('/', schemeEnd + 3) < 0 &&
        resolved.indexOf('?', schemeEnd + 3) < 0 && resolved.indexOf('#', schemeEnd + 3) < 0)
      resolved + "/"
    else resolved
  }

  /** P9: sort+dedup, resolve each against the page URL, sort+dedup again
    * (reference `src/lib.rs:400-417` — dedup on both sides of the resolve
    * because cleaning can collapse distinct raw hrefs). */
  def absolutize(pageUrl: String, links: Seq[String]): Seq[String] =
    if (links == null) Nil
    else {
      val base = parseBase(pageUrl)
      links.distinct.sorted.map(resolveOne(base, _)).distinct.sorted
    }

  /** The COMPLETE Public Suffix List (publicsuffix.org — MPL-2.0-licensed
    * public data, embedded verbatim as a resource; the reference links
    * the full list via a PSL crate — `addr::DomainName::root`,
    * `src/main.rs:333-339`). Both the ICANN and PRIVATE sections are
    * loaded, matching the reference crate's behavior. ~9,800 rules:
    * plain suffixes, `*.` wildcard rules (`*.ck`,
    * `*.compute.amazonaws.com`), and `!` exceptions (`!www.ck`,
    * `!city.kobe.jp`). Rules are stored lowercase in their listed
    * Unicode form; punycode (`xn--`) hostname labels are decoded via
    * `java.net.IDN` at match time (see [[domainRoot]]), matching the
    * reference's PSL crate which resolves punycode
    * (`/root/reference/src/main.rs:333-339`).
    *
    * Loaded once per JVM at object init (~250 KB of data → three hash
    * sets); executors each parse their own copy when the UDF first
    * touches the object — no broadcast needed for static data. */
  private val (suffixRules, wildcardRules, exceptionRules) = {
    val in = getClass.getResourceAsStream("/graft/public_suffix_list.dat")
    require(in != null, "embedded public_suffix_list.dat resource missing")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try {
      val plain = Set.newBuilder[String]
      val wild = Set.newBuilder[String]
      val exc = Set.newBuilder[String]
      for (raw <- src.getLines()) {
        val line = raw.trim
        if (line.nonEmpty && !line.startsWith("//")) {
          // per the PSL spec, the rule is everything up to the first whitespace
          val rule = line.split("\\s+")(0).toLowerCase
          if (rule.startsWith("!")) exc += rule.substring(1)
          else if (rule.startsWith("*.")) wild += rule.substring(2)
          else plain += rule
        }
      }
      (plain.result(), wild.result(), exc.result())
    } finally src.close()
  }

  /** P2: registrable-domain root of a hostname, by the PSL algorithm:
    * the public suffix is the LONGEST matching rule (exception rules
    * beat wildcards; unknown TLDs get the default single-label rule),
    * and the root is the suffix plus one more label. A hostname that IS
    * a public suffix, an IPv4 literal, or a single label is returned
    * unchanged (the reference `unwrap`s and panics on non-domains,
    * `src/main.rs:336`; returning the input is our documented
    * divergence, SURVEY §7 item 3). */
  def domainRoot(hostname: String): String = {
    if (hostname == null || hostname.isEmpty) return ""
    val h = hostname.toLowerCase.stripSuffix(".")
    val labels = h.split('.')
    if (labels.length <= 1) return h
    if (labels.forall(l => l.nonEmpty && l.forall(c => c.isDigit))) return h // IPv4
    // IDN: the PSL rules are stored in Unicode form, so punycode labels
    // are decoded for MATCHING only — the returned root keeps the input's
    // own form (a crawl pipeline must not rewrite the hostnames it
    // clusters by). `IDN.toUnicode` returns malformed input unchanged,
    // so non-IDN `xn--`-prefixed garbage degrades to literal matching.
    val uLabels =
      if (h.contains("xn--"))
        labels.map(l => if (l.startsWith("xn--")) java.net.IDN.toUnicode(l) else l)
      else labels
    // longest matching suffix: walk candidate suffixes from longest down
    var suffixLen = 1 // default rule "*": the TLD itself
    var i = 0
    var found = false
    while (i < uLabels.length && !found) {
      val candidate = uLabels.drop(i).mkString(".")
      val n = uLabels.length - i
      if (exceptionRules.contains(candidate)) {
        suffixLen = n - 1; found = true // exception: suffix is rule minus first label
      } else if (suffixRules.contains(candidate)) {
        suffixLen = n; found = true
      } else if (n >= 2 && wildcardRules.contains(uLabels.drop(i + 1).mkString("."))) {
        suffixLen = n; found = true
      } else i += 1
    }
    if (labels.length <= suffixLen) h // the hostname IS a public suffix
    else labels.takeRight(suffixLen + 1).mkString(".")
  }
}
