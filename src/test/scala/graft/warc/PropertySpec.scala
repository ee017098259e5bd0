package graft.warc

import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.DedupOps
import graft.rake.{Rake, Stopwords}

/** Property tests (SURVEY.md §5 port strategy item c). Uses raw
  * ScalaCheck generators with fixed seeds (the scalatest bridge module
  * is not in the offline dependency cache) — deterministic across runs.
  */
class PropertySpec extends AnyFunSuite {

  private def forAll[A](g: Gen[A], n: Int = 100)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(f)
    }

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb))(p => f(p._1, p._2))

  private val word: Gen[String] =
    Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar)).map(_.mkString)
  private val text: Gen[String] =
    Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
  private val link: Gen[String] = Gen.oneOf(
    word.map(w => s"/$w"), word.map(w => s"$w.html"),
    word.map(w => s"https://$w.gov.au/page"), word.map(w => s"#$w"),
    Gen.const(""))

  test("absolutize is idempotent and returns sorted distinct output") {
    forAll(Gen.listOf(link)) { links =>
      val base = "https://ex.gov.au/dir/page.html"
      val once = UrlTools.absolutize(base, links)
      assert(once == once.sorted)
      assert(once == once.distinct)
      // resolving already-absolute output is a fixpoint
      val twice = UrlTools.absolutize(base, once)
      assert(twice == once)
    }
  }

  test("domainRoot is idempotent and a suffix of the input") {
    forAll(Gen.listOfN(3, word)) { labels =>
      val host = labels.mkString(".")
      val root = UrlTools.domainRoot(host)
      assert(host.endsWith(root) || root == host)
      assert(UrlTools.domainRoot(root) == root)
    }
  }

  test("rake keys never contain stopwords and scores are >= 1 or 0") {
    // lowercase ASCII prose, then the kernel generator's punctuation,
    // Unicode digits, mixed case and control characters
    Seq(text, KernelGen.text).foreach(g => forAll(g) { t =>
      val kw = Rake.keywords(t)
      kw.keys.foreach { k =>
        assert(!k.split(" ").exists(w => Stopwords.english.contains(w.toLowerCase)))
      }
      kw.values.foreach(v => assert(v >= 1.0f || v == 0.0f))
    })
  }

  test("words appearing only in solo phrases score exactly 1.0") {
    forAll(word.suchThat(w => !Stopwords.english.contains(w) && !Rake.isNumber(w))) { w =>
      val kw = Rake.keywords(s"the $w of")
      assert(kw.get(w).contains(1.0f))
    }
  }

  test("jaccard is symmetric, bounded, and 1 on equal sets") {
    forAll(Gen.listOf(word), Gen.listOf(word)) { (a0, b0) =>
      val (a, b) = (a0.toSet, b0.toSet)
      val j = DedupOps.jaccard(a, b)
      assert(j >= 0.0 && j <= 1.0)
      assert(j == DedupOps.jaccard(b, a))
      assert(DedupOps.jaccard(a, a) == (if (a.isEmpty) 1.0 else 1.0))
    }
  }

  test("minhash similarity is monotone-ish in true jaccard (statistical)") {
    // deterministic spot property: signature agreement rate of identical
    // sets is 1, of disjoint non-empty sets is ~0
    val a = DedupOps.shingles((1 to 30).map("w" + _).mkString(" "))
    val b = DedupOps.shingles((100 to 130).map("w" + _).mkString(" "))
    val sa = DedupOps.minhash(a)
    assert(sa.sameElements(DedupOps.minhash(a)))
    val agree = sa.zip(DedupOps.minhash(b)).count { case (x, y) => x == y }
    assert(agree < 8)
  }

  test("splitWarc roundtrips arbitrary binary bodies") {
    forAll(Gen.listOf(Arbitrary.arbitrary[Byte]).map(_.toArray)) { body =>
      val bytes = WarcSource.toWireFormat("response", "http://x/", body.length, body)
      val recs = WarcSource.splitWarc(bytes, "t").toList
      assert(recs.length == 1)
      assert(recs.head.content.toSeq == body.toSeq)
    }
  }

  test("html parse never throws on arbitrary tag soup") {
    val soup = Gen.listOf(Gen.oneOf(
      text, Gen.const("<"), Gen.const(">"), Gen.const("</"),
      Gen.const("<a href='"), Gen.const("<script>"), Gen.const("<!--"),
      Gen.const("&amp;"), Gen.const("&#"), word.map(w => s"<$w attr=$w>")))
      .map(_.mkString(" "))
    forAll(soup) { s =>
      val r = HtmlParse.parse(s)
      assert(r.links.forall(h => !h.startsWith("#") && !h.startsWith("_")))
      val r2 = HtmlParse.parseFallback(s)
      assert(r2 != null)
    }
  }
}
