package graft.perfbench

import java.io.{ByteArrayOutputStream, File}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import graft.warc.{Blacklist, WarcSource}

/** Seeded input generators. Every input is a pure function of the seed:
  * the same seed gives byte-identical archives, corpora and batches, and
  * the planted labels the checks compare against come from the same
  * draws as the data. */
object Gen {

  /** A fixed (seed-independent) vocabulary drawn Zipf(1): the ten
    * stopwords the quality gate counts take the top ranks, so generated
    * prose passes the gate the way natural text does. */
  val vocab: Array[String] = {
    val syl = Array("ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "de",
      "pa", "gu", "ber", "lin", "tor", "sen", "dra", "mo", "qui", "zel", "fa")
    val r = new SplittableRandom(7L)
    val stop = Array("the", "of", "and", "a", "to", "in", "is", "on", "for", "with")
    val words = scala.collection.mutable.LinkedHashSet[String]()
    while (words.size < 4000) {
      val n = 2 + r.nextInt(3)
      words += (0 until n).map(_ => syl(r.nextInt(syl.length))).mkString
    }
    stop ++ words.toArray.filterNot(stop.contains)
  }
  private val zipfCdf: Array[Double] = {
    val w = vocab.indices.map(i => 1.0 / (i + 1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  def word(r: SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    vocab(math.min(vocab.length - 1, if (i >= 0) i else -i - 1))
  }
  def words(r: SplittableRandom, n: Int): Array[String] = Array.fill(n)(word(r))

  /** Log-normal draw (heavy right tail) around `median`. */
  def logNormal(r: SplittableRandom, median: Double, sigma: Double): Double = {
    // Box-Muller
    val z = math.sqrt(-2 * math.log(1 - r.nextDouble())) *
      math.cos(2 * math.Pi * r.nextDouble())
    median * math.exp(sigma * z)
  }

  /** Zipf(1) draw over 1..n — heavy-tailed cluster and domain sizes. */
  def zipf(r: SplittableRandom, n: Int): Int = {
    val h = (1 to n).map(1.0 / _).sum
    var u = r.nextDouble() * h
    var k = 1
    while (k < n && u > 1.0 / k) { u -= 1.0 / k; k += 1 }
    k
  }

  def sample[T](r: SplittableRandom, xs: IndexedSeq[T], k: Int): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = 0
    while (i < k) { val j = i + r.nextInt(a.length - i); val t = a(i); a(i) = a(j); a(j) = t; i += 1 }
    a.take(k).toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  /** `n` draws from one fixed stream, in an order permuted by `r`: every
    * seed gets the same multiset of sizes, so input totals (and the
    * metrics that divide by them) do not move with the seed; only which
    * item gets which size, and the content, do. */
  def fixedDraws[T](n: Int, r: SplittableRandom)(draw: SplittableRandom => T): IndexedSeq[T] = {
    val f = new SplittableRandom(0x5eedL)
    sample(r, IndexedSeq.fill(n)(draw(f)), n)
  }

  def writeAtomically(dir: File)(body: File => Unit): Unit = {
    val done = new File(dir, "_GENERATED")
    if (done.exists()) return
    deleteTree(dir)
    dir.mkdirs()
    body(dir)
    Files.write(done.toPath, Array.emptyByteArray)
  }

  def deleteTree(f: File): Unit = if (f.exists()) {
    Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))
  }

  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else Files.walk(f.toPath).filter(p => Files.isRegularFile(p))
      .mapToLong(p => Files.size(p)).sum()

  // ---------------------------------------------------------------- warc-etl

  /** One planted response page and what the pipeline must make of it. */
  final case class Page(url: String, host: String, title: String,
      crawlDay: String, kind: String)

  /** Planted shares of the archive set (of response records, except
    * `NonResponseShare`, which is a share of all records). */
  val NonResponseShare = 0.20
  val CorruptShare = 0.01
  val BlacklistShare = 0.02
  val OversizeShare = 0.0025

  final case class WarcSet(dir: File, pages: IndexedSeq[Page], nRecords: Int,
      inBytes: Long) {
    def kept: IndexedSeq[Page] = pages.filter(p => p.kind == "ok" || p.kind == "oversize")
    def glob: String = s"${dir.getAbsolutePath}/*.warc*"
  }

  private def pageHtml(r: SplittableRandom, title: String, host: String,
      bytes: Int): String = {
    val sb = new StringBuilder(bytes + 512)
    sb.append(s"<html><head><title>$title</title>")
      .append(s"""<meta name="description" content="${words(r, 12).mkString(" ")}">""")
      .append("""<link href="/css/site.css"></head><body>""")
      .append(s"<h1>${words(r, 5).mkString(" ")}</h1>")
    if (r.nextInt(4) == 0)
      sb.append(s"<script>ga('create', 'UA-${10000 + r.nextInt(90000)}-1'); ga('send', 'pageview');</script>")
    while (sb.length < bytes) {
      if (r.nextInt(6) == 0) sb.append(s"<h2>${words(r, 4).mkString(" ")}</h2>")
      sb.append("<p>").append(words(r, 20 + r.nextInt(60)).mkString(" "))
      sb.append(s""" <a href="/p/${r.nextInt(100000)}">${word(r)}</a>""")
      sb.append(s""" <a href="https://$host/q/${r.nextInt(1000)}">${word(r)}</a></p>""")
    }
    sb.append("</body></html>").toString
  }

  /** `nPages` response pages (tens of KB, log-normal sizes) spread over
    * four plain `.warc` files (gzipped HTTP bodies, the reference's
    * format) and four per-record-gzipped `.warc.gz` files (the Common
    * Crawl container shape), with the planted shares above. The archives
    * are written once per seed; later runs only replay the draws. */
  def warcSet(seed: Long, nPages: Int, dir: File): WarcSet = {
    val r = new SplittableRandom(seed * 1000003L + 11)
    val shuffled = sample(r, 0 until nPages, nPages)
    val nCorrupt = math.round(nPages * CorruptShare).toInt
    val nBlack = math.round(nPages * BlacklistShare).toInt
    val nOver = math.max(2, math.round(nPages * OversizeShare).toInt)
    val kind = Array.fill(nPages)("ok")
    shuffled.take(nCorrupt).foreach(kind(_) = "corrupt")
    shuffled.slice(nCorrupt, nCorrupt + nBlack).foreach(kind(_) = "blacklisted")
    shuffled.slice(nCorrupt + nBlack, nCorrupt + nBlack + nOver).foreach(kind(_) = "oversize")
    val nNonResp = math.round(nPages * NonResponseShare / (1 - NonResponseShare)).toInt
    val nonRespAt = Array.fill(nPages)(0)
    (0 until nNonResp).foreach(_ => nonRespAt(r.nextInt(nPages)) += 1)
    val sizes = fixedDraws(nPages, r)(f => math.min(400000, math.max(2000, logNormal(f, 16000, 0.9).toInt)))
    val hosts = fixedDraws(nPages, r)(f => zipf(f, 300))
    val days = fixedDraws(nPages, r)(f => 1 + f.nextInt(7))
    var nthOversize = 0
    val write = !new File(dir, "_GENERATED").exists()
    val files = (0 until 8).map(_ => new ByteArrayOutputStream())
    def emit(f: Int, rec: Array[Byte]): Unit =
      if (write) files(f).write(if (f < 4) rec else WarcSource.gzip(rec))
    (0 until 8).foreach(f => emit(f, WarcSource.toWireFormat("warcinfo", "", 0,
      "software: perfbench".getBytes(UTF_8))))
    val pages = (0 until nPages).map { i =>
      val host =
        if (kind(i) == "blacklisted") Blacklist.hostnames(r.nextInt(Blacklist.hostnames.length))
        else s"www.site${hosts(i)}.example.gov.au"
      val url = s"https://$host/page/$seed/$i"
      val day = f"2019-07-${days(i)}%02d"
      val size =
        if (kind(i) == "oversize") { nthOversize += 1; 2000000 + 100000 * nthOversize }
        else sizes(i)
      val title = s"Page $seed $i"
      val html = pageHtml(r, title, host, size).getBytes(UTF_8)
      val f = i % 8
      (0 until nonRespAt(i)).foreach { j =>
        emit(f, WarcSource.toWireFormat(if (j % 2 == 0) "request" else "metadata",
          url, 40, s"GET /page/$i HTTP/1.1\r\nHost: $host\r\n".getBytes(UTF_8),
          warcDate = s"${day}T00:00:00Z"))
      }
      if (write) {
        val http = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
          s"X-Funnelback-Total-Request-Time-MS: ${i % 900}\r\n\r\n").getBytes(UTF_8) ++ html
        val body =
          if (kind(i) == "corrupt") Array[Byte](0x1f, 0x7b, 1, 2, 3, 4, 5, 6)
          else WarcSource.gzip(http)
        emit(f, WarcSource.toWireFormat("response", url, http.length, body,
          warcDate = s"${day}T00:00:00Z"))
      }
      Page(url, host, if (kind(i) == "oversize") " " else title, day, kind(i))
    }
    writeAtomically(dir) { d =>
      files.zipWithIndex.foreach { case (b, f) =>
        val name = if (f < 4) f"archive-$f%02d.warc" else f"archive-$f%02d.warc.gz"
        Files.write(new File(d, name).toPath, b.toByteArray)
      }
    }
    val inBytes = dir.listFiles().filter(_.getName.contains(".warc")).map(_.length).sum
    WarcSet(dir, pages, 8 + nPages + nNonResp, inBytes)
  }

  // ------------------------------------------------------- document corpora

  final case class Doc(id: Long, text: String, source: String, lang: String)

  private val langs = Array("en", "en", "en", "de", "fr", "es", "zh")

  def prose(r: SplittableRandom, nTok: Int): String = words(r, nTok).mkString(" ")

  /** One token substituted in the middle: 3-shingle Jaccard ≥ 0.85 to
    * the original for any text of ≥ 40 tokens. */
  def nearCopy(r: SplittableRandom, text: String): String = {
    val t = text.split(" ")
    val i = t.length / 4 + r.nextInt(t.length / 2)
    var w = word(r)
    while (w == t(i)) w = word(r)
    t(i) = w
    t.mkString(" ")
  }

  val ExactShare = 0.05
  val NearShare = 0.05
  val ContainShare = 0.03

  /** Curation corpus: `nBase` prose docs over 60 heavy-tailed sources,
    * plus planted clusters of exact copies, one-token near-copies and
    * supersets (the base doc contained in a doc twice its length — the
    * containment rule's C ≥ 0.8 ∧ J < 0.6 case). Cluster sizes are
    * Zipf(1) over 1..12 extra members; plant shares are of `nBase`. */
  def curationCorpus(seed: Long, nBase: Int): IndexedSeq[Doc] = {
    val r = new SplittableRandom(seed * 7919L + 3)
    val lens = fixedDraws(nBase, r)(f => math.max(40, math.min(400, logNormal(f, 70, 0.5).toInt)))
    val srcs = fixedDraws(nBase, r)(f => zipf(f, 60))
    val lang = fixedDraws(nBase, r)(f => langs(f.nextInt(langs.length)))
    val base = (0 until nBase).map(i => Doc(i.toLong, prose(r, lens(i)), s"src${srcs(i)}", lang(i)))
    var next = nBase.toLong
    def plant(share: Double)(member: Doc => String): IndexedSeq[Doc] = {
      val out = IndexedSeq.newBuilder[Doc]
      val sizes = new SplittableRandom(0x5eedL + (share * 1000).toLong)
      var n = 0
      while (n < share * nBase) {
        val orig = base(r.nextInt(nBase))
        (0 until zipf(sizes, 12)).foreach { _ =>
          out += Doc(next, member(orig), orig.source, orig.lang); next += 1; n += 1
        }
      }
      out.result()
    }
    base ++ plant(ExactShare)(_.text) ++ plant(NearShare)(d => nearCopy(r, d.text)) ++
      plant(ContainShare)(d => d.text + " " + words(r, d.text.split(" ").length + 10).mkString(" "))
  }

  // ----------------------------------------------------------- store-ingest

  val Dim = 64

  /** Vectors from a 24-component Gaussian mixture: clustered like real
    * embeddings, so the IVF lists are uneven and probes are selective. */
  final class VecGen(seed: Long) {
    private val r0 = new SplittableRandom(seed * 31L + 5)
    private val centers = Array.fill(24, Dim)(r0.nextDouble() * 2 - 1)
    def vec(r: SplittableRandom): Array[Float] = {
      val c = centers(r.nextInt(centers.length))
      Array.tabulate(Dim) { j =>
        val g = math.sqrt(-2 * math.log(1 - r.nextDouble())) *
          math.cos(2 * math.Pi * r.nextDouble())
        (c(j) + 0.35 * g).toFloat
      }
    }
  }

  /** One ingest batch: docs labelled `exact`, `near` or `novel`, and the
    * vectors appended to the ANN delta in the same step. */
  final case class Batch(docs: IndexedSeq[(Doc, String)],
      vecs: IndexedSeq[(Long, Array[Float])])

  /** Every store-ingest doc has the same token count, so batch bytes do
    * not move with the seed. */
  val DocTokens = 60
  val BatchExactShare = 0.25
  val BatchNearShare = 0.25

  final class StoreInputs(seed: Long, val nCorpus: Int, val batchDocs: Int,
      val batchVecs: Int) {
    private val r = new SplittableRandom(seed * 104729L + 17)
    val corpus: IndexedSeq[Doc] = (0 until nCorpus).map { i =>
      Doc(i.toLong, prose(r, DocTokens), s"src${zipf(r, 60)}", langs(r.nextInt(langs.length)))
    }
    val vecGen = new VecGen(seed)
    val corpusVecs: IndexedSeq[(Long, Array[Float])] =
      (0 until nCorpus).map(i => (i.toLong, vecGen.vec(r)))

    /** Batch `step` (≥ 0): ids past the corpus, disjoint across steps. */
    def batch(step: Int): Batch = {
      val rb = new SplittableRandom(seed * 1000033L + step)
      val nExact = math.round(batchDocs * BatchExactShare).toInt
      val nNear = math.round(batchDocs * BatchNearShare).toInt
      val origs = sample(rb, corpus, nExact + nNear)
      val base = 10L * nCorpus + step.toLong * batchDocs
      val docs = (0 until batchDocs).map { j =>
        val id = base + j
        if (j < nExact) (origs(j).copy(id = id), "exact")
        else if (j < nExact + nNear) (origs(j).copy(id = id, text = nearCopy(rb, origs(j).text)), "near")
        else (Doc(id, prose(rb, DocTokens), s"src${zipf(rb, 60)}", "en"), "novel")
      }
      val vbase = 10L * nCorpus + step.toLong * batchVecs
      Batch(docs, (0 until batchVecs).map(j => (vbase + j, vecGen.vec(rb))))
    }
  }
}
