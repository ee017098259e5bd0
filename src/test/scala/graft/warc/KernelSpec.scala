package graft.warc

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.rake.{Rake, Stopwords}

/** Generators for the text kernels' equivalence properties: pieces glued
  * together with no separator, so every class meets every other class
  * at a boundary. Covers all seven `P*` categories, `-` with and without
  * surrounding whitespace, ASCII `\s` (incl. `\u000B`, `\f`) beside
  * non-ASCII spaces and control characters ≤ U+0020, Nd/Nl/No digits
  * (incl. a supplementary one and unpaired surrogates), the literal
  * two-char `\n`, GA literals beside letters/digits/`_`/non-ASCII
  * letters, `ga(` across line terminators, and envelope separators. */
object KernelGen {
  private def cp(c: Int): String = new String(Character.toChars(c))

  // Pc _ ‿ | Pd – — | Ps ( [ { | Pe ) ] } | Po . , ! ? ; : " ' ¿ 、 𐄀 | Pi « “ | Pf » ”
  val punct: Seq[String] = Seq("_", "‿", "–", "—", "(", "[", "{",
    ")", "]", "}", ".", ",", "!", "?", ";", ":", "\"", "'", "¿", "、",
    cp(0x10100), "«", "“", "»", "”")
  val symbols: Seq[String] = Seq("$", "+", "|", "~", "<", "=", "^", "`", "©")
  val spaces: Seq[String] = Seq(" ", "  ", "\t", "\n", "\r", "\r\n", "\u000B",
    "\f", "\u00A0", "\u0085", "\u2028", "\u3000")
  val controls: Seq[String] = Seq("\u0000", "\u0001", "\u0008", "\u000E", "\u001C", "\u001F")
  val hyphens: Seq[String] = Seq("-", " - ", " -", "- ", "\t-\n", " -- ", "--", " -\u000B")
  val digits: Seq[String] = Seq("0", "42", "-1.5", "v2", "٣", "Ⅻ", "½",
    "²", cp(0x1D7CE), "\uD835", "\uDFCE", "٣٫٤")
  val escapes: Seq[String] = Seq("\\n", "\\n\\n", "\\", "\\\\n", "\\t", "n")
  val words: Seq[String] = Seq("the", "The", "of", "AND", "linear", "Systems",
    "constraints", "k", "x9", "café", "\u00E9", "\u00DF", "\u0130",
    "\u03A3\u03C3", "\u4E2D\u6587", "e\u0301")
  val ga: Seq[String] = Seq("UA-", "UA-1234-1", "UA-12345678-12", "UA-123-1",
    "UA-1234-12345", "UA-12345678901-1", "GTM-", "GTM-ABC12", "GTM-ABCDEFGH",
    "GTM-abc", "ga(", "ga()", ")", "ga('send', 'pageview')",
    "ga(\"send\", \"pageview\")", "ga('create', 'UA-1234-5')", "oga(x)")
  val envelope: Seq[String] = Seq("\n\r\n", "\n\r\n\r\n", "HTTP/1.1 200 OK\r\nA: b\r\n", "\n\r")

  val piece: Gen[String] = Gen.frequency(
    4 -> Gen.oneOf(words), 2 -> Gen.oneOf(punct), 1 -> Gen.oneOf(symbols),
    3 -> Gen.oneOf(spaces), 1 -> Gen.oneOf(controls), 2 -> Gen.oneOf(hyphens),
    2 -> Gen.oneOf(digits), 1 -> Gen.oneOf(escapes), 2 -> Gen.oneOf(ga),
    1 -> Gen.oneOf(envelope))
  val text: Gen[String] =
    Gen.chooseNum(0, 30).flatMap(n => Gen.listOfN(n, piece)).map(_.mkString)

  /** `n` deterministic samples (fixed seeds, as in `PropertySpec`). */
  def samples(n: Int): Seq[String] =
    (0 until n).flatMap(i => text.apply(Gen.Parameters.default, Seed(i.toLong)))
}

/** The regex RAKE the single-pass kernel replaced, kept verbatim as the
  * reference the kernel is compared against. */
object RegexRake {
  private val SentenceSplit =
    java.util.regex.Pattern.compile("[\\p{IsPunctuation}&&[^-]]|\\s+-\\s+")
  private val NumberRe =
    java.util.regex.Pattern.compile("-?\\p{N}+[./٫,']?\\p{N}*")
  private val WsPattern = java.util.regex.Pattern.compile("\\s+")

  def isNumber(w: String): Boolean = NumberRe.matcher(w).find()

  def candidatePhrases(text: String, stop: Set[String]): Seq[Vector[String]] = {
    val out = Seq.newBuilder[Vector[String]]
    val frags = SentenceSplit.split(text)
    var i = 0
    while (i < frags.length) {
      val words = WsPattern.split(frags(i))
      var cur = Vector.newBuilder[String]
      var curN = 0
      var j = 0
      while (j < words.length) {
        val w = words(j).trim
        if (w.isEmpty || stop.contains(w.toLowerCase)) {
          if (curN > 0) { out += cur.result(); cur = Vector.newBuilder[String]; curN = 0 }
        } else { cur += w; curN += 1 }
        j += 1
      }
      if (curN > 0) out += cur.result()
      i += 1
    }
    out.result()
  }

  def keywords(text: String, stop: Set[String] = Stopwords.english): Map[String, Float] = {
    if (text == null || text.isEmpty) return Map.empty
    val phrases = candidatePhrases(text, stop)
    val freq = collection.mutable.HashMap[String, Int]()
    val degree = collection.mutable.HashMap[String, Int]()
    phrases.foreach { p =>
      val scorable = p.filterNot(isNumber)
      if (scorable.nonEmpty) {
        val deg = scorable.length - 1
        scorable.foreach { w =>
          freq.update(w, freq.getOrElse(w, 0) + 1)
          degree.update(w, degree.getOrElse(w, 0) + deg)
        }
      }
    }
    def wordScore(w: String): Double = {
      val f = freq.getOrElse(w, 0)
      if (f == 0) 0.0 else (degree(w).toDouble + f) / f
    }
    phrases.iterator.map { p =>
      val key = p.mkString(" ")
      val score = p.iterator.filterNot(isNumber).map(wordScore).sum
      key -> score.toFloat
    }.toMap
  }
}

/** Each single-pass enrichment kernel equals the regex form it replaced:
  * RAKE against [[RegexRake]], and the pipeline kernels (P3, P7, P8,
  * P10, P11) against the Spark built-in expressions, evaluated side by
  * side on the same rows. */
class KernelSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private lazy val texts: Seq[String] = KernelGen.samples(3000)

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("kernel-spec").master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def show(s: String): String =
    if (s == null) "null" else s.flatMap(c =>
      if (c >= 0x20 && c < 0x7f) c.toString else f"\\u${c.toInt}%04X")

  test("generator covers every class the kernels distinguish") {
    val all = texts.mkString
    val types = all.codePoints().toArray.map(Character.getType).toSet
    Seq(Character.CONNECTOR_PUNCTUATION, Character.DASH_PUNCTUATION,
      Character.START_PUNCTUATION, Character.END_PUNCTUATION,
      Character.OTHER_PUNCTUATION, Character.INITIAL_QUOTE_PUNCTUATION,
      Character.FINAL_QUOTE_PUNCTUATION, Character.DECIMAL_DIGIT_NUMBER,
      Character.LETTER_NUMBER, Character.OTHER_NUMBER, Character.SURROGATE)
      .foreach(t => assert(types.contains(t.toInt), s"no code point of type $t"))
    Seq(" - ", "\u000B", "\f", "\u0001", "\\n", "\n\r\n", "_UA-", "\u00E9GTM-",
      "ga(\n", new String(Character.toChars(0x1D7CE)))
      .foreach(s => assert(all.contains(s), s"no ${show(s)}"))
  }

  test("RAKE kernel == regex RAKE: same phrases, same map order, same float bits") {
    texts.foreach { t =>
      assert(Rake.candidatePhrases(t, Stopwords.english) ==
        RegexRake.candidatePhrases(t, Stopwords.english), show(t))
      val bits = (m: Map[String, Float]) =>
        m.toSeq.map { case (k, v) => (k, java.lang.Float.floatToRawIntBits(v)) }
      assert(bits(Rake.keywords(t)) == bits(RegexRake.keywords(t)), show(t))
    }
  }

  test("isNumber kernel == `-?\\p{N}+[./٫,']?\\p{N}*` find, on tokens and whole texts") {
    (texts ++ KernelGen.digits ++ KernelGen.words ++ texts.flatMap(_.split("\\s+")))
      .foreach(w => assert(Rake.isNumber(w) == RegexRake.isNumber(w), show(w)))
  }

  /** Evaluates the replaced expression and the kernel on the same rows
    * (the generated texts plus a null) and requires equal values. The
    * rows come from an RDD, not a local relation, so both sides run
    * generated code as in the pipeline: interpreted, the replaced
    * `slice(_, 2, Int.MaxValue)` overflows and returns an empty array. */
  private def sameAsBuiltIn(replaced: Column => Column, kernel: Column => Column): Unit = {
    val sp = spark
    import sp.implicits._
    val df = sp.sparkContext.parallelize(texts.map(Option(_)) :+ None, 2).toDF("s")
    val rows = df.select($"s", replaced($"s"), kernel($"s")).collect()
    assert(rows.length == texts.length + 1)
    rows.foreach { r =>
      assert(r.get(1) == r.get(2), s"on ${show(r.getString(0))}: ${r.get(1)} vs ${r.get(2)}")
    }
  }

  test("P7 GA ids kernel == regexp_extract_all(GaPattern, 0)") {
    sameAsBuiltIn(regexp_extract_all(_, lit(Pipeline.GaPattern), lit(0)),
      udf(Pipeline.gaTrackerIds).apply(_))
  }

  test("P8 GA config kernel == regexp_extract_all(GaConfigPattern, 1)") {
    sameAsBuiltIn(regexp_extract_all(_, lit(Pipeline.GaConfigPattern), lit(1)),
      udf(Pipeline.gaConfigCalls).apply(_))
  }

  test("P10 collapse kernel == regexp_replace((\\s|\\\\n){2,}, \"\")") {
    sameAsBuiltIn(regexp_replace(_, "(\\s|\\\\n){2,}", ""),
      udf(Pipeline.collapseWs).apply(_))
  }

  test("P11 word count kernel == size(split(trim(_), \\s+)), 0 when empty") {
    sameAsBuiltIn(
      s => when(length(trim(s)) === 0, 0).otherwise(size(split(trim(s), "\\s+"))),
      udf(Pipeline.wordCount).apply(_))
  }

  test("P3 envelope: header block and HTML body == the regex split forms") {
    sameAsBuiltIn(s => element_at(split(s, "\n\r\n"), 1), Pipeline.headerBlock)
    sameAsBuiltIn(s => array_join(slice(split(s, "\n\r\n"), 2, Int.MaxValue), " "),
      Pipeline.htmlBody)
  }
}
