package graft.rake

/** RAKE (Rapid Automatic Keyword Extraction) — per-document keyword
  * scoring (SURVEY.md §2.5; reference `src/rake/` which vendors the
  * published RAKE algorithm, Rose et al. 2010).
  *
  * Semantics reproduced (A1–A5):
  *  - A1 phrase segmentation: text split into fragments at punctuation
  *    (hyphen excluded unless whitespace-surrounded, reference
  *    `rake/rake.rs:14`), fragments split into candidate phrases at
  *    stopwords.
  *  - F7 number filter: tokens CONTAINING a match of
  *    `-?\p{N}+[./٫,']?\p{N}*` (substring search, `is_match` — so
  *    "v2"/"abc123" count as numbers) are excluded from
  *    frequency/degree/scoring (`rake/inner.rs:4-14`).
  *  - A2 word stats: with len = count of non-number words in the
  *    phrase, when len > 0: freq(w) += 1, degree(w) += len - 1;
  *    score(w) = (degree + freq) / freq. Tokens keep ORIGINAL case
  *    (only the stopword lookup lowercases), matching
  *    `rake/rake.rs` `phrases()`/`word_scores()`.
  *  - A3 phrase score: sum of member word scores; duplicate phrases
  *    collapse (equal scores, order-insensitive).
  *  - A5 output: Map(phrase → score) with f64→f32 cast
  *    (`src/lib.rs:386-399`).
  *
  * Kernel: one pass over the text, no regex. It reproduces, in Java
  * regex semantics, the fragment split `[\p{IsPunctuation}&&[^-]]|\s+-\s+`
  * (a code point of one of the seven `P*` categories other than `-`, or
  * an ASCII `\s` run, `-`, `\s` run), the token split at `\s` runs, and
  * the number test: `-?\p{N}+…` finds a match iff the token holds any
  * `\p{N}` code point. `KernelSpec` pins it against the regex form.
  *
  * Engine integration: exposed as a deterministic scalar UDF; the
  * stopword set is a JVM-static singleton per executor (the reference
  * uses a process-wide lazy `Rake` instance, `src/lib.rs:385`).
  */
object Rake {

  private final val PunctTypes =
    (1 << Character.CONNECTOR_PUNCTUATION) | (1 << Character.DASH_PUNCTUATION) |
      (1 << Character.START_PUNCTUATION) | (1 << Character.END_PUNCTUATION) |
      (1 << Character.OTHER_PUNCTUATION) | (1 << Character.INITIAL_QUOTE_PUNCTUATION) |
      (1 << Character.FINAL_QUOTE_PUNCTUATION)
  private final val NumberTypes =
    (1 << Character.DECIMAL_DIGIT_NUMBER) | (1 << Character.LETTER_NUMBER) |
      (1 << Character.OTHER_NUMBER)

  /** Java regex `\s` (no UNICODE_CHARACTER_CLASS): `[ \t\n\x0B\f\r]`. */
  @inline def isSpace(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  def isNumber(w: String): Boolean = {
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      if (((NumberTypes >>> Character.getType(cp)) & 1) != 0) return true
      i += Character.charCount(cp)
    }
    false
  }

  /** Segmented text: kept words in order, their number flags, and the
    * exclusive end index (into `words`) of each candidate phrase. */
  private final class Phrases(stop: Set[String]) {
    val words = scala.collection.mutable.ArrayBuffer.empty[String]
    val numbers = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    val ends = scala.collection.mutable.ArrayBuffer.empty[Int]

    def token(raw: String, number: Boolean): Unit = {
      val w = raw.trim // original case kept, as the reference does
      if (w.isEmpty || stop.contains(w.toLowerCase)) close()
      else { words += w; numbers += number }
    }

    def close(): Unit =
      if (words.length > (if (ends.isEmpty) 0 else ends.last)) ends += words.length
  }

  /** Candidate phrases: runs of consecutive non-stopwords within each
    * punctuation-delimited fragment. */
  private def segment(text: String, stop: Set[String]): Phrases = {
    val ph = new Phrases(stop)
    val n = text.length
    var tokStart = -1 // start of the open token, -1 between tokens
    var tokNumber = false
    def endToken(end: Int): Unit = if (tokStart >= 0) {
      ph.token(text.substring(tokStart, end), tokNumber)
      tokStart = -1
      tokNumber = false
    }
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      if (isSpace(c)) {
        endToken(i)
        var j = i + 1
        while (j < n && isSpace(text.charAt(j))) j += 1
        // `\s+-\s+` ends the fragment; a lone `-` elsewhere is a word char
        if (j + 1 < n && text.charAt(j) == '-' && isSpace(text.charAt(j + 1))) {
          ph.close()
          j += 2
          while (j < n && isSpace(text.charAt(j))) j += 1
        }
        i = j
      } else {
        val cp = text.codePointAt(i)
        val t = Character.getType(cp)
        if (c != '-' && ((PunctTypes >>> t) & 1) != 0) {
          endToken(i)
          ph.close()
        } else {
          if (tokStart < 0) tokStart = i
          if (((NumberTypes >>> t) & 1) != 0) tokNumber = true
        }
        i += Character.charCount(cp)
      }
    }
    endToken(n)
    ph.close()
    ph
  }

  def candidatePhrases(text: String, stop: Set[String]): Seq[Vector[String]] = {
    val ph = segment(text, stop)
    (0 +: ph.ends).zip(ph.ends).map { case (s, e) => ph.words.slice(s, e).toVector }.toSeq
  }

  private final class WordStat { var freq = 0; var degree = 0 }

  /** Full RAKE: phrase → score map. */
  def keywords(text: String, stop: Set[String] = Stopwords.english): Map[String, Float] = {
    if (text == null || text.isEmpty) return Map.empty
    val ph = segment(text, stop)
    val words = ph.words
    val numbers = ph.numbers
    // A2: one word table of (freq, degree) over non-number words
    val table = new java.util.HashMap[String, WordStat]()
    val stats = new Array[WordStat](words.length) // null for number words
    var start = 0
    ph.ends.foreach { end =>
      var scorable = 0
      var k = start
      while (k < end) { if (!numbers(k)) scorable += 1; k += 1 }
      k = start
      while (k < end) {
        if (!numbers(k)) {
          var st = table.get(words(k))
          if (st == null) { st = new WordStat; table.put(words(k), st) }
          st.freq += 1
          st.degree += scorable - 1 // non-number words only, per reference
          stats(k) = st
        }
        k += 1
      }
      start = end
    }
    // A3+A5: phrase scores into a map (duplicates collapse, scores equal)
    val out = Map.newBuilder[String, Float]
    val key = new java.lang.StringBuilder
    start = 0
    ph.ends.foreach { end =>
      key.setLength(0)
      var score = 0.0
      var k = start
      while (k < end) {
        if (k > start) key.append(' ')
        key.append(words(k))
        val st = stats(k)
        if (st != null) score += (st.degree.toDouble + st.freq) / st.freq
        k += 1
      }
      out += key.toString -> score.toFloat
      start = end
    }
    out.result()
  }

  /** Ranked (phrase, score) descending — the reference's A4 sort shape
    * (`rake/keyword.rs:28-54`); ties broken by phrase for determinism. */
  def rankedKeywords(text: String, stop: Set[String] = Stopwords.english): Seq[(String, Float)] =
    keywords(text, stop).toSeq.sortBy { case (k, s) => (-s, k) }
}
