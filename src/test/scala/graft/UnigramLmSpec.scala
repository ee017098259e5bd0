package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the t20 unigram-LM induction the DuckDB oracle can't see:
  * a HAND-DERIVED golden segmentation on a corpus small enough to run
  * the Viterbi-EM by hand, the long-word exclusion path (structurally
  * dead on the gate corpora — max word length there is 8), and
  * fixture discrimination (multi-char pieces actually win). */
class UnigramLmSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("unigram-lm-spec").master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("golden hand-derived induction: 'ab ab ab cd' — 'ab' fuses, " +
      "'cd' stays split, unused singles prune; a >12-char word is " +
      "excluded and reported") {
    val sp = spark
    import sp.implicits._
    // Hand derivation. Words: ab×3, cd×1, extraordinarily×1 (15 chars —
    // excluded, reported). Seed pieces: singles a,b,c,d (counts 3,3,1,1)
    // + 'ab' (count 3 ≥ 2); 'cd' seeds at count 1 < 2 → not in vocab.
    // Round 1 Viterbi: 'ab' → piece 'ab' (ln(3/11) beats ln(3/11)²);
    // 'cd' → 'c'+'d'. Recount: ab:3, c:1, d:1 — a and b PRUNE (no path
    // uses them). Round 2: identical. Final vocab {ab:3, c:1, d:1}.
    val docs = Seq(
      "ab ab cd", "ab extraordinarily").toDF("text")
    val out = graft.text.UnigramLm.t20Impl(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(4), r.getLong(5))).toSeq
    // (piece_len, n_pieces, total_count, vocab_md5, long_words_excluded)
    val md5 = (s: String) => java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out == Seq(
      (1L, 2L, 2L, md5("c,d"), 1L),
      (2L, 1L, 3L, md5("ab"), 1L)), s"got $out")
  }

  test("t21 golden encode: the planted corpus's piece streams are " +
      "exactly the hand-derived tokenizations") {
    val sp = spark
    import sp.implicits._
    // same corpus as the induction golden: vocab {ab, c, d}. Doc 1
    // "ab ab cd" → ab · ab · c|d (3 words, 4 pieces); doc 2
    // "ab extraordinarily" → ab · <long> (1 word + 1 excluded).
    val docs = Seq(
      (1L, "ab ab cd"), (2L, "ab extraordinarily")).toDF("doc_id", "text")
    val md5 = (s: String) => java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val out = graft.text.UnigramLm.t21Impl(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSeq
    assert(out == Seq(
      (1L, 3L, 0L, 4L, md5("ab ab c|d")),
      (2L, 1L, 1L, 1L, md5("ab <long>"))), s"got $out")
  }

  test("t21 real corpus: per-doc accounting binds and encode is " +
      "deterministic") {
    val sp = spark
    import sp.implicits._
    val enc = graft.text.UnigramLm.t21_unigram_encode(spark, sf).cache()
    // every token is either counted or excluded, and every counted word
    // yields at least one piece (total segmentability)
    val bad = enc.filter($"n_pieces" < $"n_words").count()
    assert(bad == 0, s"$bad docs with unsegmented words")
    val docs = graft.analytics.Tables.documents(spark, sf)
    val tokTotal = docs.select(
        org.apache.spark.sql.functions.explode(
          graft.text.TextOps.whitespaceTokens($"text"))).count()
    val accounted = enc.agg(
      org.apache.spark.sql.functions.sum($"n_words" + $"n_long_words"))
      .head.getLong(0)
    assert(accounted == tokTotal, s"$accounted words accounted vs $tokTotal tokens")
    val a = enc.collect().map(_.toSeq).toSeq
    enc.unpersist()
    val b = graft.text.UnigramLm.t21_unigram_encode(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(a == b, "encode not deterministic")
  }

  test("real corpus: multi-char pieces win mass (discrimination) and " +
      "the induction is deterministic across runs") {
    val sp = spark
    import sp.implicits._
    val a = graft.text.UnigramLm.t20_unigram_lm(spark, sf).collect()
      .map(_.toSeq).toSeq
    // the segmentation genuinely uses multi-char pieces — if the EM
    // degenerated to chars, the operator would be a char counter
    val multiMass = a.filter(_(0).asInstanceOf[Long] >= 2L)
      .map(_(2).asInstanceOf[Long]).sum
    val charMass = a.filter(_(0).asInstanceOf[Long] == 1L)
      .map(_(2).asInstanceOf[Long]).sum
    assert(multiMass > charMass,
      s"multi-char pieces carry $multiMass vs chars $charMass — induction degenerated")
    // no long words on the gate corpus — the column must say so exactly
    assert(a.forall(_(5).asInstanceOf[Long] == 0L))
    val b = graft.text.UnigramLm.t20_unigram_lm(spark, sf).collect()
      .map(_.toSeq).toSeq
    assert(a == b, "induction is not deterministic across runs")
  }
}
