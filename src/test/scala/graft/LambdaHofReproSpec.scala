package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Minimal repro of the Spark 4.1.2 lambda-HOF mis-evaluation found via
  * p02's oracle in round 11 (commit 15121ae; VERDICT r11 "What's wrong
  * #2") — pinned here as a runnable artifact, not folklore.
  *
  * The exact observed shape (r11 debug session, sf0.001, 500 WARC
  * records): with `toks = split(trim(text), "\\s+")` over the
  * UDF-produced `text_content` of the WARC parse chain,
  *
  *   docs.select(size(filter(toks, t => t.isin(stop: _*))).as("n_stop"))
  *       .filter($"n_stop" === 0).count()   ==> 500   (EVERY row)
  *   ...show(3)                             ==> 1, 4, 4 (correct values)
  *   lambda-free algebra, same predicate    ==> 34    (true count)
  *   localCheckpoint'd input, same HOF      ==> 34    (true count)
  *
  * i.e. the higher-order `filter` deterministically evaluated to an
  * empty array when the alias-collapsed predicate `size(filter(...))=0`
  * sat directly over the UDF-heavy lineage, while the identical
  * expression PROJECTED fine — a silent wrong-answer class, not a
  * crash. A `repartition(8)` boundary did NOT clear it; a
  * `localCheckpoint` (true materialization) did. That is why every
  * engine column uses lambda-free algebra instead
  * ([[graft.text.TextOps.stopCount]]; the F5 GA-config filter as of
  * r12) — which is also faster: it stays inside whole-stage codegen.
  *
  * The test asserts the two forms AGREE under the collapsed-filter
  * shape — i.e. it asserts the ABSENCE of the bug. It is `ignore`d
  * (not run in CI) because its outcome is an upstream-Spark property,
  * not an engine contract: on a Spark build where the hazard fires it
  * FAILS with the 500-vs-34 disagreement — exactly the diagnostic
  * wanted when re-testing a Spark upgrade. Run manually:
  * `sbt "testOnly graft.LambdaHofReproSpec"` (after flipping ignore →
  * test). If a future Spark passes it, the lambda-free rewrites can be
  * reconsidered; until then they stay (no correctness cost, better
  * codegen).
  */
class LambdaHofReproSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("lambda-hof-repro-spec").master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  ignore("filter on a lambda-HOF column over the WARC-parse lineage agrees " +
      "with lambda-free algebra (FAILS on Spark builds with the r11 bug)") {
    val sp = spark
    import sp.implicits._
    // the exact lineage p02 puts under the gate: WARC bytes → record
    // parse → gunzip → envelope split → HTML parse UDF → text_content
    def docs() = graft.warc.Pipeline.urlResources(
      graft.warc.WarcSource.fromBytes(
        graft.warc.WarcQueries.warcFiles(spark, sf, gzip = false)))
      .select(regexp_extract($"url", "/page/(\\d+)$", 1).cast("long").as("doc_id"),
        $"text_content".as("text"))
    val toks = graft.text.TextOps.whitespaceTokens($"text")
    val words = graft.text.TextOps.StopSample
    val viaHof = size(filter(toks, t => t.isin(words: _*))).cast("long")
    val viaAlgebra = graft.text.TextOps.stopCount(toks).cast("long")
    val total = docs().count()
    // THE triggering shape: select the HOF under an alias, then filter
    // on that alias — Catalyst collapses the predicate to
    // `size(filter(toks, λ)) = 0` directly over the UDF lineage. In
    // r11 this counted ALL rows (HOF → empty array on every row).
    val zeroHof = docs().select($"doc_id", viaHof.as("n_stop"))
      .filter($"n_stop" === 0).count()
    val zeroFree = docs().select($"doc_id", viaAlgebra.as("n_stop"))
      .filter($"n_stop" === 0).count()
    assert(zeroFree < total,
      "fixture produced no stopwords at all — repro inconclusive")
    assert(zeroHof == zeroFree,
      s"lambda HOF mis-evaluated under the collapsed filter: HOF counts " +
        s"$zeroHof of $total rows as stopword-free, lambda-free counts " +
        s"$zeroFree — the r11 hazard is live on this Spark build; keep " +
        "every engine column lambda-free")
  }

  test("post-aggregation transform(getField) over the WARC lineage is SAFE " +
      "(the audit-tail shape auditRollup/io01 rely on)") {
    // The ONE place engine code still uses a lambda HOF is the shared
    // audit tail: md5(array_join(transform(array_sort(collect_list(
    // struct(...))), x => x.getField(...)), ",")) — TrainingPipeline's
    // corpus fingerprint (and io01's). That shape differs from the
    // hazard above in the load-bearing way: the HOF sits ABOVE an
    // aggregation Exchange (collect_list materialized the array), not
    // directly over the UDF-heavy projection, and nothing filters on
    // the aliased HOF column. This ACTIVE pin proves the shape against
    // a driver-side recomputation on the exact WARC lineage — if a
    // Spark upgrade ever extends the hazard past the Exchange, this
    // fails with a value diff instead of p02's oracle going silently
    // red at the driver (how r11 found the original).
    val sp = spark
    import sp.implicits._
    val docs = graft.warc.Pipeline.urlResources(
      graft.warc.WarcSource.fromBytes(
        graft.warc.WarcQueries.warcFiles(spark, sf, gzip = false)))
      .select(regexp_extract($"url", "/page/(\\d+)$", 1).cast("long").as("doc_id"),
        $"text_content".as("text"))
      .withColumn("doc_md5", md5($"text"))
      .withColumn("grp", ($"doc_id" % 4).cast("long"))
    val viaHof = docs.groupBy($"grp")
      .agg(md5(array_join(transform(
        array_sort(collect_list(struct($"doc_id", $"doc_md5"))),
        x => x.getField("doc_md5")), ",")).as("fp"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    // ground truth: same fingerprint computed driver-side from the rows
    val rows = docs.select($"grp", $"doc_id", $"doc_md5")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val expect = rows.groupBy(_._1).map { case (g, rs) =>
      val joined = rs.sortBy(r => (r._2, r._3)).map(_._3).mkString(",")
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(joined.getBytes("UTF-8"))
      (g, d.map("%02x".format(_)).mkString)
    }
    assert(rows.nonEmpty && viaHof == expect,
      s"post-agg transform diverged from driver recomputation: $viaHof vs $expect")
  }
}
