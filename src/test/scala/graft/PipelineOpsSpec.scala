package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the composed training pipeline (p01), the jsonl round-trip
  * (io01), and recrawl latest-wins (d17) — the round-10 additions. The
  * value-exact story is the DuckDB oracle at the gate; these specs pin
  * the INTERNAL invariants the oracle can't see (stage-by-stage
  * accounting, serialization fidelity vs the in-memory truth,
  * determinism across runs). */
class PipelineOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("pipeline-ops-spec").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("p01: stage accounting — gate, dedup, cap, and shards all bind coherently") {
    val sp = spark
    import sp.implicits._
    val out = graft.pipeline.TrainingPipeline.p01_training_pipeline(spark, sf)
      .collect()
    // every shard occupied, audit fields sane
    assert(out.length == 8)
    assert(out.map(_.getAs[Long]("shard")).toSeq == (0L until 8L))
    assert(out.forall(_.getAs[Long]("n_docs") > 0))
    // corpus_fp: the shared 62-bit XOR fingerprint — nonneg by construction
    assert(out.forall { r =>
      val fp = r.getAs[Long]("corpus_fp"); fp >= 0L && fp < (1L << 62) })
    val total = out.map(_.getAs[Long]("n_docs")).sum
    // EXACT stage identity: total == Σ_source min(post-dedup survivors,
    // DomainCap) — recomputed independently from the public gate query
    // plus a direct dedup, so a broken cap (pass-through OR over-trim)
    // moves this sum, not just an inequality. Also require that at least
    // one source actually HITS the cap (the stage binds on this corpus).
    val cap = graft.pipeline.TrainingPipeline.DomainCap
    val keptIds = graft.text.TextOps.t07_quality_gate(spark, sf)
      .filter($"keep").select($"doc_id")
    val perSource = graft.analytics.Tables.documents(spark, sf)
      .join(keptIds, "doc_id")
      .withColumn("doc_md5", md5($"text"))
      // keeper = min doc_id per digest; its source (min_by, not first —
      // duplicates may span sources and first() is nondeterministic)
      .groupBy($"doc_md5").agg(min($"doc_id").as("doc_id"),
        min_by($"source", $"doc_id").as("source"))
      .groupBy($"source").count()
      .select($"count").as[Long].collect()
    assert(perSource.exists(_ >= cap), "no source ever reaches the cap")
    assert(perSource.exists(_ < cap),
      "every source capped — the min() identity would not detect over-trim")
    val expected = perSource.map(c => math.min(c, cap)).sum
    assert(total == expected,
      s"stage identity broken: pipeline kept $total, Σ min(survivors, cap) = $expected")
  }

  test("p07 provenance: dispositions reconcile with p01's audit; every " +
      "disposition and gate reason fires on a planted corpus") {
    val sp = spark
    import sp.implicits._
    // (a) on p01's actual corpus: per-disposition counts must reconcile
    // with the stage audit — Σ all == input rows, kept == p01's Σ n_docs
    val prov = graft.pipeline.TrainingPipeline.p07_provenance(spark, sf).cache()
    val byDisp = prov.groupBy($"disposition").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = graft.analytics.Tables.documents(spark, sf).count()
    assert(byDisp.values.sum == total, s"provenance lost rows: $byDisp vs $total")
    val p01docs = graft.pipeline.TrainingPipeline
      .p01_training_pipeline(spark, sf)
      .agg(sum($"n_docs")).head.getLong(0)
    assert(byDisp.getOrElse("kept", 0L) == p01docs,
      s"kept=${byDisp.get("kept")} != p01 audit $p01docs")
    // kept rows carry real placements, everything else carries sentinels
    assert(prov.filter($"disposition" === "kept" &&
      ($"shard" < 0 || $"shard_rank" < 1)).count() == 0)
    assert(prov.filter($"disposition" =!= "kept" && $"shard" =!= -1L)
      .count() == 0)
    prov.unpersist()
    // (b) discrimination (the SURVEY §5 rule): the raw corpus has no
    // exact duplicates (d01 plants its own), so 'duplicate' would be
    // dead code above — plant a corpus that exercises every disposition
    // and all four gate reasons, with known counts
    def okDoc(i: Int): String =
      (1 to 30).map(j => if (j % 5 == 0) "the" else s"w${i}x$j").mkString(" ")
    val big = (1 to 20).map(i => (100L + i, okDoc(i), "big"))
    val dupText = okDoc(99)
    val planted = (big ++ Seq(
      (51L, dupText, "dup"), (52L, dupText, "dup"), // exact pair: 52 loses
      (61L, "tiny", "bad"), // too_short
      (62L, (1 to 40).map(j => s"z$j").mkString(" "), "bad"), // low_stopword
      (63L, (1 to 30).map(j => if (j % 5 == 0) "the" else s"p$j!!!")
        .mkString(" "), "bad"), // high_punct
      (64L, Seq.fill(20)("the cat sat").mkString(" "), "bad") // repetitive
    )).toDF("doc_id", "text", "source")
    val tp = graft.pipeline.TrainingPipeline
    val verdict = tp.gateVerdictOf(planted)
    val useThreshold = tp.resolveThresholdCap(planted)
    val pv = tp.provenanceOf(verdict, useThreshold).cache()
    val d = pv.groupBy($"disposition").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // big: 20 survivors vs DomainCap 15 → 5 capped; dup: keeper kept,
    // twin duplicate; bad: all four gated
    assert(d == Map("kept" -> 16L, "capped" -> 5L, "duplicate" -> 1L,
      "gated" -> 4L), s"got $d")
    val reasons = pv.select($"gate_reason").distinct().collect()
      .map(_.getString(0)).toSet
    assert(reasons == Set("none", "too_short", "low_stopword",
      "high_punct", "repetitive"), s"got $reasons")
    val dupRow = pv.filter($"doc_id" === 52L).collect()(0)
    assert(dupRow.getAs[String]("disposition") == "duplicate" &&
      dupRow.getAs[Long]("keeper_id") == 51L)
    // the keeper itself survived (kept — its 2-doc source is under cap)
    assert(pv.filter($"doc_id" === 51L).collect()(0)
      .getAs[String]("disposition") == "kept")
    // the planted kept-set also reconciles with the REAL pipeline run
    // on the same corpus — provenance and survivors cannot drift
    val audited = tp.shardedAuditOf(verdict, useThreshold)
      .agg(sum($"n_docs")).head.getLong(0)
    assert(d("kept") == audited, s"planted kept ${d("kept")} != audit $audited")
    pv.unpersist()
  }

  test("p01: deterministic across runs") {
    val a = graft.pipeline.TrainingPipeline.p01_training_pipeline(spark, sf)
      .collect().map(_.toString).toSeq
    val b = graft.pipeline.TrainingPipeline.p01_training_pipeline(spark, sf)
      .collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("fingerprint device: engine fp62+xorFp matches the DuckDB-verified golden") {
    val sp = spark
    import sp.implicits._
    // the exact fixture probed in DuckDB before wiring (see Fingerprint
    // scaladoc): keys "1:hello world","2:foo bar","3:xyz" XOR to this
    val fp = Seq((1L, "hello world"), (2L, "foo bar"), (3L, "xyz"))
      .toDF("rank", "m")
      .agg(graft.functions.Fingerprint.xorFp(
        concat($"rank".cast("string"), lit(":"), $"m")))
      .collect()(0).getLong(0)
    assert(fp == 355585489640861541L, s"fp drifted: $fp")
  }

  test("p10: unified stage binds — drops dup mass exact dedup misses; quality keeper overrides min-id") {
    val sp = spark
    import sp.implicits._
    val chain = graft.dedup.DedupOps.withContainmentChain(spark, sf,
      carrySource = true)
    // the unified audit must diverge from the exact-dedup audit of the
    // SAME chain corpus (exact drops 0 here — no byte copies — so equal
    // fingerprints would mean the composed stage is dead)
    val uniFps = graft.pipeline.TrainingPipeline
      .p10_unified_pipeline(spark, sf).collect()
      .map(r => r.getAs[Long]("shard") -> r.getAs[Long]("corpus_fp")).toMap
    val tp = graft.pipeline.TrainingPipeline
    val verdict = tp.gateVerdictOf(chain)
    val useThreshold = tp.resolveThresholdCap(chain)
    val exactFps = tp.shardedAuditOf(verdict, useThreshold)
      .collect()
      .map(r => r.getAs[Long]("shard") -> r.getAs[Long]("corpus_fp")).toMap
    assert(uniFps.keySet == exactFps.keySet)
    assert(uniFps.keySet.exists(k => uniFps(k) != exactFps(k)),
      "unified pipeline shipped byte-identical shards to exact dedup")
    // per-doc provenance under the unified discipline: duplicates exist,
    // and at least one dropped doc has an id BELOW its keeper's — the
    // quality rule (most tokens) overrode the min-id rule
    val prov = tp.provenanceOf(verdict, useThreshold,
      clusters = Some(tp.unifiedClusters(tp.gatedOf(chain)))).collect()
    val dups = prov.filter(_.getAs[String]("disposition") == "duplicate")
    assert(dups.nonEmpty, "unified stage dropped nothing")
    assert(dups.exists(r =>
      r.getAs[Long]("doc_id") < r.getAs[Long]("keeper_id")),
      "keeper always the min id — quality rule degenerated into d16")
  }

  test("unified keeper tie semantics: equal token counts break to the MIN id, input-order independent") {
    val sp = spark
    import sp.implicits._
    // three byte-distinct near-dups with EQUAL token counts (40 shared
    // tokens + one distinct tail token: 38 of 39 shingles shared,
    // J = 38/40 = 0.95 >= 0.8) — the tie case where a refactor to
    // max_by(doc_id, n_tok) would pick an input-order-dependent keeper
    // while the struct-max rule must break to the min id (r19 verdict
    // item 7's named candidate: keeper tie semantics at scale)
    val base = (1 to 40).map(j => s"w$j").mkString(" ")
    def corpus(ids: Seq[Long]) = ids.zip(Seq("xa", "xb", "xc"))
      .map { case (id, t) => (id, s"$base $t") }
      .toDF("doc_id", "text")
      .withColumn("n_tok",
        size(split(trim($"text"), "\\s+")).cast("long"))
    val c1 = graft.pipeline.TrainingPipeline.unifiedClusters(corpus(Seq(5L, 6L, 7L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c1.keySet == Set(5L, 6L, 7L), s"expected one 3-doc cluster: $c1")
    assert(c1.values.toSet == Set(5L), s"tie must break to min id: $c1")
    // input-order independence: reversed ids over a shuffled frame
    val shuffled = corpus(Seq(7L, 6L, 5L)).repartition(3)
    val c2 = graft.pipeline.TrainingPipeline.unifiedClusters(shuffled)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c2 == c1, s"keeper depends on input order: $c2 vs $c1")
  }

  test("io01: jsonl round-trip audit equals the audit of the in-memory truth") {
    val sp = spark
    import sp.implicits._
    val viaJson = graft.pipeline.TrainingPipeline.io01_jsonl_roundtrip(spark, sf)
      .collect().map(_.toString).toSeq
    val direct = graft.analytics.Tables.documents(spark, sf)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("sum_chars"),
        sum(length($"text")).cast("long").as("sum_text_len"),
        graft.functions.Fingerprint.xorFp(
          concat($"doc_id".cast("string"), lit(":"), md5($"text")))
          .as("corpus_fp"))
      .orderBy($"lang")
      .collect().map(_.toString).toSeq
    assert(viaJson == direct)
  }

  test("p01 shards: written layout replays the audited byte sequence exactly") {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-shards")
    try {
      val out = dir.resolve("shards").toString
      // maxRecordsPerFile = 16 forces the MULTI-file regime (~40 docs
      // per shard here): the file-order replay claim is tested where it
      // is actually at risk, not in the trivial one-file case
      val writtenAudit = graft.pipeline.TrainingPipeline
        .materializeShards(spark, sf, out, maxRecordsPerFile = 16L)
        .collect().map(_.toString).toSeq
      // the audit computed FROM THE FILES equals the audit computed from
      // the logical pipeline: the write lost nothing and reordered nothing
      val pipelineAudit = graft.pipeline.TrainingPipeline
        .p01_training_pipeline(spark, sf)
        .collect().map(_.toString).toSeq
      assert(writtenAudit == pipelineAudit)
      // Hive layout: one shard=N dir per audited shard, _SUCCESS marker
      assert(java.nio.file.Files.exists(dir.resolve("shards/_SUCCESS")))
      def ls(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
        val stream = java.nio.file.Files.list(p)
        try {
          val buf = new scala.collection.mutable.ArrayBuffer[java.nio.file.Path]
          stream.iterator().forEachRemaining(q => buf += q)
          buf.toSeq
        } finally stream.close()
      }
      val dirs = ls(dir.resolve("shards")).map(_.getFileName.toString)
      assert((0 until 8).forall(i => dirs.contains(s"shard=$i")), dirs)
      // partition pruning reaches the scan: the shard predicate must
      // land in the FileScan's PartitionFilters (directory-level skip),
      // NOT in DataFilters/PushedFilters (row-level, after listing).
      // Neither the plan's Location text nor df.inputFiles can see this
      // — both print the pre-pruning index.
      val one = spark.read.parquet(out).filter($"shard" === 3)
      val scanned = one.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*shard#\\d+ = 3".r
        .findFirstIn(scanned).isDefined, scanned)
      // payload integrity per row: the shipped text still hashes to the
      // doc_md5 the dedup stage computed
      val bad = spark.read.parquet(out)
        .filter(md5($"text") =!= $"doc_md5").count()
      assert(bad == 0L)
      // file-order replay across the SPLIT files: parquet preserves row
      // order within a file and part numbers order the files (Spark's
      // multi-path read reorders by size, so concatenate per-file reads
      // in part order — what a trainer's sequential reader does)
      val parts = ls(dir.resolve("shards/shard=3"))
        .map(_.toString).filter(_.matches(".*/part-[^/]*\\.parquet$")).sorted
      assert(parts.size >= 2, s"fixture geometry: want a split shard, got $parts")
      val inFileOrder = parts.flatMap { p =>
        spark.read.parquet(p)
          .select($"order_key", $"doc_id").as[(String, Long)].collect().toSeq
      }
      assert(inFileOrder == inFileOrder.sorted)
      assert(inFileOrder.size > 16) // genuinely spans files
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.delete)
      finally walk.close()
    }
  }

  private def rmTree(dir: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(dir)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(java.nio.file.Files.delete)
    finally walk.close()
  }

  test("release drill: WARC surface → written shards/provenance/card, reconciled from disk") {
    val sp = spark
    import sp.implicits._
    val docs = graft.pipeline.TrainingPipeline.warcCorpus(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft-drill")
    try {
      val checks = graft.pipeline.TrainingPipeline
        .releaseDrill(spark, docs, dir.toString, maxRecordsPerFile = 16L)
        .collect()
      assert(checks.length == 6)
      assert(checks.forall(_.getAs[Boolean]("pass")),
        checks.map(_.toString).mkString("\n"))
      // non-vacuous: the surface flowed real docs, shards landed on
      // disk, and the langless WARC corpus gets NO lang card section
      val nInput = checks
        .find(_.getAs[String]("check") == "provenance_covers_input")
        .get.getAs[String]("lhs").toLong
      assert(nInput > 0)
      val card = spark.read.parquet(dir.resolve("card").toString)
      assert(card.filter($"section" === "shard").count() >= 1)
      assert(card.filter($"section" === "lang").count() == 0)
      val disp = card.filter($"section" === "disposition")
        .select($"key").as[String].collect().toSet
      // the pipeline did real work: survivors exist AND something dropped
      assert(disp.contains("kept") && disp.size >= 2, disp)
      assert(java.nio.file.Files.exists(dir.resolve("shards/_SUCCESS")))
      assert(java.nio.file.Files.exists(dir.resolve("provenance/_SUCCESS")))
    } finally rmTree(dir)
  }

  test("release drill on the lang-carrying corpus: card from the written provenance == p08's card") {
    val sp = spark
    import sp.implicits._
    val docs = graft.analytics.Tables.documents(spark, sf)
      .select($"doc_id", $"text", $"source", $"lang")
    val dir = java.nio.file.Files.createTempDirectory("graft-drill-lang")
    try {
      val checks = graft.pipeline.TrainingPipeline
        .releaseDrill(spark, docs, dir.toString).collect()
      assert(checks.forall(_.getAs[Boolean]("pass")),
        checks.map(_.toString).mkString("\n"))
      // the card computed FROM THE WRITTEN provenance file is
      // bit-for-bit p08's registered output — the drill surface and the
      // oracle-certified query cannot drift
      val cardDisk = spark.read.parquet(dir.resolve("card").toString)
        .orderBy("section", "key").collect().map(_.toString).toSeq
      val p08 = graft.pipeline.TrainingPipeline
        .p08_dataset_card(spark, sf).collect().map(_.toString).toSeq
      assert(cardDisk == p08)
      val lang = spark.read.parquet(dir.resolve("card").toString)
        .filter($"section" === "lang").count()
      assert(lang >= 1) // the lang section exists on this surface
    } finally rmTree(dir)
  }

  test("unified release drill gates the corpus exactly once") {
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // every executed plan of the drill, in completion order; the marker
    // action posted after it proves the listener bus delivered them all
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val marker = "gate_pin_marker"
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    val docs = graft.dedup.DedupOps.withContainmentChain(spark, sf,
      carrySource = true)
    val dir = java.nio.file.Files.createTempDirectory("graft-drill-gate")
    spark.listenerManager.register(l)
    val checks = try {
      val rows = graft.pipeline.TrainingPipeline
        .releaseDrillUnified(spark, docs, dir.toString).collect()
      spark.range(1).toDF(marker).collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!plans.stream().anyMatch(_.output.exists(_.name == marker)) &&
          System.nanoTime() < deadline) Thread.sleep(50)
      rows
    } finally {
      spark.listenerManager.unregister(l)
      rmTree(dir)
    }
    assert(checks.length == 7 && checks.forall(_.getAs[Boolean]("pass")),
      checks.map(_.toString).mkString("\n"))
    // a gate pass = one executed instance of the gate's 3-gram explode
    // (TextOps.gateSignalsOf, the one Generate emitting `gram`); a
    // cached subplan counts once however many scans read it, and a
    // reused exchange is a leaf, so a shared pass is not counted twice
    val helper = new AdaptiveSparkPlanHelper {}
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    def gatePasses(p: SparkPlan): Int =
      helper.collectWithSubqueries(p) {
        case g: GenerateExec if g.generatorOutput.exists(_.name == "gram") => 1
        case m: InMemoryTableScanExec if seen.add(m.relation.cacheBuilder) =>
          gatePasses(m.relation.cachedPlan)
      }.sum
    import scala.jdk.CollectionConverters._
    assert(plans.asScala.exists(_.output.exists(_.name == marker)),
      "listener never saw the marker action")
    val n = plans.asScala.toSeq.map(gatePasses).sum
    assert(n == 1, s"the drill gated the corpus $n times; stage 1 must run once")
  }

  test("card rollup: a NULL lang groups like the oracle's GROUP BY — never silently dropped") {
    val sp = spark
    import sp.implicits._
    // r18 review: filtering entries on key-nullness conflated "row not
    // in this section" with "key value IS NULL" — a kept doc with NULL
    // lang vanished from the lang section while DuckDB's GROUP BY lang
    // keeps the NULL group. Applicability is now its own flag.
    val base = Seq(
      (10L, "kept", "none", 0L, Some("en")),
      (11L, "kept", "none", 1L, None), // NULL lang — must still roll up
      (12L, "gated", "too_short", -1L, Some("en")))
      .toDF("n_tok", "disposition", "gate_reason", "shard", "lang")
    val card = graft.pipeline.TrainingPipeline.cardRollupOf(base).collect()
    val lang = card.filter(_.getAs[String]("section") == "lang")
    assert(lang.length == 2, lang.mkString(";"))
    val nullRow = lang.find(r => r.isNullAt(r.fieldIndex("key")))
    assert(nullRow.isDefined, "NULL-lang kept doc dropped from the lang section")
    assert(nullRow.get.getAs[Long]("n_docs") == 1L)
    assert(nullRow.get.getAs[Long]("n_tokens") == 11L)
    // the lang section still partitions the kept mass exactly
    val kept = card.find(r => r.getAs[String]("section") == "disposition" &&
      r.getAs[String]("key") == "kept").get
    assert(lang.map(_.getAs[Long]("n_docs")).sum == kept.getAs[Long]("n_docs"))
    assert(lang.map(_.getAs[Long]("n_tokens")).sum == kept.getAs[Long]("n_tokens"))
    // ROW ORDER parity with the oracle (r18 ADVICE): DuckDB's ORDER BY
    // sorts NULLs LAST; Spark's default asc sorts them FIRST — the card
    // pins asc_nulls_last, so the NULL key must be the lang section's
    // LAST row in the collected (already-ordered) output
    val langKeys = card.toSeq
      .filter(_.getAs[String]("section") == "lang")
      .map(r => Option(r.getAs[String]("key")))
    assert(langKeys == Seq(Some("en"), None),
      s"NULL lang must sort LAST like the DuckDB oracle, got $langKeys")
  }

  test("release drill on a NULL-lang corpus: kept NULL-lang docs reach the written card, ordered like the oracle") {
    val sp = spark
    import sp.implicits._
    // gate-surviving texts: ≥30 distinct tokens, ≥2 stopwords, no punct
    def textOf(tag: String): String =
      (Seq("the", "of") ++ (1 to 30).map(i => s"$tag$i")).mkString(" ")
    val docs = Seq(
      (1L, textOf("alpha"), "s1", Some("en")),
      (2L, textOf("beta"), "s1", None), // NULL lang, kept — the r18 fix's case
      (3L, textOf("gamma"), "s2", Some("de")),
      (4L, "tiny", "s2", None)) // NULL lang, gated (too_short)
      .toDF("doc_id", "text", "source", "lang")
    val dir = java.nio.file.Files.createTempDirectory("graft-drill-nulllang")
    try {
      val checks = graft.pipeline.TrainingPipeline
        .releaseDrill(spark, docs, dir.toString).collect()
      assert(checks.forall(_.getAs[Boolean]("pass")),
        checks.map(_.toString).mkString("\n"))
      val langRows = spark.read.parquet(dir.resolve("card").toString)
        .filter($"section" === "lang")
        .orderBy($"key".asc_nulls_last).collect()
      assert(langRows.map(r => Option(r.getAs[String]("key"))).toSeq ==
        Seq(Some("de"), Some("en"), None), langRows.mkString(";"))
      val nullRow = langRows.last
      assert(nullRow.getAs[Long]("n_docs") == 1L,
        "the kept NULL-lang doc must appear in the written card")
    } finally rmTree(dir)
  }

  test("d17: latest-wins keeps exactly the newest snapshot per URL") {
    val sp = spark
    import sp.implicits._
    val out = graft.dedup.Recrawl.d17_recrawl_latest(spark, sf)
    val docs = graft.analytics.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val rows = out.select($"url_id", $"n_fetches", $"kept_seq", $"kept_md5")
      .as[(Long, Long, Long, String)].collect()
    assert(rows.length == docs.size) // one row per URL, none dropped
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    rows.foreach { case (url, nf, seq, m) =>
      val (expN, expSeq, expText) =
        if (url % 15 == 0) (3L, 3L, docs(url) + " [recrawl v3]")
        else if (url % 5 == 0) (2L, 2L, docs(url) + " [recrawl v2]")
        else (1L, 1L, docs(url))
      assert(nf == expN && seq == expSeq, s"url $url: n=$nf seq=$seq")
      assert(m == md5hex(expText), s"url $url kept wrong snapshot")
    }
  }

  test("p04: packing invariants — lossless, never overfilled, never wasteful") {
    val sp = spark
    import sp.implicits._
    val ctx = graft.pipeline.TrainingPipeline.PackCtx
    val pack = graft.pipeline.TrainingPipeline.p04_sequence_pack(spark, sf)
      .collect()
    val audit = graft.pipeline.TrainingPipeline.p01_training_pipeline(spark, sf)
      .select($"shard", $"n_docs").as[(Long, Long)].collect().toMap
    assert(pack.nonEmpty)
    pack.foreach { r =>
      val (shard, nDocs, nSeq, sumTok, eff) =
        (r.getAs[Long]("shard"), r.getAs[Long]("n_docs"),
          r.getAs[Long]("n_sequences"), r.getAs[Long]("sum_tokens"),
          r.getAs[Double]("packing_efficiency"))
      // LOSSLESS: every pipeline survivor is packed, none dropped/dup'd
      assert(nDocs == audit(shard), s"shard $shard: packed $nDocs of ${audit(shard)}")
      // NEVER OVERFILLED: total mass fits the sequences claimed
      assert(sumTok <= nSeq * ctx, s"shard $shard overfilled")
      // NEVER WASTEFUL: greedy next-fit cannot use more sequences than
      // one per doc, and any two CONSECUTIVE sequences hold > ctx
      // together (else the fill would not have closed the first) —
      // which bounds sequences ≤ 2·ceil(sum/ctx), i.e. efficiency > 0.5
      // whenever docs are ≤ ctx, as here
      assert(nSeq <= nDocs)
      assert(eff > 0.5 && eff <= 1.0, s"shard $shard efficiency $eff")
    }
  }

  test("p05: the mixture knob binds — over-represented lang downsamples toward target") {
    val sp = spark
    import sp.implicits._
    val rows = graft.pipeline.TrainingPipeline.p05_mixture_resample(spark, sf)
      .collect().map(r => (r.getAs[String]("lang"), r.getAs[Long]("mass_before"),
        r.getAs[Long]("sample_thr"), r.getAs[Long]("n_kept"),
        r.getAs[Long]("kept_tokens"))).toSeq
    val total = rows.map(_._2).sum
    val perLangTarget = (total / 2).toDouble / rows.length
    // thresholds live on the 2^32 grid; a rate-1 lang has thr == 2^32
    assert(rows.forall(_._3 <= 4294967296L))
    // the dominant language must actually downsample (rate < 1) …
    val (maxLang, maxMass, maxThr, _, maxKept) = rows.maxBy(_._2)
    assert(maxThr < 4294967296L && maxKept < maxMass,
      s"$maxLang (mass $maxMass) was not downsampled")
    // … and every DOWNSAMPLED language's kept mass lands near its
    // uniform target share (salted-hash variance at this corpus size
    // stays well inside ±25%; a broken threshold misses by design)
    rows.filter(_._3 < 4294967296L).foreach { case (lang, _, _, _, kept) =>
      assert(math.abs(kept - perLangTarget) < 0.25 * perLangTarget,
        s"$lang kept $kept vs target ~$perLangTarget")
    }
    // deterministic across runs
    val again = graft.pipeline.TrainingPipeline.p05_mixture_resample(spark, sf)
      .collect().map(r => (r.getAs[String]("lang"), r.getAs[Long]("n_kept"))).toSeq
    assert(again == rows.map(r => (r._1, r._4)))
  }

  test("p01 capMode=auto above the skew bound is value-identical to p01b") {
    // the auto-engaged hatch must be the SAME discipline p01b's oracle
    // certifies — same salt family, same thresholds, same audit bytes
    val expected = graft.pipeline.TrainingPipeline
      .p01b_threshold_cap(spark, sf).collect().map(_.toSeq).toSeq
    spark.conf.set("spark.graft.pipeline.capMode", "auto")
    spark.conf.set("spark.graft.pipeline.skewBound", "0")
    try {
      val got = graft.pipeline.TrainingPipeline
        .p01_training_pipeline(spark, sf).collect().map(_.toSeq).toSeq
      assert(got == expected)
    } finally {
      spark.conf.unset("spark.graft.pipeline.capMode")
      spark.conf.unset("spark.graft.pipeline.skewBound")
    }
  }

  test("p08 dataset card: sections reconcile; planted-duplicate row is live") {
    val sp = spark
    import sp.implicits._
    val card = graft.pipeline.TrainingPipeline.p08_dataset_card(spark, sf)
      .collect()
    val bySec = card.groupBy(_.getString(0))
    // disposition section partitions the whole corpus
    val nDocs = graft.analytics.Tables.documents(spark, sf).count()
    assert(bySec("disposition").map(_.getLong(2)).sum == nDocs)
    // lang and shard sections cover exactly the kept docs/token mass
    val kept = bySec("disposition").find(_.getString(1) == "kept").get
    assert(bySec("lang").map(_.getLong(2)).sum == kept.getLong(2))
    assert(bySec("shard").map(_.getLong(2)).sum == kept.getLong(2))
    assert(bySec("shard").map(_.getLong(3)).sum == kept.getLong(3))
    assert(bySec("shard").length == 8, "a shard is empty or missing")
    val gated = bySec("disposition").find(_.getString(1) == "gated").get
    assert(bySec("gate_reason").map(_.getLong(2)).sum == gated.getLong(2),
      "gate_reason histogram does not sum to the gated disposition")
    // the raw corpus has no exact dups (the p07 lesson) — the duplicate
    // row must appear once dups are PLANTED, or the section is dead code
    val docs = graft.analytics.Tables.documents(spark, sf)
      .select($"doc_id", $"text", $"source", $"lang")
    val copies = docs.select(($"doc_id" + 10000000L).as("doc_id"),
      $"text", $"source", $"lang")
    val planted = graft.pipeline.TrainingPipeline
      .cardOf(docs.unionByName(copies)).collect()
    val dup = planted.find(r =>
      r.getString(0) == "disposition" && r.getString(1) == "duplicate")
    assert(dup.exists(_.getLong(2) > 0), "planted duplicates not reported")
  }

  test("gateReasonCol fails loudly on a NULL gate signal instead of keeping the doc") {
    // The when-chain's fall-through would silently land a NULL-signaled
    // doc on 'none' (kept) — the OPPOSITE of the conjunction filter it
    // replaced. The defensive first branch must raise instead (r16
    // ADVICE). Signals are non-null by construction today, so the guard
    // can only fire if a future signal goes nullable-in-data.
    val sp = spark
    import sp.implicits._
    val cols = graft.pipeline.TrainingPipeline.GateSignalCols
    def row(nStop: java.lang.Long) =
      Seq((1L, 1000L, nStop, 0L, 1000L, 50L, 50L))
        .toDF(("doc_id" +: cols): _*)
    // non-null signals: normal verdict, guard dormant
    val ok = row(300L)
      .select(graft.pipeline.TrainingPipeline.gateReasonCol.as("r"))
      .as[String].collect()
    assert(ok.toSeq == Seq("none"))
    // a NULL signal: loud failure naming the doc, never a silent keep
    val ex = intercept[Exception] {
      row(null)
        .select(graft.pipeline.TrainingPipeline.gateReasonCol.as("r"))
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("NULL gate signal")),
      s"expected the gate-signal guard to raise, got: ${messages(ex)}")
  }

  test("d19 canonicalizer: utm strip is anchored to the query portion") {
    val sp = spark
    import sp.implicits._
    // (input, expected canonical) — the r14 ADVICE cases first: a
    // literal 'utm_x=y&' in a PATH segment must survive; runs of utm
    // params (leading, interior, trailing, whole-query) must all strip
    // without leaving a dangling '?'; non-utm params keep their order
    val cases = Seq(
      // path segment containing a utm-shaped literal: untouched
      ("https://h.example/a/utm_x=y&b/c", "https://h.example/a/utm_x=y&b/c"),
      ("https://h.example/p?utm_a=1", "https://h.example/p"),
      ("https://h.example/p?utm_a=1&utm_b=2&utm_c=3", "https://h.example/p"),
      ("https://h.example/p?utm_a=1&real=2&utm_b=3", "https://h.example/p?real=2"),
      ("https://h.example/p?real=1&utm_a=2&utm_b=3", "https://h.example/p?real=1"),
      ("https://h.example/p?real=1&utm_a=2&real2=3",
        "https://h.example/p?real=1&real2=3"),
      ("https://h.example/p?page=2", "https://h.example/p?page=2"),
      // the classic chain: fragment + utm + case + port + slash
      ("HTTPS://H.EXAMPLE:443/P/?utm_source=feed&utm_campaign=x#frag",
        "https://h.example/P"),
      ("http://h.example:80/p?utm_a=1&q=2#s", "http://h.example/p?q=2"),
      // bare '?' with only utm content never leaves a dangling '?'
      ("https://h.example/p?utm_a=", "https://h.example/p"))
    val got = cases.map(_._1).toDF("url")
      .select(graft.dedup.Recrawl.canonicalizeUrl($"url"))
      .as[String].collect().toSeq
    assert(got == cases.map(_._2), s"got $got")
  }
}
