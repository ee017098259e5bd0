package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.posexplode
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality regression guards: the scale claims (pushdown, pruning,
  * broadcast policy, narrow pipeline) asserted against the actual
  * physical plans, so a refactor that silently loses them fails CI.
  */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  // overridable so the sf1 certification can re-pin every plan shape on
  // the 10×-scaled corpus (graft.Dev gen-sf): plan regressions that only
  // appear past a size threshold (broadcast flips, bucket-pruning loss)
  // surface by re-running this suite with the env var set
  private val sf =
    sys.env.getOrElse("GRAFT_PLANSPEC_SF", "/root/testdata/sf0.001")

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("plan-spec").master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("planspec-wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Keyed operators — aggregates and shuffled joins that require a
    * distribution of a child — that read a `UnionExec` with no exchange
    * between them, i.e. planned on UnionExec's output-partitioning
    * claim, which this Spark build gets wrong (see GraftSession).
    * Partial aggregates require nothing and are not counted. Adaptive
    * plans, cached plans and subqueries are walked too. */
  private def keyedOverUnion(plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec, TableCacheQueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.ShuffledJoin
    import org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution
    // the plans a node hides from `children`
    def inner(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case t: TableCacheQueryStageExec => Seq(t.plan)
      case i: InMemoryTableScanExec => Seq(i.relation.cachedPlan)
      case _ => p.children
    }
    def reachesUnion(p: SparkPlan): Boolean = p match {
      case _: Exchange => false
      case _: TableCacheQueryStageExec => inner(p).exists(reachesUnion)
      case _: QueryStageExec => false // a materialized exchange
      case _: UnionExec => true
      case _ => inner(p).exists(reachesUnion)
    }
    def walk(p: SparkPlan): Seq[String] = {
      val here = p match {
        case _: BaseAggregateExec | _: ShuffledJoin =>
          p.requiredChildDistribution.zip(p.children).collect {
            case (d, c) if d != UnspecifiedDistribution && reachesUnion(c) =>
              p.nodeName
          }
        case _ => Nil
      }
      here ++ inner(p).flatMap(walk) ++ p.subqueries.flatMap(walk)
    }
    walk(plan)
  }

  /** The 10×-scaled cert corpus (`graft.Dev gen-sf`) carries only
    * documents/embeddings/events — TPC-H-table pins CANCEL (not fail)
    * when re-run against it via GRAFT_PLANSPEC_SF. */
  private def requireTable(name: String): Unit =
    assume(new java.io.File(s"$sf/$name.parquet").exists(),
      s"$name.parquet absent in $sf (scaled cert corpus)")

  test("q02: predicates pushed into the parquet scan, columns pruned") {
    requireTable("lineitem")
    val plan = physical(graft.analytics.Relational.q02_filter_project(spark, sf))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"))
    // attribute ids are JVM-global counters — match structurally
    assert("\\(l_quantity#\\d+ < 5\\.0\\)".r.findFirstIn(plan).isDefined)
    // pruned read schema must not include unqueried wide columns
    assert(!plan.contains("l_comment"))
  }

  test("q05: dimensions broadcast, at most one fact-fact shuffle join") {
    requireTable("customer")
    val plan = physical(graft.analytics.Relational.q05_multi_join(spark, sf))
    assert(plan.contains("BroadcastHashJoin"))
    val merges = "SortMergeJoin|ShuffledHashJoin".r.findAllIn(plan).length
    assert(merges <= 2, s"expected <=2 shuffle joins, got $merges")
  }

  test("w01 pipeline: no shuffle before the final ordering") {
    val df = graft.warc.Pipeline.urlResources(
      graft.warc.WarcSource.fromBytes(
        graft.warc.WarcQueries.warcFiles(spark, sf, gzip = false)))
    val plan = physical(df)
    // the enrichment plan itself is narrow: the only exchange allowed is
    // the test-harness repartition that synthesizes the WARC bytes
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 1, s"expected <=1 exchange, got $exchanges:\n$plan")
  }

  test("p02/p03 WARC corpus: column pruning drops the RAKE, GA and word-count kernels") {
    // warcCorpus keeps url, text_content and hostname only; the named
    // kernel UDFs of the other fields must not be evaluated for it
    val unused = Seq("rake_keywords", "ga_tracker_ids", "ga_config_calls", "count_words")
    val full = physical(graft.warc.Pipeline.urlResources(
      graft.warc.WarcSource.fromBytes(graft.warc.WarcQueries.warcFiles(spark, sf, gzip = false))))
    unused.foreach(u => assert(full.contains(s"$u("), s"$u not named in:\n$full"))
    val plan = physical(graft.pipeline.TrainingPipeline.warcCorpus(spark, sf))
    assert(plan.contains("collapse_ws("), s"text kernel missing:\n$plan")
    unused.foreach(u => assert(!plan.contains(s"$u("), s"$u evaluated for p02:\n$plan"))
  }

  test("cosine_sim participates in whole-stage codegen") {
    val sp = spark
    import sp.implicits._
    val df = sp.read.parquet(s"$sf/embeddings.parquet")
      .select(graft.functions.GraftFunctions
        .cosine_sim($"embedding", $"embedding").as("c"))
    val plan = physical(df)
    // "*(n)" is toString's WholeStageCodegen stage marker
    assert(plan.contains("*(1) Project [cosine_sim"))
    assert(df.selectExpr("max(c)").head().getDouble(0) > 0.999)
  }

  test("s01 top-k: partial ObjectHashAggregate, no full-set window shuffle") {
    val plan = physical(graft.sim.SimilarityOps.s01_ann_bruteforce(spark, sf))
    // bounded typed Aggregator ⇒ map-side partial aggregation; the old
    // row_number window (all N×Q rows to Q reducers) must stay gone
    assert(plan.contains("ObjectHashAggregate"))
    assert("partial_topkcosine|partial_TopKCosine".r.findFirstIn(plan.toLowerCase)
      .isDefined || plan.contains("partial"), s"no partial agg in:\n$plan")
    assert(!plan.contains("Window"), s"window plan crept back:\n$plan")
  }

  test("q30 split: map-side assignment, one aggregation exchange, no join") {
    val plan = physical(
      graft.analytics.Relational2.q30_deterministic_split(spark, sf))
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
    // hash-bucket assignment must stay inside the scan's project — the
    // only exchanges are the final aggregation + ordering
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 3, s"expected <=3 exchanges, got $exchanges:\n$plan")
  }

  test("d04: no broadcast hint, no corpus-sized per-doc set aggregation") {
    // the r2 staged verify broadcast every doc's sorted shingle-hash set
    // (broadcast(collect_list)) — a corpus-sized broadcast, the repo's one
    // 100 TB scale-killer. Pin its absence: no explicit broadcast hint in
    // the analyzed plan, no per-doc set aggregation in the physical plan.
    // (A runtime AQE broadcast of the OUTPUT-sized candidate side remains
    // legal and desirable — this pins direction, not mechanism.)
    val df = graft.dedup.DedupOps.d04Impl(spark, sf, eager = false)
    val analyzed = df.queryExecution.analyzed.toString
    // shuffle_hash hints on the verify joins are allowed (still a shuffle
    // join — they only skip the sort-merge sorts); broadcast hints are not
    assert(!analyzed.toLowerCase.contains("broadcast"),
      s"explicit broadcast hint crept back into d04:\n$analyzed")
    val plan = physical(df)
    assert(!plan.contains("collect_list") && !plan.contains("sort_array"),
      s"corpus-sized per-doc set aggregation crept back into d04:\n$plan")
  }

  test("d18 crawl diff: no shuffle carries page text — digests only") {
    // the operator's whole scale claim: content digests are computed
    // map-side and the text column is projected away BEFORE the one
    // wide stage, so the full-outer join (and every other exchange)
    // moves 32-char digests, never page bytes. Assert it on the actual
    // exchanges rather than the plan text — the scan/project below the
    // exchange legitimately mentions text.
    val df = graft.dedup.Recrawl.d18_crawl_diff(spark, sf)
    // unwrap the AQE root: collect() does not descend into it
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val exchanges = root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty, "expected at least the join exchange")
    exchanges.foreach { e =>
      val cols = e.output.map(_.name)
      assert(!cols.exists(_.contains("text")),
        s"page text crossed a shuffle in d18: $cols")
    }
  }

  test("w08 round: co-partitioned zip join — exactly one exchange (the " +
      "dst transpose), no nodes join, partial agg kept") {
    // r22 one-exchange-per-round pagerank: with `el` hash(src, parts)
    // and `ranks` hash(id, parts) both checkpointed, the round body must
    // plan a shuffle-free rank join (LogicalRDD preserves the
    // partitioning), ONE exchange for the dst-keyed contribution
    // transpose (with map-side partial aggregation below it), and no
    // per-round nodes join. parts ≠ session shuffle.partitions (4) on
    // purpose: the zip must come from the inputs' own partitioning.
    val sp = spark
    import sp.implicits._
    val parts = 3
    // auto-broadcast OFF for the pin: at test (and sf0.1) sizes the
    // planner broadcasts the tiny el side, which would hide whether the
    // co-partitioned zip actually holds at scale, where broadcast can't
    // fire and the join MUST zip on the inputs' preserved partitioning.
    // AQE OFF as the operator's loop runs it: an AdaptiveSparkPlanExec
    // root reports UnknownPartitioning to Dataset.localCheckpoint, so
    // the checkpointed LogicalRDD loses the hash partitioning and every
    // round re-shuffles both join sides (measured: 3 exchanges/round).
    GraftSession.withConf(sp, "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      val el = Seq((1L, 2L, 2L), (1L, 1L, 2L), (2L, 1L, 1L))
        .toDF("src", "dst", "outdeg")
        .repartition(parts, $"src").localCheckpoint(true)
      val ranks = Seq((1L, 1000L), (2L, 2000L)).toDF("id", "rank")
        .repartition(parts, $"id").localCheckpoint(true)
      val df = graft.warc.WarcQueries.w08Round(el, ranks, 7L)
      val root = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val exchanges = root.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.length == 1,
        s"expected exactly the transpose exchange, got ${exchanges.length}:\n$root")
      val joins = root.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }
      assert(joins.length == 1, s"per-round nodes join must stay gone:\n$root")
      assert(joins.head.isInstanceOf[
          org.apache.spark.sql.execution.joins.ShuffledJoin],
        s"rank join must be a shuffle-strategy join zipping the inputs' " +
          s"own partitioning (no exchange below it), got:\n$root")
      assert(root.toString.contains("partial_sum"),
        s"map-side partial aggregation lost from the transpose:\n$root")
      // fixed-point arithmetic unchanged: contribs (85·r) div (100·outdeg)
      // = 425→id2, 425+1700→id1, plus base 7
      val out = df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(out == Map(1L -> 2132L, 2L -> 432L))
    }
  }

  test("w08 pagerank: loop session-conf overrides are restored") {
    requireTable("documents")
    val sp = spark
    val before = (sp.conf.get("spark.sql.shuffle.partitions"),
      sp.conf.get("spark.sql.adaptive.enabled"))
    val out = graft.warc.WarcQueries.w08_pagerank(sp, sf).collect()
    assert(out.nonEmpty)
    val after = (sp.conf.get("spark.sql.shuffle.partitions"),
      sp.conf.get("spark.sql.adaptive.enabled"))
    assert(after == before, s"loop leaked session confs: $before -> $after")
  }

  test("withConf: restores set keys, unsets unset ones, on throw and nested; " +
      "compact refuses the union claim") {
    val sp = spark
    val shuffle = "spark.sql.shuffle.partitions"
    val probe = "spark.graft.test.withConfProbe"
    val before = sp.conf.get(shuffle)
    assert(sp.conf.getOption(probe).isEmpty)
    GraftSession.withConf(sp, shuffle -> "7", probe -> "a") {
      assert(sp.conf.get(shuffle) == "7" && sp.conf.get(probe) == "a")
      GraftSession.withConf(sp, probe -> "b") {
        assert(sp.conf.get(probe) == "b")
      }
      assert(sp.conf.get(probe) == "a", "inner scope must restore the outer value")
    }
    assert(sp.conf.get(shuffle) == before, "a set key must get its prior value back")
    assert(sp.conf.getOption(probe).isEmpty, "an unset key must be unset again")
    val thrown = intercept[IllegalStateException] {
      GraftSession.withConf(sp, shuffle -> "9", probe -> "c") {
        throw new IllegalStateException("planted")
      }
    }
    assert(thrown.getMessage == "planted")
    assert(sp.conf.get(shuffle) == before && sp.conf.getOption(probe).isEmpty,
      "a throwing body must still restore")
    // a caller-built session with UnionExec's partitioning claim on must
    // not reach a compaction fold (wrong rows, see StoreLifecycle.compact)
    val key = graft.analytics.StoreLifecycle.UnionClaim
    assert(sp.conf.get(key) == "false", "GraftSession must turn the union claim off")
    val refused = intercept[IllegalStateException] {
      GraftSession.withConf(sp, key -> "true") {
        graft.analytics.StoreLifecycle.compact(sp, "graft_no_base", "graft_no_delta",
          4, Seq("k"))((b, d) => b.unionByName(d).distinct())
      }
    }
    assert(refused.getMessage.contains(key), refused.getMessage)
    assert(sp.conf.get(key) == "false")
  }

  test("t05 repetition: built-in expressions only, no UDF in the plan") {
    val plan = physical(graft.text.TextOps.t05_repetition(spark, sf))
    assert(!plan.contains("BatchEvalPython") && !plan.contains("UDF"),
      s"t05 must stay codegen-able:\n$plan")
    assert(!plan.contains("Join"))
  }

  test("bucketed tables co-locate the join: zero exchanges in the plan") {
    // the 100 TB co-location story made concrete: two tables bucketed by
    // the join key into the same bucket count join WITHOUT any shuffle —
    // the plan must contain no Exchange at all. This is the layout the
    // warehouse write (K3) sets up for downstream fact-fact joins.
    val sp = spark
    import sp.implicits._
    sp.sql("DROP TABLE IF EXISTS graft_bkt_a")
    sp.sql("DROP TABLE IF EXISTS graft_bkt_b")
    sp.range(0, 1000).select(($"id" % 97).as("k"), $"id".as("va"))
      .write.bucketBy(8, "k").sortBy("k").saveAsTable("graft_bkt_a")
    sp.range(0, 500).select(($"id" % 97).as("k"), $"id".as("vb"))
      .write.bucketBy(8, "k").sortBy("k").saveAsTable("graft_bkt_b")
    // force the shuffle-join path: a broadcast would also be exchange-ish
    // and wouldn't demonstrate co-location
    GraftSession.withConf(sp, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = sp.table("graft_bkt_a").join(sp.table("graft_bkt_b"), "k")
      val plan = physical(j)
      assert(!plan.contains("Exchange"), s"bucketed join shuffled:\n$plan")
      assert(j.count() > 0)
    }
  }

  test("d02/d04: verify margin runs the native overlap kernel in-plan") {
    // the two-phase verify's phase 1 must stay on the codegen'd
    // sorted_overlap_count expression — a refactor that reverts it to a
    // boxed UDF (or drops phase 1 entirely) changes the 100 TB cost
    // curve without failing any oracle, so pin the plan
    for (df <- Seq(graft.dedup.DedupOps.d02Impl(spark, sf, eager = false),
        graft.dedup.DedupOps.d04Impl(spark, sf, eager = false))) {
      val plan = physical(df)
      assert(plan.contains("sorted_overlap_count"),
        s"native overlap kernel missing from verify plan:\n${plan.take(4000)}")
    }
  }

  test("sorted_overlap_count: native expression evaluates and type-checks") {
    val r = spark.sql(
      "SELECT sorted_overlap_count(array(1L, 3L, 5L), array(3L, 5L, 7L)) AS i")
      .collect()(0).getLong(0)
    assert(r == 2L)
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT sorted_overlap_count(1.0, 2.0)").collect()
    }
  }

  test("d08 signature store: corpus side reads co-located, only the batch shuffles") {
    // the incremental-ingest steady state, pinned against d08's REAL
    // writer and join (writeSignatureStore / storeIngestCandidates, the
    // exact code d08_signature_store executes): the stored corpus band
    // table is bucketed by the probe key, so the ingest join must
    // shuffle ONLY the new batch — exactly one Exchange, and the store
    // scan must report its bucketing. A corpus-side Exchange here means
    // the layout stopped paying for itself at 100 TB.
    val sp = spark
    import sp.implicits._
    sp.sql("DROP TABLE IF EXISTS graft_sigstore_spec")
    val docs = graft.analytics.Tables.documents(sp, sf).select($"doc_id", $"text")
    graft.dedup.IncrementalDedup.writeSignatureStore(sp, docs, "graft_sigstore_spec")
    try GraftSession.withConf(sp, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val newBands = docs.filter($"doc_id" % 31 === 0)
        .select(($"doc_id" + 300000L).as("id_b"),
          posexplode(graft.dedup.DedupOps.minhashBandsU($"text"))
            .as(Seq("band", "bucket")))
      val j = graft.dedup.IncrementalDedup.storeIngestCandidates(
        sp, "graft_sigstore_spec", newBands)
      val plan = physical(j)
      val exchanges = "Exchange".r.findAllIn(plan).length
      assert(exchanges == 1, s"expected exactly 1 Exchange (batch side), got $exchanges:\n$plan")
      assert(plan.contains("Bucketed: true") || plan.contains("SelectedBucketsCount"),
        s"store scan lost its bucketing:\n$plan")
      assert(j.count() > 0)
    } finally sp.sql("DROP TABLE IF EXISTS graft_sigstore_spec")
  }

  test("d10 composed ingest: store probes read co-located, corpus never re-signed") {
    // the steady-state production shape the r4 verdict asked for: both
    // admission layers of the composed ingest probe the PERSISTED store
    // tables as bucketed (co-located) scans — digest layer and band
    // layer — and the corpus is never re-signed: the signature/digest
    // UDF work appears only on batch-derived scans (marked by the
    // planted-batch %31/%37 pushdown filters), never on an unfiltered
    // corpus scan (the corpus text scan that feeds the candidate-sized
    // verify join carries no UDF)
    val sp = spark
    graft.dedup.IncrementalDedup.ensureIncrementalStore(sp, sf)
    val df = graft.dedup.IncrementalDedup.d10Impl(sp, sf, eager = false)
    val plan = physical(df)
    assert("Bucketed: true".r.findAllIn(plan).length >= 3,
      s"store probes lost their bucketing:\n${plan.take(4000)}")
    val corpusScansWithUdf = plan.linesIterator.filter(l =>
      l.contains("FileScan parquet") && l.contains("documents.parquet") &&
        l.contains("UDF(") && !l.contains("% 31") && !l.contains("% 37")).toSeq
    assert(corpusScansWithUdf.isEmpty,
      s"corpus re-signed at ingest time:\n${corpusScansWithUdf.mkString("\n")}")
  }

  test("s07 ANN store probe: bucket-pruned scan, no shuffle exchange") {
    // the IVF-at-scale claim made concrete: the inverted-list table is
    // bucketed by cid, so a probe naming its nprobe clusters READS only
    // those buckets (SelectedBucketsCount < total) and joins the
    // broadcast query set with no shuffle Exchange anywhere
    val sp = spark
    import sp.implicits._
    val (tbl, cb, _) = graft.sim.AnnStore.ensureAnnStore(sp, sf)
    // probe clusters for one query: a strict subset of the k buckets
    val probed = Seq(0, 1, 2)
    val q0 = sp.read.parquet(s"$sf/embeddings.parquet")
      .filter($"vec_id" === 0).select($"vec_id".as("query_id"),
        $"embedding".as("q_emb"),
        org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.lit(probed.toArray)).as("cid"))
    val df = graft.sim.AnnStore.storeProbe(sp, tbl, q0, probed)
    val plan = physical(df)
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(sel.isDefined, s"no bucket pruning in:\n$plan")
    assert(sel.get.group(1).toInt < sel.get.group(2).toInt,
      s"probe read every bucket:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange rangepartitioning"),
      s"shuffle crept into the probe:\n$plan")
    assert(df.count() > 0)
  }

  test("s08 IVF-PQ probe: bucket-pruned scan over codes, raw embedding never read") {
    // the 100 TB ANN memory claim made concrete: the probe reads a
    // strict subset of the store's buckets (SelectedBucketsCount <
    // total) AND its store scan's ReadSchema carries only
    // (vec_id, cid, code) — the 256-byte raw vector column stays on
    // disk; only the 16 ADC code bytes per scanned row move
    val sp = spark
    import sp.implicits._
    val (tbl, _, _) = graft.sim.AnnStore.ensureAnnStore(sp, sf)
    val probed = Seq(0, 1, 2)
    val q0 = sp.read.parquet(s"$sf/embeddings.parquet")
      .filter($"vec_id" === 0).select($"vec_id".as("query_id"),
        $"embedding".as("q_v"),
        org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.lit(probed.toArray)).as("cid"))
    val df = graft.sim.AnnStore.s08ProbePlan(sp, Seq(tbl), q0, probed)
    val plan = physical(df)
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(sel.isDefined, s"no bucket pruning in:\n$plan")
    assert(sel.get.group(1).toInt < sel.get.group(2).toInt,
      s"probe read every bucket:\n$plan")
    val storeScan = plan.linesIterator
      .find(l => l.contains("FileScan") && l.contains(tbl))
    assert(storeScan.isDefined, s"no store scan in:\n$plan")
    assert(!storeScan.get.replace("q_emb", "").contains("embedding"),
      s"probe scan reads the raw embedding column:\n${storeScan.get}")
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange rangepartitioning"),
      s"shuffle crept into the probe:\n$plan")
    assert(df.count() > 0)
  }

  test("q32 range join: equi-join on (user, bucket) — no nested-loop plan") {
    // a raw inequality join would plan as BroadcastNestedLoopJoin (O(n·m)
    // + a whole-side broadcast); the bucketization must keep it an
    // equi-join at any scale
    val plan = physical(graft.analytics.Relational2.q32_range_join(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"nested-loop join:\n$plan")
    assert("BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin".r
      .findFirstIn(plan).isDefined, s"no equi-join in:\n$plan")
  }

  test("q32 range join: window boundary — gap W kept, W+1 and 0 dropped") {
    val sp = spark
    import sp.implicits._
    val w = 1000L
    val ev = Seq(
      (1L, "a", 0L), (1L, "b", 1000L),   // gap = W, crosses buckets 0→1: kept
      (2L, "a", 1000L), (2L, "b", 2001L), // gap = W+1: dropped
      (3L, "a", 5000L), (3L, "b", 5000L), // gap = 0: dropped
      (4L, "a", 0L), (5L, "b", 500L),     // different users: dropped
      (6L, "a", 100L), (6L, "b", 150L)    // same bucket: kept
    ).toDF("user_id", "event_type", "us")
    val got = graft.analytics.Relational2.rangePairs(ev, w)
      .select($"type_a", $"type_b", $"gap")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(("a", "b", 1000L), ("a", "b", 50L)))
  }

  test("lang-partitioned warehouse layout prunes partitions at the scan") {
    // the 100 TB partition-pruning story made concrete: a warehouse
    // written partitionBy(lang) must turn a lang predicate into a
    // PartitionFilter (directory-level skip), not a row-level filter
    // over a full scan
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("planspec-part")
    sp.read.parquet(s"$sf/documents.parquet")
      .write.partitionBy("lang").mode("overwrite").parquet(dir.toString)
    val df = sp.read.parquet(dir.toString)
      .filter($"lang" === "en").select($"doc_id")
    val plan = physical(df)
    assert("PartitionFilters: \\[isnotnull\\(lang".r.findFirstIn(plan).isDefined,
      s"lang predicate not applied at partition level:\n$plan")
    assert("\\(lang#\\d+ = en\\)".r.findFirstIn(plan).isDefined, plan)
    // and the predicate must NOT degrade to a post-scan row filter
    assert(!"Filter .*lang".r.findFirstIn(plan).isDefined, plan)
    assert(df.count() > 0)
  }

  test("splittable warc scan reports its partitioning") {
    val dir = java.nio.file.Files.createTempDirectory("planspec")
    java.nio.file.Files.write(dir.resolve("x.warc"),
      graft.warc.WarcSource.toWireFormat("response", "http://a/", 4,
        "body".getBytes))
    val df = spark.read.format("warc")
      .option("maxPartitionBytes", "1024").load(dir.toString)
    assert(df.rdd.getNumPartitions >= 1)
    assert(df.count() == 1)
  }

  test("d17: latest-wins is one aggregate with map-side partials, no window sort") {
    val plan = physical(graft.dedup.Recrawl.d17_recrawl_latest(spark, sf))
    // max_by must run as a partial-then-final aggregate pair: the shuffle
    // moves one (seq, text) pair per URL per map task — a row_number()
    // formulation would instead show a Window + full per-URL Sort here
    assert("partial".r.findFirstIn(plan.toLowerCase).isDefined, plan)
    assert(!plan.contains("Window"), s"d17 regressed to a window plan:\n$plan")
    // one exchange for the final agg, one for the presentation orderBy —
    // anything more means the union stopped being map-side
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 3, s"expected <=3 exchanges, got $exchanges:\n$plan")
  }

  test("p01: composed pipeline — equi-joins only, exactly the three rank windows") {
    val plan = physical(
      graft.pipeline.TrainingPipeline.p01_training_pipeline(spark, sf))
    // every join in the pipeline is a key equi-join (doc_id / gram):
    // nothing may plan as a nested loop or cartesian at ANY size — and
    // the stage structure is exactly three rank windows (dedup keeper,
    // domain cap, shard rank; a 4th means a stage stopped fusing).
    // Whether the tiny-side joins broadcast is Catalyst's size call
    // (correct at sf0.001, flips to shuffle past the 10 MB threshold) —
    // deliberately NOT pinned.
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    val windows = "Window \\[".r.findAllIn(plan).length
    assert(windows == 3, s"expected 3 rank windows, got $windows:\n$plan")
    // the dedup rn===1 and cap crn<=15 filters must push down as
    // WindowGroupLimit (partial+final per filter): each task drops
    // beyond-limit rows BEFORE the window shuffle+sort — at crawl scale
    // this is the difference between sorting every duplicate/domain row
    // and sorting only the per-group head
    assert("WindowGroupLimit".r.findAllIn(plan).length >= 2,
      s"rank-limit pushdown lost:\n$plan")
  }

  test("p01b threshold cap: no window or row shuffle on source — the hot-domain hatch") {
    requireTable("documents")
    val plan = physical(
      graft.pipeline.TrainingPipeline.p01b_threshold_cap(spark, sf))
    // the hatch's whole point: stage 3 must cost a mega-domain nothing
    // beyond a per-source COUNT (map-side combined) and a broadcast of
    // the thresholds — NO window may partition on `source`. The only
    // window keys are doc_md5 (dedup keeper — it appears twice because
    // the threshold count's build side shares the dedup subtree, whose
    // hashpartitioning(doc_md5) exchange AQE reuses; the duplicate is
    // the narrow post-exchange sort+rank, not a gate recompute) and
    // shard (the rank window over 8 groups).
    val winKeys = "windowspecdefinition\\((\\w+)#".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(winKeys.subsetOf(Set("doc_md5", "shard")),
      s"unexpected window partition keys $winKeys:\n$plan")
    assert(!winKeys.contains("source"),
      s"a window partitioned on source crept back:\n$plan")
    // the threshold table joins broadcast (hinted), never a shuffle of
    // the corpus on source
    assert(plan.contains("BroadcastHashJoin"), s"threshold join lost broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("p07 provenance: equi-joins only, window keys confined to the " +
      "pipeline's partition columns") {
    requireTable("documents")
    val plan = physical(
      graft.pipeline.TrainingPipeline.p07_provenance(spark, sf))
    // provenance keeps the rows the survivor path filters, so it may
    // NOT regress to anything pairwise: every join must stay a key
    // equi-join, and every window must partition on a pipeline key
    // (doc_md5 dedup keeper+min, source cap rank, shard rank) — an
    // unpartitioned or corpus-keyed window here would serialize the
    // corpus through one task at crawl scale
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    val winKeys = "windowspecdefinition\\((\\w+)#".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(winKeys.nonEmpty && winKeys.subsetOf(Set("doc_md5", "source", "shard")),
      s"unexpected window partition keys $winKeys:\n$plan")
  }

  test("p01 capMode=auto: both branches plan correctly either side of the skew bound") {
    requireTable("documents")
    def winKeys(plan: String): Set[String] =
      "windowspecdefinition\\((\\w+)#".r.findAllMatchIn(plan).map(_.group(1)).toSet
    // branch 1 — corpus below the bound (default 1M; this one is tiny):
    // auto must resolve to the EXACT window discipline, i.e. the same
    // 3-rank-window plan the p01 oracle row certifies
    spark.conf.set("spark.graft.pipeline.capMode", "auto")
    try {
      val calm = physical(
        graft.pipeline.TrainingPipeline.p01_training_pipeline(spark, sf))
      assert(winKeys(calm).contains("source"),
        s"auto below the bound must keep the exact source window:\n$calm")
      // branch 2 — force every source over the bound: auto must engage
      // the hatch — NO window partitioned on source, thresholds broadcast
      spark.conf.set("spark.graft.pipeline.skewBound", "0")
      val hot = physical(
        graft.pipeline.TrainingPipeline.p01_training_pipeline(spark, sf))
      assert(!winKeys(hot).contains("source"),
        s"auto above the bound failed to engage the threshold hatch:\n$hot")
      assert(hot.contains("BroadcastHashJoin"),
        s"threshold join lost broadcast:\n$hot")
      // forced overrides win regardless of the bound
      spark.conf.set("spark.graft.pipeline.capMode", "window")
      val forced = physical(
        graft.pipeline.TrainingPipeline.p01_training_pipeline(spark, sf))
      assert(winKeys(forced).contains("source"), s"capMode=window ignored:\n$forced")
    } finally {
      spark.conf.unset("spark.graft.pipeline.capMode")
      spark.conf.unset("spark.graft.pipeline.skewBound")
    }
  }

  test("q37 funnel: golden values at sf0.001 and a window-free stage plan") {
    requireTable("events")
    val df = graft.analytics.Sessions.q37_funnel(spark, sf)
    // golden pin (DuckDB-cross-checked): 15 users, all view, 6 click
    // within 24h of first view, 3 purchase within 24h of that click —
    // the stages genuinely shrink, so the gates are live, not vacuous
    val r = df.collect()(0)
    assert(r.toSeq == Seq(15L, 15L, 6L, 3L), s"got ${r.toSeq}")
    // plan shape: the per-user stage joins must be hash equi-joins on
    // user_id — the ONLY nested-loop joins allowed are the three final
    // 1-row × 1-row audit crossJoins, and no Window may appear (the
    // funnel is min-aggregates, never a per-user sort)
    val planFull = physical(df)
    // AQE's string renders the final AND the initial plan — count nodes
    // in the final section only, or the three audit joins double-count
    val plan = planFull.split("== Initial Plan ==")(0)
    assert(!plan.contains("Window"), s"funnel regressed to a window plan:\n$plan")
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(plan).length +
      "CartesianProduct".r.findAllIn(plan).length
    assert(bnl <= 3, s"expected <=3 single-row audit crossJoins, got $bnl:\n$plan")
  }

  test("q38 cohorts: the events chain runs once — cohort sizes come from a window, not a re-scan") {
    requireTable("events")
    val df = graft.analytics.Sessions.q38_retention_cohorts(spark, sf)
    val plan = physical(df).split("== Initial Plan ==")(0)
    // the first shape derived n_cohort by re-referencing `counts`, and
    // Catalyst copied the referenced subplan — the WHOLE corpus
    // pipeline (scan → user agg → join → offset agg) executed TWICE
    // (4 user_id-keyed exchanges, 4 scans). The window shape keeps the
    // inherent aggregate-rejoin pair: exactly 2 scans (ev + the cohort
    // min over it) and exactly 2 user_id exchanges, plus ONE window on
    // the aggregate-sized counts frame.
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 2, s"expected the 2 inherent events scans, got $scans:\n$plan")
    val userExchanges = "hashpartitioning\\(user_id".r.findAllIn(plan).length
    assert(userExchanges <= 2,
      s"corpus chain duplicated: $userExchanges user_id exchanges:\n$plan")
    assert("Window".r.findAllIn(plan).length == 1)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("p08 card: token masses ride the provenance frame — no second corpus scan") {
    requireTable("documents")
    // r17 verdict item 5: cardOf used to re-run gateSignalsOf just to
    // re-read n_tok — one whole extra corpus pass. n_tok now rides
    // provenanceOf's widened twin, so the card's only scan beyond
    // p07's own topology is the lang projection join. Pinned RELATIVE
    // to p07 so the pin survives provenance-stage refactors.
    def scans(df: org.apache.spark.sql.DataFrame): Int = {
      val plan = physical(df).split("== Initial Plan ==")(0)
      "Scan parquet".r.findAllIn(plan).length
    }
    val p07 = scans(graft.pipeline.TrainingPipeline.p07_provenance(spark, sf))
    val p08 = scans(graft.pipeline.TrainingPipeline.p08_dataset_card(spark, sf))
    assert(p08 == p07 + 1,
      s"card must add exactly the lang-join scan over p07's topology: p07=$p07 p08=$p08")
  }

  test("unpartitioned-window inventory: every registered query's plan " +
      "confines partition-less windows to the documented bounded sites") {
    // r15 verdict item 4: `WindowExec: No Partition Defined` warnings in
    // the bench log were unattributed — every unpartitioned window in
    // src/main is bounded BY CONSTRUCTION (t18's boundary bucket holds
    // ≈corpus/resolution rows, TieredSample.scala:134; p05's per-lang
    // masses are |langs| rows, TrainingPipeline p05; w08's rank compare
    // is 50 rows), but a NEW corpus-sized one would emit the identical
    // warning and drown. This sweep makes the inventory a CONTRACT: a
    // query whose optimized plan (subqueries + cached-artifact plans
    // included) contains a partition-less Window must be on the
    // allowlist below, each entry carrying its documented row bound.
    requireTable("documents")
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    // sites with a documented bound (query name -> bound rationale).
    // Two detection channels, because eager operators hide their plan:
    //  - LAZY plans: collect partition-less logical Window nodes from
    //    the returned frame's optimized plan (subqueries + cached
    //    artifacts included) — catches the window BEFORE it ever runs;
    //  - EAGER construction (withCache/localCheckpoint operators whose
    //    returned frame is a LogicalRDD scan): capture WindowExec's own
    //    "No Partition Defined" warning during each query's
    //    construction, attributed by name (construction is sequential).
    val allowed = Map(
      "t18_budget_select" ->
        "boundary bucket ≈ corpus/resolution rows (construction-time, behind localCheckpoint)",
      "p05_mixture_resample" -> "|langs|-row per-language masses (lazy plan)")
    // the streaming drains (st01–st09, p03) EXECUTE at construction and
    // return parquet read-back scans — their internal pipeline tail is
    // this same swept shardedAuditOf/pipeline code, and their plan
    // shapes are pinned in StreamingSpec; sweeping them here would
    // re-run every drain per suite run for a window-free scan plan
    val skipped = (1 to 9).map(i => f"st$i%02d_").toSet + "p03_"
    // the union check must be able to fail: a grouping over a union of
    // two identically hash-partitioned children skips its exchange only
    // when the claim is on
    val sp = spark
    import sp.implicits._
    val claimed = () => keyedOverUnion(sp.range(64).repartition(4, $"id")
      .union(sp.range(64).repartition(4, $"id")).groupBy($"id").count()
      .queryExecution.executedPlan)
    assert(GraftSession.withConf(sp,
      graft.analytics.StoreLifecycle.UnionClaim -> "true")(claimed()).nonEmpty,
      "union check blind to a grouping planned on the claim")
    assert(claimed().isEmpty)
    val offenders = scala.collection.mutable.Map[String, Int]()
    val unionOffenders = scala.collection.mutable.Map[String, Seq[String]]()
    val eager = scala.collection.mutable.Set[String]()
    // log-capture channel: a root-logger appender filtering on the
    // WindowExec warning text, attributing events to the query whose
    // construction is in flight (volatile: executor tasks run on other
    // threads of this JVM)
    @volatile var current = "startup"
    val warned = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    val sniffer = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "graft-window-sniffer", null, null, true,
        Array.empty[org.apache.logging.log4j.core.config.Property]) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("No Partition Defined"))
          warned.merge(current, 1, (a, b) => a + b)
    }
    sniffer.start()
    val rootCfg = ctx.getConfiguration.getRootLogger
    rootCfg.addAppender(sniffer, org.apache.logging.log4j.Level.WARN, null)
    ctx.updateLoggers()
    try {
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filterNot { case (n, _) => skipped.exists(n.startsWith) }
        .foreach { case (name, fn) =>
          current = name
          val df = fn(spark, sf)
          val lp = df.queryExecution.optimizedPlan
          val logicalHits = lp.collectWithSubqueries {
            case w: LWindow if w.partitionSpec.isEmpty => 1 }.sum
          // cached artifacts (ensureVerifiedPairs etc.) appear as
          // InMemoryRelation leaves whose physical plan the logical
          // collect can't see — sweep those too
          val cachedHits = lp.collectWithSubqueries {
            case r: InMemoryRelation => r.cachedPlan.collect {
              case w: WindowExec if w.partitionSpec.isEmpty => 1 }.sum }.sum
          val hits = logicalHits + cachedHits
          if (hits > 0) offenders(name) = hits
          val overUnion = keyedOverUnion(df.queryExecution.executedPlan)
          if (overUnion.nonEmpty) unionOffenders(name) = overUnion
          if (!lp.exists {
              case _: org.apache.spark.sql.execution.datasources.LogicalRelation |
                  _: InMemoryRelation => true
              case _ => false
            }) eager += name
        }
      current = "post-sweep"
    } finally {
      rootCfg.removeAppender("graft-window-sniffer")
      ctx.updateLoggers()
      sniffer.stop()
    }
    warned.forEach((n, c) =>
      if (n != "startup" && n != "post-sweep")
        offenders(n) = offenders.getOrElse(n, 0) + c)
    // union claim: no keyed operator (aggregate or shuffled join) may
    // read a UnionExec with no exchange between them — GraftSession
    // turns the claim off, so every such path must carry its exchange
    assert(unionOffenders.isEmpty,
      s"keyed operator(s) planned on UnionExec's partitioning claim: " +
        unionOffenders.toSeq.sortBy(_._1).map { case (n, ops) =>
          s"$n(${ops.mkString(",")})" }.mkString(" "))
    // what the union check cannot see: queries whose returned frame reads
    // no file, table or cached relation — every union and keyed operator
    // in them ran eagerly behind a localCheckpoint (or collect) during
    // construction, so their plans are gone by the time the sweep looks.
    // The streaming drains skipped above are in the same position.
    val eagerExpected = Set(
      "d02_minhash_lsh", "d03_simhash", "d04_ngram_jaccard",
      "d06_dedup_clusters", "d08_signature_store", "d09_minhash_estimate",
      "d10_store_incremental", "d11_line_dedup", "d12_span_dedup",
      "d13_span_removal", "d14_bloom_dedup", "d15_ngram_overlap",
      "d22_containment", "d24_unified_dedup", "io01_jsonl_roundtrip",
      "m04_image_neardup", "m05_frame_neardup", "m06_audio_neardup",
      "p06_decontaminated_split", "s02_embedding_neardup",
      "s03_ann_lsh_recall", "s04_ann_ivf", "s05_ann_pq",
      "s06_semantic_dedup", "s06a_assign_checksums", "s06b_pair_audit",
      "s06x_fold_canary", "s07_ann_store", "s08_ann_ivfpq",
      "s09_ann_ivfpq_rerank", "s10_knn_graph", "s11_coreset_select",
      "s11b_coreset_cluster", "s12_ann_search_heldout",
      "s13_ann_random_projection", "st10_stream_semantic_gate",
      "st11_stream_ngram_gate", "t11_bpe_vocab", "t13_quality_model",
      "t14_bpe_encode", "t17_lm_perplexity", "t18_budget_select",
      "t20_unigram_lm", "w07_link_graph", "w08_pagerank",
      "w09_warcgz_pipeline")
    assert(eager.toSet == eagerExpected,
      s"fully eager queries changed: new ${(eager.toSet -- eagerExpected).toSeq.sorted}, " +
        s"gone ${(eagerExpected -- eager.toSet).toSeq.sorted} — update the list")
    val undocumented = offenders.keySet -- allowed.keySet
    assert(undocumented.isEmpty,
      s"NEW unpartitioned window(s) outside the documented bounded " +
        s"sites: ${undocumented.toSeq.sorted.map(n => s"$n(${offenders(n)})")} — " +
        s"either partition it or document its bound here")
    // the inventory must also not silently shrink: a site leaving the
    // list should retire its allowlist entry (stale documentation is
    // the drift class the s06 saga taught this repo to kill)
    val stale = allowed.keySet -- offenders.keySet
    assert(stale.isEmpty,
      s"allowlisted sites no longer contain an unpartitioned window " +
        s"(retire their entries): ${stale.toSeq.sorted}")
  }

  test("d22 candidates: every window is doc_id-partitioned — hot-star rep rides an equi-join") {
    requireTable("documents")
    // r19 verdict item 2: the hot-posting representative used to be
    // min().over(Window.partitionBy(h)) — ONE task materializing the
    // whole hot posting at flood scale. The rep now comes out of the df
    // aggregate and joins back as a plain equi-join (auto-broadcast
    // when small, AQE skew-split otherwise); the only window left in
    // the candidate phase is the per-doc rarity ranking.
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val pre = graft.dedup.DedupOps.withContainmentPlants(spark, sf)
      .select(col("doc_id"),
        graft.dedup.DedupOps.hashShinglesU(col("text")).as("hs"))
    val cand = graft.dedup.DedupOps.containmentCandidates(pre)
    val windows = cand.queryExecution.optimizedPlan.collectWithSubqueries {
      case w: LWindow => w }
    assert(windows.nonEmpty, "expected the per-doc rarity ranking window")
    windows.foreach { w =>
      val keys = w.partitionSpec.flatMap(_.references.toSeq.map(_.name)).toSet
      assert(keys == Set("doc_id"),
        s"window partitioned on $keys — a shingle/band-keyed window is the " +
          "single-task hot-key shape the guard exists to prevent")
    }
    // the star link must be a JOIN of some distributed kind (broadcast
    // or shuffled) — asserting a specific physical join kind here would
    // pin a size-estimate artifact, and either kind is scale-safe; the
    // windows assertion above is the real contract
  }

  test("p01 audit: fingerprint folds with map-side partials — no collect_list reducer") {
    requireTable("documents")
    // r19 verdict item 3: the constant-fan collect_list fingerprint held
    // O(N/8) structs per reducer; the shared XOR fold must aggregate
    // with partials so no task's fingerprint state grows with the corpus
    val plan = physical(
      graft.pipeline.TrainingPipeline.p01_training_pipeline(spark, sf))
    assert(!plan.contains("collect_list"),
      "audit regressed to the corpus-holding collect_list fold")
    assert(plan.contains("partial_bit_xor"),
      "expected a partial bit_xor aggregate below the shard exchange")
  }

  test("p06: decontaminated split — equi-joins only on top of d02's guarded pass") {
    requireTable("documents")
    // the guard composes d02's certified near-dup machinery with split
    // assignment + an edge join; nothing in the composition may plan as
    // a cartesian/nested-loop at ANY size, and the only aggregation
    // past the pair set is the 3-group rollup
    val plan = physical(
      graft.pipeline.TrainingPipeline.p06Impl(spark, sf, eager = false))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}
