package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{array_join, concat, lit, size, slice, split, transform, trim}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** AUTOMATIC compaction (r10 verdict item 4): the absorb/compaction
  * APIs existed with crash-safety specs, but nothing TRIGGERED a
  * compaction — a production stream would grow its delta unboundedly.
  * These specs drive the high-water-mark policy past its threshold and
  * assert (a) exactly one compaction fires, (b) admission / probe
  * decisions are invariant across it, (c) the default mark never fires
  * (the gate queries' immutable-base contract). */
class StoreCompactionPolicySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("compaction-policy-spec").master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("absorb high-water mark: one auto-compaction, decisions invariant vs manual-free twin") {
    val sp = spark
    import sp.implicits._
    import graft.dedup.IncrementalDedup
    val (bandT, digT) = IncrementalDedup.ensureIncrementalStore(sp, sf)
    // twin copies: A absorbs with the default mark (delta kept), B with
    // a 1-row mark (auto-compacts); every decision must agree
    val copies = Seq("a", "b").map { tag =>
      val b2 = bandT + s"_policy_$tag"; val g2 = digT + s"_policy_$tag"
      for (t <- Seq(b2, g2, IncrementalDedup.bandDelta(b2),
          IncrementalDedup.absorbedDocs(b2), b2 + "_compacting", b2 + "_pre_swap"))
        sp.sql(s"DROP TABLE IF EXISTS $t")
      sp.table(bandT).write.bucketBy(16, "band", "bucket")
        .sortBy("band", "bucket").saveAsTable(b2)
      sp.table(digT).write.bucketBy(16, "dg").sortBy("dg").saveAsTable(g2)
      (b2, g2)
    }
    val Seq((bandA, digA), (bandB, digB)) = copies
    val docs = graft.analytics.Tables.documents(sp, sf).select($"doc_id", $"text")
    val novel = docs.filter($"doc_id".isin(3L, 11L, 29L, 57L, 83L))
      .select(($"doc_id" + 800000L).as("doc_id"),
        array_join(transform(split(trim($"text"), "\\s+"),
          t => concat(lit("zx"), t)), " ").as("text"))
      .localCheckpoint(true)
    def decide(bT: String, gT: String, batch: org.apache.spark.sql.DataFrame) =
      IncrementalDedup.storeAdmissionDecisions(sp, sf, batch, bT, gT)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq

    // default mark: absorb keeps the delta, returns false (no compaction)
    assert(!IncrementalDedup.absorbAdmitted(sp, bandA, digA, novel))
    assert(sp.catalog.tableExists(IncrementalDedup.bandDelta(bandA)),
      "default mark must not compact")
    // 1-row mark: the same absorb crosses it and compacts exactly once
    assert(IncrementalDedup.absorbAdmitted(sp, bandB, digB, novel,
      compactAtDeltaRows = 1L), "absorb past the mark must compact")
    assert(!sp.catalog.tableExists(IncrementalDedup.bandDelta(bandB)),
      "auto-compaction must fold and drop the delta")
    assert(!sp.catalog.tableExists(bandB + "_compacting") &&
      !sp.catalog.tableExists(bandB + "_pre_swap"))
    // a replay absorb appends nothing (ledger-keyed idempotency) and so
    // cannot re-cross the mark — no second compaction
    assert(!IncrementalDedup.absorbAdmitted(sp, bandB, digB, novel,
      compactAtDeltaRows = 1L), "idempotent replay must not re-compact")

    // decisions invariant: exact-dup replay and near-dup probes agree
    // between the compacted store and its delta-carrying twin
    val toks = split(trim($"text"), "\\s+")
    val near = novel.select(($"doc_id" + 1000L).as("doc_id"),
      array_join(slice(toks, lit(1), size(toks) - 1), " ").as("text"))
    assert(decide(bandB, digB, novel) == decide(bandA, digA, novel),
      "auto-compaction changed exact-dup decisions")
    assert(decide(bandB, digB, near) == decide(bandA, digA, near),
      "auto-compaction changed near-dup decisions")
    for ((bT, gT) <- copies; t <- Seq(bT, gT, IncrementalDedup.bandDelta(bT),
        IncrementalDedup.absorbedDocs(bT)))
      sp.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("kill between the swap renames: both generations survive, documented recovery restores service") {
    // TableSwap's one exposed window — target renamed aside, gen not
    // yet renamed in — is documented as "recovery is a loud manual
    // rename, never data loss". This drives that claim END-TO-END
    // through the metastore: a throw injected inside the window (no
    // rollback runs, exactly what a process kill leaves), then the
    // documented recovery, then a re-run compaction.
    val sp = spark
    import sp.implicits._
    import graft.dedup.IncrementalDedup
    val (bandT, digT) = IncrementalDedup.ensureIncrementalStore(sp, sf)
    val b2 = bandT + "_kill_spec"; val g2 = digT + "_kill_spec"
    val delta = IncrementalDedup.bandDelta(b2)
    for (t <- Seq(b2, g2, delta, IncrementalDedup.absorbedDocs(b2),
        b2 + "_compacting", b2 + "_pre_swap"))
      sp.sql(s"DROP TABLE IF EXISTS $t")
    sp.table(bandT).write.bucketBy(16, "band", "bucket")
      .sortBy("band", "bucket").saveAsTable(b2)
    sp.table(digT).write.bucketBy(16, "dg").sortBy("dg").saveAsTable(g2)
    val docs = graft.analytics.Tables.documents(sp, sf).select($"doc_id", $"text")
    val novel = docs.filter($"doc_id".isin(5L, 13L, 31L))
      .select(($"doc_id" + 900000L).as("doc_id"),
        array_join(transform(split(trim($"text"), "\\s+"),
          t => concat(lit("zk"), t)), " ").as("text"))
      .localCheckpoint(true)
    IncrementalDedup.absorbAdmitted(sp, b2, g2, novel)
    def decide(batch: org.apache.spark.sql.DataFrame) =
      IncrementalDedup.storeAdmissionDecisions(sp, sf, batch, b2, g2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    val before = decide(novel)
    val baseRows = sp.table(b2).count()
    val deltaRows = sp.table(delta).count()

    graft.analytics.TableSwap.betweenRenames =
      () => throw new RuntimeException("injected kill between renames")
    try {
      val e = intercept[RuntimeException] { IncrementalDedup.compactStore(sp, b2) }
      assert(e.getMessage.contains("injected kill"))
    } finally graft.analytics.TableSwap.betweenRenames = () => ()

    // the window's promised state: store name vacant, OLD generation
    // intact under the aside name, delta untouched — zero data loss
    assert(!sp.catalog.tableExists(b2), "store name should be vacant in the window")
    assert(sp.catalog.tableExists(b2 + "_pre_swap"))
    assert(sp.table(b2 + "_pre_swap").count() == baseRows,
      "old generation lost rows across the kill")
    assert(sp.table(delta).count() == deltaRows, "delta lost rows across the kill")

    // the documented recovery: one loud manual rename
    sp.sql(s"ALTER TABLE ${b2}_pre_swap RENAME TO $b2")
    assert(decide(novel) == before, "recovery changed admission decisions")
    // and compaction re-runs to completion afterwards
    IncrementalDedup.compactStore(sp, b2)
    assert(!sp.catalog.tableExists(delta) && !sp.catalog.tableExists(b2 + "_compacting"))
    assert(decide(novel) == before, "post-recovery compaction changed decisions")
    for (t <- Seq(b2, g2, delta, IncrementalDedup.absorbedDocs(b2)))
      sp.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("EXTERNAL store compaction: the production combination — absorb past the mark on the content-addressed store") {
    // r11 review: the policy spec only compacted session-managed
    // copies, but production compaction runs on the content-addressed
    // EXTERNAL store, where a metastore rename cannot move the data —
    // this drives absorb→auto-compaction on the REAL persisted store
    // (its own temp corpus so the shared families stay untouched) and
    // then proves a NEW session still reuses the compacted generation.
    val sp = spark
    import sp.implicits._
    import graft.dedup.IncrementalDedup
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val corpus = Files.createTempDirectory("graft-extcompact")
    try {
      Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
        corpus.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
      val d = corpus.toString
      IncrementalDedup.resetRegistryForTest()
      val (bandT, digT) = IncrementalDedup.ensureIncrementalStore(sp, d)
      assert(graft.analytics.StoreLifecycle.isExternalStore(sp, bandT))
      val docs = graft.analytics.Tables.documents(sp, d).select($"doc_id", $"text")
      val novel = docs.filter($"doc_id".isin(7L, 19L, 41L))
        .select(($"doc_id" + 850000L).as("doc_id"),
          array_join(transform(split(trim($"text"), "\\s+"),
            t => concat(lit("ze"), t)), " ").as("text"))
        .localCheckpoint(true)
      def decide(batch: org.apache.spark.sql.DataFrame) =
        IncrementalDedup.storeAdmissionDecisions(sp, d, batch, bandT, digT)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .sortBy(_._1).toSeq
      // absorb past a 1-row mark: compaction fires ON THE EXTERNAL base
      assert(IncrementalDedup.absorbAdmitted(sp, bandT, digT, novel,
        compactAtDeltaRows = 1L), "absorb past the mark must compact")
      assert(!sp.catalog.tableExists(IncrementalDedup.bandDelta(bandT)))
      assert(graft.analytics.StoreLifecycle.isExternalStore(sp, bandT),
        "compaction must leave the store external under its name")
      val replay = decide(novel)
      assert(replay.forall(_._2 == 1L),
        s"absorbed docs must be exact dups through the compacted store: $replay")
      // "new session": drop the catalog entries, clear the registry —
      // the COMPACTED generation must re-register (marker carried)
      IncrementalDedup.resetRegistryForTest()
      Seq(bandT, digT).foreach(t => sp.sql(s"DROP TABLE IF EXISTS $t"))
      val builds0 = IncrementalDedup.sigStoreBuilds.get()
      val (bandT2, _) = IncrementalDedup.ensureIncrementalStore(sp, d)
      assert(bandT2 == bandT &&
        IncrementalDedup.sigStoreBuilds.get() == builds0,
        "the compacted generation must be reused, not rebuilt")
      assert(decide(novel) == replay,
        "re-registered compacted store changed decisions")
    } finally {
      // reclaim this family's warehouse dirs + absorb side tables
      val wh = new org.apache.hadoop.fs.Path(sp.conf.get("spark.sql.warehouse.dir"))
      val fs = wh.getFileSystem(sp.sparkContext.hadoopConfiguration)
      val (fam, _) = graft.analytics.StoreLifecycle.corpusTags(
        sp, corpus.toString, Seq("documents"))
      if (fs.exists(wh)) fs.listStatus(wh)
        .filter(_.getPath.getName.contains(s"_f${fam}_"))
        .foreach(st => fs.delete(st.getPath, true))
      sp.sessionState.catalog.listTables("default")
        .map(_.table).filter(_.contains(s"_f${fam}_"))
        .foreach(t => sp.sql(s"DROP TABLE IF EXISTS $t"))
      org.apache.commons.io.FileUtils.deleteDirectory(corpus.toFile)
      IncrementalDedup.resetRegistryForTest()
    }
  }

  test("st09 ingest with the mark on the EXTERNAL store: the un-overridden production path") {
    // r11 review: st09Impl with a threshold was only exercised through
    // baseOverride copies; this runs it against the content-addressed
    // ANN store itself (own temp corpus), compacting mid-stream.
    val sp = spark
    import sp.implicits._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val corpus = Files.createTempDirectory("graft-extann")
    try {
      Files.copy(Paths.get("/root/testdata/sf0.001/embeddings.parquet"),
        corpus.resolve("embeddings.parquet"), StandardCopyOption.REPLACE_EXISTING)
      Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
        corpus.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
      val d = corpus.toString
      graft.sim.AnnStore.resetRegistryForTest()
      val (tbl, _, _) = graft.sim.AnnStore.ensureAnnStore(sp, d)
      assert(graft.analytics.StoreLifecycle.isExternalStore(sp, tbl))
      val before = sp.table(tbl).count()
      val row = graft.streaming.StreamStoreIngest
        .st09Impl(sp, d, compactAtDeltaRows = 1L).collect()(0)
      assert(row.getLong(3) == row.getLong(1),
        "every ingested vector must self-match rank-1 through the compacted store")
      assert(sp.table(tbl).count() == before + row.getLong(1),
        "compaction must fold the ingested delta into the external base")
      assert(graft.analytics.StoreLifecycle.isExternalStore(sp, tbl))
    } finally {
      val wh = new org.apache.hadoop.fs.Path(sp.conf.get("spark.sql.warehouse.dir"))
      val fs = wh.getFileSystem(sp.sparkContext.hadoopConfiguration)
      val (fam, _) = graft.analytics.StoreLifecycle.corpusTags(
        sp, corpus.toString, Seq("embeddings"))
      if (fs.exists(wh)) fs.listStatus(wh)
        .filter(_.getPath.getName.contains(s"_f${fam}_"))
        .foreach(st => fs.delete(st.getPath, true))
      sp.sessionState.catalog.listTables("default")
        .map(_.table).filter(_.contains(s"_f${fam}_"))
        .foreach(t => sp.sql(s"DROP TABLE IF EXISTS $t"))
      org.apache.commons.io.FileUtils.deleteDirectory(corpus.toFile)
      graft.sim.AnnStore.resetRegistryForTest()
    }
  }

  test("st09 ingest with the mark: compaction folds mid-stream, self-retrieval invariant") {
    val sp = spark
    import sp.implicits._
    import graft.sim.AnnStore
    val (tbl, cb, _) = AnnStore.ensureAnnStore(sp, sf)
    val k = cb.length
    // isolated base copies: the policy run compacts INTO its base; the
    // shared registry store must stay immutable for the other pins
    val copies = Seq("a", "b").map { tag =>
      val b2 = tbl + s"_policy_$tag"
      for (t <- Seq(b2, b2 + "_st09_delta", b2 + "_compacting", b2 + "_pre_swap"))
        sp.sql(s"DROP TABLE IF EXISTS $t")
      sp.table(tbl).write.bucketBy(k, "cid").sortBy("cid").saveAsTable(b2)
      b2
    }
    val Seq(baseA, baseB) = copies
    val before = sp.table(tbl).count()
    // A: default mark — delta survives the stream, base untouched
    val rowA = graft.streaming.StreamStoreIngest
      .st09Impl(sp, sf, Long.MaxValue, Some(baseA)).collect()(0)
    assert(sp.table(baseA).count() == before,
      "default mark must leave the base immutable")
    // B: 1-row mark — compaction fires inside the stream, delta folds in
    val rowB = graft.streaming.StreamStoreIngest
      .st09Impl(sp, sf, 1L, Some(baseB)).collect()(0)
    assert(sp.table(baseB).count() == rowB.getLong(2),
      "auto-compaction must fold the ingested delta into the base")
    assert(rowA.toSeq == rowB.toSeq,
      s"policy changed the ingest outcome: $rowA vs $rowB")
    assert(rowB.getLong(3) == rowB.getLong(1),
      "every ingested vector must still self-match rank-1 post-compaction")
    copies.foreach { b2 =>
      for (t <- Seq(b2, b2 + "_st09_delta")) sp.sql(s"DROP TABLE IF EXISTS $t")
    }
  }
}
