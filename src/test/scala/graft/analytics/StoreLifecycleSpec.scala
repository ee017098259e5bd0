package graft.analytics

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Cross-session store lifecycle (r10 verdict item 2): a persisted
  * store generation must be REUSED by a later session — not rebuilt
  * under a fresh name with the old one abandoned — and superseded /
  * legacy / orphaned generations must be reclaimed by the sweep. A
  * "later session" is simulated faithfully for the in-memory catalog:
  * catalog entries dropped (external tables → files survive, exactly
  * the state a new session starts from) + the in-JVM registries
  * cleared. */
class StoreLifecycleSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var corpus: java.nio.file.Path = _

  private def copyCorpus(dst: java.nio.file.Path, tables: String*): Unit =
    tables.foreach { t =>
      Files.copy(Paths.get(s"/root/testdata/sf0.001/$t.parquet"),
        dst.resolve(s"$t.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("store-lifecycle-spec").master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    corpus = Files.createTempDirectory("graft-lifecycle-corpus")
    copyCorpus(corpus, "embeddings", "documents")
  }

  override def afterAll(): Unit = {
    // reclaim this suite's generations: corpus dir gone → next sweep
    // treats the family as orphaned; delete directly to not depend on it
    if (spark != null) {
      val conf = spark.sparkContext.hadoopConfiguration
      val wh = new Path(spark.conf.get("spark.sql.warehouse.dir"))
      val fs = wh.getFileSystem(conf)
      if (corpus != null) {
        val (fam, _) = StoreLifecycle.corpusTags(spark, corpus.toString,
          Seq("embeddings"))
        if (fs.exists(wh)) fs.listStatus(wh)
          .filter(_.getPath.getName.contains(s"_f${fam}_"))
          .foreach(st => fs.delete(st.getPath, true))
      }
      spark.stop()
    }
    if (corpus != null)
      org.apache.commons.io.FileUtils.deleteDirectory(corpus.toFile)
  }

  private def warehouseFs = {
    val wh = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    (wh, wh.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  private def dataFileStats(tbl: String): Map[String, (Long, Long)] = {
    val p = StoreLifecycle.tablePath(spark, tbl)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).filterNot(_.getPath.getName.startsWith("_"))
      .map(st => st.getPath.getName -> (st.getLen, st.getModificationTime))
      .toMap
  }

  test("ANN store: a new session reuses the persisted generation byte-for-byte") {
    val d = corpus.toString
    val builds0 = graft.sim.AnnStore.annStoreBuilds.get()
    val (tbl, cb, pq) = graft.sim.AnnStore.ensureAnnStore(spark, d)
    assert(graft.sim.AnnStore.annStoreBuilds.get() == builds0 + 1)
    val stats = dataFileStats(tbl)
    assert(stats.nonEmpty)

    // "new session": empty catalog over surviving files + cold registry
    graft.sim.AnnStore.resetRegistryForTest()
    Seq(tbl, tbl.replace("_lists_", "_cb_"), tbl.replace("_lists_", "_pq_"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val (tbl2, cb2, pq2) = graft.sim.AnnStore.ensureAnnStore(spark, d)
    assert(tbl2 == tbl, "same corpus snapshot must map to the same table")
    assert(graft.sim.AnnStore.annStoreBuilds.get() == builds0 + 1,
      "reuse must not rebuild")
    assert(dataFileStats(tbl) == stats, "reuse must not rewrite the files")
    assert(cb2.toSeq == cb.toSeq, "codebook must read back identically")
    assert(pq2.map(_.map(_.toSeq).toSeq).toSeq ==
      pq.map(_.map(_.toSeq).toSeq).toSeq, "PQ codebooks must read back identically")

    // the re-registered store serves the full read path: every store
    // vector self-matches at rank 1 through probe → ADC → re-rank
    val sp = spark; import sp.implicits._
    val queries = spark.table(tbl).select($"vec_id".as("query_id"), $"embedding")
      .filter($"vec_id" % 100 === 0)
    val res = graft.sim.AnnStore.annSearch(spark, d, queries, topK = 1)
      .collect()
    assert(res.nonEmpty && res.forall(r => r.getLong(0) == r.getLong(2)),
      "reused store must answer annSearch with rank-1 self-matches")
  }

  test("signature store: reuse across sessions, identical admission decision") {
    val d = corpus.toString
    val builds0 = graft.dedup.IncrementalDedup.sigStoreBuilds.get()
    val (bandT, digT) = graft.dedup.IncrementalDedup.ensureIncrementalStore(spark, d)
    assert(graft.dedup.IncrementalDedup.sigStoreBuilds.get() == builds0 + 1)
    val before = graft.dedup.IncrementalDedup.d10_store_incremental(spark, d)
      .collect().toSeq
    val stats = dataFileStats(bandT)

    graft.dedup.IncrementalDedup.resetRegistryForTest()
    Seq(bandT, digT).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val (bandT2, _) = graft.dedup.IncrementalDedup.ensureIncrementalStore(spark, d)
    assert(bandT2 == bandT)
    assert(graft.dedup.IncrementalDedup.sigStoreBuilds.get() == builds0 + 1,
      "reuse must not rebuild")
    assert(dataFileStats(bandT) == stats, "reuse must not rewrite the files")
    val after = graft.dedup.IncrementalDedup.d10_store_incremental(spark, d)
      .collect().toSeq
    assert(after == before, "admission decision must be identical on the reused store")
  }

  test("sweep reclaims superseded generations, legacy names, and orphaned families") {
    val (wh, fs) = warehouseFs
    val d = corpus.toString
    // a legacy (pre-content-addressing, applicationId-keyed) leftover
    val legacy = new Path(wh, "graft_s07_lists_1234567890")
    fs.mkdirs(legacy)
    // an orphaned family: store built over a corpus that then disappears
    val gone = Files.createTempDirectory("graft-lifecycle-gone")
    copyCorpus(gone, "embeddings", "documents")
    graft.sim.AnnStore.resetRegistryForTest()
    val (goneTbl, _, _) = graft.sim.AnnStore.ensureAnnStore(spark, gone.toString)
    spark.sql(s"DROP TABLE IF EXISTS $goneTbl")
    org.apache.commons.io.FileUtils.deleteDirectory(gone.toFile)

    // supersede the current generation: rewrite the corpus (mtime moves
    // → new fingerprint) and ensure again in a "new session"
    val (oldTbl, _, _) = graft.sim.AnnStore.ensureAnnStore(spark, d)
    Thread.sleep(1100) // parquet mtime granularity can be 1s
    copyCorpus(corpus, "embeddings")
    graft.sim.AnnStore.resetRegistryForTest()
    val builds0 = graft.sim.AnnStore.annStoreBuilds.get()
    val (newTbl, _, _) = graft.sim.AnnStore.ensureAnnStore(spark, d)
    assert(newTbl != oldTbl, "a rewritten corpus is a new generation")
    assert(graft.sim.AnnStore.annStoreBuilds.get() == builds0 + 1)

    assert(!fs.exists(StoreLifecycle.tablePath(spark, oldTbl)),
      "superseded generation must be swept")
    assert(!fs.exists(legacy), "legacy session-keyed dirs must be swept")
    assert(!fs.exists(StoreLifecycle.tablePath(spark, goneTbl)),
      "orphaned family (corpus gone) must be swept")
    assert(fs.exists(StoreLifecycle.tablePath(spark, newTbl)),
      "the live generation must survive its own sweep")
  }
}
