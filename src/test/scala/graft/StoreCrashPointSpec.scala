package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{array_join, col, concat, lit, reverse, split, transform, trim}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.{StoreLifecycle, Tables, TableSwap}
import graft.dedup.IncrementalDedup
import graft.sim.AnnStore
import graft.streaming.StreamStoreIngest

/** Crash points of the one compaction routine ([[StoreLifecycle.compact]])
  * on BOTH persisted stores — the d10 band store and the s07 ANN store —
  * each an EXTERNAL content-addressed store built from its own seeded
  * temp corpus (the production combination):
  *  1. a stale `_compacting` generation, as a crash after the generation
  *     write (before the swap) leaves it;
  *  2. a kill inside the swap window (the [[TableSwap.betweenRenames]]
  *     hook), recovered the documented way: the aside directory moved
  *     back under the name and re-declared;
  *  3. a delta re-planted beside a base that already folded it, as a
  *     swap whose delta drop failed leaves it.
  * For each: no row of base ∪ delta is lost, and re-running compaction
  * converges to the same base rows as a crash-free compaction of the
  * same base and delta (a managed copy compacted without a crash). */
class StoreCrashPointSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("store-crash-point-spec").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** One store under test. Its delta is `<base>_delta` (d10's naming,
    * used for the ANN store too), so a managed copy `c` compacts
    * `c + "_delta"` the same way. */
  private trait Store {
    def base: String
    def nBuckets: Int
    def bucketCols: Seq[String]
    /** a row's identity: the key the fold makes distinct */
    def keyCols: Seq[String]
    /** land batch `i` (disjoint ids per batch) in the delta */
    def ingest(i: Int): Unit
    def compact(b: String): Unit
    def delta: String = base + "_delta"
  }

  private def bandStore(d: String): Store = {
    IncrementalDedup.resetRegistryForTest()
    val (bandT, digT) = IncrementalDedup.ensureIncrementalStore(spark, d)
    new Store {
      val base = bandT
      val nBuckets = 16
      val bucketCols = Seq("band", "bucket")
      val keyCols = Seq("doc_id", "band", "bucket")
      def ingest(i: Int): Unit = {
        val novel = Tables.documents(spark, d)
          .filter(col("doc_id") % 17 === i)
          .select((col("doc_id") + (900000L + 10000L * i)).as("doc_id"),
            array_join(transform(split(trim(col("text")), "\\s+"),
              t => concat(lit(s"zc$i"), t)), " ").as("text"))
        IncrementalDedup.absorbAdmitted(spark, bandT, digT, novel)
      }
      def compact(b: String): Unit = IncrementalDedup.compactStore(spark, b)
    }
  }

  private def annStore(d: String): Store = {
    AnnStore.resetRegistryForTest()
    val (tbl, cb, pq) = AnnStore.ensureAnnStore(spark, d)
    new Store {
      val base = tbl
      val nBuckets = cb.length
      val bucketCols = Seq("cid")
      val keyCols = Seq("vec_id", "embedding", "cid", "code")
      def ingest(i: Int): Unit =
        StreamStoreIngest.st09AppendBatch(tbl, delta, nBuckets, cb, pq,
          900000L, Long.MaxValue)(Tables.embeddings(spark, d)
          .filter(col("vec_id") % 17 === i)
          .select((col("vec_id") + (900000L + 10000L * i)).as("vec_id"),
            reverse(col("embedding")).as("embedding")))
      def compact(b: String): Unit = AnnStore.compactDelta(spark, b, b + "_delta", nBuckets)
    }
  }

  /** A small seeded corpus table: 400 docs of 40 words over a
    * 2000-word vocabulary, or 400 64-dim vectors. */
  private def writeCorpus(path: String, table: String): Unit = {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(17)
    val df =
      if (table == "documents")
        (0L until 400L).map(i => (i, Seq.fill(40)(s"w${rnd.nextInt(2000)}").mkString(" ")))
          .toDF("doc_id", "text")
      else
        (0L until 400L).map(i => (i, Seq.fill(64)(rnd.nextGaussian().toFloat)))
          .toDF("vec_id", "embedding")
    df.repartition(2).write.parquet(path)
  }

  private def render(r: Row): String = r.toSeq.map {
    case b: Array[Byte] => b.mkString("b[", ",", "]")
    case x => String.valueOf(x)
  }.mkString("|")

  /** Rows as a sorted multiset, columns in name order. */
  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*).collect()
      .map(render).toSeq.sorted

  for ((label, open, corpusTable) <- Seq(
      ("d10 band store", bandStore _, "documents"),
      ("s07 ANN store", annStore _, "embeddings")))
    test(s"compaction crash points on the external $label: stale generation, " +
        "swap-window kill, re-planted delta — nothing lost, re-runs converge") {
      val sp = spark
      val corpus = Files.createTempDirectory("graft-crashpoint")
      val conf = sp.sparkContext.hadoopConfiguration
      try {
        writeCorpus(corpus.resolve(s"$corpusTable.parquet").toString, corpusTable)
        val st = open(corpus.toString)
        assert(StoreLifecycle.isExternalStore(sp, st.base))
        val baseDir = StoreLifecycle.tablePath(sp, st.base)
        val fs = baseDir.getFileSystem(conf)
        def copy(from: String, to: String): Unit = {
          sp.sql(s"DROP TABLE IF EXISTS $to")
          sp.table(from).write
            .bucketBy(st.nBuckets, st.bucketCols.head, st.bucketCols.tail: _*)
            .sortBy(st.bucketCols.head, st.bucketCols.tail: _*).saveAsTable(to)
        }
        // distinct on the driver: the check must not share the engine
        // path (a union-then-distinct plan) it is checking
        def keys(dfs: DataFrame*): Seq[String] =
          dfs.flatMap(df => rows(df.select(st.keyCols.map(col): _*))).distinct.sorted
        def storeKeys(): Seq[String] = keys(sp.table(st.base), sp.table(st.delta))
        // the crash-free outcome: the same base and delta as managed
        // copies, compacted without a fault — every key once, none lost
        def reference(): Seq[String] = {
          val ref = st.base + "_ref"
          copy(st.base, ref)
          copy(st.delta, ref + "_delta")
          val pre = keys(sp.table(ref), sp.table(ref + "_delta"))
          st.compact(ref)
          assert(!sp.catalog.tableExists(ref + "_delta"))
          val out = rows(sp.table(ref))
          val outKeys = keys(sp.table(ref))
          sp.sql(s"DROP TABLE $ref")
          assert(outKeys == pre && out.size == pre.size,
            "crash-free compaction lost or doubled rows")
          out
        }
        def assertConverged(ref: Seq[String], point: String): Unit = {
          assert(rows(sp.table(st.base)) == ref,
            s"$point: re-run did not converge to the crash-free base")
          assert(!sp.catalog.tableExists(st.delta), s"$point: delta not dropped")
          assert(!fs.exists(StoreLifecycle.tablePath(sp, st.base + "_compacting")) &&
            !fs.exists(new Path(baseDir.getParent, st.base + "_pre_swap")),
            s"$point: a swap-window directory was left behind")
          assert(StoreLifecycle.isExternalStore(sp, st.base) &&
            StoreLifecycle.isComplete(sp, st.base),
            s"$point: the store must stay external and complete under its name")
        }

        // 1. crash after the generation write: a complete, marked
        // `_compacting` generation that was never swapped in
        st.ingest(1)
        val ref1 = reference()
        val pre1 = storeKeys()
        val gen = st.base + "_compacting"
        StoreLifecycle.saveStoreTable(sp.table(st.base).limit(7), gen,
          st.nBuckets, st.bucketCols, st.bucketCols)
        StoreLifecycle.carryMarker(sp, st.base, gen)
        assert(storeKeys() == pre1, "stale generation: base ∪ delta lost rows")
        st.compact(st.base)
        assertConverged(ref1, "stale generation")

        // 2. kill between the swap renames: the name is vacant, the old
        // generation waits in the aside directory, the delta is intact
        st.ingest(2)
        val ref2 = reference()
        val pre2 = storeKeys()
        val oldBase = rows(sp.table(st.base))
        TableSwap.betweenRenames =
          () => throw new RuntimeException("injected kill between renames")
        try {
          val e = intercept[RuntimeException](st.compact(st.base))
          assert(e.getMessage.contains("injected kill"))
        } finally TableSwap.betweenRenames = () => ()
        val aside = new Path(baseDir.getParent, st.base + "_pre_swap")
        assert(!sp.catalog.tableExists(st.base) && !fs.exists(baseDir),
          "swap window: the store name should be vacant")
        val asideDf = sp.read.parquet(aside.toString)
        assert(rows(asideDf) == oldBase, "swap window: old generation lost rows")
        assert(keys(asideDf, sp.table(st.delta)) == pre2,
          "swap window: base ∪ delta lost rows")
        // documented recovery: move the aside back, re-declare the name
        assert(fs.rename(aside, baseDir))
        assert(StoreLifecycle.reRegister(sp, st.base, st.nBuckets,
          st.bucketCols, st.bucketCols))
        st.compact(st.base)
        assertConverged(ref2, "swap-window kill")

        // 3. the swap completed but the delta drop failed: the delta is
        // still there beside a base that already holds its rows
        st.ingest(3)
        val ref3 = reference()
        val pre3 = storeKeys()
        val kept = st.base + "_replant"
        copy(st.delta, kept)
        st.compact(st.base)
        assertConverged(ref3, "crash-free compaction")
        copy(kept, st.delta)
        sp.sql(s"DROP TABLE $kept")
        assert(storeKeys() == pre3, "re-planted delta: base ∪ delta lost rows")
        st.compact(st.base)
        assertConverged(ref3, "re-planted delta")
      } finally {
        TableSwap.betweenRenames = () => ()
        val wh = new Path(sp.conf.get("spark.sql.warehouse.dir"))
        val fs = wh.getFileSystem(conf)
        val (fam, _) = StoreLifecycle.corpusTags(sp, corpus.toString, Seq(corpusTable))
        if (fs.exists(wh)) fs.listStatus(wh)
          .filter(_.getPath.getName.contains(s"_f${fam}_"))
          .foreach(st => fs.delete(st.getPath, true))
        sp.sessionState.catalog.listTables("default")
          .map(_.table).filter(_.contains(s"_f${fam}_"))
          .foreach(t => sp.sql(s"DROP TABLE IF EXISTS $t"))
        org.apache.commons.io.FileUtils.deleteDirectory(corpus.toFile)
        IncrementalDedup.resetRegistryForTest()
        AnnStore.resetRegistryForTest()
      }
    }
}
