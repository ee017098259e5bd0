package graft.analytics

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** r12 lifecycle hardening:
  *  - the writer LEASE that turns the documented single-writer-per-
  *    warehouse assumption into an enforced contract (a second writer
  *    waits, takes over only a STALE lease, or aborts loudly — never
  *    interleaves part-files or sweeps under a live writer);
  *  - the AGE-OUT cap on live families per kind (a corpus republished
  *    under a new path each release leaks one live family per release
  *    without it);
  *  - the external-store swap CHAOS path: kill between the two
  *    directory renames, restart the SparkSession for real, prove
  *    ensure rebuilds from the corpus and the sweep reclaims both
  *    stranded dirs. */
class StoreLeaseSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  private def newSession(): SparkSession = {
    val sp = GraftSession.builder("store-lease-spec").master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    sp.sparkContext.setLogLevel("WARN")
    sp
  }

  override def beforeAll(): Unit = { spark = newSession() }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def leasePath(sp: SparkSession): Path =
    new Path(new Path(sp.conf.get("spark.sql.warehouse.dir")),
      StoreLifecycle.LeaseFile)

  private def fsOf(sp: SparkSession) =
    leasePath(sp).getFileSystem(sp.sparkContext.hadoopConfiguration)

  private def plantForeignLease(sp: SparkSession, ageMs: Long): Unit = {
    val fs = fsOf(sp)
    val out = fs.create(leasePath(sp), true)
    try out.write(
      s"foreign@elsewhere\n${System.currentTimeMillis() - ageMs}"
        .getBytes("UTF-8"))
    finally out.close()
  }

  private def copyCorpus(dst: java.nio.file.Path, tables: String*): Unit =
    tables.foreach { t =>
      Files.copy(Paths.get(s"/root/testdata/sf0.001/$t.parquet"),
        dst.resolve(s"$t.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }

  private def reclaimFamily(sp: SparkSession, corpus: String,
      tables: Seq[String]): Unit = {
    val wh = new Path(sp.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(sp.sparkContext.hadoopConfiguration)
    val (fam, _) = StoreLifecycle.corpusTags(sp, corpus, tables)
    if (fs.exists(wh)) fs.listStatus(wh)
      .filter(_.getPath.getName.contains(s"_f${fam}_"))
      .foreach(st => fs.delete(st.getPath, true))
    sp.sessionState.catalog.listTables("default")
      .map(_.table).filter(_.contains(s"_f${fam}_"))
      .foreach(t => sp.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("writer lease: held + fresh → second writer aborts loudly after its wait budget") {
    val sp = spark
    sp.conf.set("spark.graft.store.lease.maxWaitMs", "600")
    try {
      plantForeignLease(sp, ageMs = 0)
      val e = intercept[java.io.IOException] {
        StoreLifecycle.withWriterLease(sp) {
          fail("body must not run under a live foreign lease")
        }
      }
      assert(e.getMessage.contains("writer lease"))
      assert(fsOf(sp).exists(leasePath(sp)),
        "the foreign holder's lease must survive the refused attempt")
    } finally {
      fsOf(sp).delete(leasePath(sp), false)
      sp.conf.unset("spark.graft.store.lease.maxWaitMs")
    }
  }

  test("writer lease: stale holder is taken over; release frees the file") {
    val sp = spark
    sp.conf.set("spark.graft.store.lease.maxWaitMs", "600")
    try {
      plantForeignLease(sp, ageMs = 3600000) // an hour dead
      var ran = false
      StoreLifecycle.withWriterLease(sp) {
        ran = true
        assert(fsOf(sp).exists(leasePath(sp)), "we must hold the lease inside")
        // re-entrancy: a nested section (ensure → sweep) must not
        // deadlock or double-release
        StoreLifecycle.withWriterLease(sp) { () }
        assert(fsOf(sp).exists(leasePath(sp)),
          "inner exit must not release the outer lease")
      }
      assert(ran)
      assert(!fsOf(sp).exists(leasePath(sp)),
        "outer exit must release the lease")
    } finally sp.conf.unset("spark.graft.store.lease.maxWaitMs")
  }

  test("writer lease: heartbeat keeps a long-held lease fresh; a second thread is excluded") {
    val sp = spark
    sp.conf.set("spark.graft.store.lease.staleMs", "400")
    sp.conf.set("spark.graft.store.lease.maxWaitMs", "300")
    try {
      @volatile var otherThreadOutcome: Option[Throwable] = None
      StoreLifecycle.withWriterLease(sp) {
        // in-JVM exclusion: another THREAD must wait and then abort
        // loudly, exactly like another session (the r12 review found
        // the depth-counter shape let it ride our lease into a
        // concurrent sweep)
        val t = new Thread(() => {
          otherThreadOutcome =
            try { StoreLifecycle.withWriterLease(sp)(()); None }
            catch { case e: Throwable => Some(e) }
        })
        t.start(); t.join(5000)
        assert(otherThreadOutcome.exists(_.getMessage.contains("another thread")),
          s"second thread was not excluded: $otherThreadOutcome")
        // heartbeat: hold PAST the stale window, then prove the stamp
        // was refreshed (a foreign contender reading it would see a
        // live lease, not a stealable stale one). The read retries a
        // few times: it can race the heartbeat's in-place rewrite and
        // catch a mid-truncate empty file — which is exactly why the
        // contender's own probe falls back to mtime on partial reads.
        Thread.sleep(900)
        val fs = fsOf(sp)
        val stamp = (1 to 10).iterator.map { _ =>
          val in = fs.open(leasePath(sp))
          val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          val st = raw.trim.split("\n").drop(1).headOption.flatMap(_.toLongOption)
          if (st.isEmpty) Thread.sleep(30)
          st
        }.collectFirst { case Some(t0) => t0 }
        assert(stamp.exists(t0 => System.currentTimeMillis() - t0 <= 500),
          s"lease stamp not refreshed by the heartbeat: $stamp")
      }
      assert(!fsOf(sp).exists(leasePath(sp)), "lease must release on exit")
    } finally {
      sp.conf.unset("spark.graft.store.lease.staleMs")
      sp.conf.unset("spark.graft.store.lease.maxWaitMs")
    }
  }

  test("sweep reclaims pre-r12 legacy-tag generations (decimal fam/fp names)") {
    val sp = spark
    val wh = new Path(sp.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(sp.sparkContext.hadoopConfiguration)
    // a pre-r12 (32-bit decimal tag) generation whose corpus still
    // exists: the orphan rule never fires on it, and it is unreachable
    // by construction (ensure now computes 16-hex tags) — the
    // legacy-tag rule must reclaim it
    val legacyTag = new Path(wh, "graft_d10_bands_f176650399_2961282280")
    fs.mkdirs(legacyTag)
    val corpus = Files.createTempDirectory("graft-legacy-tag")
    try {
      copyCorpus(corpus, "documents")
      graft.dedup.IncrementalDedup.resetRegistryForTest()
      graft.dedup.IncrementalDedup.ensureIncrementalStore(sp, corpus.toString)
      assert(!fs.exists(legacyTag),
        "legacy-tag generation must be swept by the next build")
    } finally {
      fs.delete(legacyTag, true)
      graft.dedup.IncrementalDedup.resetRegistryForTest()
      reclaimFamily(sp, corpus.toString, Seq("documents"))
      org.apache.commons.io.FileUtils.deleteDirectory(corpus.toFile)
    }
  }

  test("a foreign lease blocks the build (and thus the sweep) end-to-end") {
    val sp = spark
    sp.conf.set("spark.graft.store.lease.maxWaitMs", "600")
    val corpus = Files.createTempDirectory("graft-lease-corpus")
    try {
      copyCorpus(corpus, "documents")
      graft.dedup.IncrementalDedup.resetRegistryForTest()
      plantForeignLease(sp, ageMs = 0)
      // the cold build path must refuse rather than interleave writes —
      // and because every sweep runs inside the leased section, a
      // leased warehouse can never have a generation swept from under
      // the foreign writer either
      val e = intercept[java.io.IOException] {
        graft.dedup.IncrementalDedup.ensureIncrementalStore(sp, corpus.toString)
      }
      assert(e.getMessage.contains("writer lease"))
      // the refused build must leave no half-built generation behind
      val (fam, _) = StoreLifecycle.corpusTags(sp, corpus.toString,
        Seq("documents"))
      val wh = new Path(sp.conf.get("spark.sql.warehouse.dir"))
      val fs = wh.getFileSystem(sp.sparkContext.hadoopConfiguration)
      assert(!fs.exists(wh) || fs.listStatus(wh)
        .forall(st => !st.getPath.getName.contains(s"_f${fam}_")),
        "refused build left files in the warehouse")
    } finally {
      fsOf(sp).delete(leasePath(sp), false)
      sp.conf.unset("spark.graft.store.lease.maxWaitMs")
      graft.dedup.IncrementalDedup.resetRegistryForTest()
      org.apache.commons.io.FileUtils.deleteDirectory(corpus.toFile)
    }
  }

  test("age-out cap: N+1 distinct live corpora under a cap of N leave N families") {
    val sp = spark
    sp.conf.set("spark.graft.store.maxFamilies", "2")
    // zero the min-idle grace: this test pins the CAP rule in isolation
    // (the grace rule has its own pin below)
    sp.conf.set("spark.graft.store.evict.minIdleMs", "0")
    val corpora = (1 to 3).map(_ => Files.createTempDirectory("graft-age"))
    try {
      corpora.foreach(copyCorpus(_, "documents"))
      val fams = corpora.map { c =>
        graft.dedup.IncrementalDedup.resetRegistryForTest()
        graft.dedup.IncrementalDedup.ensureIncrementalStore(sp, c.toString)
        Thread.sleep(50) // order the touch stamps
        StoreLifecycle.corpusTags(sp, c.toString, Seq("documents"))._1
      }
      val wh = new Path(sp.conf.get("spark.sql.warehouse.dir"))
      val fs = wh.getFileSystem(sp.sparkContext.hadoopConfiguration)
      def famAlive(f: String): Boolean = fs.exists(wh) && fs.listStatus(wh)
        .exists(_.getPath.getName.contains(s"_f${f}_"))
      // all three corpora still EXIST on disk (the orphan rule cannot
      // fire) — only the cap can have evicted one, LRU: the first
      assert(!famAlive(fams(0)),
        "oldest family must age out beyond the cap")
      assert(famAlive(fams(1)) && famAlive(fams(2)),
        "the cap-many most recent families must survive")
    } finally {
      sp.conf.unset("spark.graft.store.maxFamilies")
      sp.conf.unset("spark.graft.store.evict.minIdleMs")
      graft.dedup.IncrementalDedup.resetRegistryForTest()
      corpora.foreach { c =>
        reclaimFamily(sp, c.toString, Seq("documents"))
        org.apache.commons.io.FileUtils.deleteDirectory(c.toFile)
      }
    }
  }

  test("age-out grace: a recently-touched family is deferred, not evicted mid-scan") {
    // r12 ADVICE low (fixed r14): the LRU cap used to evict purely by
    // rank, so a family a long-running reader in ANOTHER session was
    // mid-scan of could be yanked the moment a new family pushed it
    // past the cap. Eviction now additionally requires the family's
    // newest touch stamp to be at least evict.minIdleMs old (default =
    // the lease stale window); readers refresh the stamp at
    // registration, so an actively-read family defers until idle.
    val sp = spark
    sp.conf.set("spark.graft.store.maxFamilies", "1")
    val corpora = (1 to 2).map(_ => Files.createTempDirectory("graft-grace"))
    try {
      corpora.foreach(copyCorpus(_, "documents"))
      val fams = corpora.map { c =>
        graft.dedup.IncrementalDedup.resetRegistryForTest()
        graft.dedup.IncrementalDedup.ensureIncrementalStore(sp, c.toString)
        Thread.sleep(50) // order the touch stamps
        StoreLifecycle.corpusTags(sp, c.toString, Seq("documents"))._1
      }
      val wh = new Path(sp.conf.get("spark.sql.warehouse.dir"))
      val fs = wh.getFileSystem(sp.sparkContext.hadoopConfiguration)
      def famAlive(f: String): Boolean = fs.exists(wh) && fs.listStatus(wh)
        .exists(_.getPath.getName.contains(s"_f${f}_"))
      // the second build's sweep saw family 1 over the cap, but its
      // stamp is milliseconds old — the default grace (lease stale
      // window) must defer the eviction
      assert(famAlive(fams(0)) && famAlive(fams(1)),
        "a fresh family must survive the cap inside its grace window")
      // once the grace is zeroed the SAME sweep evicts it — proving the
      // deferral was the grace rule, not a dead cap
      sp.conf.set("spark.graft.store.evict.minIdleMs", "0")
      val (fam2, fp2) = StoreLifecycle.corpusTags(sp,
        corpora(1).toString, Seq("documents"))
      StoreLifecycle.sweep(sp,
        Seq("graft_d10_bands", "graft_d10_digests"), fam2, fp2)
      assert(!famAlive(fams(0)), "idle family past the cap must age out")
      assert(famAlive(fams(1)), "the current family must survive")
    } finally {
      sp.conf.unset("spark.graft.store.maxFamilies")
      sp.conf.unset("spark.graft.store.evict.minIdleMs")
      graft.dedup.IncrementalDedup.resetRegistryForTest()
      corpora.foreach { c =>
        reclaimFamily(sp, c.toString, Seq("documents"))
        org.apache.commons.io.FileUtils.deleteDirectory(c.toFile)
      }
    }
  }

  test("lease release racing the heartbeat rewrite leaves no lease file behind") {
    // r12 ADVICE medium (fixed r14): release used to interrupt + join +
    // delete ONCE — a heartbeat mid-create could re-materialize the
    // lease AFTER the delete, stalling every later writer for up to the
    // wait budget. Release now sets a released flag the heartbeat
    // re-checks immediately before each create, then deletes until
    // absent after join. Drive many release points across heartbeat
    // phase (50 ms ticks at staleMs=200; bodies of 10–130 ms sweep the
    // race window) and require the lease to be gone at release AND to
    // STAY gone (no posthumous rewrite).
    val sp = spark
    sp.conf.set("spark.graft.store.lease.staleMs", "200")
    try {
      val fs = fsOf(sp)
      for (i <- 0 until 12) {
        StoreLifecycle.withWriterLease(sp) { Thread.sleep(10L + i * 10L) }
        assert(!fs.exists(leasePath(sp)),
          s"release left a lease file (iteration $i)")
        Thread.sleep(120) // two heartbeat periods: a zombie rewrite would land here
        assert(!fs.exists(leasePath(sp)),
          s"a posthumous heartbeat re-materialized the lease (iteration $i)")
      }
    } finally {
      sp.conf.unset("spark.graft.store.lease.staleMs")
      fsOf(sp).delete(leasePath(sp), false)
    }
  }

  test("external swap chaos: kill between renames, REAL session restart, rebuild + sweep reclaim") {
    val sp0 = spark
    val sp0Import = sp0; import sp0Import.implicits._
    import graft.dedup.IncrementalDedup
    import org.apache.spark.sql.functions.{array_join, concat, lit, split, transform, trim}
    val corpus = Files.createTempDirectory("graft-chaos")
    copyCorpus(corpus, "documents")
    val d = corpus.toString
    try {
      IncrementalDedup.resetRegistryForTest()
      val (bandT, digT) = IncrementalDedup.ensureIncrementalStore(sp0, d)
      assert(StoreLifecycle.isExternalStore(sp0, bandT))
      // drive the swap PRIMITIVE with a kill in its rename window.
      // (compactStore's own catch reclaims the unlanded generation on
      // an in-process failure — only a HARD kill strands it, which is
      // exactly the state this constructs: a new external generation
      // written and marked, base renamed aside, then death.)
      val gen = bandT + "_compacting"
      sp0.sql(s"DROP TABLE IF EXISTS $gen")
      StoreLifecycle.saveStoreTable(sp0.table(bandT), gen,
        16, Seq("band", "bucket"), Seq("band", "bucket"))
      StoreLifecycle.carryMarker(sp0, bandT, gen)
      TableSwap.betweenRenames =
        () => throw new RuntimeException("injected kill between dir renames")
      try {
        val e = intercept[RuntimeException] {
          StoreLifecycle.swapInExternal(sp0, bandT, gen,
            16, Seq("band", "bucket"), Seq("band", "bucket"))
        }
        assert(e.getMessage.contains("injected kill"))
      } finally TableSwap.betweenRenames = () => ()
      // the hard-kill on-disk state: base path VACANT, old generation
      // intact aside, new generation unlanded
      val wh = new Path(sp0.conf.get("spark.sql.warehouse.dir"))
      val fs = wh.getFileSystem(sp0.sparkContext.hadoopConfiguration)
      assert(!fs.exists(StoreLifecycle.tablePath(sp0, bandT)),
        "base path must be vacant inside the window")
      assert(fs.exists(StoreLifecycle.tablePath(sp0, bandT + "_pre_swap")),
        "old generation must survive aside")
      assert(fs.exists(StoreLifecycle.tablePath(sp0, bandT + "_compacting")),
        "new generation must survive unlanded")

      // REAL restart: stop the session (and its SparkContext), start a
      // fresh one over the surviving warehouse, cold registries — the
      // exact state a crashed-and-relaunched job sees
      spark.stop()
      spark = newSession()
      val sp1 = spark
      IncrementalDedup.resetRegistryForTest()
      val builds0 = IncrementalDedup.sigStoreBuilds.get()
      val (bandT2, digT2) = IncrementalDedup.ensureIncrementalStore(sp1, d)
      assert(bandT2 == bandT, "same corpus snapshot, same generation name")
      assert(IncrementalDedup.sigStoreBuilds.get() == builds0 + 1,
        "vacant base (no marker) must REBUILD from the corpus")
      // the rebuild's sweep must reclaim BOTH stranded swap dirs
      val fs1 = wh.getFileSystem(sp1.sparkContext.hadoopConfiguration)
      assert(!fs1.exists(StoreLifecycle.tablePath(sp1, bandT + "_pre_swap")),
        "sweep must reclaim the stranded pre-swap aside")
      assert(!fs1.exists(StoreLifecycle.tablePath(sp1, bandT + "_compacting")),
        "sweep must reclaim the stranded unlanded generation")
      // and the rebuilt store serves admission again
      val sp1Import = sp1; import sp1Import.implicits._
      val decisions = IncrementalDedup.storeAdmissionDecisions(sp1, d,
        Tables.documents(sp1, d)
          .select(($"doc_id" + 870000L).as("doc_id"), $"text")
          .filter($"doc_id" === 870003L),
        bandT2, digT2).collect()
      assert(decisions.length == 1 && decisions(0).getLong(1) == 1L,
        "rebuilt store must flag a verbatim copy as an exact dup")
    } finally {
      TableSwap.betweenRenames = () => ()
      graft.dedup.IncrementalDedup.resetRegistryForTest()
      reclaimFamily(spark, d, Seq("documents"))
      org.apache.commons.io.FileUtils.deleteDirectory(corpus.toFile)
    }
  }
}
