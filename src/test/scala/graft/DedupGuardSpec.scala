package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{array_join, transform, split, trim, slice, size, lit, concat}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{DedupOps, IncrementalDedup}

/** Degenerate-bucket guard: a bucket of N near-identical docs must cost
  * O(N) candidate rows (star-linked through the representative), not the
  * O(N²) all-pairs blowup — the failure mode of real crawls at 100 TB. */
class DedupGuardSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("dedup-guard-spec").master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("oversized bucket star-links members; small buckets keep all pairs") {
    val sp = spark
    import sp.implicits._
    // one degenerate bucket with 1200 members + one small bucket with 4
    val rows =
      (0L until 1200L).map(i => (i, 0L)) ++ Seq(2000L, 2001L, 2002L, 2003L).map((_, 7L))
    val buckets = rows.toDF("doc_id", "bucket")
    val pairs = DedupOps.guardedBucketPairs(buckets, Seq("bucket"), cap = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // small bucket: full 4-choose-2 pair set
    val smallExpected = (for {
      a <- Seq(2000L, 2001L, 2002L); b <- Seq(2001L, 2002L, 2003L) if a < b
    } yield (a, b)).toSet
    assert(pairs.filter(_._1 >= 2000L) == smallExpected)
    // degenerate bucket: exactly N-1 star pairs through min-id rep 0
    val big = pairs.filter(_._1 < 2000L)
    assert(big.size == 1199)
    assert(big.forall { case (a, b) => a == 0L && b > 0L })
  }

  test("guard construction is lazy: no eager driver job, overflow observed") {
    val sp = spark
    import sp.implicits._
    // r2's guard ran a count() job while BUILDING the DataFrame (one full
    // extra pass per guarded query); the observe()-based guard must not
    sp.sparkContext.setJobGroup("guard-lazy", "construction must not run jobs")
    val buckets = (0L until 50L).map(i => (i, i % 5)).toDF("doc_id", "bucket")
    val df = DedupOps.guardedBucketPairs(buckets, Seq("bucket"), cap = 3)
    Thread.sleep(500) // listener-bus settle; an eager count() lands here
    assert(sp.sparkContext.statusTracker.getJobIdsForGroup("guard-lazy").isEmpty,
      "guardedBucketPairs ran a job during construction")
    sp.sparkContext.clearJobGroup()
    // all 5 buckets (10 members each) overflow cap=3 ⇒ 9 star pairs each
    assert(df.count() == 45L)
  }

  test("pair-cache: LRU of 2 — a third corpus evicts the first and releases its checkpoint blocks") {
    val sp = spark
    import sp.implicits._
    import graft.dedup.PairCache
    val cache = new PairCache(2)
    def frame(i: Int) =
      Seq((i.toLong, i.toLong)).toDF("id_a", "id_b").localCheckpoint(true)
    val a = cache.getOrBuild("corpusA")(frame(1))
    val b = cache.getOrBuild("corpusB")(frame(2))
    assert(cache.size == 2 && !PairCache.isReleased(a))
    val c = cache.getOrBuild("corpusC")(frame(3))
    // A is evicted but its release is DEFERRED one generation (an
    // in-flight query over a just-evicted frame must not die)
    assert(cache.size == 2)
    assert(!PairCache.isReleased(a), "release must defer one generation")
    // LRU, not FIFO: touching B makes C the eviction victim of D —
    // and D's eviction releases the PENDING evictee A
    cache.getOrBuild("corpusB")(sys.error("must be served from cache"))
    cache.getOrBuild("corpusD")(frame(4))
    assert(PairCache.isReleased(a),
      "first evictee's checkpoint blocks were not released after the " +
        "next eviction generation")
    assert(!PairCache.isReleased(b) && !PairCache.isReleased(c),
      "live entry or grace-period evictee was released early")
  }

  test("d03 golden pin at sf0.001: banding + hamming verify is deterministic") {
    // d03 is oracle-checked at the gate since the md5-derived shingle
    // hash (r5 stretch item); this pin keeps the sf0.001 counts fixed so
    // a signature/banding/verify change shows up even in spec-only runs
    val row = DedupOps.d03_simhash(spark, "/root/testdata/sf0.001").collect()(0)
    assert(row.getLong(0) == 478L, s"n_confirmed=${row.getLong(0)}")
    assert(row.getLong(1) == 386L, s"n_planted_found=${row.getLong(1)}")
  }

  test("d22: containment plants found, near-dup plants excluded by the J filter") {
    // Fixture-discrimination pin (SURVEY §5): every %13 big-host plant
    // must be emitted (containment ≥ 0.8, J < 0.6 — the pair symmetric
    // dedup cannot see), and NO %29 near-copy plant may appear (its
    // J ≈ 0.83 is d04's jurisdiction — the J < 0.6 exclusion binds).
    val sf = "/root/testdata/sf0.001"
    val out = graft.dedup.DedupOps.d22_containment(spark, sf).collect()
    assert(out.nonEmpty)
    val nBig = graft.analytics.Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") % 13 === 0).count()
    val bigPlantPairs = out.filter(r =>
      r.getLong(1) == r.getLong(0) + 200000L)
    assert(bigPlantPairs.length == nBig,
      s"expected $nBig self-containment plant pairs, got ${bigPlantPairs.length}")
    // a %29 plant may legitimately HOST some other contained doc; only
    // its SELF-pair (J ≈ 0.83) must be filtered
    assert(out.forall(r => r.getLong(1) != r.getLong(0) + 300000L),
      "a %29 near-copy self-pair leaked past the J < 0.6 exclusion")
    assert(out.forall(r => r.getDouble(2) >= 0.8 && r.getDouble(3) < 0.6))
  }

  test("d23: directed keeper — chain tier live, direction ties impossible, rollup reconciles") {
    val sf = "/root/testdata/sf0.001"
    // live pair facts, recomputed independently of the operator's rollup
    val pairs = DedupOps.containmentPairsOf(
      DedupOps.withContainmentChain(spark, sf)).collect()
    assert(pairs.nonEmpty)
    // the direction rule's precondition: equal shingle counts cannot
    // pass C >= 0.8 AND J < 0.6 (|A|=|B| forces J = C/(2-C) >= 2/3)
    assert(pairs.forall(r => r.getAs[Long]("n_a") != r.getAs[Long]("n_b")),
      "an equal-size pair slipped past the J < 0.6 exclusion")
    val contained = pairs.map(r =>
      if (r.getAs[Long]("n_a") < r.getAs[Long]("n_b")) r.getLong(0)
      else r.getLong(1)).toSet
    val containers = pairs.map(r =>
      if (r.getAs[Long]("n_a") < r.getAs[Long]("n_b")) r.getLong(1)
      else r.getLong(0)).toSet
    val chain = contained intersect containers
    // the fixture's chain tier is NON-VACUOUS and lands exactly on the
    // big plants (orig ⊂ big ⊂ mega: big is container AND contained)
    assert(chain.nonEmpty, "chain tier vacuous — no both-sides doc")
    assert(chain.forall(id => id >= 200000L && id < 300000L), chain.take(5))
    // greedy superset-keeping: megas (nothing is bigger) all survive
    assert(contained.forall(_ < 400000L),
      "a mega host was marked contained — nothing on this fixture contains one")
    // the registered rollup reconciles with this independent recount
    val row = graft.dedup.Materialize
      .d23_containment_keeper(spark, sf).collect().head
    assert(row.getAs[Long]("n_pairs") == pairs.length)
    assert(row.getAs[Long]("n_dropped") == contained.size)
    assert(row.getAs[Long]("dropped_id_sum") == contained.sum)
    assert(row.getAs[Long]("n_chain_docs") == chain.size)
  }

  test("d24: unified graph — mixed components live, quality keeper binds, rollup reconciles with a local union-find") {
    val sf = "/root/testdata/sf0.001"
    val sp = spark
    import sp.implicits._
    // independent recount: the two pair engines d24 composes, then a
    // DRIVER-SIDE union-find (a different components implementation
    // than the distributed min-label CC the operator runs)
    val corpus = DedupOps.withContainmentChain(sp, sf)
    val ct = DedupOps.containmentPairsOf(corpus)
      .select($"id_a", $"id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sigd = corpus.withColumn("sig", DedupOps.sigWithHashesU($"text"))
    val nd = DedupOps.confirmedPairsOf(sigd, DedupOps.scoredOf(sigd))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(nd.nonEmpty && ct.nonEmpty)
    // the two emit rules are disjoint BY RULE (J >= 0.8 vs J < 0.6)
    assert((nd.toSet intersect ct.toSet).isEmpty)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (nd ++ ct).foreach { case (a, b) => union(a, b) }
    val memberIds = (nd ++ ct).flatMap(p => Seq(p._1, p._2)).distinct
    val comps = memberIds.groupBy(find)
    // MIXED components (both edge kinds) exist: the DESIGNED family is
    // doc ids ≡ 0 (mod lcm(13, 29) = 377) — carrying a near-dup plant
    // AND a containment chain — and natural base-corpus near-dups can
    // merge further chains in (observed: 4 mixed at sf0.001, roots
    // {0, 26, 260, 377})
    val mixedRoots = nd.map(p => find(p._1)).toSet intersect
      ct.map(p => find(p._1)).toSet
    assert(mixedRoots.nonEmpty, "no mixed component — the union adds nothing")
    assert(mixedRoots.contains(find(0L)),
      s"designed mixed family (doc 0) missing from $mixedRoots")
    val ntok = corpus.select($"doc_id",
        size(graft.text.TextOps.whitespaceTokens($"text")).cast("long"))
      .as[(Long, Long)].collect().toMap
    val keepers = comps.map { case (root, ms) =>
      root -> ms.maxBy(id => (ntok(id), -id)) }
    val dropped = comps.iterator.flatMap { case (r, ms) =>
      ms.filterNot(_ == keepers(r)) }.toSet
    // the mixed family's keeper is a MEGA host (longest member wins the
    // whole unified component, not each pair kind separately) — doc 0's
    // own orig/big/noise tiers all drop beneath it
    assert(keepers(find(0L)) >= 400000L,
      s"mixed component of doc 0 must keep a mega host, kept ${keepers(find(0L))}")
    assert(Seq(0L, 200000L, 300000L).forall(dropped.contains))
    val row = graft.dedup.Materialize.d24_unified_dedup(sp, sf).collect().head
    assert(row.getAs[Long]("n_nd_edges") == nd.length)
    assert(row.getAs[Long]("n_ct_edges") == ct.length)
    assert(row.getAs[Long]("n_components") == comps.size)
    assert(row.getAs[Long]("n_docs_clustered") == memberIds.length)
    assert(row.getAs[Long]("n_mixed_components") == mixedRoots.size)
    val notMin = comps.count { case (r, ms) => keepers(r) != ms.min }
    assert(row.getAs[Long]("n_keeper_not_min") == notMin)
    assert(notMin > 0, "quality rule never overrode min-id — degenerated to d16")
    assert(row.getAs[Long]("n_kept") == ntok.size - dropped.size)
    assert(row.getAs[Long]("kept_tok_mass") ==
      ntok.filterNot(kv => dropped.contains(kv._1)).values.sum)
  }

  test("d22 guard: boilerplate flood star-links hot postings; cold pairs exact") {
    val sp = spark
    import sp.implicits._
    // 12 docs with disjoint unique texts (no cross-doc shingles), one of
    // them contained in a bigger host (the pair the candidate phase must
    // keep), plus 20 boilerplate clones — every clone shingle has df=20,
    // over the cap=10, so rare-first prefix ranking cannot help
    val uniq = (0L until 12L).map(i =>
      (i, (1 to 20).map(j => s"u${i}w$j").mkString(" ")))
    val host = (50L, uniq(3)._2 + " " + (1 to 40).map(j => s"h50x$j").mkString(" "))
    val boiler = (1 to 20).map(j => s"b$j").mkString(" ")
    val clones = (100L until 120L).map(i => (i, boiler))
    val pre = (uniq :+ host).concat(clones).toDF("doc_id", "text")
      .select($"doc_id", DedupOps.hashShinglesU($"text").as("hs"))
    val guarded = DedupOps.containmentCandidates(pre, cap = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // hot postings collapse to the star through min-id clone 100: 19
    // rows, never the 190 all-pairs
    val clonePairs = guarded.filter(_._1 >= 100L)
    assert(clonePairs == (101L until 120L).map((100L, _)).toSet,
      s"flooded postings must star-link, got ${clonePairs.size} pairs")
    // the cold containment candidate survives the guard untouched
    assert(guarded.contains((3L, 50L)), "cold containment candidate lost")
    // and with the cap above the flood, the same input emits all-pairs
    val unguarded = DedupOps.containmentCandidates(pre, cap = 1000)
      .filter($"id_a" >= 100L).count()
    assert(unguarded == 190L, s"expected 190 all-pairs under cap, got $unguarded")
  }

  test("d22 guard: healthy fixture max shingle df sits far below the cap") {
    // the oracle replays SEMANTICS all-pairs, so the engine's candidate
    // phase must have full recall on the healthy fixture — which holds
    // exactly when no shingle df exceeds the cap (hot postings degrade
    // to star recall BY CONTRACT). Pin the margin so a fixture change
    // that floods shingles shows up here, not as an oracle hash miss.
    val sp = spark
    import sp.implicits._
    val pre = DedupOps.withContainmentPlants(sp, "/root/testdata/sf0.001")
      .select($"doc_id", DedupOps.hashShinglesU($"text").as("hs"))
    val maxDf = pre.select(org.apache.spark.sql.functions.explode($"hs").as("h"))
      .groupBy($"h").count().agg(org.apache.spark.sql.functions.max($"count"))
      .collect()(0).getLong(0)
    assert(maxDf <= 100L, s"healthy-fixture max df $maxDf approaches the 1000 cap")
  }

  test("d21: threshold is live and flagged = exactly the planted paraphrases") {
    // Fixture-discrimination pin (SURVEY §5): the 0.9 cosine verify must
    // REJECT candidates (random band collisions), not rubber-stamp them,
    // and the flagged set must be exactly the 32 perturbed benchmark
    // plants — no natural pair crosses 0.9 in this corpus.
    val sf = "/root/testdata/sf0.001"
    val out = graft.dedup.Contamination
      .d21_semantic_contamination(spark, sf).collect()
    val nCand = graft.dedup.Contamination.d21Candidates(spark, sf).count()
    assert(out.length == 32, s"flagged=${out.length}")
    assert(nCand > out.length,
      s"verify stage vacuous: candidates=$nCand flagged=${out.length}")
    assert(out.forall(r => r.getLong(0) == r.getLong(1) + 100000L),
      "a non-planted pair was flagged")
    assert(out.map(_.getLong(1)).sorted.toSeq == (0L until 32L),
      "a planted paraphrase was missed")
    // every flagged score clears the quantized 0.9 threshold
    assert(out.forall(_.getLong(2) >= (0.9 * 4294967296.0).toLong))
  }

  test("s03 LSH recall pin at sf0.001: md5-Rademacher planes are deterministic") {
    // recall@5 of sign-LSH bucket probing vs the exact baseline: the
    // md5-derived ±1 planes + fixed-point signs make it a pure function
    // of the data (and SQL-replayable — s03 is oracle-checked at the
    // gate since r10), so any change to banding, hashing, or probing
    // semantics must re-justify itself against this pin too
    val row = graft.sim.SimilarityOps.s03_ann_lsh_recall(spark, "/root/testdata/sf0.001")
      .collect()(0)
    assert(row.getDouble(0) == 0.9, s"recall_at_5=${row.getDouble(0)}")
    assert(row.getLong(1) == 10L)
  }

  test("s05 PQ: deterministic recall at 16x compression") {
    // product quantization on the near-uniform synthetic corpus (PQ's
    // hardest case): 0.40 recall@5 vs a 0.005 random baseline at 16
    // code bytes per 256-byte vector. Seedless-deterministic (sample
    // init + fixed Lloyd iterations + lowest-index argmin ties).
    val row = graft.sim.AnnStore.s05_ann_pq(spark, "/root/testdata/sf0.001")
      .collect()(0)
    assert(row.getDouble(0) == 0.4, s"recall_at_5=${row.getDouble(0)}")
    assert(row.getLong(1) == 10L)
    assert(row.getLong(2) == 16L && row.getLong(3) == 256L)
  }

  test("s08 IVF-PQ pin at sf0.001: bucket-pruned scan over codes, deterministic recall") {
    // the composition of s07 (bucket-pruned inverted lists) and s05 (PQ
    // codes) at the store's CORPUS-SCALED geometry (k = ivfK(500) = 22,
    // nprobe = 6): the probe scans ~27% of the corpus — down from the
    // fixed-k=16 era's 36%, the scan fraction now shrinks with corpus
    // size — and touches only 16 code bytes per scanned row. Codes-only
    // recall 0.44 beats the full-scan PQ baseline's 0.40 (s05 pin above)
    // on this near-uniform corpus — PQ's hardest case — and is a pure
    // function of the data (same coarse Lloyd as s04, same
    // sample-trained codebooks as s05). n_scanned counts candidate rows
    // from the probed buckets, so scan_fraction here must equal s04's at
    // the same (k, nprobe) — same inverted lists.
    val row = graft.sim.AnnStore.s08_ann_ivfpq(spark, "/root/testdata/sf0.001")
      .collect()(0)
    assert(row.getDouble(0) == 22.0 / 50.0, s"recall_at_5=${row.getDouble(0)}")
    assert(row.getDouble(1) == 1363.0 / 5000.0, s"scan_fraction=${row.getDouble(1)}")
    assert(row.getLong(2) == 10L)
    assert(row.getLong(3) == 16L && row.getLong(4) == 256L)
    val k = graft.sim.AnnStore.ivfK(500L)
    val s04 = graft.sim.SimilarityOps.s04_ann_ivf(spark, "/root/testdata/sf0.001",
      k, graft.sim.AnnStore.ivfNprobe(k)).collect()(0)
    assert(row.getDouble(1) == s04.getDouble(1),
      s"s08 scan_fraction ${row.getDouble(1)} != s04's ${s04.getDouble(1)}")
  }

  test("s09 IVF-PQ re-rank pin at sf0.001: exact re-rank recovers raw-vector recall") {
    // the full production ANN read path at the store's corpus-scaled
    // geometry (k = 22, nprobe = 6): the codes-only ADC scan (s08,
    // recall 0.44) nominates 50 finalists per query and the exact
    // re-rank over ONLY those finalists' raw vectors recovers 0.94 —
    // exactly s04's raw-vector recall at the same (k, nprobe), at s08's
    // scan fraction and 16 code bytes per scanned row. Deterministic
    // (same trained codebooks, same tie rules); the equality with s04 is
    // asserted, not assumed.
    val row = graft.sim.AnnStore
      .s09_ann_ivfpq_rerank(spark, "/root/testdata/sf0.001").collect()(0)
    assert(row.getDouble(0) == 47.0 / 50.0, s"recall_at_5=${row.getDouble(0)}")
    assert(row.getDouble(1) == 1363.0 / 5000.0, s"scan_fraction=${row.getDouble(1)}")
    assert(row.getLong(2) == 10L)
    assert(row.getLong(3) == 50L && row.getLong(4) == 16L)
    val k = graft.sim.AnnStore.ivfK(500L)
    val s04 = graft.sim.SimilarityOps.s04_ann_ivf(spark, "/root/testdata/sf0.001",
      k, graft.sim.AnnStore.ivfNprobe(k)).collect()(0)
    assert(row.getDouble(0) == s04.getDouble(0),
      s"re-rank recall ${row.getDouble(0)} != s04's ${s04.getDouble(0)}")
  }

  test("s04 IVF: deterministic, high recall at a sub-half scan fraction") {
    val row = graft.sim.SimilarityOps.s04_ann_ivf(spark, "/root/testdata/sf0.001")
      .collect()(0)
    val recall = row.getDouble(0)
    val scanFrac = row.getDouble(1)
    assert(recall == 0.96, s"recall=$recall")       // deterministic pin
    assert(scanFrac < 0.5, s"scan_fraction=$scanFrac") // the IVF point
    assert(row.getLong(2) == 10L)
  }

  test("s06 SemDeDup pin at sf0.001: fixed-point k-means + min-id drop are deterministic") {
    // no SQL oracle by design (k-means); the fixed-point Lloyd training
    // and greedy min-id keeper make the outcome a pure function of the
    // data, so any change to clustering, threshold, or keeper semantics
    // must re-justify itself here. 494 of the 500 planted near-identical
    // pairs co-cluster and drop; 6 are split by the coarse quantizer
    // (reported, not silently missed).
    val row = graft.sim.SemanticDedup.s06_semantic_dedup(spark, "/root/testdata/sf0.001")
      .collect()(0)
    assert(row.getLong(0) == 1000L, s"n_vectors=${row.getLong(0)}")
    assert(row.getLong(1) == 16L, s"n_clusters_used=${row.getLong(1)}")
    assert(row.getLong(2) == 494L, s"n_dropped=${row.getLong(2)}")
    assert(row.getLong(3) == 506L, s"n_kept=${row.getLong(3)}")
    assert(row.getLong(4) == 494L, s"n_planted_found=${row.getLong(4)}")
    assert(row.getLong(5) == 6L, s"n_planted_split=${row.getLong(5)}")
    assert(row.getLong(6) == 49523389L, s"dropped_id_sum=${row.getLong(6)}")
  }

  test("s06 fixture margins: no decision sits near a cross-engine flip boundary") {
    // the r13 knife-edge question, answered by measurement (r14): a
    // cross-engine float divergence can only flip s06 if some decision
    // sits within a few 2^-32 grid cells of its boundary. Neither does,
    // by orders of magnitude — assert the floors so a fixture or
    // threshold change that erodes them fails here before it flakes at
    // the driver. (The four-round driver red itself was a TYPE artifact
    // — HUGEINT dropped_id_sum — not a float flip; see SemanticDedup.)
    val sf = "/root/testdata/sf0.001"
    // (1) pair compare: every within-cluster pair clears (or misses) the
    // 0.9 cut by > 2^24 cells ≈ 0.004 cosine (measured ≈ 4.2e8 cells)
    val row = graft.sim.S06Diag.s06b_pair_audit(spark, sf).collect()(0)
    val minAbs = row.getAs[Long]("min_abs_delta")
    assert(minAbs > (1L << 24), s"min_abs_delta=$minAbs")
    assert(row.getAs[Long]("n_le_2p24") == 0L)
    // the ≥-cut pair set is exactly the co-clustered planted pairs (the
    // pin above: 494 found) — no natural pair crosses 0.9
    assert(row.getAs[Long]("n_ge_cut") == 494L,
      s"n_ge_cut=${row.getAs[Long]("n_ge_cut")}")
    // (2) Lloyd argmax: every vector's top-2 centroid gap > 2^16 cells
    // (measured ≈ 3e5 cells ≈ 7e-5 cosine — no assignment is borderline)
    val gap = graft.sim.S06Diag.minAssignGap(spark, sf)
    assert(gap > (1L << 16), s"minAssignGap=$gap")
  }

  test("signature-store ingest: flooded store bucket star-links to its persisted rep") {
    // the d08/d10 twin of the bucket-pair guard (r4 advisory): the store
    // persists per-bucket size + min-id rep at BUILD time, and an
    // over-cap bucket contributes only its rep to the probe join — a
    // batch doc landing on a degenerate bucket yields O(1) candidate
    // rows, not |store bucket| (the no-quadratic contract at ingest)
    val sp = spark
    import sp.implicits._
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = (0L until 120L).map(i => (i, text)).toDF("doc_id", "text")
    sp.sql("DROP TABLE IF EXISTS graft_guard_store_spec")
    IncrementalDedup.writeSignatureStore(sp, docs, "graft_guard_store_spec")
    try {
      val newBands = Seq((900000L, text)).toDF("id_b", "text")
        .select($"id_b", org.apache.spark.sql.functions.posexplode(
          DedupOps.minhashBandsU($"text")).as(Seq("band", "bucket")))
      val cand = IncrementalDedup.storeIngestCandidates(
          sp, "graft_guard_store_spec", newBands, cap = 50)
        .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // all 120 store docs share every bucket; only the min-id rep joins
      assert(cand == Set((0L, 900000L)), s"got $cand")
    } finally sp.sql("DROP TABLE IF EXISTS graft_guard_store_spec")
  }

  test("s07 store-backed ANN equals s04 row-for-row: the index is layout, not semantics") {
    // same codebook training, same probe math AT THE STORE'S
    // corpus-scaled geometry (s04's parameterized overload at
    // k = ivfK(N), nprobe = ivfNprobe(k)), different execution
    // (persisted bucketed inverted lists, bucket-pruned probe) — any
    // divergence means the store changed semantics
    val sf = "/root/testdata/sf0.001"
    val k = graft.sim.AnnStore.ivfK(500L)
    val a = graft.sim.SimilarityOps.s04_ann_ivf(spark, sf,
      k, graft.sim.AnnStore.ivfNprobe(k)).collect()
    val b = graft.sim.AnnStore.s07_ann_store(spark, sf).collect()
    assert(a.length == 1 && b.length == 1)
    assert(a(0).getDouble(0) == b(0).getDouble(0), "recall differs")
    assert(a(0).getDouble(1) == b(0).getDouble(1), "scan_fraction differs")
    assert(a(0).getLong(2) == b(0).getLong(2))
  }

  test("s06 cluster-local compare: flooded cluster star-links, observed, exact below cap") {
    // the s06 twin of the LSH bucket-guard test (r4 advisory): an
    // over-cap cluster must degrade to O(N) star pairs through the
    // min-id representative WITHOUT materializing the cluster (memory is
    // O(cap) — the run streams), and the degradation must be OBSERVED
    // via the accumulator, never silent; a small cluster in the same
    // frame keeps its exact all-pairs set
    val sp = spark
    import sp.implicits._
    val flood = (0L until 250L).map(i => (0, i, Seq(1.0f, 0.0f)))   // 2.5× cap, identical
    val small = Seq(1000L, 1001L, 1002L).map(i => (7, i, Seq(0.0f, 1.0f)))
    val lone = Seq((9, 2000L, Seq(0.5f, 0.5f)))                     // no pairs
    val assigned = sp.createDataFrame(flood ++ small ++ lone)
      .toDF("cid", "vec_id", "embedding")
    val acc = sp.sparkContext.longAccumulator("test_s06_overflow")
    val pairs = graft.sim.SemanticDedup
      .clusterLocalPairs(assigned, cap = 100, minCos = 0.9, acc)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // flooded cluster: exactly N−1 star pairs through rep 0
    assert(pairs.count(_._2 < 1000L) == 249, s"star pairs=${pairs.count(_._2 < 1000L)}")
    assert(pairs.filter(_._2 < 1000L).forall(_._1 == 0L), "non-rep id_a in star pairs")
    // small cluster: full 3-choose-2 exact pair set
    assert(pairs.filter(_._1 >= 1000L) ==
      Set((1000L, 1001L), (1000L, 1002L), (1001L, 1002L)))
    // overflow observed: every non-rep member of the flooded cluster
    assert(acc.value == 249L, s"overflow=${acc.value}")
  }

  test("s06 adaptive k: corpus-scaled k keeps clusters under the cap where k=16 overflows") {
    // r5 verdict: at 100× corpus a FIXED k=16 puts every cluster over the
    // 1000-member compare cap (mean membership n/16 > cap ⇒ pigeonhole
    // guarantees overflow) and the whole compare degrades to star pairs.
    // 10k deterministic base vectors (20k after the planted union) drive
    // the default entry's adaptiveK to 40 ⇒ ~500-member clusters, exact
    // all-pairs everywhere; the same corpus forced to k=16 must trip the
    // overflow accumulator.
    assert(graft.sim.SemanticDedup.adaptiveK(4000L) == 16)   // test SFs: unchanged
    assert(graft.sim.SemanticDedup.adaptiveK(20000L) == 40)
    assert(graft.sim.SemanticDedup.adaptiveK(2000000L) == 4000)
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(0xf100dL)
    val rows = (0L until 10000L).map { i =>
      (i, Seq.fill(64)(rnd.nextGaussian().toFloat))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-s06-flood")
    try {
      rows.toDF("vec_id", "embedding").repartition(4)
        .write.parquet(s"$dir/embeddings.parquet")
      val kFixed = 16
      val accFixed = sp.sparkContext.longAccumulator("s06_flood_fixed")
      graft.sim.SemanticDedup.s06Impl(sp, dir.toString, kFixed, accFixed).collect()
      assert(accFixed.value > 0L,
        s"k=16 on a 20k-vector union must overflow the cap (got ${accFixed.value})")
      val kAdaptive = graft.sim.SemanticDedup.adaptiveK(2L * 10000L)
      val accAdaptive = sp.sparkContext.longAccumulator("s06_flood_adaptive")
      val row = graft.sim.SemanticDedup
        .s06Impl(sp, dir.toString, kAdaptive, accAdaptive).collect()(0)
      assert(accAdaptive.value == 0L,
        s"adaptive k=$kAdaptive must keep every cluster under the cap " +
          s"(star-linked ${accAdaptive.value})")
      assert(row.getLong(0) == 20000L, s"n_vectors=${row.getLong(0)}")
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.delete)
      finally walk.close()
    }
  }

  test("d13 span removal: keeper survives, later aligned occurrences redact, sub-W docs untouched") {
    // hand-built corpus exercising every d13 rule: cross-doc duplication
    // (the planted copy redacts fully), WITHIN-doc duplication (the
    // second r1..r20 run redacts, the first — the keeper — survives),
    // and the W=20 floor (a 10-token doc has no windows, so neither it
    // nor its 9-token planted copy loses anything)
    val sp = spark
    import sp.implicits._
    val doc0 = (1 to 40).map(i => s"a$i").mkString(" ")
    val doc1 = ((1 to 20).map(i => s"r$i") ++ (1 to 20).map(i => s"r$i") ++
      (1 to 5).map(i => s"z$i")).mkString(" ")
    val doc2 = (1 to 10).map(i => s"c$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft-d13")
    try {
      Seq((0L, doc0), (1L, doc1), (2L, doc2)).toDF("doc_id", "text")
        .write.parquet(s"$dir/documents.parquet")
      val got = graft.dedup.SpanDedup.d13_span_removal(sp, dir.toString)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      def md5hex(s: String): String =
        java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
      assert(got(0L) == ((40L, 0L, md5hex(doc0))), s"doc0=${got(0L)}")
      // doc1: the second r-run (idx 21..40) is a later occurrence of the
      // pos-1 window; cleaned text = first run + tail
      val doc1Clean = ((1 to 20).map(i => s"r$i") ++ (1 to 5).map(i => s"z$i")).mkString(" ")
      assert(got(1L) == ((45L, 20L, md5hex(doc1Clean))), s"doc1=${got(1L)}")
      assert(got(2L) == ((10L, 0L, md5hex(doc2))), s"doc2=${got(2L)}")
      // planted copies: every window already exists in the base doc at
      // the same position with a smaller doc_id ⇒ full redaction (above
      // the W floor); the 9-token copy of doc2 has no windows
      assert(got(100000L) == ((39L, 39L, md5hex(""))), s"copy0=${got(100000L)}")
      assert(got(100001L) == ((44L, 44L, md5hex(""))), s"copy1=${got(100001L)}")
      assert(got(100002L) == ((9L, 0L,
        md5hex((1 to 9).map(i => s"c$i").mkString(" ")))), s"copy2=${got(100002L)}")
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.delete)
      finally walk.close()
    }
  }

  test("s11 k-center greedy: deterministic pick sequence with non-increasing distances") {
    // seedless determinism: lowest-id seed, 2^-32-quantized distances
    // over 2^-24-quantized components (cross-engine exact — the same
    // recurrence is oracle-replayed as a recursive CTE since r10)
    // compared as exact longs, id tie-break. Farthest-point theory:
    // adding a center only shrinks min-distances, so the picked max-min
    // distance sequence must be non-increasing — both the golden pin and
    // the invariant are asserted.
    val rows = graft.sim.SelectOps.s11_coreset_select(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 32)
    assert(rows.take(3).toSeq == Seq((1, 0L, -1L), (2, 310L, 5882811927L),
      (3, 74L, 5037774557L)), s"got ${rows.take(3).toSeq}")
    val dists = rows.drop(1).map(_._3)
    assert(dists.zip(dists.tail).forall { case (a, b) => b <= a },
      s"pick distances must be non-increasing: ${dists.toSeq}")
    assert(rows.map(_._2).distinct.length == 32, "a vector was picked twice")
  }

  test("s11 checkpoint footprint: every round's blocks are released eagerly") {
    // r9 verdict item 5: each of the T=32 rounds localCheckpoints a
    // corpus-sized working frame; without the explicit per-round
    // unpersist the superseded rounds' blocks linger until driver GC —
    // up to T corpus-sized block sets in flight. With the eager release
    // the persistent-RDD registry must return to its pre-run state the
    // moment the operator returns (and s11b's candidate frame too).
    val before = spark.sparkContext.getPersistentRDDs.keySet
    graft.sim.SelectOps.s11_coreset_select(spark, "/root/testdata/sf0.001")
      .collect()
    val leakedA = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leakedA.isEmpty,
      s"s11 left ${leakedA.size} checkpointed RDD(s) persisted: $leakedA")
    graft.sim.SelectOps.s11b_coreset_cluster(spark, "/root/testdata/sf0.001")
      .collect()
    val leakedB = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leakedB.isEmpty,
      s"s11b left ${leakedB.size} checkpointed RDD(s) persisted: $leakedB")
  }

  test("s11b cluster-local coreset: deterministic, valid greedy, near-s11 coverage") {
    val sp = spark
    import sp.implicits._
    val dir = "/root/testdata/sf0.001"
    def run() = graft.sim.SelectOps.s11b_coreset_cluster(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val rows = run()
    assert(rows.length == 32)
    // seedless determinism: same input ⇒ identical pick sequence
    assert(rows.toSeq == run().toSeq, "s11b pick sequence is nondeterministic")
    assert(rows(0)._3 == -1L, "seed must carry the -1 sentinel")
    val dists = rows.drop(1).map(_._3)
    assert(dists.zip(dists.tail).forall { case (a, b) => b <= a },
      s"merge-phase pick distances must be non-increasing: ${dists.toSeq}")
    assert(rows.map(_._2).distinct.length == 32, "a vector was picked twice")
    // quality: the composable coreset's k-center coverage radius (max
    // over the corpus of min cosine distance to the picked set) must be
    // within a small constant of the exact global greedy's — the point
    // of the two-phase shape is scan reduction, not quality loss
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id", $"embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def radius(picks: Set[Long]): Double = {
      val centers = emb.filter(e => picks(e._1)).map(_._2)
      emb.map { case (_, v) =>
        centers.map(c => 1.0 - graft.sim.SimilarityOps.cosineArr(v, c)).min
      }.max
    }
    val rb = radius(rows.map(_._2).toSet)
    val ra = radius(
      graft.sim.SelectOps.s11_coreset_select(spark, dir)
        .collect().map(_.getLong(1)).toSet)
    assert(rb <= 3.0 * ra + 1e-9,
      f"s11b coverage radius $rb%.4f vs exact greedy $ra%.4f exceeds 3x")
  }

  test("d14 Bloom pre-filter: no false negatives, corpus-scaled sizing") {
    // the Bloom contract: claimed ⊇ true (an exact copy's positions are
    // all set by construction — a false negative would make the
    // pre-filter WRONG, not just loose), and m_bits follows the
    // corpus-scaled 8·nextPow2(N) sizing so fill stays ~half at any N
    val r = graft.dedup.BloomDedup.d14_bloom_dedup(spark, "/root/testdata/sf0.001")
      .collect()(0)
    val (nCorpus, mBits, nClaimed, nTrue, nFp) =
      (r.getLong(0), r.getLong(2), r.getLong(4), r.getLong(5), r.getLong(6))
    assert(nClaimed >= nTrue, s"Bloom false negative: claimed=$nClaimed true=$nTrue")
    assert(nFp == nClaimed - nTrue)
    assert(mBits == 8L * java.lang.Long.highestOneBit(2 * nCorpus - 1))
    // exact copies of every 3rd corpus doc are all true duplicates
    assert(nTrue == (0L until nCorpus).count(_ % 3 == 0),
      s"true-dup count $nTrue diverges from the planted batch")
  }

  test("annSearch: caller-supplied query vectors probe the persisted store") {
    // the service-primitive overload (r6 stretch): queries come from the
    // CALLER (here corpus vectors re-labeled into a disjoint id space),
    // run the full IVF-PQ + exact-re-rank read path, and return ranked
    // neighbors. A query identical to a stored vector must surface that
    // vector at rank 1 — its own inverted list is the nearest-centroid
    // list, so the probe always scans it, and exact cosine 1.0 wins the
    // re-rank.
    val sp = spark
    import sp.implicits._
    val sf = "/root/testdata/sf0.001"
    val ext = graft.analytics.Tables.embeddings(sp, sf)
      .filter($"vec_id".isin(42L, 123L, 400L))
      .select(($"vec_id" + 9000L).as("query_id"), $"embedding")
    val rows = graft.sim.AnnStore.annSearch(sp, sf, ext, topK = 3).collect()
    val got = rows.map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.length == 9, s"expected 3 queries x top-3, got ${got.toSeq}")
    assert(got.filter(_._2 == 1).toSeq.sortBy(_._1) ==
      Seq((9042L, 1, 42L), (9123L, 1, 123L), (9400L, 1, 400L)),
      s"rank-1 self-match failed: ${got.toSeq}")
    // the documented contract includes the ranked cosine: a self-match's
    // exact re-rank score is 1.0 up to float rounding
    val selfCos = rows.filter(_.getInt(1) == 1).map(_.getDouble(3))
    assert(selfCos.forall(c => math.abs(c - 1.0) < 1e-6),
      s"rank-1 self-match cosine must be ~1.0: ${selfCos.toSeq}")
  }

  test("st09 streaming ANN ingest: appended vectors immediately self-retrievable") {
    // st08's twin for the similarity store: per-micro-batch vectors are
    // assigned + PQ-encoded against the PERSISTED codebooks and appended
    // co-located into an O(ingested) DELTA table; every ingested vector
    // must then find itself rank-1 through the full probe path over
    // base ∪ delta (coarse probe → bucket-pruned ADC → exact re-rank).
    // sf0.001: 17 planted arrivals (vec_id % 31) over the 500-vector
    // corpus; deterministic, so a second run reproduces it exactly.
    val (tbl, _, _) = graft.sim.AnnStore
      .ensureAnnStore(spark, "/root/testdata/sf0.001")
    // fingerprint the BASE store's physical files: the ingest must never
    // copy or rewrite the store (r9 verdict item 2 — O(batch), not
    // O(store))
    def baseFiles() = spark.table(tbl).inputFiles.sorted.toSeq
    val filesBefore = baseFiles()
    def run() = graft.streaming.StreamStoreIngest
      .st09_stream_ann_ingest(spark, "/root/testdata/sf0.001")
      .collect()(0)
    val r = run()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((500L, 17L, 517L, 17L)), s"got ${r.toSeq}")
    // idempotent re-run: the delta is rebuilt, not doubled
    val r2 = run()
    assert(r.toSeq == r2.toSeq, s"second run diverged: ${r2.toSeq}")
    assert(baseFiles() == filesBefore,
      "st09 rewrote the base store's files — ingest must be O(batch)")
  }

  test("dedup store absorb: admitted docs are corpus for the next batch; compact folds the delta") {
    // the production half the d10 scaladoc promises: after a batch's
    // decisions are final, its ADMITTED docs join the store — digests
    // append co-located, band rows land in an O(absorbed) delta, text
    // extends the verify source. Then: (1) replaying an absorbed doc is
    // an exact-dup; (2) a NEAR-dup of an absorbed doc is caught through
    // the delta bands AND verified against the absorbed text (without
    // the text extension the candidate would be dropped silently);
    // (3) absorb is idempotent; (4) compaction folds the delta into a
    // new base generation without changing any decision.
    val sp = spark
    import sp.implicits._
    import graft.dedup.IncrementalDedup
    val sf = "/root/testdata/sf0.001"
    val (bandT, digT) = IncrementalDedup.ensureIncrementalStore(sp, sf)
    // isolated copies: absorbing into the registry store would change
    // d10/st08's oracle-checked decisions
    val bandT2 = bandT + "_absorb_spec"
    val digT2 = digT + "_absorb_spec"
    for (t <- Seq(bandT2, digT2, IncrementalDedup.bandDelta(bandT2),
        IncrementalDedup.absorbedDocs(bandT2), bandT2 + "_compacting"))
      sp.sql(s"DROP TABLE IF EXISTS $t")
    sp.table(bandT).write.bucketBy(16, "band", "bucket")
      .sortBy("band", "bucket").saveAsTable(bandT2)
    sp.table(digT).write.bucketBy(16, "dg").sortBy("dg").saveAsTable(digT2)
    // NOVEL batch: 5 corpus docs with every token prefixed — zero shared
    // shingles with the corpus, so all 5 must be admitted
    val docs = graft.analytics.Tables.documents(sp, sf).select($"doc_id", $"text")
    val novel = docs.filter($"doc_id".isin(3L, 11L, 29L, 57L, 83L))
      .select(($"doc_id" + 700000L).as("doc_id"),
        array_join(transform(split(trim($"text"), "\\s+"),
          t => concat(lit("zq"), t)), " ").as("text"))
      .localCheckpoint(true)
    def decide(batch: org.apache.spark.sql.DataFrame) =
      IncrementalDedup.storeAdmissionDecisions(sp, sf, batch, bandT2, digT2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    val run1 = decide(novel)
    assert(run1.forall(t => t._2 == 0L && t._3 == 0L),
      s"novel docs must all be admitted: $run1")
    IncrementalDedup.absorbAdmitted(sp, bandT2, digT2, novel)
    // (1) replay: every absorbed doc is now an exact duplicate
    val run2 = decide(novel)
    assert(run2.forall(_._2 == 1L), s"replayed absorbed docs must be exact dups: $run2")
    // (2) near-dup of an ABSORBED doc: last token dropped, new id — must
    // band-match in the delta and verify against the absorbed text
    val toks = split(trim($"text"), "\\s+")
    val near = novel.select(($"doc_id" + 1000L).as("doc_id"),
      array_join(slice(toks, lit(1), size(toks) - 1), " ").as("text"))
    val run3 = decide(near)
    assert(run3.forall(t => t._2 == 0L && t._3 == 1L),
      s"near-dups of absorbed docs must be caught via the delta: $run3")
    // (3) idempotency: re-absorbing the same docs appends nothing
    val deltaN = sp.table(IncrementalDedup.bandDelta(bandT2)).count()
    val digN = sp.table(digT2).count()
    IncrementalDedup.absorbAdmitted(sp, bandT2, digT2, novel)
    assert(sp.table(IncrementalDedup.bandDelta(bandT2)).count() == deltaN &&
      sp.table(digT2).count() == digN, "absorb must be idempotent")
    // (4) compaction: decisions unchanged, delta gone, layout preserved
    IncrementalDedup.compactStore(sp, bandT2)
    assert(!sp.catalog.tableExists(IncrementalDedup.bandDelta(bandT2)))
    assert(!sp.catalog.tableExists(bandT2 + "_compacting"))
    assert(!sp.catalog.tableExists(bandT2 + "_pre_swap"))
    assert(decide(novel) == run2, "compaction changed exact-dup decisions")
    assert(decide(near) == run3, "compaction changed near-dup decisions")
    val bs = sp.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(bandT2)).bucketSpec
    assert(bs.exists(b => b.numBuckets == 16 &&
      b.bucketColumnNames == Seq("band", "bucket")), s"bucket spec lost: $bs")
    // (5) idempotency SURVIVES compaction (r10 review): the absorbed-docs
    // ledger, not the dropped delta, carries the absorbed ids — a
    // crash-retried absorb of the same batch after compaction must
    // append nothing anywhere and change no decision
    val baseN = sp.table(bandT2).count()
    IncrementalDedup.absorbAdmitted(sp, bandT2, digT2, novel)
    assert(!sp.catalog.tableExists(IncrementalDedup.bandDelta(bandT2)) ||
      sp.table(IncrementalDedup.bandDelta(bandT2)).count() == 0L,
      "post-compaction replay re-appended band rows")
    assert(sp.table(bandT2).count() == baseN, "replay grew the base")
    assert(sp.table(digT2).count() == digN, "replay grew the digest table")
    assert(decide(novel) == run2 && decide(near) == run3,
      "post-compaction replay changed decisions")
    for (t <- Seq(bandT2, digT2, IncrementalDedup.absorbedDocs(bandT2),
        IncrementalDedup.bandDelta(bandT2)))
      sp.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("compaction rerun after a failed delta drop folds nothing twice") {
    // the r10 review's double-fold hazard: if compaction's post-swap
    // DROP of the delta fails, a rerun sees a delta whose rows are
    // ALREADY in the folded base; the compaction union is DISTINCT
    // precisely so that rerun is idempotent. Simulate the failure by
    // re-creating the delta from rows the base already holds, re-run,
    // and require identical base contents and guard stats.
    val sp = spark
    import sp.implicits._
    import graft.dedup.IncrementalDedup
    val sf = "/root/testdata/sf0.001"
    val (bandT, digT) = IncrementalDedup.ensureIncrementalStore(sp, sf)
    val bandT3 = bandT + "_refold_spec"
    val digT3 = digT + "_refold_spec"
    for (t <- Seq(bandT3, digT3, IncrementalDedup.bandDelta(bandT3),
        IncrementalDedup.absorbedDocs(bandT3), bandT3 + "_compacting",
        bandT3 + "_pre_swap"))
      sp.sql(s"DROP TABLE IF EXISTS $t")
    sp.table(bandT).write.bucketBy(16, "band", "bucket")
      .sortBy("band", "bucket").saveAsTable(bandT3)
    sp.table(digT).write.bucketBy(16, "dg").sortBy("dg").saveAsTable(digT3)
    val docs = graft.analytics.Tables.documents(sp, sf).select($"doc_id", $"text")
    val novel = docs.filter($"doc_id".isin(7L, 13L))
      .select(($"doc_id" + 800000L).as("doc_id"),
        array_join(transform(split(trim($"text"), "\\s+"),
          t => concat(lit("zr"), t)), " ").as("text"))
      .localCheckpoint(true)
    IncrementalDedup.absorbAdmitted(sp, bandT3, digT3, novel)
    val deltaRows = sp.table(IncrementalDedup.bandDelta(bandT3))
      .collect() // re-planted below as the "undropped" delta
    IncrementalDedup.compactStore(sp, bandT3)
    val after1 = sp.table(bandT3).collect()
      .map(_.toString).sorted.toSeq
    // the "failed drop": the delta reappears with rows the base now holds
    import sp.implicits._
    sp.createDataFrame(sp.sparkContext.parallelize(deltaRows.toIndexedSeq),
        sp.table(bandT3).schema)
      .write.bucketBy(16, "band", "bucket").sortBy("band", "bucket")
      .saveAsTable(IncrementalDedup.bandDelta(bandT3))
    IncrementalDedup.compactStore(sp, bandT3)
    val after2 = sp.table(bandT3).collect()
      .map(_.toString).sorted.toSeq
    assert(after2 == after1,
      "rerun after a failed delta drop changed the base (double fold)")
    for (t <- Seq(bandT3, digT3, IncrementalDedup.absorbedDocs(bandT3),
        IncrementalDedup.bandDelta(bandT3)))
      sp.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("table swap: a failed gen rename rolls the old generation back under the name") {
    // the r10 crash-safety fix: swapIn renames target aside, then gen in;
    // if the SECOND rename fails, the rollback must restore the aside
    // table under the target name before rethrowing — otherwise the
    // caller's cleanup (DROP gen) would leave the store NAMELESS. A
    // missing gen table exercises exactly that branch.
    val sp = spark
    import sp.implicits._
    sp.sql("DROP TABLE IF EXISTS graft_swap_t")
    sp.sql("DROP TABLE IF EXISTS graft_swap_t_pre_swap")
    sp.sql("DROP TABLE IF EXISTS graft_swap_missing_gen")
    sp.range(0, 7).toDF("x").write.saveAsTable("graft_swap_t")
    val thrown = intercept[Exception] {
      graft.analytics.TableSwap.swapIn(sp, "graft_swap_t", "graft_swap_missing_gen")
    }
    assert(thrown != null)
    assert(sp.catalog.tableExists("graft_swap_t"),
      "rollback must restore the target name")
    assert(sp.table("graft_swap_t").count() == 7L,
      "restored target must hold the original generation's rows")
    assert(!sp.catalog.tableExists("graft_swap_t_pre_swap"),
      "rollback must not leave the aside name occupied")
    sp.sql("DROP TABLE IF EXISTS graft_swap_t")
  }

  test("ann store compaction: delta folds into a new base generation, probes unchanged") {
    // the fold-the-delta-in half of the store's LSM lifecycle: st09
    // appends land in an O(ingested) delta probed as base ∪ delta;
    // compactDelta merges the two into a NEW bucketed generation and
    // swaps it in by metastore rename-aside (old base data is never
    // deleted before the new generation holds the name). Contract:
    // post-compaction single-table probes return exactly what the
    // base ∪ delta probes returned, the delta and transient tables are
    // gone, and the bucket layout (count + column) survives so bucket
    // pruning keeps holding.
    val sp = spark
    import sp.implicits._
    val sf = "/root/testdata/sf0.001"
    val (tbl, cb, pqCb) = graft.sim.AnnStore.ensureAnnStore(sp, sf)
    val k = cb.length
    // isolated base COPY: compacting the shared registry store would
    // fold test vectors into the corpus other pins probe
    val base = tbl + "_compact_spec_base"
    val delta = tbl + "_compact_spec_delta"
    sp.sql(s"DROP TABLE IF EXISTS $base"); sp.sql(s"DROP TABLE IF EXISTS $delta")
    sp.table(tbl).write.bucketBy(k, "cid").sortBy("cid").saveAsTable(base)
    // index-rotated copies (st09's device): same norm, scrambled
    // direction — self-match is a real unique retrieval, not a cosine-1.0
    // tie with the corpus original that the min-id tie-break would win
    val rotU = org.apache.spark.sql.functions.udf {
      v: Seq[Float] => v.drop(7) ++ v.take(7) }
    val batch = graft.analytics.Tables.embeddings(sp, sf)
      .filter($"vec_id".isin(7L, 77L, 177L, 277L, 377L))
      .select(($"vec_id" + 50000L).as("vec_id"), rotU($"embedding").as("embedding"))
    graft.sim.AnnStore.encodeForStore(batch, cb, pqCb)
      .write.bucketBy(k, "cid").sortBy("cid").saveAsTable(delta)
    val queries = sp.table(delta)
      .select($"vec_id".as("query_id"), $"embedding").localCheckpoint(true)
    def probe(tbls: Seq[String]) = graft.sim.AnnStore
      .annSearchOn(sp, tbls, cb, pqCb, queries, topK = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val before = probe(Seq(base, delta))
    assert(before.count(_._2 == 1) == 5 &&
      before.filter(_._2 == 1).forall(t => t._1 == t._3),
      s"pre-compaction self-match failed: $before")
    val returned = graft.sim.AnnStore.compactDelta(sp, base, delta, k)
    assert(returned == base)
    assert(probe(Seq(base)) == before,
      "compaction changed probe results")
    // lifecycle: delta and both transient tables are gone
    for (t <- Seq(delta, base + "_compacting", base + "_pre_swap"))
      assert(!sp.catalog.tableExists(t), s"$t must not survive compaction")
    // layout: bucket spec (count + column) preserved across generations
    val bs = sp.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(base)).bucketSpec
    assert(bs.exists(b => b.numBuckets == k && b.bucketColumnNames == Seq("cid")),
      s"bucket spec lost in compaction: $bs")
    // row accounting: new generation = old base + delta
    assert(sp.table(base).count() == sp.table(tbl).count() + 5)
    sp.sql(s"DROP TABLE IF EXISTS $base")
  }

  test("ivf store geometry: corpus-scaled k/nprobe shrink the scan fraction with N") {
    // r6 verdict item 1: a fixed k=16 pinned the s07/s08/s09 probe at
    // ~37% of the corpus forever. With k ≈ √N and nprobe ≈ √k the
    // uniform-corpus scan-fraction bound nprobe/k ≈ N^(-1/4) strictly
    // DROPS as the corpus grows — the reason IVF exists.
    import graft.sim.AnnStore.{ivfK, ivfNprobe}
    assert(ivfK(500L) == 22 && ivfNprobe(22) == 6)       // sf0.001/sf0.01 store
    assert(ivfK(2000L) == 45 && ivfNprobe(45) == 7)      // sf0.1 store
    assert(ivfK(20000L) == 141 && ivfNprobe(141) == 12)  // 10x certification corpus
    assert(ivfK(1000000000L) == 31623)                   // 1B-vector corpus
    val fractions = Seq(500L, 2000L, 20000L, 2000000L, 1000000000L)
      .map { n => val k = ivfK(n); ivfNprobe(k).toDouble / k }
    assert(fractions.zip(fractions.tail).forall { case (a, b) => b < a },
      s"scan-fraction bound must strictly drop with N: $fractions")
  }

  test("s10 knn-graph pin at sf0.001: cluster-local edges are deterministic") {
    // every node gets its full out-degree 5 (clusters are all > 6
    // members); 494 planted near-identical pairs appear as MUTUAL TOP-1
    // edges — exactly the 494 pairs s06 co-clusters (the same quantizer
    // splits the same 6) — so the graph concentrates its strongest edges
    // on the known ground truth
    val row = graft.sim.GraphOps.s10_knn_graph(spark, "/root/testdata/sf0.001")
      .collect()(0)
    assert(row.toSeq == Seq(1000L, 16L, 5000L, 1653L, 494L, 6L),
      s"got ${row.toSeq}")
  }

  test("s10 knn edges: flooded cluster draws neighbors from the cap prefix, observed") {
    val sp = spark
    import sp.implicits._
    // 150 identical vectors in one cluster (cap 100) + a 3-member cluster
    val flood = (0L until 150L).map(i => (0, i, Seq(1.0f, 0.0f)))
    val small = Seq(1000L, 1001L, 1002L).map(i => (7, i, Seq(0.0f, 1.0f)))
    val acc = sp.sparkContext.longAccumulator("test_s10_overflow")
    val edges = graft.sim.GraphOps
      .clusterKnnEdges(sp.createDataFrame(flood ++ small)
        .toDF("cid", "vec_id", "embedding"), knn = 2, cap = 100, acc)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // past-cap members (101..149) still get edges, but only into the
    // first-101 prefix; overflow observed for each
    val past = edges.filter(e => e._1 > 100L && e._1 < 1000L)
    assert(past.nonEmpty && past.forall(_._2 <= 100L),
      s"past-cap member drew a neighbor outside the prefix: ${past.take(5).toSeq}")
    assert(acc.value == 49L, s"overflow=${acc.value}")
    // small cluster: ids ascending, ties to smaller id — 1000's top-2 is
    // (1001 rank 1, 1002 rank 2)
    assert(edges.filter(_._1 == 1000L).sortBy(_._3).map(_._2).toSeq ==
      Seq(1001L, 1002L))
    // identical scores tie-break by id: node 0's neighbors are 1, 2
    assert(edges.filter(_._1 == 0L).sortBy(_._3).map(_._2).toSeq == Seq(1L, 2L))
  }

  test("d09 sketch-estimate pin at sf0.001: estimator error is deterministic") {
    // seeded permutations + the md5 base hash make the per-pair MinHash
    // estimator audit a pure function of the corpus (and now fully
    // oracle-checked at the gate); the error magnitudes track the
    // theoretical std √(J(1−J)/64) ≈ 0.02 at the planted J≈0.97
    val rows = DedupOps.d09_minhash_estimate(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.length == 500, s"n_pairs=${rows.length}")
    assert(rows.forall { case (_, e, x, a) =>
      math.abs(e - x) == a && e >= 0.0 && e <= 1.0 && x > 0.5 },
      "per-pair invariants (err consistency, est range, planted J) broken")
    val meanErr = rows.map(_._4).sum / rows.length
    assert(meanErr < 0.05, s"estimator mean abs err drifted: $meanErr")
    // golden pin: the first pair's full row
    assert(rows.head ==
      ((0L, 0.96875, 0.9523809523809523, 0.016369047619047672)),
      s"got ${rows.head}")
  }

  test("t13 quality-model pin at sf0.001: fixed-point GD training is deterministic") {
    // oracle-checked since r10 (Elliott sigmoid + quantized gradients
    // replay as a recursive CTE); this pin stays as the fast spec-level
    // guard. The Elliott squash + 2^-32-quantized long gradient sums
    // make the trained weights a pure function of the corpus — and the
    // content-hash split makes the train/valid partition one too (397
    // train / 57 valid / 46 test of 500). Evaluation is HELD OUT (r5
    // verdict): GD sees only the train split, the confusion only the
    // valid split, so the pinned 51/57 = 89.5% accuracy measures
    // generalization to unseen docs and must beat the all-keep valid
    // baseline (38/57 = 66.7%). w3 is exactly 0 because the synthetic
    // corpus contains no punctuation — the feature is dead data here,
    // not a wiring bug (asserted so a corpus change that starts
    // exercising it shows up).
    val r = graft.text.QualityModel.t13_quality_model(spark, "/root/testdata/sf0.001")
      .collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((397L, 57L, 38L)),
      s"split=${r.toSeq}")
    assert((r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)) ==
      ((38L, 6L, 13L, 0L)), s"confusion=${r.toSeq}")
    val validAcc = (r.getLong(3) + r.getLong(5)).toDouble / r.getLong(1)
    assert(validAcc > 38.0 / 57.0, s"valid accuracy $validAcc below all-keep")
    assert(r.getDouble(7) == 0.5468455781510347, s"w0=${r.getDouble(7)}")
    assert(r.getDouble(8) == 2.5528424412589183, s"w1=${r.getDouble(8)}")
    assert(r.getDouble(11) == 8.789298584407911e-4, s"w4=${r.getDouble(11)}")
    assert(r.getDouble(10) == 0.0) // dead punct feature on this corpus
  }

  test("t14 BPE-encode pin at sf0.001: token counts under the learned merges") {
    // the tokenizer-application stage: the batched learner targets 128
    // merges and the 31-word synthetic vocabulary EXHAUSTS at 89 (every
    // word fused to a single symbol), so all 27,939 word instances
    // encode to exactly one BPE token — 125,717 chars / 27,939 tokens =
    // 4.499 chars/token, the realistic tokenizer ratio the 10-merge era
    // (1.25) couldn't reach. All-integer output, pure function of the
    // corpus.
    val r = graft.text.BpeOps.t14_bpe_encode(spark, "/root/testdata/sf0.001")
      .collect()(0)
    assert(r.toSeq == Seq(31L, 27939L, 125717L, 27939L, 1L, 4499L),
      s"got ${r.toSeq}")
  }

  test("gateKeep UDF equals t07's columnar verdict on every doc") {
    // st07 streams the gate as a map-side UDF because streaming allows
    // only one stateful aggregation; the UDF must be the SAME rule as
    // t07's two-level columnar plan — asserted per doc, plus the edge
    // shapes the column formulation pins (empty text, punct flood,
    // stopword-free, 3-gram repetition)
    val sp = spark
    import sp.implicits._
    val sf = "/root/testdata/sf0.001"
    val columnar = graft.text.TextOps.t07_quality_gate(sp, sf)
      .select($"doc_id", $"keep").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val docs = graft.analytics.Tables.documents(sp, sf)
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(docs.nonEmpty)
    docs.foreach { case (id, text) =>
      assert(graft.text.TextOps.gateKeep(text) == columnar(id),
        s"gateKeep diverges from t07 on doc $id")
    }
    assert(!graft.text.TextOps.gateKeep(""))                  // too short
    assert(!graft.text.TextOps.gateKeep("!@# " * 40))         // punct flood
    assert(!graft.text.TextOps.gateKeep("word " * 40))        // repetitive + no stopwords
    // non-repetitive: every 3-gram window is unique (varying suffixes)
    val good = (1 to 40).map(i => s"the alpha$i beta$i of gamma$i").mkString(" ")
    assert(graft.text.TextOps.gateKeep(good))
    // NON-BMP parity (advisory): Spark's length()/regexp count CODE
    // POINTS, so a surrogate-pair emoji is 1 punct char over 1 text
    // char; UTF-16 charAt/length counted it 2/2, flipping the punct
    // verdict exactly when 10·punct ≤ chars < 19·punct. Build a doc
    // inside that band (self-checked), assert the UDF keeps it AND that
    // the real columnar t07 run over a temp corpus agrees.
    val emoji = "😀" // 😀 U+1F600
    val bmpText = (1 to 30).map(i =>
      if (i % 5 == 0) "the" else if (i % 2 == 0) s"w${i}x$emoji" else s"w${i}xq").mkString(" ")
    val cp = bmpText.codePointCount(0, bmpText.length).toLong
    val punct = 12L // the emoji are the only non-[a-zA-Z0-9\s] code points
    assert(10 * punct <= cp && cp < 19 * punct,
      s"constructed doc left the divergence band: cp=$cp punct=$punct")
    assert(graft.text.TextOps.gateKeep(bmpText),
      "code-unit counting flipped the punct verdict on non-BMP text")
    val dir = java.nio.file.Files.createTempDirectory("graft-gate-bmp")
    try {
      Seq((0L, bmpText), (1L, good)).toDF("doc_id", "text")
        .write.parquet(s"$dir/documents.parquet")
      val col7 = graft.text.TextOps.t07_quality_gate(sp, dir.toString)
        .select($"doc_id", $"keep").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(col7 == Map(0L -> true, 1L -> true),
        s"columnar t07 diverges from gateKeep on non-BMP text: $col7")
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.delete)
      finally walk.close()
    }
  }

  test("t11 BPE pin at sf0.001: batched merge sequence is deterministic") {
    // no SQL oracle by design (the merge recurrence isn't SQL); the
    // total (count, l, r) order makes the learned merges a pure
    // function of the corpus. Pins the batching semantics too: 'or'
    // (count 2880 > 'in''s 2858) is DEFERRED to rank 9 — it shares 'r'
    // with the already-accepted 'er', so round 1 skips it and round 2
    // recounts it post-merge — and rank 10 'm'+'er' builds on round 1's
    // output. The 31-word vocabulary exhausts at 89 merges (target
    // 128): every word ends as a single symbol.
    val rows = graft.text.BpeOps.t11_bpe_vocab(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getInt(0), r.getString(3), r.getLong(4)))
    assert(rows.length == 89, s"got ${rows.length}")
    assert(rows.take(3).toSeq ==
      Seq((1, "er", 4650L), (2, "in", 2858L), (3, "ow", 2763L)), s"got ${rows.toSeq}")
    assert(rows(8) == ((9, "or", 2880L)), s"got ${rows(8)}")
    assert(rows(9) == ((10, "mer", 1824L)), s"got ${rows(9)}")
  }

  test("q27 golden pin at sf0.001: HLL sketch estimates are deterministic") {
    // approx_count_distinct estimates have no cross-engine oracle by
    // design; pin the exact estimate values so sketch-parameter or
    // implementation drift shows up (the driver-checked q27 row only
    // sees the bound verdict, never the raw estimate)
    val rows = graft.analytics.Relational2
      .q27_raw_estimates(spark, "/root/testdata/sf0.001").collect()
    val got = rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("A", 1074L, 1081L), ("N", 1115L, 1110L), ("R", 1083L, 1096L)),
      s"got $got")
    rows.foreach(r => assert(r.getDouble(3) < 0.02)) // inside the rsd dial
  }

  test("q27 driver row at sf0.001: bound arithmetic matches the oracle form") {
    // the registered q27 emits floor(exact*0.06) and the inside-bound
    // verdict; replay the bound from the pinned exact counts and assert
    // the verdicts read 1 (estimates above are 7, -5, -13 off exact —
    // all well inside floor(exact*0.06) = 64/66/65)
    val rows = graft.analytics.Relational2
      .q27_approx_distinct(spark, "/root/testdata/sf0.001").collect()
    val got = rows.map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val expect = Seq(("A", 1081L), ("N", 1110L), ("R", 1096L)).map {
      case (f, exact) =>
        (f, exact, math.floor(exact.toDouble * 0.06).toLong, 1L)
    }
    assert(got == expect, s"got $got")
  }

  test("d20: the quality keeper genuinely overrides min-id in both directions") {
    // the fixture plants extended (longer ⇒ keeper = variant) and
    // dropped (shorter ⇒ keeper = original = min id) variants; a
    // degenerate rule (min-id in disguise) would read n_keeper_not_min
    // == 0, an inverted one would read == n_clusters — both must fail
    val r = graft.dedup.Materialize
      .d20_quality_keeper(spark, "/root/testdata/sf0.001").collect()(0)
    val nClusters = r.getAs[Long]("n_clusters")
    val notMin = r.getAs[Long]("n_keeper_not_min")
    assert(nClusters > 0)
    assert(notMin > 0, "quality rule never overrode min-id — degenerated into d16")
    assert(notMin < nClusters, "quality rule ALWAYS overrode min-id — dropped branch dead")
    // every cluster holds >= 2 docs (singletons never enter CC labels)
    assert(r.getAs[Long]("n_docs_clustered") >= 2 * nClusters)
  }

  test("connected components: chain, triangle, isolated pair resolve to min-id labels") {
    val sp = spark
    import sp.implicits._
    // chain 1-2-3-4-5 (worst diameter), triangle 10-11-12 (+ redundant
    // edge), isolated pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)).toDF("id_a", "id_b")
    val labels = DedupOps.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(Seq(1L, 2L, 3L, 4L, 5L).forall(labels(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(labels(_) == 10L))
    assert(Seq(20L, 21L).forall(labels(_) == 20L))
    assert(labels.size == 10)
  }

  test("connected components: 100-hop chain converges within the round cap") {
    val sp = spark
    import sp.implicits._
    // a 101-node path needs ~100 rounds under plain min-label exchange —
    // the r3 code would hit maxRounds=20 and return wrong labels SILENTLY;
    // with the pointer-jumping hop propagation distance at least doubles
    // per round, so this must converge (and never throw the new
    // non-convergence guard) well inside the default cap
    val pairs = (0L until 100L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = DedupOps.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels.size == 101)
    assert(labels.values.forall(_ == 0L), "every chain node must label to min id 0")
  }

  test("connected components: convergence count rides the checkpoint " +
      "action — no separate count action per round") {
    // r22 optimization (guide §5, driver job floor): the per-round
    // convergence test is an observe metric collected by the eager
    // localCheckpoint's own action; a separate filter(chg).count() job
    // per round must stay gone. Pinned via the action-name profile (job
    // counts are AQE-stage-dependent and noisy; action names are not).
    val sp = spark
    import sp.implicits._
    val counts = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        counts.merge(funcName, 1, (a: Int, b: Int) => a + b)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    sp.listenerManager.register(l)
    try {
      val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("id_a", "id_b")
      DedupOps.connectedComponents(pairs)
      // listener dispatch is async — poll until the profile stabilizes
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var prev = -1
      def total: Int = { var t = 0; counts.values().forEach(v => t += v); t }
      var cur = total
      while (System.nanoTime() < deadline && (cur != prev || cur == 0)) {
        Thread.sleep(200)
        prev = cur
        cur = total
      }
    } finally sp.listenerManager.unregister(l)
    val checkpoints = counts.getOrDefault("checkpoint", 0) +
      counts.getOrDefault("localCheckpoint", 0)
    assert(counts.getOrDefault("count", 0) == 0,
      s"separate convergence-count action crept back: $counts")
    assert(checkpoints >= 3, s"unexpected action profile: $counts")
  }

  test("connected components: an unobserved convergence count fails the " +
      "round loudly instead of hanging") {
    // an Observation whose action never posts its metrics: the bounded
    // wait must throw naming the round, never hang or guess convergence
    val never = new org.apache.spark.sql.Observation()
    val e = intercept[IllegalStateException](DedupOps.observedChanged(never, 7,
      scala.concurrent.duration.Duration(200, "ms")))
    assert(e.getMessage.contains("round 7"), e.getMessage)
  }

  test("planted identical-doc flood completes with linear candidate volume") {
    val sp = spark
    import sp.implicits._
    // every doc in the same band buckets (identical signature): the
    // unguarded join would build ~N²/2 pairs; guarded must stay ~N per band
    val n = 5000L
    val buckets = (0L until n).flatMap(i => Seq((i, 0L, 11L), (i, 1L, 99L)))
      .toDF("doc_id", "band", "bits")
    val pairs = DedupOps.guardedBucketPairs(buckets, Seq("band", "bits"), cap = 100)
    assert(pairs.count() == n - 1) // both bands star-link to the same rep set
  }

  test("q35 sessionization: sessions are disjoint, gap-separated, and complete") {
    // oracle-checked at the gate; here the structural invariants: every
    // event lands in exactly one session, consecutive sessions of a user
    // are >= 30 min apart (else they'd have merged), and within-session
    // spans are start <= end
    val rows = graft.analytics.Sessions.q35_sessionize(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.length == 946, s"session count drifted: ${rows.length}")
    assert(rows.map(_._5).sum == 1000L, "every event must land in exactly one session")
    assert(rows.forall { case (_, _, st, en, _) => st <= en })
    rows.groupBy(_._1).foreach { case (u, ss) =>
      val ordered = ss.sortBy(_._2)
      assert(ordered.map(_._2).toSeq == (1L to ordered.length).toSeq,
        s"user $u session ids must be 1..n")
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._3 - a._4 >= 1800000000L,
            s"user $u sessions ${a._2}/${b._2} closer than the 30-min gap")
        case _ =>
      }
    }
  }

  test("d15 13-gram overlap: planted excerpts are caught that digests miss") {
    val r = graft.dedup.Contamination.d15_ngram_overlap(spark, "/root/testdata/sf0.001")
      .collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5)) == ((6L, 243L, 483L, 8L, 5L, 245L)),
      s"golden pin drifted: $r")
    // the point of the operator: every planted excerpt's source doc is
    // flagged, and a whole-doc digest compare on the same slice finds 0
    assert(r.getLong(4) >= 5L, "the 5 planted excerpt sources must flag")
  }

  test("t17 LM perplexity: Stupid-Backoff scoring over the held-out split") {
    val r = graft.text.LangModel.t17_lm_perplexity(spark, "/root/testdata/sf0.001")
      .collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5), r.getLong(6)) ==
      ((397L, 103L, 5224L, 73610646L, 3L, 0L, 0L)),
      s"golden pin drifted: $r")
  }
}
