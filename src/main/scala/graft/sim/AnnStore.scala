package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.Tables
import SimilarityOps.{lloydStep, coarseAssignU, probeUdf, s01_ann_bruteforce,
  annRecall, annRecallRollup}

/** The PERSISTED-INDEX ANN family, split out of SimilarityOps (r9
  * verdict item 4: per-family files, unchanged query names and
  * semantics): product quantization (s05), the bucketed inverted-list
  * store (s07), IVF-PQ probing over codes (s08), exact re-rank (s09),
  * and the caller-facing [[annSearch]] service primitive. The
  * teaching-shape operators (brute force, LSH, per-run IVF) and the
  * shared vector math stay in [[SimilarityOps]]; this file owns
  * everything whose contract involves a PERSISTED, bucket-pruned,
  * code-projected index.
  */
object AnnStore {

  /** s07/s08 ANN index-store registry: one (inverted-list table, coarse
    * codebook, PQ codebooks) per CORPUS GENERATION (content-addressed
    * table name — [[graft.analytics.StoreLifecycle]]), the similarity
    * twin of d10's signature store. Within a session this caches the
    * driver-side codebook arrays; across sessions the tables themselves
    * persist and are re-registered, not rebuilt. */
  private val annStoreRegistry = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Array[(Int, Seq[Float])], Array[Array[Array[Double]]])]()

  /** Build counter, exposed for the lifecycle spec: reuse must NOT
    * increment it. */
  private[graft] val annStoreBuilds = new java.util.concurrent.atomic.AtomicLong(0)

  /** Session-registry reset for the lifecycle spec (simulates a fresh
    * session's empty in-memory state over surviving warehouse files). */
  private[graft] def resetRegistryForTest(): Unit = annStoreRegistry.clear()

  /** Corpus-scaled IVF geometry for the persisted store (r6 verdict
    * item 1): k ≈ √N inverted lists keep each list ~√N long — the
    * classical IVF sizing — so with [[ivfNprobe]] ≈ √k probed lists the
    * scan fraction is ~nprobe/k ≈ N^(-1/4): it SHRINKS as the corpus
    * grows, which is the reason IVF exists (a fixed k=16 pinned the
    * fraction at ~37% forever). The 16-list floor keeps tiny corpora
    * away from degenerate 1-member lists. */
  private[graft] def ivfK(n: Long): Int =
    math.max(16L, math.round(math.sqrt(n.toDouble))).min(1 << 20).toInt

  /** nprobe for a k-list store: ≈ √k, floored at the historical 6 so
    * the floor-regime (k=16) probe matches the s04 teaching defaults.
    * Grows N^(1/4) — slower than k — so recall stays useful while the
    * scanned fraction still drops with corpus size. */
  private[graft] def ivfNprobe(k: Int): Int =
    math.max(6, math.ceil(math.sqrt(k.toDouble)).toInt)

  /** Build-once accessor: trains the CORPUS-SCALED coarse codebook
    * (k = [[ivfK]](N), same deterministic Lloyd as s04) AND the s05 PQ
    * codebooks (256-vector sample), then writes the assigned corpus as
    * an inverted-list table BUCKETED BY cid carrying
    * `(vec_id, embedding, cid, code)` — one bucket per cluster, so a
    * probe that names its clusters reads ONLY those buckets (bucket
    * pruning: `SelectedBucketsCount` < total, PlanSpec-pinned). Raw
    * vectors and 16-byte PQ codes live side by side: the s07 probe
    * column-prunes to the raw vectors, the s08 probe to the codes (its
    * scan never reads `embedding` — PlanSpec-pinned), and the s09
    * re-ranker reads both (codes for the scan, raw vectors for the
    * bounded finalist fetch). */
  private[graft] def ensureAnnStore(s: SparkSession, d: String)
      : (String, Array[(Int, Seq[Float])], Array[Array[Array[Double]]]) = {
    import graft.analytics.StoreLifecycle.{ensure, saveStoreTable, StoreTable}
    import s.implicits._
    // bucket count = the k the WRITER used = ivfK(N), recomputed from the
    // same (fingerprint-pinned) corpus — NOT cb.length, which undercounts
    // if a Lloyd round emptied a cluster; a wrong bucket count would
    // silently misdirect bucket pruning. Lazy: a warm path whose tables
    // are in the catalog runs no job for it.
    lazy val k = ivfK(Tables.embeddings(s, d).count())
    ensure(s, annStoreRegistry, d, Seq("embeddings"),
      Seq(new StoreTable("graft_s07_lists", k, Seq("cid")),
        new StoreTable("graft_s07_cb"), new StoreTable("graft_s07_pq"))) {
      case Seq(tbl, cbT, pqT) =>
        // a previous session built this generation: read back the
        // driver-side codebooks (k + 16·256 rows — bounded); NO corpus
        // pass, no new files
        val cb = s.table(cbT).collect()
          .map(r => (r.getInt(0), r.getSeq[Float](1))).sortBy(_._1)
        val pq = s.table(pqT).collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
          .groupBy(_._1).toArray.sortBy(_._1)
          .map(_._2.sortBy(_._2).map(_._3.toArray))
        (tbl, cb, pq)
    } { case Seq(tbl, cbT, pqT) =>
      annStoreBuilds.incrementAndGet()
      val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding")
        .repartition(s.sparkContext.defaultParallelism)
      var centroids: Array[(Int, Seq[Float])] = emb.filter($"vec_id" < k)
        .orderBy($"vec_id").collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1)))
      (1 to 2).foreach { _ => centroids = lloydStep(emb, centroids) }
      val assignU = coarseAssignU(centroids)
      // PQ training identical to s05: the 256 lowest-id NORMALIZED
      // vectors (sample-sized driver collect), 5 local Lloyd iterations
      val sample: Array[Seq[Float]] = emb.filter($"vec_id" < 256)
        .orderBy($"vec_id").collect()
        .map(r => l2normalize(r.getSeq[Float](1)))
      val pqCb = trainPqCodebooks(sample)
      val encodeU = udf { v: Seq[Float] => pqEncode(pqCb, l2normalize(v)) }
      saveStoreTable(
        emb.withColumn("cid", assignU($"embedding"))
          .withColumn("code", encodeU($"embedding")),
        tbl, k, Seq("cid"), Seq("cid"))
      // codebooks persist beside the lists so a later session reuses
      // the store WITHOUT retraining (two corpus passes at scale)
      saveStoreTable(centroids.toSeq.toDF("cid", "c"), cbT)
      saveStoreTable(
        pqCb.zipWithIndex.flatMap { case (cents, mi) =>
          cents.zipWithIndex.map { case (vals, c) => (mi, c, vals.toSeq) }
        }.toSeq.toDF("mi", "cc", "vals"), pqT)
      (tbl, centroids, pqCb)
    }
  }

  /** Assign + PQ-encode a batch of NEW vectors against an existing
    * codebook pair — the streaming-ingest half of the s07 store. Purely
    * map-side (both codebooks ride the closure as broadcast-sized
    * arrays), producing rows in the store's exact column layout
    * (vec_id, embedding, cid, code) so an append lands co-located in
    * the bucketed table with zero shuffle of the existing corpus. */
  private[graft] def encodeForStore(batch: DataFrame,
      cb: Array[(Int, Seq[Float])],
      pqCb: Array[Array[Array[Double]]]): DataFrame = {
    val assignU = coarseAssignU(cb)
    val encodeU = udf { v: Seq[Float] => pqEncode(pqCb, l2normalize(v)) }
    batch.withColumn("cid", assignU(col("embedding")))
      .withColumn("code", encodeU(col("embedding")))
      .select(col("vec_id"), col("embedding"), col("cid"), col("code"))
  }

  /** Run `body` with auto-bucketed-scan OFF (save/restore): the planner's
    * heuristic drops bucketed reading when no join exploits the
    * clustering — which also drops BUCKET PRUNING, the thing the s07
    * probe is built on (a broadcast probe join never "exploits"
    * partitioning, so the heuristic would re-read all k buckets). */
  private[graft] def withBucketedScan[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prior = s.conf.get(key)
    s.conf.set(key, "false")
    try body finally s.conf.set(key, prior)
  }

  /** The probe plan PlanSpec pins: inverted lists filtered to the named
    * clusters (bucket-pruned scan — only nprobe of k buckets are READ;
    * plan under [[withBucketedScan]]) joined to the broadcast query
    * set. No Exchange anywhere: the store side is a pruned co-located
    * scan, the query side is broadcast-sized by construction. */
  private[graft] def storeProbe(s: SparkSession, tbl: String,
      queries: DataFrame, probedCids: Seq[Int]): DataFrame =
    s.table(tbl).filter(col("cid").isin(probedCids: _*))
      .join(broadcast(queries), Seq("cid"))

  /** s07: STORE-BACKED IVF ANN — s04's semantics composed with a
    * persisted index, the d10 pattern applied to similarity search (the
    * production ANN shape: index built offline, queries probe online).
    * The codebook is trained and the corpus assigned ONCE
    * ([[ensureAnnStore]], corpus-scaled k = [[ivfK]](N)); each query run
    * computes its nprobe = [[ivfNprobe]](k) clusters against the k-row
    * codebook, collects the probed cluster ids (a ≤ nprobe·|queries|
    * driver list — iteration-control-sized, not data), and scans ONLY
    * those buckets of the store. Identical probe math to s04 at the same
    * (k, nprobe) ⇒ identical recall/scan-fraction output — the store is
    * layout, not semantics (spec asserts s07 == s04(ivfK, ivfNprobe)
    * row-for-row); steady-state cost drops the per-run training
    * entirely. Oracle-checked since r10 ([[s07Oracle]]) on top of the
    * equality pin. */
  def s07_ann_store(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (tbl, cb, _) = ensureAnnStore(s, d)
    val nprobe = ivfNprobe(cb.length)
    val probeU = probeUdf(cb, nprobe)
    val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding")
    val queries = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"),
        explode(probeU($"embedding")).as("cid"))
      .localCheckpoint(true) // tiny (queries×nprobe); probed twice below
    val probedCids = queries.select($"cid").distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val total = emb.count()
    // annRecall is eager (withCache checkpoints), so the bucketed-scan
    // override covers the probe's actual execution
    withBucketedScan(s) {
      annRecall(s, d, storeProbe(s, tbl, queries, probedCids), total)
    }
  }

  /** s08: IVF-PQ — the s07 inverted-list store probed over its PQ CODES
    * (the composition s05's scaladoc prescribes; r5 verdict item 2).
    * This is the actual 100 TB ANN memory story: bucket pruning cuts the
    * SCAN to nprobe/k of the corpus (s07's half) and asymmetric-distance
    * scoring over 16-byte codes cuts the BYTES TOUCHED per scanned row
    * 16× (s05's half) — the probe never reads the raw embedding column
    * at all (column pruning on the store scan, PlanSpec-pinned alongside
    * `SelectedBucketsCount` < total). Queries stay full-precision
    * (normalized, so ADC inner product approximates cosine); candidates
    * are scored from codes only and the top-k is reported as recall@5
    * against the exact s01 baseline plus the scanned fraction and
    * compression ratio. No re-rank pass: the reported recall is the
    * honest codes-only quality (a consumer wanting re-ranking reads the
    * store's co-resident raw vectors for the k finalists). Deterministic
    * end-to-end (same coarse Lloyd as s04/s07, same sample-trained PQ as
    * s05) → golden pin, and oracle-checked since r10 ([[s08Oracle]]
    * mirrors the PQ training's exact double op sequence — see the
    * PQ-oracle block below). */
  def s08_ann_ivfpq(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (tbl, cb, pqCb) = ensureAnnStore(s, d)
    val nprobe = ivfNprobe(cb.length)
    val probeU = probeUdf(cb, nprobe)
    val normU = udf { v: Seq[Float] => l2normalize(v) }
    val adcU = udf { (q: Seq[Float], code: Array[Byte]) => pqAdc(pqCb, q, code) }
    val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding")
    val queries = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), normU($"embedding").as("q_v"),
        explode(probeU($"embedding")).as("cid"))
      .localCheckpoint(true) // tiny (queries×nprobe); probed twice below
    val probedCids = queries.select($"cid").distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val total = emb.count()
    val topk = udaf(new TopKCosine(5))
    withBucketedScan(s) {
      val approx = s08ProbePlan(s, Seq(tbl), queries, probedCids)
        .filter($"vec_id" =!= $"query_id")
        .withColumn("score", adcU($"q_v", $"code"))
        .groupBy($"query_id")
        .agg(topk($"score", $"vec_id").as("nbrs"), count(lit(1)).as("n_scanned"))
      annRecallRollup(s, d, approx, total)
        .select($"recall_at_5", $"scan_fraction", $"n_queries",
          lit(PqM.toLong).as("code_bytes_per_vector"),
          lit(256L).as("raw_bytes_per_vector"))
    }
  }

  /** s09: IVF-PQ with EXACT RE-RANK — the full production ANN read path:
    * the s08 codes-only ADC scan nominates `rerank` = 50 finalists per
    * query (bucket-pruned, 16 bytes per scanned row), and ONLY those
    * finalists' raw vectors are fetched back from the store for an exact
    * cosine top-5. The raw 256-byte embedding column is read under a
    * pushed `vec_id IN (finalists)` point-lookup — ≤ rerank×|queries|
    * rows (500 here), never the probed buckets' full vector payload —
    * so the bytes story at 100 TB is: codes for the bulk scan, raw
    * vectors only for a bounded finalist set. Recall returns to the
    * exact-over-candidates level (the ADC approximation only has to put
    * a true neighbor anywhere in the top-50, not the top-5); the scan
    * fraction is unchanged from s08 (same inverted lists). The finalist
    * id list is a bounded driver collect (rerank×|queries|,
    * iteration-control-sized — the same discipline as s07's probed-cid
    * list). Deterministic end-to-end → golden pin, and oracle-checked
    * since r10 ([[s09Oracle]]: ADC nomination + exact re-rank both
    * replayed). */
  def s09_ann_ivfpq_rerank(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rerank = 50
    val (tbl, cb, pqCb) = ensureAnnStore(s, d)
    val nprobe = ivfNprobe(cb.length)
    val probeU = probeUdf(cb, nprobe)
    val normU = udf { v: Seq[Float] => l2normalize(v) }
    val adcU = udf { (q: Seq[Float], code: Array[Byte]) => pqAdc(pqCb, q, code) }
    val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding")
    val queries = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), normU($"embedding").as("q_v"),
        explode(probeU($"embedding")).as("cid"))
      .localCheckpoint(true)
    val probedCids = queries.select($"cid").distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val total = emb.count()
    val topkR = udaf(new TopKCosine(rerank))
    val topk5 = udaf(new TopKCosine(5))
    withBucketedScan(s) {
      // stage 1 — codes-only nomination (the exact s08 probe plan)
      val adcTop = s08ProbePlan(s, Seq(tbl), queries, probedCids)
        .filter($"vec_id" =!= $"query_id")
        .withColumn("score", adcU($"q_v", $"code"))
        .groupBy($"query_id")
        .agg(topkR($"score", $"vec_id").as("cands"), count(lit(1)).as("n_scanned"))
        .localCheckpoint(true) // finalist-sized; feeds id-collect + re-rank
      val finalistIds = adcTop.select(explode($"cands").as("vec_id"))
        .distinct().collect().map(_.getLong(0)) // bounded: ≤ rerank×|queries|
      // stage 2 — exact re-rank over the finalists' raw vectors only
      val raw = s.table(tbl).select($"vec_id", $"embedding")
        .filter($"vec_id".isin(finalistIds.toIndexedSeq.map(Long.box): _*))
      val qv = queries.select($"query_id", $"q_v").distinct()
      val exactTop = adcTop.select($"query_id", explode($"cands").as("vec_id"))
        .join(raw, "vec_id")
        .join(broadcast(qv), Seq("query_id"))
        .withColumn("cos", graft.functions.GraftFunctions.cosine_sim($"q_v", $"embedding"))
        .groupBy($"query_id").agg(topk5($"cos", $"vec_id").as("nbrs"))
      annRecallRollup(s, d,
        exactTop.join(adcTop.select($"query_id", $"n_scanned"), Seq("query_id")),
        total)
        .select($"recall_at_5", $"scan_fraction", $"n_queries",
          lit(rerank.toLong).as("rerank_depth"),
          lit(PqM.toLong).as("code_bytes_per_vector"))
    }
  }

  /** SERVICE-PRIMITIVE ANN search (r6 stretch): the s07/s08/s09 gate
    * queries draw their query set from the corpus (`vec_id < 10`) so the
    * recall oracle is self-contained; a real consumer brings its OWN
    * vectors. This overload runs the full production read path — coarse
    * probe of nprobe = [[ivfNprobe]](k) lists against the persisted
    * corpus-scaled store, ADC scoring over the 16-byte codes
    * (raw embedding column untouched in the scan), exact re-rank of
    * `rerank` finalists fetched under a pushed `vec_id IN` point-lookup
    * — for a caller-supplied `(query_id: Long,
    * embedding: Array[Float])` DataFrame, returning `(query_id, rank,
    * neighbor_id, cos)` top-`topK` rows per query. Unlike the gate
    * queries there is no self-exclusion: a query identical to a stored
    * vector returns that vector at rank 1 (spec-pinned). The query set
    * is broadcast-sized by contract (it is the SMALL side of a
    * store-probe join — the corpus side stays bucket-pruned and
    * code-projected exactly as in s08/s09). */
  def annSearch(s: SparkSession, d: String, queryVecs: DataFrame,
      topK: Int = 5, rerank: Int = 50): DataFrame = {
    val (tbl, cb, pqCb) = ensureAnnStore(s, d)
    annSearchOn(s, Seq(tbl), cb, pqCb, queryVecs, topK, rerank)
  }

  /** [[annSearch]] against CALLER-NAMED store tables (each in
    * [[ensureAnnStore]]'s layout), read as their UNION — the LSM read
    * shape: a big immutable BASE plus an O(ingested) DELTA of streamed
    * appends (st09). The cid filter pushes through the union into every
    * child scan, so the base keeps its bucket pruning and the delta adds
    * only batch-sized work; the base files are never rewritten. */
  private[graft] def annSearchOn(s: SparkSession, tbls: Seq[String],
      cb: Array[(Int, Seq[Float])], pqCb: Array[Array[Array[Double]]],
      queryVecs: DataFrame, topK: Int = 5, rerank: Int = 50): DataFrame = {
    import s.implicits._
    val nprobe = ivfNprobe(cb.length)
    val probeU = probeUdf(cb, nprobe)
    val normU = udf { v: Seq[Float] => l2normalize(v) }
    val adcU = udf { (q: Seq[Float], code: Array[Byte]) => pqAdc(pqCb, q, code) }
    val queries = queryVecs
      .select($"query_id", normU($"embedding").as("q_v"),
        $"embedding".as("q_emb"), explode(probeU($"embedding")).as("cid"))
      .localCheckpoint(true) // caller query set: broadcast-sized, probed twice
    val probedCids = queries.select($"cid").distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val topkR = udaf(new TopKCosine(rerank))
    val topkOut = udaf(new TopKCosineScored(topK))
    withBucketedScan(s) {
      val adcTop = s08ProbePlan(s, tbls,
          queries.select($"query_id", $"q_v", $"cid"), probedCids)
        .withColumn("score", adcU($"q_v", $"code"))
        .groupBy($"query_id")
        .agg(topkR($"score", $"vec_id").as("cands"))
        .localCheckpoint(true) // finalist-sized; feeds id-collect + re-rank
      val finalistIds = adcTop.select(explode($"cands").as("vec_id"))
        .distinct().collect().map(_.getLong(0)) // bounded: ≤ rerank×|queries|
      val raw = tbls.map(t => s.table(t).select($"vec_id", $"embedding"))
        .reduce(_.unionByName(_))
        .filter($"vec_id".isin(finalistIds.toIndexedSeq.map(Long.box): _*))
      val qv = queries.select($"query_id", $"q_emb").distinct()
      adcTop.select($"query_id", explode($"cands").as("vec_id"))
        .join(raw, "vec_id")
        .join(broadcast(qv), Seq("query_id"))
        .withColumn("cos", graft.functions.GraftFunctions.cosine_sim($"q_emb", $"embedding"))
        .groupBy($"query_id").agg(topkOut($"cos", $"vec_id").as("nbrs"))
        .select($"query_id", posexplode($"nbrs").as(Seq("pos", "nbr")))
        .select($"query_id", ($"pos" + 1).as("rank"),
          $"nbr._2".as("neighbor_id"), $"nbr._1".as("cos"))
        .orderBy($"query_id", $"rank")
    }
  }

  /** COMPACTION of the ANN delta ([[graft.analytics.StoreLifecycle.compact]])
    * — the fold is the `distinct` union of base and delta rows. Returns
    * the (unchanged) base table name. The base's bucket count is
    * preserved — probes' bucket pruning and PlanSpec pins hold across
    * generations; a long-lived store would re-train its codebook (and
    * re-bucket) only on a full rebuild, which is a different operation
    * by design. */
  private[graft] def compactDelta(s: SparkSession, baseTbl: String,
      deltaTbl: String, nBuckets: Int): String = {
    graft.analytics.StoreLifecycle.compact(s, baseTbl, deltaTbl,
      nBuckets, Seq("cid"))(_.unionByName(_).distinct())
    baseTbl
  }

  /** AUTOMATIC-compaction policy for the ANN delta: [[compactDelta]]
    * once the delta holds `maxDeltaRows` rows (see
    * [[graft.analytics.StoreLifecycle.compactPastMark]]). Returns true
    * iff a compaction ran. */
  private[graft] def maybeCompactDelta(s: SparkSession, baseTbl: String,
      deltaTbl: String, nBuckets: Int, maxDeltaRows: Long): Boolean =
    graft.analytics.StoreLifecycle.compactPastMark(s, deltaTbl, maxDeltaRows)(
      compactDelta(s, baseTbl, deltaTbl, nBuckets))

  /** The s08/s09 candidate probe: codes selected BEFORE the join so the
    * store scan's ReadSchema carries (vec_id, cid, code) and never the
    * raw embedding column. This is the SAME construction the operators
    * execute AND the one PlanSpec pins — one definition, so a plan
    * regression cannot hide behind a drifted copy. */
  private[graft] def s08ProbePlan(s: SparkSession, tbls: Seq[String],
      queries: DataFrame, probedCids: Seq[Int]): DataFrame = {
    import s.implicits._
    // multiple tables = base ∪ delta (st09); the cid predicate pushes
    // through the union so each child scan stays bucket-pruned
    tbls.map(t => s.table(t).select($"vec_id", $"cid", $"code"))
      .reduce(_.unionByName(_))
      .filter($"cid".isin(probedCids: _*))
      .join(broadcast(queries), Seq("cid"))
  }

  /** s05: product-quantization ANN (the PQ half of IVF-PQ) — the MEMORY
    * scale path: each 64-dim f32 vector (256 bytes) is compressed to
    * m = 16 one-byte codes (16×), and queries scan the CODES with
    * asymmetric distance computation — per (query, subspace) the dot
    * products against the 16 subspace centroids replace any touch of the
    * raw vectors. At 100 TB this is what lets the candidate scan live in
    * memory; compose with s04's inverted lists for IVF-PQ proper.
    *
    * Codebooks are trained on a deterministic SAMPLE (the 256 lowest-id
    * normalized vectors) with five local Lloyd iterations per subspace —
    * the sample-based training the s04 note prescribes at scale; only
    * the sample ever reaches the driver. Vectors are L2-normalized first
    * so inner product equals cosine and the recall is measured against
    * the exact s01 baseline. Deterministic end-to-end (seedless: sample +
    * fixed iterations + lowest-index argmin ties) → spec-pinned.
    * (This corpus is near-uniform — PQ's hardest case, same caveat as
    * s04; real embedding corpora cluster and quantize far better.) */
  // PQ geometry shared by s05 (standalone PQ) and s08 (IVF-PQ): 16
  // subspaces × 4 dims, 16 centroids per subspace ⇒ 16 code bytes per
  // 256-byte vector (16× compression)
  private[graft] val PqM = 16
  private[graft] val PqSub = 4
  private[graft] val PqKs = 16

  private[graft] def l2normalize(v: Seq[Float]): Seq[Float] = {
    val n = math.sqrt(v.iterator.map(x => x.toDouble * x).sum)
    if (n == 0) v else v.map(x => (x / n).toFloat)
  }

  /** Per-subspace PQ codebooks from a (driver-side, sample-sized) set of
    * normalized vectors: 5 local Lloyd iterations, lowest-index argmin
    * ties — deterministic, seedless (extracted verbatim from s05 so the
    * s05 pin is untouched). */
  private[graft] def trainPqCodebooks(
      sample: Array[Seq[Float]]): Array[Array[Array[Double]]] = {
    val m = PqM; val sub = PqSub; val ks = PqKs
    Array.tabulate(m) { mi =>
      var cents = Array.tabulate(ks)(c =>
        sample(c).slice(mi * sub, mi * sub + sub).map(_.toDouble).toArray)
      for (_ <- 1 to 5) {
        val sums = Array.fill(ks, sub)(0.0)
        val counts = Array.fill(ks)(0)
        sample.foreach { v =>
          val x = v.slice(mi * sub, mi * sub + sub).map(_.toDouble).toArray
          var best = 0
          var bestD = Double.MaxValue
          var c = 0
          while (c < ks) {
            var dd = 0.0
            var i = 0
            while (i < sub) { val df = x(i) - cents(c)(i); dd += df * df; i += 1 }
            if (dd < bestD) { bestD = dd; best = c }
            c += 1
          }
          var i = 0
          while (i < sub) { sums(best)(i) += x(i); i += 1 }
          counts(best) += 1
        }
        cents = Array.tabulate(ks)(c =>
          if (counts(c) == 0) cents(c) else sums(c).map(_ / counts(c)))
      }
      cents
    }
  }

  /** Nearest-centroid code per subspace for a NORMALIZED vector. */
  private[graft] def pqEncode(cb: Array[Array[Array[Double]]],
      v: Seq[Float]): Array[Byte] = {
    val m = PqM; val sub = PqSub; val ks = PqKs
    val out = new Array[Byte](m)
    var mi = 0
    while (mi < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < ks) {
        var dd = 0.0
        var i = 0
        while (i < sub) {
          val df = v(mi * sub + i).toDouble - cb(mi)(c)(i)
          dd += df * df
          i += 1
        }
        if (dd < bestD) { bestD = dd; best = c }
        c += 1
      }
      out(mi) = best.toByte
      mi += 1
    }
    out
  }

  /** Asymmetric distance: full-precision query dotted against the code's
    * reconstruction — per row only m centroid lookups, never the raw
    * corpus vector. */
  private[graft] def pqAdc(cb: Array[Array[Array[Double]]],
      q: Seq[Float], code: Array[Byte]): Double = {
    val m = PqM; val sub = PqSub
    var sc = 0.0
    var mi = 0
    while (mi < m) {
      val cent = cb(mi)(code(mi) & 0xff)
      var i = 0
      while (i < sub) { sc += q(mi * sub + i).toDouble * cent(i); i += 1 }
      mi += 1
    }
    sc
  }

  def s05_ann_pq(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val m = PqM
    val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding")
      .repartition(s.sparkContext.defaultParallelism)
    val normU = udf { v: Seq[Float] => l2normalize(v) }
    val nv = emb.select($"vec_id", normU($"embedding").as("v"))
    val sample: Array[Seq[Float]] = nv.filter($"vec_id" < 256).orderBy($"vec_id")
      .collect().map(_.getSeq[Float](1))
    val cb = trainPqCodebooks(sample)
    val encodeU = udf { v: Seq[Float] => pqEncode(cb, v) }
    // asymmetric distance: the query side stays full-precision, the
    // corpus side is 8 code bytes — the only per-row work is m table rows
    val adcU = udf { (q: Seq[Float], code: Array[Byte]) => pqAdc(cb, q, code) }
    val topk = udaf(new TopKCosine(5))
    graft.dedup.DedupOps.withCache(nv) { nvc =>
      val codes = nvc.select($"vec_id", encodeU($"v").as("code"))
      val queries = nvc.filter($"vec_id" < 10)
        .select($"vec_id".as("query_id"), $"v".as("q_v"))
      val approx = codes.crossJoin(broadcast(queries))
        .filter($"vec_id" =!= $"query_id")
        .withColumn("score", adcU($"q_v", $"code"))
        .groupBy($"query_id").agg(topk($"score", $"vec_id").as("nbrs"))
      graft.dedup.DedupOps.withCache(s01_ann_bruteforce(s, d)
          .select($"query_id", $"neighbor_id".as("vec_id"))) { exact =>
        val hits = approx.select($"query_id", explode($"nbrs").as("vec_id"))
          .join(exact, Seq("query_id", "vec_id"), "inner")
          .groupBy($"query_id").agg(count(lit(1)).as("n_hit"))
        exact.groupBy($"query_id").agg(count(lit(1)).as("n_true"))
          .join(hits, Seq("query_id"), "left")
          .agg((sum(coalesce($"n_hit", lit(0L))).cast("double") /
            sum($"n_true").cast("double")).as("recall_at_5"),
            count(lit(1)).as("n_queries"))
          .select($"recall_at_5", $"n_queries",
            lit(m.toLong).as("code_bytes_per_vector"),
            lit(256L).as("raw_bytes_per_vector"))
      }
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s05_ann_pq" -> (s05_ann_pq _),
    "s07_ann_store" -> (s07_ann_store _),
    "s08_ann_ivfpq" -> (s08_ann_ivfpq _),
    "s09_ann_ivfpq_rerank" -> (s09_ann_ivfpq_rerank _),
    "s12_ann_search_heldout" -> (s12_ann_search_heldout _),
  )

  // ---- PQ-family SQL oracles (oracle-checked since r10) ----
  //
  // The PQ codebooks train driver-local over DOUBLES — but every one of
  // those doubles is the result of a deterministic op sequence, and SQL
  // can mirror the sequence exactly: sums become `list_reduce` folds
  // over `list(... ORDER BY ...)` aggregates (fold order = the Scala
  // loop order; the leading 0.0+ is an IEEE no-op on non-negative
  // first terms), argmins become ROW_NUMBER ranks over bit-identical
  // distances (strict-< first-min = ORDER BY dd, c), per-centroid mean
  // sums fold over the FILTERed ordered member list (skipping
  // non-members exactly as the Scala accumulation does), and the final
  // ADC score folds the 64 products in (subspace, dim) order. With
  // every input float identical (the l2-normalization itself replays:
  // ordered square-sum fold → IEEE sqrt → per-component divide+round),
  // the trained codebooks, codes, and scores are bit-identical — so
  // s05/s08/s09 hash-match, ending their spec-pin-only era. CTEs are
  // MATERIALIZED for the same re-expansion reason as the BPE oracles.

  /** The shared PQ chain: l2-normalized vectors (`nv`), the 256-sample
    * per-subspace training set (`smp`), 5 unrolled Lloyd rounds
    * (`pc_1`..`pc_5`), and the corpus codes (`codes`). Expects the
    * `embeddings` table. */
  private def pqChainSql: String = {
    val fold = "(a, b) -> a + b"
    def lloydIter(t: Int): String = {
      val prev = s"pc_${t - 1}"
      s"""a_$t AS MATERIALIZED (
         |  SELECT mi, sid, c AS best FROM (
         |    SELECT s.mi, s.sid, p.c,
         |      ROW_NUMBER() OVER (PARTITION BY s.mi, s.sid ORDER BY
         |        list_reduce(list_transform(range(1, 5),
         |          i -> (s.x[i] - p.vals[i]) * (s.x[i] - p.vals[i])), $fold),
         |        p.c) AS rk
         |    FROM smp s JOIN $prev p ON p.mi = s.mi)
         |  WHERE rk = 1),
         |ps_$t AS MATERIALIZED (
         |  SELECT a.mi, a.best AS c, d.i, list(s.x[d.i] ORDER BY s.sid) AS xs
         |  FROM a_$t a JOIN smp s ON s.mi = a.mi AND s.sid = a.sid
         |  CROSS JOIN dims d
         |  GROUP BY a.mi, a.best, d.i),
         |pc_$t AS MATERIALIZED (
         |  SELECT p.mi, p.c,
         |    list(CASE WHEN s.xs IS NULL THEN p.vals[d.i]
         |         ELSE list_reduce(s.xs, $fold) / len(s.xs) END ORDER BY d.i) AS vals
         |  FROM $prev p CROSS JOIN dims d
         |  LEFT JOIN ps_$t s ON s.mi = p.mi AND s.c = p.c AND s.i = d.i
         |  GROUP BY p.mi, p.c)""".stripMargin
    }
    s"""${l2NormalizeSql("embeddings", "nvn", "nv")},
       |dims AS (SELECT unnest(range(1, 5)) AS i),
       |subs AS (SELECT unnest(range(0, 16)) AS mi),
       |smp AS MATERIALIZED (
       |  SELECT n.vec_id AS sid, s.mi,
       |    list_transform(range(1, 5), i -> CAST(v[s.mi * 4 + i] AS DOUBLE)) AS x
       |  FROM nv n CROSS JOIN subs s WHERE n.vec_id < 256),
       |pc_0 AS MATERIALIZED (
       |  SELECT mi, CAST(rn - 1 AS BIGINT) AS c, x AS vals FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY mi ORDER BY sid) AS rn
       |    FROM smp)
       |  WHERE rn <= 16),
       |${(1 to 5).map(lloydIter).mkString(",\n")},
       |${pqEncodeSql("nv", "vx", "codes")}""".stripMargin
  }

  /** l2-normalization CTE pair for a `(vec_id, embedding)` source —
    * ordered square-sum fold, IEEE sqrt, per-component divide+round
    * ([[l2normalize]] op-for-op). One definition (r10 review): the PQ
    * chain normalizes the corpus, st09's replay normalizes the rotated
    * ingest batch; a drift between two hand-kept copies would silently
    * break the op-for-op parity claim. */
  private def l2NormalizeSql(src: String, ssCte: String, out: String): String =
    s"""$ssCte AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |    list_reduce(list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b) AS ss
       |  FROM $src),
       |$out AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |    CASE WHEN sqrt(ss) = 0 THEN embedding
       |      ELSE list_transform(embedding,
       |        x -> CAST(CAST(x AS DOUBLE) / sqrt(ss) AS FLOAT)) END AS v
       |  FROM $ssCte)""".stripMargin

  /** Subspace slicing + nearest-centroid codes vs `pc_5` for a
    * normalized source CTE (column `v`) — [[pqEncode]] op-for-op; shared
    * by the corpus chain and st09's ingest replay (r10 review). */
  private def pqEncodeSql(nvSrc: String, vxName: String, out: String): String =
    s"""$vxName AS MATERIALIZED (
       |  SELECT n.vec_id, s.mi,
       |    list_transform(range(1, 5), i -> CAST(v[s.mi * 4 + i] AS DOUBLE)) AS x
       |  FROM $nvSrc n CROSS JOIN subs s),
       |$out AS MATERIALIZED (
       |  SELECT vec_id, mi, c AS code FROM (
       |    SELECT v.vec_id, v.mi, p.c,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.mi ORDER BY
       |        list_reduce(list_transform(range(1, 5),
       |          i -> (v.x[i] - p.vals[i]) * (v.x[i] - p.vals[i])), (a, b) -> a + b),
       |        p.c) AS rk
       |    FROM $vxName v JOIN pc_5 p ON p.mi = v.mi)
       |  WHERE rk = 1)""".stripMargin

  /** The s01-identical exact baseline + per-query truth counts. */
  private val exactSqlCtes: String =
    s"""exact AS MATERIALIZED (
      |  SELECT query_id, vec_id FROM (
      |    SELECT qq.vec_id AS query_id, e.vec_id AS vec_id,
      |      ROW_NUMBER() OVER (PARTITION BY qq.vec_id ORDER BY
      |        ${SimilarityOps.qCosFoldSql("qq.embedding", "e.embedding")} DESC,
      |        e.vec_id) AS rk
      |    FROM embeddings qq CROSS JOIN embeddings e
      |    WHERE qq.vec_id < 10 AND e.vec_id <> qq.vec_id)
      |  WHERE rk <= 5),
      |truth AS (SELECT query_id, COUNT(*) AS n_true FROM exact GROUP BY query_id)""".stripMargin

  val s05Oracle: String =
    s"""WITH $pqChainSql,
       |q AS (SELECT vec_id AS query_id, v AS q_v FROM nv WHERE vec_id < 10),
       |adcterms AS (
       |  SELECT q.query_id, c.vec_id,
       |    list(CAST(q.q_v[c.mi * 4 + d.i] AS DOUBLE) * p.vals[d.i]
       |      ORDER BY c.mi, d.i) AS terms
       |  FROM q CROSS JOIN codes c
       |  JOIN pc_5 p ON p.mi = c.mi AND p.c = c.code
       |  CROSS JOIN dims d
       |  WHERE c.vec_id <> q.query_id
       |  GROUP BY q.query_id, c.vec_id),
       |scored AS (SELECT query_id, vec_id,
       |  list_reduce(terms, (a, b) -> a + b) AS score FROM adcterms),
       |approx AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY CAST(trunc((score) * 4294967296) AS BIGINT) DESC, vec_id) AS rk
       |    FROM scored) WHERE rk <= 5),
       |$exactSqlCtes,
       |hits AS (
       |  SELECT a.query_id, COUNT(*) AS n_hit
       |  FROM approx a JOIN exact e
       |    ON a.query_id = e.query_id AND a.vec_id = e.vec_id
       |  GROUP BY a.query_id)
       |SELECT
       |  CAST(SUM(COALESCE(h.n_hit, 0)) AS DOUBLE) /
       |    CAST(SUM(t.n_true) AS DOUBLE) AS recall_at_5,
       |  COUNT(*) AS n_queries,
       |  CAST(16 AS BIGINT) AS code_bytes_per_vector,
       |  CAST(256 AS BIGINT) AS raw_bytes_per_vector
       |FROM truth t LEFT JOIN hits h ON t.query_id = h.query_id""".stripMargin

  private def ivfNprobeSql: String =
    s"SELECT GREATEST(6, CAST(ceil(sqrt(CAST(($ivfKSql) AS DOUBLE))) AS BIGINT))"

  /** The persisted store rebuilt in SQL: corpus + corpus-scaled IVF
    * chain (prefixed so it can sit beside the PQ chain) + the PQ
    * chain — i.e. everything [[ensureAnnStore]] materializes. Shared by
    * the s08/s09 probes and st09's ingest replay. */
  private def ivfPqBaseSql: String =
    s"""emb AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
       |${SimilarityOps.lloydSqlChain(ivfKSql, "emb",
           prefix = "i", materialized = true)},
       |$pqChainSql""".stripMargin

  /** The shared s08/s09 front: the store base, the nprobe probe,
    * candidates, per-candidate ADC scores, and the exact baseline. */
  private def ivfPqProbeSql: String = {
    val np = ivfNprobeSql
    s"""$ivfPqBaseSql,
       |probe_r AS (
       |  SELECT e.vec_id AS query_id, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${SimilarityOps.qCosFoldSql("e.embedding", "c.c")} DESC, c.cid) AS rk
       |  FROM emb e CROSS JOIN ic2 c WHERE e.vec_id < 10),
       |probe AS (SELECT query_id, cid FROM probe_r WHERE rk <= ($np)),
       |cand AS MATERIALIZED (
       |  SELECT p.query_id, a.vec_id
       |  FROM probe p JOIN ia3 a ON a.cid = p.cid
       |  WHERE a.vec_id <> p.query_id),
       |scans AS (SELECT query_id, COUNT(*) AS n_scanned FROM cand GROUP BY query_id),
       |adcterms AS (
       |  SELECT cn.query_id, cn.vec_id,
       |    list(CAST(q.v[c.mi * 4 + d.i] AS DOUBLE) * p.vals[d.i]
       |      ORDER BY c.mi, d.i) AS terms
       |  FROM cand cn
       |  JOIN nv q ON q.vec_id = cn.query_id
       |  JOIN codes c ON c.vec_id = cn.vec_id
       |  JOIN pc_5 p ON p.mi = c.mi AND p.c = c.code
       |  CROSS JOIN dims d
       |  GROUP BY cn.query_id, cn.vec_id),
       |scored AS MATERIALIZED (SELECT query_id, vec_id,
       |  list_reduce(terms, (a, b) -> a + b) AS score FROM adcterms),
       |$exactSqlCtes""".stripMargin
  }

  private def ivfPqTailSql(extra: String): String =
    s"""SELECT
       |  CAST(SUM(COALESCE(h.n_hit, 0)) AS DOUBLE) /
       |    CAST(SUM(t.n_true) AS DOUBLE) AS recall_at_5,
       |  CAST(SUM(COALESCE(s.n_scanned, 0)) AS DOUBLE) /
       |    CAST(COUNT(*) * (SELECT COUNT(*) FROM emb) AS DOUBLE) AS scan_fraction,
       |  COUNT(*) AS n_queries,
       |  $extra
       |FROM truth t
       |LEFT JOIN hits h ON t.query_id = h.query_id
       |LEFT JOIN scans s ON t.query_id = s.query_id""".stripMargin

  // lazy: ivfPqProbeSql reads ivfKSql, declared further down the object
  lazy val s08Oracle: String =
    s"""WITH $ivfPqProbeSql,
       |approx AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY CAST(trunc((score) * 4294967296) AS BIGINT) DESC, vec_id) AS rk
       |    FROM scored) WHERE rk <= 5),
       |hits AS (
       |  SELECT a.query_id, COUNT(*) AS n_hit
       |  FROM approx a JOIN exact e
       |    ON a.query_id = e.query_id AND a.vec_id = e.vec_id
       |  GROUP BY a.query_id)
       |${ivfPqTailSql("""CAST(16 AS BIGINT) AS code_bytes_per_vector,
       |  CAST(256 AS BIGINT) AS raw_bytes_per_vector""".stripMargin)}""".stripMargin

  lazy val s09Oracle: String =
    s"""WITH $ivfPqProbeSql,
       |cands50 AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY CAST(trunc((score) * 4294967296) AS BIGINT) DESC, vec_id) AS rk
       |    FROM scored) WHERE rk <= 50),
       |rr AS (
       |  SELECT c.query_id, c.vec_id FROM (
       |    SELECT c.query_id, c.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY c.query_id ORDER BY
       |        ${SimilarityOps.qCosFoldSql("q.v", "e.embedding")} DESC, c.vec_id) AS rk
       |    FROM cands50 c
       |    JOIN nv q ON q.vec_id = c.query_id
       |    JOIN emb e ON e.vec_id = c.vec_id) c
       |  WHERE rk <= 5),
       |hits AS (
       |  SELECT a.query_id, COUNT(*) AS n_hit
       |  FROM rr a JOIN exact e
       |    ON a.query_id = e.query_id AND a.vec_id = e.vec_id
       |  GROUP BY a.query_id)
       |${ivfPqTailSql("""CAST(50 AS BIGINT) AS rerank_depth,
       |  CAST(16 AS BIGINT) AS code_bytes_per_vector""".stripMargin)}""".stripMargin

  /** st09's streaming ingest replayed in SQL (oracle-checked since r10
    * — the micro-batch execution is a delivery mechanism; the RESULT is
    * a pure function of the embeddings table): the ingest batch is the
    * %31 vectors rotated by 7 with ids offset past max(vec_id); the
    * delta rows are coarse-assigned + PQ-encoded exactly like
    * [[encodeForStore]] (assignment on the raw rotated vector, codes on
    * its l2-normalization — the square-sum folds run in ROTATED
    * component order, as the executor's UDF does); the self-probe runs
    * [[annSearchOn]]'s read path over base ∪ delta — raw-vector coarse
    * probe, ADC over codes, top-50 nomination, exact re-rank on the RAW
    * query embedding (annSearchOn re-ranks with `q_emb`, not the
    * normalized `q_v` the gate s09 uses), rank-1 self-match count. */
  /** The base ∪ ingested-delta store rebuilt in SQL — shared by st09's
    * self-retrieval oracle and s12's held-out-query oracle (one
    * definition of the ingested union, r10 discipline): the %31 rotated
    * batch `ing`, its assignment + codes exactly per [[encodeForStore]],
    * and the union views `sall` (vectors+cids) / `callcodes` (codes). */
  private def ingestedUnionSqlCtes: String =
    s"""ing AS MATERIALIZED (
       |  SELECT vec_id + (SELECT MAX(vec_id) + 1 FROM embeddings) AS vec_id,
       |    embedding[8:64] || embedding[1:7] AS embedding
       |  FROM embeddings WHERE vec_id % 31 = 0),
       |${l2NormalizeSql("ing", "ingn", "ingv")},
       |dass AS MATERIALIZED (
       |  SELECT vec_id, cid FROM (
       |    SELECT i.vec_id, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY i.vec_id
       |        ORDER BY ${SimilarityOps.qCosFoldSql("i.embedding", "c.c")} DESC, c.cid) AS rk
       |    FROM ing i CROSS JOIN ic2 c)
       |  WHERE rk = 1),
       |${pqEncodeSql("ingv", "dvx", "dcodes")},
       |sall AS MATERIALIZED (
       |  SELECT e.vec_id, e.embedding, a.cid FROM emb e JOIN ia3 a USING (vec_id)
       |  UNION ALL
       |  SELECT i.vec_id, i.embedding, a.cid FROM ing i JOIN dass a USING (vec_id)),
       |callcodes AS MATERIALIZED (
       |  SELECT vec_id, mi, code FROM codes
       |  UNION ALL
       |  SELECT vec_id, mi, code FROM dcodes)""".stripMargin

  lazy val st09Oracle: String =
    s"""WITH $ivfPqBaseSql,
       |$ingestedUnionSqlCtes,
       |qprobe AS (
       |  SELECT query_id, cid FROM (
       |    SELECT i.vec_id AS query_id, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY i.vec_id
       |        ORDER BY ${SimilarityOps.qCosFoldSql("i.embedding", "c.c")} DESC, c.cid) AS rk
       |    FROM ing i CROSS JOIN ic2 c)
       |  WHERE rk <= ($ivfNprobeSql)),
       |qcand AS MATERIALIZED (
       |  SELECT p.query_id, s.vec_id
       |  FROM qprobe p JOIN sall s ON s.cid = p.cid),
       |qadc AS MATERIALIZED (
       |  SELECT query_id, vec_id, list_reduce(terms, (a, b) -> a + b) AS score FROM (
       |    SELECT cn.query_id, cn.vec_id,
       |      list(CAST(q.v[c.mi * 4 + d.i] AS DOUBLE) * p.vals[d.i]
       |        ORDER BY c.mi, d.i) AS terms
       |    FROM qcand cn
       |    JOIN ingv q ON q.vec_id = cn.query_id
       |    JOIN callcodes c ON c.vec_id = cn.vec_id
       |    JOIN pc_5 p ON p.mi = c.mi AND p.c = c.code
       |    CROSS JOIN dims d
       |    GROUP BY cn.query_id, cn.vec_id)),
       |qc50 AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY CAST(trunc((score) * 4294967296) AS BIGINT) DESC, vec_id) AS rk
       |    FROM qadc) WHERE rk <= 50),
       |rr1 AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT c.query_id, c.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY c.query_id ORDER BY
       |        ${SimilarityOps.qCosFoldSql("q.embedding", "s.embedding")} DESC, c.vec_id) AS rk
       |    FROM qc50 c
       |    JOIN ing q ON q.vec_id = c.query_id
       |    JOIN sall s ON s.vec_id = c.vec_id)
       |  WHERE rk = 1)
       |SELECT
       |  (SELECT COUNT(*) FROM embeddings) AS n_store_before,
       |  (SELECT COUNT(*) FROM ing) AS n_ingested,
       |  (SELECT COUNT(*) FROM embeddings) + (SELECT COUNT(*) FROM ing)
       |    AS n_store_after,
       |  (SELECT COUNT(*) FROM rr1 WHERE vec_id = query_id) AS n_self_matched""".stripMargin

  /** s12: the PUBLIC [[annSearch]] read path driver-checked with
    * HELD-OUT query vectors (r10 verdict item 6 — the API was pinned
    * only through rank-1 SELF-retrieval, which a store that can only
    * find its own members would also pass): queries are rotate-13
    * copies of the 10 lowest-id corpus vectors — same norms, directions
    * not present in the store — probed through base ∪ a freshly
    * ingested delta (the %31 rotate-7 batch, st09's derivation) so the
    * checked path is the full production LSM read: coarse probe → ADC
    * over base+delta codes → exact re-rank over raw vectors. Output is
    * the ranked neighbor ids (the retrieval itself); the cosine column
    * is engine-float and stays out of the hash. Deterministic
    * end-to-end, replayed in SQL by [[s12Oracle]]. */
  def s12_ann_search_heldout(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (tbl, cb, pqCb) = ensureAnnStore(s, d)
    val k = cb.length
    val delta = tbl + "_s12_delta"
    s.sql(s"DROP TABLE IF EXISTS $delta")
    try {
      val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding")
      val offset = emb.agg(max($"vec_id")).as[Long].head() + 1L
      val rot7 = udf { v: Seq[Float] => v.drop(7) ++ v.take(7) }
      encodeForStore(emb.filter($"vec_id" % 31 === 0)
          .select(($"vec_id" + offset).as("vec_id"),
            rot7($"embedding").as("embedding")), cb, pqCb)
        .write.bucketBy(k, "cid").sortBy("cid").saveAsTable(delta)
      val rot13 = udf { v: Seq[Float] => v.drop(13) ++ v.take(13) }
      val queries = emb.filter($"vec_id" < 10)
        .select($"vec_id".as("query_id"), rot13($"embedding").as("embedding"))
      annSearchOn(s, Seq(tbl, delta), cb, pqCb, queries, topK = 5, rerank = 50)
        .select($"query_id", $"rank", $"neighbor_id")
        .orderBy($"query_id", $"rank")
        .localCheckpoint(true) // materialize before the delta drops
    } finally s.sql(s"DROP TABLE IF EXISTS $delta")
  }

  /** [[s12_ann_search_heldout]] replayed in SQL: the base+delta union
    * ([[ingestedUnionSqlCtes]] — st09's exact ingest), rotate-13
    * held-out queries, and [[annSearchOn]]'s probe ladder (raw-vector
    * coarse probe, normalized-query ADC over codes, top-50 nomination,
    * exact re-rank on the raw query), every rank on the shared
    * quantized key. */
  lazy val s12Oracle: String =
    s"""WITH $ivfPqBaseSql,
       |$ingestedUnionSqlCtes,
       |hq AS MATERIALIZED (
       |  SELECT vec_id, embedding[14:64] || embedding[1:13] AS embedding
       |  FROM embeddings WHERE vec_id < 10),
       |${l2NormalizeSql("hq", "hqss", "hqnv")},
       |hprobe AS (
       |  SELECT query_id, cid FROM (
       |    SELECT h.vec_id AS query_id, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY h.vec_id
       |        ORDER BY ${SimilarityOps.qCosFoldSql("h.embedding", "c.c")} DESC, c.cid) AS rk
       |    FROM hq h CROSS JOIN ic2 c)
       |  WHERE rk <= ($ivfNprobeSql)),
       |hcand AS MATERIALIZED (
       |  SELECT p.query_id, s.vec_id
       |  FROM hprobe p JOIN sall s ON s.cid = p.cid),
       |hadc AS MATERIALIZED (
       |  SELECT query_id, vec_id, list_reduce(terms, (a, b) -> a + b) AS score FROM (
       |    SELECT cn.query_id, cn.vec_id,
       |      list(CAST(q.v[c.mi * 4 + d.i] AS DOUBLE) * p.vals[d.i]
       |        ORDER BY c.mi, d.i) AS terms
       |    FROM hcand cn
       |    JOIN hqnv q ON q.vec_id = cn.query_id
       |    JOIN callcodes c ON c.vec_id = cn.vec_id
       |    JOIN pc_5 p ON p.mi = c.mi AND p.c = c.code
       |    CROSS JOIN dims d
       |    GROUP BY cn.query_id, cn.vec_id)),
       |hc50 AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY ${SimilarityOps.qCosKeySql("score")} DESC, vec_id) AS rk
       |    FROM hadc) WHERE rk <= 50),
       |hrr AS (
       |  SELECT query_id, vec_id, rk FROM (
       |    SELECT c.query_id, c.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY c.query_id ORDER BY
       |        ${SimilarityOps.qCosFoldSql("h.embedding", "s.embedding")} DESC, c.vec_id) AS rk
       |    FROM hc50 c
       |    JOIN hq h ON h.vec_id = c.query_id
       |    JOIN sall s ON s.vec_id = c.vec_id)
       |  WHERE rk <= 5)
       |SELECT query_id, CAST(rk AS INT) AS rank, vec_id AS neighbor_id
       |FROM hrr ORDER BY query_id, rank""".stripMargin

  /** s07's oracle is s04's IVF unroll ([[SimilarityOps.ivfRecallSql]])
    * at the CORPUS-SCALED (k, nprobe): the [[ivfK]]/[[ivfNprobe]]
    * formulas become scalar subqueries over COUNT(*) (DuckDB round() is
    * half-up on positives like Java's math.round; √integer never lands
    * on an exact .5, so the two can't disagree). The store itself is
    * layout, not semantics — the oracle replays the semantics, the
    * equality pin (s07 == s04 at the same dials) and PlanSpec's
    * bucket-pruning pin cover the layout. */
  private val ivfKSql =
    "SELECT GREATEST(16, CAST(round(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT)) FROM embeddings"
  lazy val s07Oracle: String =
    SimilarityOps.ivfRecallSql(ivfKSql, ivfNprobeSql)

  val oracle: Map[String, String] = Map(
    "s05_ann_pq" -> s05Oracle,
    "s07_ann_store" -> s07Oracle,
    "s08_ann_ivfpq" -> s08Oracle,
    "s09_ann_ivfpq_rerank" -> s09Oracle,
    "s12_ann_search_heldout" -> s12Oracle,
  )
}
