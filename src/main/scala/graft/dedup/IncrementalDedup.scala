package graft.dedup

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.Tables
import DedupOps._

/** The INCREMENTAL-INGEST dedup family (d07/d08/d10), split out of
  * DedupOps (r9 verdict item 4: per-family files, unchanged names and
  * semantics): a new batch of documents is admitted against an existing
  * corpus — d07 recomputes the corpus index inline, d08 reads a
  * precomputed signature store, d10 runs against the persisted bucketed
  * store (the production shape; the streaming twin is st08). All three
  * share one planted batch, one admission pipeline, and one oracle —
  * layout changes, never semantics changes.
  */
object IncrementalDedup {

  /** d07: INCREMENTAL dedup — the production ingest shape: a new batch of
    * documents is admitted against an EXISTING corpus instead of
    * re-deduplicating the world. Layer 1 drops new docs whose exact
    * digest already exists (one digest join). Layer 2 runs MinHash+LSH
    * over corpus ∪ survivors and verifies exact Jaccard ≥ 0.6 on
    * CROSS-SIDE candidates only (new×corpus — never corpus×corpus, so
    * the existing corpus is scanned but never re-paired against itself).
    * At 100 TB the corpus band hashes are computed once and stored (they
    * are a pure function of text), so steady-state cost is
    * O(batch signatures + bucket join against the stored index); here
    * they are recomputed because the testdata has no signature store.
    * Recall: a J=0.6 pair misses all 32 bands with p=(1−0.36)³² ≈ 6e-7,
    * and the seeded signatures make any given corpus's outcome
    * DETERMINISTIC — the oracle (which recomputes the exact cross-side
    * pair set in SQL) stays green or fails reproducibly, never flakily.
    * New batch = exact copies of every 31st doc and last-token-dropped
    * near-dups of every 37th, at ids offset past the observed
    * max(doc_id) (see [[plantedBatch]]). */
  /** Shared setup of the incremental-ingest queries (d07/d08): the
    * planted new batch, the exact-digest admission layer, and its
    * survivors. */
  /** The planted incoming batch shared by d07/d08/d10/st08: exact
    * copies of every 31st corpus doc and last-token-dropped near-dups
    * of every 37th. Batch ids are DERIVED from the observed id space
    * (r10 verdict item 3 — the fixed +300000/+400000 offsets collide
    * with real ids the moment a corpus holds >300k docs, exactly the
    * latent assumption the r3 side-tag fix removed from the pair
    * classifier): with `off` = max(doc_id)+1, copies land in
    * [off, 2·off) and near-dups in [2·off, 3·off) — disjoint from the
    * corpus and from each other for any 0-based id space. The offset
    * comes from [[plantedOffsetFor]] (cached, footer-stat-answerable),
    * the same device st09 uses for its ingest ids. */
  private[graft] def plantedBatch(docs: DataFrame, off: Long): DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    val droppedTok = array_join(slice(toks, lit(1), size(toks) - 1), " ")
    docs.filter(col("doc_id") % 31 === 0)
        .select((col("doc_id") + off).as("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 37 === 0)
        .select((col("doc_id") + 2L * off).as("doc_id"), droppedTok.as("text")))
  }

  /** max(doc_id)+1 over the corpus — the planted-batch id base.
    * Cached per (session, corpus dir): the offset is a pure function of
    * a static corpus, and without the cache every d07/d08/d10/st08 run
    * pays a full-column scan for it. The cache key carries the
    * applicationId so a stale value can't cross session restarts. */
  private val offsetCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private[graft] def plantedOffset(docs: DataFrame): Long =
    docs.agg(coalesce(max(col("doc_id")), lit(-1L))).collect()(0).getLong(0) + 1L
  private[graft] def plantedOffsetFor(s: SparkSession, d: String): Long =
    offsetCache.computeIfAbsent(s.sparkContext.applicationId + ":" + d,
      // aggregate directly over the scan (no spread/repartition in
      // between): a single column-pruned pass, paid once per corpus
      _ => plantedOffset(Tables.documents(s, d).select("doc_id")))

  /** Exact-digest admission layer shared by d07/d08/d10: split the batch
    * into exact-duplicate ids and surviving (doc_id, text) rows against a
    * corpus digest table (computed inline by d07/d08, read from the
    * persisted store by d10 — where the `shuffle_hash` hints matter: at
    * the 1 MiB broadcast threshold a small-sf digest table would
    * otherwise BROADCAST, and a corpus-sized broadcast is exactly the
    * shape the store layout exists to avoid; with the hint the bucketed
    * store side reads co-located and only the batch shuffles). */
  private def digestAdmission(newBatch: DataFrame, corpusDg: DataFrame)
      : (DataFrame, DataFrame) = {
    val newDg = newBatch.select(col("doc_id"), col("text"),
      md5(col("text")).as("dg"))
    // corpusDg is distinct ⇒ inner join matches each new doc at most once
    val exactIds = newDg.join(corpusDg.hint("shuffle_hash"), "dg")
      .select(col("doc_id"))
    val survivors = newDg.join(corpusDg.hint("shuffle_hash"), Seq("dg"), "left_anti")
      .select(col("doc_id"), col("text"))
    (exactIds, survivors)
  }

  private[graft] def incrementalParts(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val docs = spread(Tables.documents(s, d).select("doc_id", "text"))
    val newBatch = plantedBatch(docs, plantedOffsetFor(s, d))
    val corpusDg = docs.select(md5($"text").as("dg")).distinct()
    val (exactIds, survivors) = digestAdmission(newBatch, corpusDg)
    (docs, newBatch, exactIds, survivors)
  }

  /** Batch-level rollup of per-doc `(doc_id, ex, nr)` admission flags —
    * the ONE definition of the admission summary schema, shared by the
    * batch operators (via [[admissionSummary]]) and st08's streaming
    * finish (which unions per-micro-batch flag frames and rolls them up
    * here): a threshold or column change cannot diverge the two. */
  private[graft] def decisionRollup(flags: DataFrame): DataFrame =
    flags.agg(count(lit(1)).as("n_new"),
      sum(col("ex")).as("n_exact_dropped"),
      sum(col("nr")).as("n_neardup_dropped"),
      sum(when(col("ex") === 0 && col("nr") === 0, 1L).otherwise(0L)).as("n_kept"),
      sum(when(col("ex") === 1 || col("nr") === 1, col("doc_id")).otherwise(0L))
        .as("dropped_id_sum"))

  /** Per-doc admission flags from the id frames, then [[decisionRollup]]
    * — shared by d07/d08. */
  private def admissionSummary(newBatch: DataFrame, exactIds: DataFrame,
      nearIds: DataFrame): DataFrame =
    decisionRollup(newBatch.select(col("doc_id"))
      .join(exactIds.withColumn("ex", lit(1L)), Seq("doc_id"), "left")
      .join(nearIds.withColumn("nr", lit(1L)), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("ex"), lit(0L)).as("ex"),
        coalesce(col("nr"), lit(0L)).as("nr")))

  def d07_incremental_dedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (docs, newBatch, exactIds, survivors) = incrementalParts(s, d)
    // side is carried as DATA (0 = corpus, 1 = new) rather than inferred
    // from id ranges: the r3 classifier assumed every corpus id < the
    // +300000 offset — true on the gate testdata but an unchecked
    // invariant that would silently drop cross-side candidates on a
    // corpus with larger ids. (Ids must still be globally unique across
    // sides — they are the pair keys.)
    val tagged = docs.withColumn("side", lit(0))
      .unionByName(survivors.withColumn("side", lit(1)))
    val nearIds = withCache(tagged.withColumn("bands", minhashBandsU($"text"))) { all =>
      val buckets = all.select($"doc_id",
        posexplode($"bands").as(Seq("band", "bucket")))
      val sides = all.select($"doc_id", $"side")
      // classify candidates BEFORE the text joins (two narrow long-to-int
      // joins) so corpus×corpus pairs never reach the verify
      val cand = guardedBucketPairs(buckets, Seq("band", "bucket"))
        .join(sides.select($"doc_id".as("id_a"), $"side".as("side_a")), "id_a")
        .join(sides.select($"doc_id".as("id_b"), $"side".as("side_b")), "id_b")
        .filter($"side_a" + $"side_b" === 1)
      val texts = all.select($"doc_id", $"text")
      val jacU = udf { (ta: String, tb: String) => jaccard(shingles(ta), shingles(tb)) }
      cand
        .join(texts.withColumnRenamed("doc_id", "id_a")
          .withColumnRenamed("text", "text_a"), "id_a")
        .join(texts.withColumnRenamed("doc_id", "id_b")
          .withColumnRenamed("text", "text_b"), "id_b")
        .filter(jacU($"text_a", $"text_b") >= 0.6)
        .select(when($"side_b" === 1, $"id_b").otherwise($"id_a").as("doc_id"))
        .distinct()
    }
    admissionSummary(newBatch, exactIds, nearIds)
  }

  /** d08: the PRECOMPUTED-SIGNATURE-STORE variant of incremental dedup —
    * d07's scaladoc promise ("at 100 TB the corpus band hashes are
    * computed once and stored") made executable. The corpus's exploded
    * band table `(doc_id, band, bucket)` is written ONCE as a table
    * BUCKETED BY the probe key (band, bucket); each incoming batch then
    * joins its own (small) band table against the store, and the
    * bucketed layout means the corpus side is read CO-LOCATED — no
    * shuffle of corpus data at ingest time, ever (PlanSpec pins the
    * single-Exchange shape). Candidates are cross-side by construction
    * (store × batch), so no guard/self-join is needed here; a
    * production store would also persist per-bucket sizes at build time
    * and star-link its degenerate buckets exactly like
    * [[guardedBucketPairs]]. The admission decision (and oracle) is
    * IDENTICAL to d07 — the store is a layout change, not a semantics
    * change; the store build itself is the one-off indexing job.
    * The exact-Jaccard verify runs on the candidates like d07's. */
  /** One-off store-build of d08/d10: the corpus band table, bucketed by
    * the probe key, with per-bucket size and min-id representative
    * PERSISTED alongside each row (`bkt_n`, `bkt_rep`) — the ingest-side
    * guard reads them as data, so honoring the no-quadratic contract
    * costs the probe nothing (the r4 store had no guard: a degenerate
    * bucket yielded |store-bucket|×|batch-bucket| candidate rows). The
    * sizing groupBy is one extra shuffle at BUILD time — the one-off
    * indexing job, not the per-batch path. Shared with PlanSpec so the
    * co-location pin runs against the REAL writer, not a replica. */
  /** `persistent = true` writes through the store lifecycle (external
    * table at the content-addressed warehouse path, reusable across
    * sessions); the default keeps d08's per-run temp store MANAGED so
    * its `DROP TABLE` in the finally also reclaims the files. */
  private[graft] def writeSignatureStore(s: SparkSession, docs: DataFrame,
      table: String, persistent: Boolean = false): Unit = {
    val bands = docs.withColumn("bands", minhashBandsU(col("text")))
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "bucket")))
    val sizes = bands.groupBy("band", "bucket")
      .agg(count(lit(1)).as("bkt_n"), min(col("doc_id")).as("bkt_rep"))
    val joined = bands.join(sizes, Seq("band", "bucket"))
    if (persistent)
      graft.analytics.StoreLifecycle.saveStoreTable(joined, table,
        16, Seq("band", "bucket"), Seq("band", "bucket"))
    else
      joined.write.bucketBy(16, "band", "bucket").sortBy("band", "bucket")
        .mode("overwrite").saveAsTable(table)
  }

  /** Ingest-side candidate join against a stored signature table —
    * the plan PlanSpec pins: the store side must read co-located (its
    * bucketing matches the join key), so the only Exchange is the new
    * batch's. Store buckets over `cap` are star-linked: only the
    * persisted min-id representative joins the batch (same contract as
    * [[guardedBucketPairs]] — a batch doc lands on the rep, O(batch)
    * rows, instead of fanning out to every member of a degenerate
    * bucket), and the suppressed members are observed in-flight on the
    * rows already streaming through the store scan (zero extra jobs)
    * and logged by the guard listener. Pair de-dup is the caller's. */
  private[graft] def storeIngestCandidates(s: SparkSession, table: String,
      newBands: DataFrame, cap: Int = 1000): DataFrame = {
    ensureGuardListener(s)
    s.table(table)
      .observe(s"graft_bucket_guard_store_${guardObsId.incrementAndGet()}",
        sum(when(col("bkt_n") > cap && col("doc_id") =!= col("bkt_rep"), 1L)
          .otherwise(0L)).as("n_star_members"),
        max(when(col("bkt_n") > cap, col("bkt_n"))).as("max_bucket"))
      .filter(col("bkt_n") <= cap || col("doc_id") === col("bkt_rep"))
      .withColumnRenamed("doc_id", "id_a")
      .join(newBands, Seq("band", "bucket"))
      .select(col("id_a"), col("id_b"))
  }

  def d08_signature_store(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (docs, newBatch, exactIds, survivors) = incrementalParts(s, d)
    val store = s"graft_sigstore_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    writeSignatureStore(s, docs, store)
    try {
      val nearIds = withCache(survivors.withColumn("bands", minhashBandsU($"text"))) { sv =>
        val newBands = sv.select($"doc_id".as("id_b"),
          posexplode($"bands").as(Seq("band", "bucket")))
        val cand = storeIngestCandidates(s, store, newBands).distinct()
        val jacU = udf { (ta: String, tb: String) => jaccard(shingles(ta), shingles(tb)) }
        cand
          .join(docs.select($"doc_id".as("id_a"), $"text".as("text_a"))
            .hint("shuffle_hash"), "id_a")
          .join(sv.select($"doc_id".as("id_b"), $"text".as("text_b"))
            .hint("shuffle_hash"), "id_b")
          .filter(jacU($"text_a", $"text_b") >= 0.6)
          .select($"id_b".as("doc_id")).distinct()
      }
      admissionSummary(newBatch, exactIds, nearIds).localCheckpoint(true)
    } finally s.sql(s"DROP TABLE IF EXISTS $store")
  }

  /** d10 store registry: one (band table, digest table) pair per CORPUS
    * GENERATION (content-addressed names —
    * [[graft.analytics.StoreLifecycle]]), built on first use and kept
    * for the session — so repeated ingests (bench warm runs, production
    * batch cadence) measure the STEADY STATE the store exists for, and
    * a LATER session re-registers the surviving tables instead of
    * rebuilding and abandoning a generation (r10 verdict item 2). */
  private val storeRegistry =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** Build counter + registry reset, exposed for the lifecycle spec
    * (reuse must not rebuild; reset simulates a fresh session). */
  private[graft] val sigStoreBuilds = new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] def resetRegistryForTest(): Unit = storeRegistry.clear()

  /** Build-once accessor for d10's persisted corpus index: the bucketed
    * band table (see [[writeSignatureStore]]) plus a digest table
    * bucketed by `dg` — so BOTH admission layers probe co-located. */
  private[graft] def ensureIncrementalStore(s: SparkSession, d: String): (String, String) = {
    import graft.analytics.StoreLifecycle.{ensure, saveStoreTable, StoreTable}
    ensure(s, storeRegistry, d, Seq("documents"),
      Seq(new StoreTable("graft_d10_bands", 16, Seq("band", "bucket")),
        new StoreTable("graft_d10_digests", 16, Seq("dg")))) {
      case Seq(bandT, digT) => (bandT, digT)
    } { case Seq(bandT, digT) =>
      sigStoreBuilds.incrementAndGet()
      val docs = spread(Tables.documents(s, d).select("doc_id", "text"))
      writeSignatureStore(s, docs, bandT, persistent = true)
      saveStoreTable(docs.select(md5(col("text")).as("dg")).distinct(),
        digT, 16, Seq("dg"), Seq("dg"))
      (bandT, digT)
    }
  }

  /** d10: PRODUCTION incremental ingest — d07's semantics running
    * end-to-end against d08's PERSISTED store, composed (the r4 verdict's
    * top operator ask). The corpus is signed and digested ONCE
    * ([[ensureIncrementalStore]], the one-off indexing job); every
    * subsequent batch runs both admission layers as co-located probes of
    * the bucketed store tables: exact-digest layer against the digest
    * table, MinHash band layer against the band table (guarded, see
    * [[storeIngestCandidates]]) — corpus text is touched only by the
    * candidate-sized exact-Jaccard verify, and corpus signatures are
    * NEVER recomputed (d07 re-signs corpus ∪ batch every run — its
    * documented dominant cost; at 100 TB that difference is the whole
    * point of maintaining an index). Candidates are cross-side by
    * construction (store × batch). The admission decision is IDENTICAL
    * to d07's — same oracle — because the store is layout, not
    * semantics: band hashes and digests are pure functions of text.
    * A production store would also absorb admitted survivors back into
    * the index between batches; here each gate run ingests the same
    * planted batch against the same corpus, which is exactly what makes
    * the query deterministic and oracle-checkable. */
  def d10_store_incremental(s: SparkSession, d: String): DataFrame =
    d10Impl(s, d, eager = true)

  /** Per-document admission decisions for ONE ingest batch against the
    * persisted d10 store — the d10 admission with the final rollup left
    * to the caller: `(doc_id, ex, nr)` flags per batch doc. Powers the
    * STREAMING ingest (st08), whose micro-batches each run this exact
    * plan inside `foreachBatch`; correctness under micro-batching is
    * structural — both admission layers compare a batch doc against the
    * STORE only (batch docs never interact), so any partition of the
    * batch into micro-batches yields identical per-doc decisions. */
  private[graft] def storeAdmissionDecisions(s: SparkSession, d: String,
      batch: DataFrame, bandT: String, digT: String,
      eager: Boolean = true): DataFrame = {
    import s.implicits._
    val (exactIds, survivors) = digestAdmission(batch, s.table(digT))
    val docs = spread(Tables.documents(s, d).select("doc_id", "text"))
    // a store that has ABSORBED previous batches (see [[absorbAdmitted]])
    // carries a band delta and an absorbed-docs text extension; admission
    // probes base ∪ delta and verifies against corpus ∪ absorbed. The
    // gate queries (d10/st08) never absorb, so neither table exists there
    // and their plan — and oracle — is byte-identical to the pre-absorb
    // shape.
    val bandTables = Seq(bandT) ++
      (if (s.catalog.tableExists(bandDelta(bandT))) Seq(bandDelta(bandT)) else Nil)
    val corpusText =
      if (s.catalog.tableExists(absorbedDocs(bandT)))
        docs.unionByName(s.table(absorbedDocs(bandT)))
      else docs
    val nearIds = withCacheImpl(
        survivors.withColumn("bands", minhashBandsU($"text")), eager) { sv =>
      val newBands = sv.select($"doc_id".as("id_b"),
        posexplode($"bands").as(Seq("band", "bucket")))
      val cand = bandTables.map(t => storeIngestCandidates(s, t, newBands))
        .reduce(_.unionByName(_)).distinct()
      val jacU = udf { (ta: String, tb: String) => jaccard(shingles(ta), shingles(tb)) }
      cand
        .join(corpusText.select($"doc_id".as("id_a"), $"text".as("text_a"))
          .hint("shuffle_hash"), "id_a")
        .join(sv.select($"doc_id".as("id_b"), $"text".as("text_b"))
          .hint("shuffle_hash"), "id_b")
        .filter(jacU($"text_a", $"text_b") >= 0.6)
        .select($"id_b".as("doc_id")).distinct()
    }
    batch.select($"doc_id")
      .join(exactIds.withColumn("ex", lit(1L)), Seq("doc_id"), "left")
      .join(nearIds.withColumn("nr", lit(1L)), Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"ex", lit(0L)).as("ex"),
        coalesce($"nr", lit(0L)).as("nr"))
  }

  private[graft] def d10Impl(s: SparkSession, d: String, eager: Boolean): DataFrame = {
    import s.implicits._
    val (bandT, digT) = ensureIncrementalStore(s, d)
    val newBatch = plantedBatch(
      spread(Tables.documents(s, d).select("doc_id", "text")),
      plantedOffsetFor(s, d))
    // the batch operator IS one ingest of the streaming admission: the
    // same per-doc decision plan st08 runs per micro-batch, rolled up
    val out = decisionRollup(
      storeAdmissionDecisions(s, d, newBatch, bandT, digT, eager))
    if (eager) out.localCheckpoint(true) else out
  }

  private[graft] def bandDelta(bandT: String): String = bandT + "_delta"
  private[graft] def absorbedDocs(bandT: String): String = bandT + "_absorbed"

  /** ABSORB admitted survivors into the persisted store between batches
    * — the production half the d10 scaladoc promises ("a production
    * store would also absorb admitted survivors back into the index"):
    * after a batch's admission decisions are final, its admitted
    * `(doc_id, text)` rows become part of the corpus the NEXT batch is
    * admitted against. Three co-located appends, all O(batch):
    *
    *  1. digest layer — the admitted docs' md5 digests append into the
    *     digest table (idempotent: an already-present digest is
    *     anti-joined away), so a replayed doc is an exact-dup next time;
    *  2. band layer — band rows land in an O(absorbed) DELTA table in
    *     the base store's exact bucketed layout (the st09 LSM shape:
    *     base files immutable, probes read base ∪ delta; idempotent on
    *     doc_id). Per-bucket guard stats are computed per-absorb-call —
    *     they bound degradation within the delta only, and
    *     [[compactStore]] restores globally-exact stats;
    *  3. text extension — admitted `(doc_id, text)` appends into an
    *     absorbed-docs table, the verify-join text source for ids that
    *     are not corpus rows (at 100 TB this is the corpus lake's
    *     append path; without it a band match on an absorbed doc could
    *     never be verified and would be dropped SILENTLY).
    *
    * `compactAtDeltaRows` is the AUTOMATIC-compaction high-water mark
    * (r10 verdict item 4 — a production stream must not grow the delta
    * unboundedly): when the band delta reaches it after an absorb,
    * [[compactStore]] fires in-line (see
    * [[graft.analytics.StoreLifecycle.compactPastMark]]); returns true
    * iff a compaction ran. The gate queries never absorb, and the
    * default mark (MaxValue) never compacts — their decisions stay pure
    * functions of (corpus, batch), which is what makes them
    * oracle-checkable. */
  private[graft] def absorbAdmitted(s: SparkSession, bandT: String,
      digT: String, admitted: DataFrame,
      compactAtDeltaRows: Long = Long.MaxValue): Boolean = {
    import s.implicits._
    val delta = bandDelta(bandT)
    // idempotency keys off the absorbed-docs LEDGER, not the delta: the
    // delta is dropped by compaction, so a crash-retried absorb of an
    // already-absorbed batch would re-append band rows post-compaction
    // (r10 review); the ledger is corpus content and survives every
    // compaction, making replay a no-op at any point in the lifecycle
    val ledger = absorbedDocs(bandT)
    val fresh =
      if (s.catalog.tableExists(ledger))
        admitted.join(s.table(ledger).select($"doc_id").distinct(),
          Seq("doc_id"), "left_anti")
      else admitted
    // localCheckpoint: `fresh` feeds three writes; absorb is batch-sized
    val f = fresh.localCheckpoint(true)
    f.select(md5($"text").as("dg")).distinct()
      .join(s.table(digT), Seq("dg"), "left_anti")
      .write.mode("append").bucketBy(16, "dg").sortBy("dg").saveAsTable(digT)
    val bands = f.withColumn("bands", minhashBandsU($"text"))
      .select($"doc_id", posexplode($"bands").as(Seq("band", "bucket")))
    val sizes = bands.groupBy("band", "bucket")
      .agg(count(lit(1)).as("bkt_n"), min($"doc_id").as("bkt_rep"))
    bands.join(sizes, Seq("band", "bucket"))
      .write.mode("append").bucketBy(16, "band", "bucket")
      .sortBy("band", "bucket").saveAsTable(delta)
    // bucketed by doc_id: both consumers key on it (the idempotency
    // anti-join above and the verify-join text lookup), so the ledger
    // side reads co-located instead of reshuffling per absorb
    f.select($"doc_id", $"text")
      .write.mode("append").bucketBy(16, "doc_id").sortBy("doc_id")
      .saveAsTable(absorbedDocs(bandT))
    graft.analytics.StoreLifecycle.compactPastMark(s, delta,
      compactAtDeltaRows)(compactStore(s, bandT))
  }

  /** COMPACTION of the band delta ([[graft.analytics.StoreLifecycle.compact]]):
    * the fold recomputes the per-bucket guard stats globally (bkt_n /
    * bkt_rep over base ∪ delta — per-absorb stats only bound degradation
    * within their own append) over the `distinct` band rows, which are
    * unique per (doc_id, band) in a healthy store. The absorbed-docs
    * text extension is NOT folded — it is corpus content, not index,
    * and remains the verify text source for absorbed ids. No-op when
    * nothing was absorbed. */
  private[graft] def compactStore(s: SparkSession, bandT: String): Unit =
    graft.analytics.StoreLifecycle.compact(s, bandT, bandDelta(bandT),
        16, Seq("band", "bucket")) { (base, delta) =>
      val all = base.select("doc_id", "band", "bucket")
        .unionByName(delta.select("doc_id", "band", "bucket"))
        .distinct()
      val sizes = all.groupBy("band", "bucket")
        .agg(count(lit(1)).as("bkt_n"), min(col("doc_id")).as("bkt_rep"))
      all.join(sizes, Seq("band", "bucket"))
    }

  val d07Oracle: String =
    """WITH docs AS (SELECT doc_id, text FROM documents),
      |off AS (SELECT 1 + COALESCE(MAX(doc_id), -1) AS o FROM docs),
      |newb AS (
      |  SELECT doc_id + (SELECT o FROM off) AS doc_id, text FROM docs
      |  WHERE doc_id % 31 = 0
      |  UNION ALL
      |  SELECT doc_id + 2 * (SELECT o FROM off),
      |    array_to_string(list_slice(string_split_regex(trim(text), '\s+'), 1,
      |      len(string_split_regex(trim(text), '\s+')) - 1), ' ')
      |  FROM docs WHERE doc_id % 37 = 0),
      |cd AS (SELECT DISTINCT md5(text) AS dg FROM docs),
      |nd AS (SELECT doc_id, text, md5(text) AS dg FROM newb),
      |exd AS (SELECT doc_id FROM nd WHERE dg IN (SELECT dg FROM cd)),
      |surv AS (SELECT doc_id, text FROM nd WHERE dg NOT IN (SELECT dg FROM cd)),
      |side AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk, 0 AS sd
      |  FROM docs
      |  UNION ALL
      |  SELECT doc_id, string_split_regex(trim(text), '\s+'), 1 FROM surv),
      |sh AS (
      |  SELECT DISTINCT doc_id, sd,
      |    CASE WHEN len(tk) < 3 THEN array_to_string(tk, ' ')
      |         ELSE array_to_string(tk[i:i+2], ' ') END AS shingle
      |  FROM side, UNNEST(range(1, GREATEST(len(tk) - 1, 2))) AS u(i)),
      |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle
      |    AND a.sd = 0 AND b.sd = 1
      |  GROUP BY 1, 2),
      |nrd AS (
      |  SELECT DISTINCT id_b AS doc_id FROM pairs
      |    JOIN sizes sa ON sa.doc_id = id_a
      |    JOIN sizes sb ON sb.doc_id = id_b
      |  WHERE CAST(common AS DOUBLE) /
      |    CAST(sa.n_sh + sb.n_sh - common AS DOUBLE) >= 0.6),
      |dec AS (
      |  SELECT n.doc_id,
      |    CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS ex,
      |    CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END AS nr
      |  FROM newb n
      |    LEFT JOIN exd e ON e.doc_id = n.doc_id
      |    LEFT JOIN nrd r ON r.doc_id = n.doc_id)
      |SELECT COUNT(*) AS n_new,
      |  CAST(SUM(ex) AS BIGINT) AS n_exact_dropped,
      |  CAST(SUM(nr) AS BIGINT) AS n_neardup_dropped,
      |  CAST(SUM(CASE WHEN ex = 0 AND nr = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_kept,
      |  CAST(SUM(CASE WHEN ex = 1 OR nr = 1 THEN doc_id ELSE 0 END) AS BIGINT)
      |    AS dropped_id_sum
      |FROM dec""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d07_incremental_dedup" -> (d07_incremental_dedup _),
    "d08_signature_store" -> (d08_signature_store _),
    "d10_store_incremental" -> (d10_store_incremental _),
  )

  // the signature store is a LAYOUT change, not a semantics change —
  // d08 and the composed store-backed ingest (d10) must produce d07's
  // exact admission decision
  val oracle: Map[String, String] = Map(
    "d07_incremental_dedup" -> d07Oracle,
    "d08_signature_store" -> d07Oracle,
    "d10_store_incremental" -> d07Oracle,
  )
}
