package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{DedupOps, IncrementalDedup}
import graft.sim.AnnStore
import graft.streaming.StreamStoreIngest

/** store-ingest: one closed-loop client against the persisted stores.
  * Each step writes (admit a batch through the dedup signature store,
  * absorb the admitted docs, append vectors to the ANN delta) and then
  * reads (search the appended vectors over base ∪ delta). Compaction
  * high-water marks fire every few steps, inline in the write path. */
final class StoreIngest(seed: Long, nCorpus: Int, batchDocs: Int, batchVecs: Int,
    inputs: File) extends Workload {
  val name = "store-ingest"
  private val in = new Gen.StoreInputs(seed, nCorpus, batchDocs, batchVecs)
  private val d = inputs.getAbsolutePath
  // Both stores compact on every second step (steps 1, 3, 5, ...): a
  // step admits the batch's novel half, 32 band rows per doc, and
  // appends `batchVecs` vectors. Runs time whole two-step cycles.
  override def cycle: Int = 2
  def minOps: Int = 2
  private val dedupMark = 2L * 32 * (batchDocs / 2)
  private val annMark = 2L * batchVecs
  private val annOffset = nCorpus.toLong

  private var bandT, digT, annT = ""
  private var cb: Array[(Int, Seq[Float])] = _
  private var pq: Array[Array[Array[Double]]] = _
  private def annDelta = annT + "_bench_delta"

  def inputSize: String =
    s"$nCorpus-doc corpus and $nCorpus vectors (dim ${Gen.Dim}); per step $batchDocs docs " +
      s"(${(Gen.BatchExactShare * 100).round}% exact, ${(Gen.BatchNearShare * 100).round}% near, rest novel) " +
      s"and $batchVecs vectors; compaction at $dedupMark band rows / $annMark vectors"

  def generate(spark: SparkSession): Unit = Gen.writeAtomically(inputs) { dir =>
    import spark.implicits._
    in.corpus.map(x => (x.id, x.text, x.source, x.lang)).toDF("doc_id", "text", "source", "lang")
      .repartition(4).write.parquet(new File(dir, "documents.parquet").getAbsolutePath)
    in.corpusVecs.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
      .repartition(4).write.parquet(new File(dir, "embeddings.parquet").getAbsolutePath)
  }

  def setup(spark: SparkSession): Unit = {
    val (b, g) = IncrementalDedup.ensureIncrementalStore(spark, d)
    val (t, c, p) = AnnStore.ensureAnnStore(spark, d)
    bandT = b; digT = g; annT = t; cb = c; pq = p
  }

  def opGroups: Seq[String] =
    Seq("dedup.IncrementalDedup", "analytics.StoreLifecycle", "streaming.StreamStoreIngest", "sim.AnnStore")

  private def batchFrames(spark: SparkSession, step: Int): (Gen.Batch, DataFrame, DataFrame) = {
    import spark.implicits._
    val b = in.batch(step)
    (b, b.docs.map { case (x, _) => (x.id, x.text) }.toDF("doc_id", "text"),
      b.vecs.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding"))
  }

  /** Admission decisions match the planted labels: exact copies dropped
    * by the digest layer, near copies by the band layer, novel admitted. */
  private def decisionsOk(b: Gen.Batch, flags: Map[Long, (Long, Long)]): Boolean =
    flags.size == b.docs.size && b.docs.forall { case (x, label) =>
      flags.get(x.id).contains(label match {
        case "exact" => (1L, 0L)
        case "near" => (0L, 1L)
        case _ => (0L, 0L)
      })
    }

  private def admit(spark: SparkSession, batch: DataFrame): Map[Long, (Long, Long)] =
    IncrementalDedup.storeAdmissionDecisions(spark, d, batch, bandT, digT).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  private def admitted(batch: DataFrame, flags: Map[Long, (Long, Long)]): DataFrame =
    batch.filter(col("doc_id").isin(flags.collect { case (id, (0L, 0L)) => id }.toSeq: _*))

  private def annTables(spark: SparkSession): Seq[String] =
    Seq(annT) ++ (if (spark.catalog.tableExists(annDelta)) Seq(annDelta) else Nil)

  /** Every appended vector is its own rank-1 neighbour. */
  private def search(spark: SparkSession, vecs: DataFrame, n: Int): Boolean = {
    val res = AnnStore.annSearchOn(spark, annTables(spark), cb, pq,
      vecs.withColumnRenamed("vec_id", "query_id"), topK = 1, rerank = 50)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    res.length == n && res.forall { case (q, nb) => q == nb }
  }

  private def inBytes(b: Gen.Batch): Long =
    b.docs.map(_._1.text.getBytes("UTF-8").length.toLong).sum + b.vecs.size * Gen.Dim * 4L

  def op(spark: SparkSession, i: Int): OpResult = {
    val (b, docs, vecs) = batchFrames(spark, i)
    val w0 = Workload.fsBytesWritten()
    val (flags, ingestS) = Workload.timed {
      val flags = admit(spark, docs)
      IncrementalDedup.absorbAdmitted(spark, bandT, digT, admitted(docs, flags), dedupMark)
      StreamStoreIngest.st09AppendBatch(annT, annDelta, cb.length, cb, pq, annOffset, annMark)(vecs)
      flags
    }
    val written = Workload.fsBytesWritten() - w0
    val (found, searchS) = Workload.timed(search(spark, vecs, b.vecs.size))
    OpResult(ingestS + searchS, decisionsOk(b, flags) && found, inBytes(b), written,
      b.docs.size.toLong, Map("ingest" -> ingestS, "search" -> searchS))
  }

  def tracedOp(spark: SparkSession, i: Int, t: Tracer): (OpResult, LayerReport) = {
    import spark.implicits._
    val (b, docs, vecs) = batchFrames(spark, i)
    val w0 = Workload.fsBytesWritten()
    var compactions = 0
    val (flags, nCand) = t.span("dedup.IncrementalDedup", i) {
      val flags = admit(spark, docs)
      // candidate pairs of the band layer, counted the way the store
      // probe forms them (probe group: not part of the operation)
      val nCand = t.span("probe.candidates", i) {
        val survivors = docs.filter(col("doc_id").isin(
          flags.collect { case (id, (0L, _)) => id }.toSeq: _*))
        val newBands = survivors.withColumn("bands", DedupOps.minhashBandsU($"text"))
          .select($"doc_id".as("id_b"), posexplode($"bands").as(Seq("band", "bucket")))
        (Seq(bandT) ++ Seq(IncrementalDedup.bandDelta(bandT)).filter(spark.catalog.tableExists))
          .map(tb => IncrementalDedup.storeIngestCandidates(spark, tb, newBands))
          .reduce(_.unionByName(_)).distinct().count()
      }
      IncrementalDedup.absorbAdmitted(spark, bandT, digT, admitted(docs, flags))
      (flags, nCand)
    }
    // the inline high-water checks of the write path, run here under
    // their own group so compaction is charged to the store lifecycle
    val bandDelta = IncrementalDedup.bandDelta(bandT)
    if (t.span("probe.policy", i)(spark.table(bandDelta).count() >= dedupMark))
      t.span("analytics.StoreLifecycle", i) {
        IncrementalDedup.compactStore(spark, bandT); compactions += 1
      }
    t.span("streaming.StreamStoreIngest", i) {
      StreamStoreIngest.st09AppendBatch(annT, annDelta, cb.length, cb, pq, annOffset,
        Long.MaxValue)(vecs)
    }
    t.span("analytics.StoreLifecycle", i) {
      if (AnnStore.maybeCompactDelta(spark, annT, annDelta, cb.length, annMark)) compactions += 1
    }
    val written = Workload.fsBytesWritten() - w0
    val found = t.span("sim.AnnStore", i)(search(spark, vecs, b.vecs.size))
    val c = t.listener.settle(spark)
    val ingestS = Seq("dedup.IncrementalDedup", "analytics.StoreLifecycle",
      "streaming.StreamStoreIngest").map(t.seconds(_, i)).sum
    val searchS = t.seconds("sim.AnnStore", i)
    val nNear = flags.values.count(_._2 == 1L)
    val nAdmitted = flags.values.count(_ == ((0L, 0L)))
    val lc = c.getOrElse("analytics.StoreLifecycle", new Counts)
    val ann = c.getOrElse("sim.AnnStore", new Counts)
    val layers = Map(
      "dedup.IncrementalDedup.self_s" -> (t.seconds("dedup.IncrementalDedup", i) -
        t.seconds("probe.candidates", i)),
      "dedup.IncrementalDedup.records_in" -> b.docs.size.toDouble,
      "dedup.IncrementalDedup.records_out" -> nAdmitted.toDouble,
      "dedup.IncrementalDedup.candidates" -> nCand.toDouble,
      "dedup.IncrementalDedup.useful_ratio" -> (if (nCand == 0) 0.0 else nNear.toDouble / nCand),
      "dedup.IncrementalDedup.admitted_ratio" -> nAdmitted.toDouble / b.docs.size,
      "analytics.StoreLifecycle.self_s" -> t.seconds("analytics.StoreLifecycle", i),
      "analytics.StoreLifecycle.compactions" -> compactions.toDouble,
      "analytics.StoreLifecycle.bytes_rewritten" -> lc.outputBytes.toDouble,
      "streaming.StreamStoreIngest.self_s" -> t.seconds("streaming.StreamStoreIngest", i),
      "streaming.StreamStoreIngest.records_in" -> b.vecs.size.toDouble,
      "sim.AnnStore.self_s" -> searchS,
      "sim.AnnStore.records_in" -> b.vecs.size.toDouble,
      "sim.AnnStore.scan_fraction" ->
        (if (ann.bucketsTotal == 0) 0.0 else ann.bucketsRead.toDouble / ann.bucketsTotal)) ++
      Workload.countDiff("dedup.IncrementalDedup", c, "dedup.IncrementalDedup", None) ++
      Workload.countDiff("analytics.StoreLifecycle", c, "analytics.StoreLifecycle", None) ++
      Workload.countDiff("streaming.StreamStoreIngest", c, "streaming.StreamStoreIngest", None) ++
      Workload.countDiff("sim.AnnStore", c, "sim.AnnStore", None)
    (OpResult(ingestS + searchS, decisionsOk(b, flags) && found, inBytes(b), written,
      b.docs.size.toLong, Map("ingest" -> ingestS, "search" -> searchS)), LayerReport(layers, c))
  }
}
