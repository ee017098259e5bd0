package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.DedupOps
import graft.pipeline.TrainingPipeline

/** curation-release: a seeded corpus with planted duplicate clusters
  * through `TrainingPipeline.releaseDrillUnified` to written shards,
  * provenance and card. Every pass must pass every drill check and
  * write the same shard fingerprints as the first pass. */
final class CurationRelease(seed: Long, nBase: Int, inputs: File, work: File) extends Workload {
  val name = "curation-release"
  private val corpusDir = new File(inputs, "corpus.parquet")
  private lazy val docs = Gen.curationCorpus(seed, nBase)
  private var refFingerprints: Option[String] = None

  def inputSize: String =
    f"${docs.size} docs (${nBase} base + planted clusters), ${Gen.dirBytes(corpusDir) / 1e6}%.2f MB of parquet"

  def generate(spark: SparkSession): Unit = Gen.writeAtomically(inputs) { _ =>
    import spark.implicits._
    docs.map(d => (d.id, d.text, d.source, d.lang)).toDF("doc_id", "text", "source", "lang")
      .repartition(4).write.parquet(corpusDir.getAbsolutePath)
  }
  def setup(spark: SparkSession): Unit = ()
  // a release is ~150 jobs, ~10 s of job floor: one per run keeps a
  // run under a minute
  def minOps: Int = 1
  def opGroups: Seq[String] = Seq("pipeline")

  private def corpus(spark: SparkSession): DataFrame = spark.read.parquet(corpusDir.getAbsolutePath)
  private def outDir(i: Int) = new File(work, s"release-$i")

  /** Runs the release and checks it; returns (checks pass, kept docs). */
  private def release(spark: SparkSession, out: File): (Boolean, Long) = {
    val rows = TrainingPipeline.releaseDrillUnified(spark, corpus(spark), out.getAbsolutePath)
      .collect().map(r => (r.getAs[String]("check"), r.getAs[String]("lhs"), r.getAs[Boolean]("pass")))
    val fps = rows.find(_._1 == "disk_audit_eq_recomputed_audit").map(_._2)
    if (refFingerprints.isEmpty) refFingerprints = fps
    val kept = rows.find(_._1 == "card_kept_mass_eq_shard_files")
      .map(_._2.split("/")(0).toLong).getOrElse(0L)
    (rows.length == 7 && rows.forall(_._3) && fps.isDefined && fps == refFingerprints, kept)
  }

  def op(spark: SparkSession, i: Int): OpResult = {
    val out = outDir(i)
    Gen.deleteTree(out)
    val ((ok, kept), s) = Workload.timed(release(spark, out))
    val bytes = Gen.dirBytes(out)
    Gen.deleteTree(out)
    OpResult(s, ok, Gen.dirBytes(corpusDir), bytes, kept)
  }

  def tracedOp(spark: SparkSession, i: Int, t: Tracer): (OpResult, LayerReport) = {
    val out = outDir(i)
    Gen.deleteTree(out)
    import spark.implicits._
    val nIn = docs.size.toLong
    val nGated = t.span("text", i)(Workload.force(TrainingPipeline.gatedOf(corpus(spark)))._1)
    var nCand = 0L
    val (nNear, nContain) = t.span("dedup", i) {
      val gated = TrainingPipeline.gatedOf(corpus(spark)).select($"doc_id", $"text")
      val nd = DedupOps.withCache(gated.withColumn("sig", DedupOps.sigWithHashesU($"text"))) { sigd =>
        DedupOps.withCache(DedupOps.scoredOf(sigd)) { scored =>
          nCand = t.span("probe.dedup", i)(scored.count())
          DedupOps.confirmedPairsOf(sigd, scored)
        }
      }
      (nd.count(), Workload.force(DedupOps.containmentPairsOf(gated))._1)
    }
    val nClustered = t.span("dedup.cc", i) {
      TrainingPipeline.unifiedClusters(TrainingPipeline.gatedOf(corpus(spark))).count()
    }
    val (ok, kept) = t.span("pipeline", i)(release(spark, out))
    val bytes = Gen.dirBytes(out)
    Gen.deleteTree(out)
    val c = t.listener.settle(spark)
    val ts = Seq("text", "dedup", "dedup.cc", "pipeline").map(t.seconds(_, i))
    val probe = t.seconds("probe.dedup", i)
    val layers = Map(
      "text.self_s" -> ts(0),
      "text.records_in" -> nIn.toDouble,
      "text.records_out" -> nGated.toDouble,
      "dedup.self_s" -> (ts(1) - probe - ts(0)),
      "dedup.records_in" -> nGated.toDouble,
      "dedup.records_out" -> (nNear + nContain).toDouble,
      "dedup.candidates" -> nCand.toDouble,
      "dedup.useful_ratio" -> (if (nCand == 0) 0.0 else nNear.toDouble / nCand),
      "dedup.cc.self_s" -> (ts(2) - (ts(1) - probe)),
      "dedup.cc.records_in" -> (nNear + nContain).toDouble,
      "dedup.cc.records_out" -> nClustered.toDouble,
      "pipeline.self_s" -> (ts(3) - ts(2)),
      "pipeline.records_in" -> nIn.toDouble,
      "pipeline.records_out" -> kept.toDouble) ++
      Workload.countDiff("text", c, "text", None) ++
      Workload.countDiff("dedup", c, "dedup", Some("text")) ++
      Workload.countDiff("dedup.cc", c, "dedup.cc", Some("dedup")) ++
      Workload.countDiff("pipeline", c, "pipeline", Some("dedup.cc"))
    (OpResult(ts(3), ok, Gen.dirBytes(corpusDir), bytes, kept), LayerReport(layers, c))
  }
}
