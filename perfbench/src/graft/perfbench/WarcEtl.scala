package graft.perfbench

import java.io.File

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.warc.{Pipeline, WarcSource}

/** warc-etl: seeded WARC archives through `Pipeline.run` to Avro, the
  * paper's batch job. Every pass writes to a fresh path: `run` skips a
  * path that already holds `_SUCCESS`, so a reused path would time a
  * no-op. */
final class WarcEtl(seed: Long, nPages: Int, inputs: File, work: File) extends Workload {
  val name = "warc-etl"
  private val set = Gen.warcSet(seed, nPages, inputs)
  private val expected = set.kept.map(p => p.url -> p).toMap
  private val nOversize = set.pages.count(_.kind == "oversize")

  def inputSize: String =
    f"${set.nRecords} records (${set.pages.size} responses), ${set.inBytes / 1e6}%.1f MB of WARC in 8 archives"

  // A pass is ~2 s. The JIT is still compiling through the first three
  // or four passes of a cold JVM (process CPU per pass falls from ~10 s
  // to ~6.5 s over them), so three are warm-up; five timed passes per
  // run make the median steady.
  override def warmOps: Int = 3
  def minOps: Int = 5

  def generate(spark: SparkSession): Unit = ()
  def setup(spark: SparkSession): Unit = ()
  def opGroups: Seq[String] = Seq("warc.AvroSink")

  private def outDir(i: Int) = new File(work, s"etl-out-$i")

  /** Reads the pass's Avro files back and checks them against the
    * generator: record count, oversize count, title and hostname. */
  private def check(out: File): (Boolean, Long, Long) = {
    val files = Option(out.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".avro"))
    var n = 0L
    var over = 0L
    var ok = true
    files.foreach { f =>
      val r = new DataFileReader[GenericRecord](f, new GenericDatumReader[GenericRecord]())
      try while (r.hasNext) {
        val rec = r.next()
        n += 1
        if (rec.get("size_bytes").asInstanceOf[Int] > Pipeline.MaxParseBytes) over += 1
        expected.get(rec.get("url").toString) match {
          case Some(p) =>
            ok &&= rec.get("title").toString == p.title && rec.get("hostname").toString == p.host
          case None => ok = false
        }
      } finally r.close()
    }
    (ok && n == expected.size && over == nOversize, n, files.map(_.length).sum)
  }

  def op(spark: SparkSession, i: Int): OpResult = {
    val out = outDir(i)
    Gen.deleteTree(out)
    val (_, s) = Workload.timed(Pipeline.run(spark, set.glob, out.getAbsolutePath, "avro"))
    val (ok, n, bytes) = check(out)
    Gen.deleteTree(out)
    OpResult(s, ok, set.inBytes, bytes, n)
  }

  def tracedOp(spark: SparkSession, i: Int, t: Tracer): (OpResult, LayerReport) = {
    val out = outDir(i)
    Gen.deleteTree(out)
    val (scanned, _) = t.span("warc.source", i) {
      Workload.force(WarcSource.read(spark, set.glob).toDF())
    }
    val (parsed, oversize) = t.span("warc.Pipeline", i) {
      Workload.force(Pipeline.urlResources(WarcSource.read(spark, set.glob)),
        col("size_bytes") > Pipeline.MaxParseBytes)
    }
    t.span("warc.AvroSink", i)(Pipeline.run(spark, set.glob, out.getAbsolutePath, "avro"))
    val (ok, n, bytes) = check(out)
    Gen.deleteTree(out)
    val c = t.listener.settle(spark)
    val ts = Seq("warc.source", "warc.Pipeline", "warc.AvroSink").map(t.seconds(_, i))
    val layers = Map(
      "warc.source.self_s" -> ts(0),
      "warc.source.records_out" -> scanned.toDouble,
      "warc.Pipeline.self_s" -> (ts(1) - ts(0)),
      "warc.Pipeline.records_in" -> scanned.toDouble,
      "warc.Pipeline.records_out" -> parsed.toDouble,
      "warc.Pipeline.dropped" -> (scanned - parsed).toDouble,
      "warc.Pipeline.oversize_stubbed" -> oversize.toDouble,
      "warc.AvroSink.self_s" -> (ts(2) - ts(1)),
      "warc.AvroSink.records_in" -> parsed.toDouble,
      "warc.AvroSink.records_out" -> n.toDouble) ++
      Workload.countDiff("warc.source", c, "warc.source", None) ++
      Workload.countDiff("warc.Pipeline", c, "warc.Pipeline", Some("warc.source")) ++
      Workload.countDiff("warc.AvroSink", c, "warc.AvroSink", Some("warc.Pipeline"))
    (OpResult(ts(2), ok, set.inBytes, bytes, n), LayerReport(layers, c))
  }

  /** `crawl_day` is not an Avro field; check it on the enrichment output. */
  override def finalCheck(spark: SparkSession): Boolean = {
    val got = Pipeline.urlResources(WarcSource.read(spark, set.glob))
      .select(col("url"), col("crawl_day").cast("string")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    got.size == expected.size && expected.forall { case (u, p) => got.get(u).contains(p.crawlDay) }
  }
}
