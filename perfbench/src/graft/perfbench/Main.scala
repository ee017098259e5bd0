package graft.perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark entry point, one workload per JVM:
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --inputs <dir> --work <dir> --result <file> --spans <file>
  * }}}
  *
  * Untraced (`--trace 0`): sets up `SetupReps` times on fresh
  * warehouses (session start + store builds + the untimed warm-up
  * operation; input generation excluded), then runs operations closed
  * loop for at least `--seconds`, checking each one's output. Traced
  * (`--trace 1`): one set-up and the warm-up, then a fixed number of
  * operations split into layer spans, for the per-layer numbers and the
  * tracing overhead. The result (metrics plus a
  * readable report) is written as JSON to `--result`. */
object Main {
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val inputs = new File(a("inputs"))
    val work = new File(a("work"))
    work.mkdirs()
    val wl: Workload = name match {
      case "warc-etl" => new WarcEtl(seed, 600, new File(inputs, s"warc-etl/seed-$seed"), work)
      case "curation-release" =>
        new CurationRelease(seed, 300, new File(inputs, s"curation-release/seed-$seed"), work)
      case "store-ingest" =>
        new StoreIngest(seed, 400, 24, 16, new File(inputs, s"store-ingest/seed-$seed"))
      case other => sys.error(s"unknown workload $other")
    }
    val report = mutable.ArrayBuffer[String]()
    val res =
      if (trace) traced(wl, work, report, new File(a("spans"))) else untraced(wl, work, seconds, report)
    writeResult(new File(a("result")), res, report.toSeq)
  }

  final case class Result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)])

  private var rep = 0

  /** A session on its own fresh warehouse and local dir under `work`. */
  def session(wl: Workload, work: File): SparkSession = {
    rep += 1
    val wh = new File(work, s"warehouse-$rep")
    Gen.deleteTree(wh)
    val s = GraftSession.builder(s"perfbench-${wl.name}")
      .config("spark.sql.warehouse.dir", wh.getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `op` from a collected heap: a full GC before every operation
    * (outside its timing) keeps one operation's garbage from landing in
    * the next one's time and keeps the heap's high-water mark a property
    * of one operation, not of the GC's timing. */
  private def settled[T](op: => T): T = { System.gc(); op }

  /** Session start + set-up on a fresh warehouse; input generation untimed. */
  private def startAndSetUp(wl: Workload, work: File): (SparkSession, Double) = {
    val (spark, tSession) = Workload.timed(session(wl, work))
    wl.generate(spark)
    val (_, tSetup) = Workload.timed(wl.setup(spark))
    (spark, tSession + tSetup)
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def untraced(wl: Workload, work: File, seconds: Double,
      report: mutable.ArrayBuffer[String]): Result = {
    // set-up = session start + store builds, repeated on fresh warehouses
    // (median), plus the untimed warm-up operations on the last session:
    // the JIT warm-up of a cold JVM belongs to set-up, not to the ops
    var spark: SparkSession = null
    val reps = (1 to SetupReps).map { _ =>
      if (spark != null) stop(spark)
      val (s, t) = startAndSetUp(wl, work)
      spark = s
      t
    }
    val warm = (0 until wl.warmOps).map(i => settled(wl.op(spark, i)))
    val setupS = Stats.median(reps) + warm.map(_.seconds).sum
    val ops = mutable.ArrayBuffer[OpResult]()
    val steal0 = Stats.cpuTicks()
    val t0 = System.nanoTime()
    var i = wl.warmOps
    while ((System.nanoTime() - t0) / 1e9 < seconds || ops.size < wl.minOps) {
      (1 to wl.cycle).foreach { _ => ops += settled(wl.op(spark, i)); i += 1 }
    }
    val steal = Stats.stealShare(steal0, Stats.cpuTicks())
    val finalOk = wl.finalCheck(spark)
    spark.stop()
    val all = warm ++ ops
    val failed = all.count(!_.correct) + (if (finalOk) 0 else 1)
    val rss = Stats.peakRssMb()
    val lat = ops.map(_.seconds * 1e3).toSeq
    val ratio = ops.map(o => o.outBytes.toDouble / o.inBytes).toSeq
    report += s"workload ${wl.name}: ${wl.inputSize}"
    report += f"setup_s = $setupS%.3f s (session start + set-up, median of ${reps.size}: " +
      f"${reps.map(x => f"$x%.2f").mkString(", ")}; plus warm-up ${warm.map(o => f"${o.seconds}%.2f").mkString(" + ")})"
    report += f"op_ms_p50 = ${Stats.median(lat)}%.1f ms, ${Stats.tail(lat)} (closed loop, one client); " +
      s"ops: ${lat.map(x => f"$x%.0f").mkString(" ")}"
    report += f"out_bytes_per_in_byte = ${Stats.median(ratio)}%.4f"
    report += f"peak_rss_mb = $rss%.0f MB"
    report += f"host steal during the timed operations: ${steal * 100}%.1f%% of CPU time"
    report ++= namedMetrics(wl, ops.toSeq)
    report += f"failed_frac = ${failed.toDouble / (all.size + 1)}%.4f ($failed of ${all.size + 1}: ${all.size} operations + the final output check)"
    Result(failed == 0, all.size + 1, failed, Seq(
      ("setup_s", setupS, "s"),
      ("op_ms_p50", Stats.median(lat), "ms"),
      ("out_bytes_per_in_byte", Stats.median(ratio), "ratio"),
      ("peak_rss_mb", rss, "MB")))
  }

  /** Each workload's own names for its end-to-end numbers. */
  private def namedMetrics(wl: Workload, ops: Seq[OpResult]): Seq[String] = {
    val lat = ops.map(_.seconds)
    wl.name match {
      case "warc-etl" => Seq(
        f"etl_records_per_s = ${ops.head.records / Stats.median(lat)}%.1f 1/s (${ops.head.records} records written per pass)",
        f"etl_out_bytes_per_in_byte = ${ops.head.outBytes.toDouble / ops.head.inBytes}%.4f")
      case "curation-release" => Seq(
        f"release_s = ${Stats.median(lat)}%.3f s, ${Stats.tail(lat)}")
      case _ =>
        val ing = ops.map(_.parts("ingest") * 1e3)
        val sea = ops.map(_.parts("search") * 1e3)
        Seq(f"ingest_ms_p50 = ${Stats.median(ing)}%.1f ms; ingest_ms_tail: ${Stats.tail(ing)}",
          f"search_ms_p50 = ${Stats.median(sea)}%.1f ms; search_ms_tail: ${Stats.tail(sea)}")
    }
  }

  /** Traced operations per traced run: a fixed set, so two traced runs
    * at one seed can be compared count for count. */
  val TracedOps = Map("warc-etl" -> 2, "curation-release" -> 1, "store-ingest" -> 2)

  def traced(wl: Workload, work: File, report: mutable.ArrayBuffer[String], spans: File): Result = {
    val all = mutable.ArrayBuffer[OpResult]()
    val (spark, _) = startAndSetUp(wl, work)
    all ++= (0 until wl.warmOps).map(i => settled(wl.op(spark, i)))
    val t = new Tracer(spark)
    val runs = (wl.warmOps until wl.warmOps + TracedOps(wl.name))
      .map(i => (i, settled(wl.tracedOp(spark, i, t))))
    t.close()
    all ++= runs.map(_._2._1)
    t.writeJson(spans)
    spark.stop()
    val n = runs.size.toDouble
    val values = mutable.Map[String, Double]()
    runs.foreach { case (_, (_, lr)) =>
      lr.values.foreach { case (k, v) =>
        values(k) = values.getOrElse(k, 0.0) + (if (PerLayer.isPerOp(k)) v / n else v)
      }
    }
    // the `spark` layer: the job and stage floor of the real operation
    val sc = new Counts
    var noJob, gc, opWall = 0.0
    runs.foreach { case (i, (_, lr)) =>
      val c = new Counts
      wl.opGroups.foreach(g => lr.counts.get(g).foreach(c += _))
      sc += c
      val probes = t.spans.filter(s => s.op == i && s.name.startsWith("probe.") &&
        wl.opGroups.contains(s.parent)).map(_.seconds).sum
      val wall = wl.opGroups.map(t.seconds(_, i)).sum - probes
      opWall += wall / n
      noJob += (wall - c.jobBusyMs / 1e3) / n
      gc += wl.opGroups.map(t.gcSeconds(_, i)).sum / n
    }
    values ++= Map("spark.self_s" -> noJob, "spark.gc_s" -> gc,
      "spark.jobs_per_op" -> sc.jobs / n, "spark.jobs" -> sc.jobs.toDouble,
      "spark.stages" -> sc.stages.toDouble, "spark.tasks" -> sc.tasks.toDouble,
      "spark.shuffle_bytes" -> sc.shuffleBytes.toDouble, "spark.spill_bytes" -> sc.spillBytes.toDouble)
    // overhead = traced op wall minus the wall of the real operation's own
    // calls (the re-executed prefixes and the probes the trace adds)
    val tracedWall = runs.map { case (i, _) =>
      t.spans.filter(s => s.op == i && s.parent.isEmpty).map(_.seconds).sum }
    values("trace.overhead_s") = tracedWall.sum / n - opWall
    values("trace.ops") = n
    val failed = all.count(!_.correct)
    report += s"workload ${wl.name} (traced): ${wl.inputSize}"
    report += f"traced ops = ${runs.size}; traced op wall = ${tracedWall.sum / n}%.3f s, of which the operation's own calls ${opWall}%.3f s"
    Result(failed == 0, all.size, failed,
      PerLayer.names.map(k => (k, values.getOrElse(k, 0.0), PerLayer.unit(k))))
  }

  def writeResult(f: File, r: Result, report: Seq[String]): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val o = m.createObjectNode()
    o.put("correct", r.correct); o.put("attempted", r.attempted); o.put("failed", r.failed)
    val mm = o.putObject("metrics")
    r.metrics.foreach { case (k, v, u) => val x = mm.putObject(k); x.put("value", v); x.put("unit", u) }
    val rp = o.putArray("report")
    report.foreach(rp.add)
    Files.writeString(f.toPath, m.writeValueAsString(o))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, as
    * "pNN = value (n = ...)", or why there is none. */
  def tail(xs: Seq[Double]): String = {
    val s = xs.sorted
    val n = s.size
    (99 to 50 by -1).iterator.map { p =>
      val idx = math.max(0, math.ceil(p / 100.0 * n).toInt - 1)
      (p, idx, n - 1 - idx)
    }.find(_._3 >= 10) match {
      case Some((p, idx, _)) => f"tail p$p = ${s(idx)}%.3f (n = $n)"
      case None => s"tail undefined: n = $n samples, a tail at or above p50 needs >= 20"
    }
  }

  /** (steal, total) jiffies of all CPUs, from /proc/stat. */
  def cpuTicks(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (v(7), v.sum)
    } finally f.close()
  }

  /** Share of CPU time the hypervisor gave to other guests between two
    * samples: wall time the operations could not use. */
  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    (b._1 - a._1).toDouble / math.max(1L, b._2 - a._2)

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }
}
