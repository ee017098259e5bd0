package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Spark-side counts of one job group. */
final class Counts {
  var jobs, stages, tasks, shuffleBytes, spillBytes, outputBytes = 0L
  var bucketsRead, bucketsTotal = 0L
  /** Wall time during which at least one of the group's jobs ran. */
  var jobBusyMs = 0L

  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    outputBytes += o.outputBytes
    bucketsRead += o.bucketsRead; bucketsTotal += o.bucketsTotal
    jobBusyMs += o.jobBusyMs
  }
}

/** The benchmark's own listener. Every job, stage and task is charged to
  * the job group it ran under; SQL executions are matched to their group
  * so bucket pruning can be read from the executed plans. Events are
  * only read after [[settle]], which drains the listener bus. */
final class LayerListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobInfo = new ConcurrentHashMap[Int, (String, Long)]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private val execPlan = new ConcurrentHashMap[Long, SparkPlanInfo]()
  private val counts = mutable.Map[String, Counts]()
  private val busy = mutable.Map[String, mutable.ArrayBuffer[(Long, Long)]]()

  private def c(g: String): Counts = counts.getOrElseUpdate(g, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobInfo.put(e.jobId, (g, e.time))
    e.stageIds.foreach(stageGroup.put(_, g))
    c(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobInfo.get(e.jobId)).foreach { case (g, t0) =>
      busy.getOrElseUpdate(g, mutable.ArrayBuffer()) += ((t0, e.time))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c(stageGroup.getOrDefault(e.stageInfo.stageId, "")).stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val k = c(stageGroup.getOrDefault(e.stageId, ""))
    k.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      k.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      k.spillBytes += m.diskBytesSpilled
      k.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.foreach(execGroup.put(s.executionId, _))
      execPlan.put(s.executionId, s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      execPlan.put(u.executionId, u.sparkPlanInfo)
    case _ =>
  }

  private val SelectedBuckets = """(\d+) out of (\d+).*""".r

  private def bucketScans(p: SparkPlanInfo): Seq[(Long, Long)] =
    p.metadata.get("SelectedBucketsCount").toSeq.collect {
      case SelectedBuckets(a, b) => (a.toLong, b.toLong)
    } ++ p.children.flatMap(bucketScans)

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }

  /** Drains the bus, then returns and forgets the counts of every group. */
  def settle(spark: SparkSession): Map[String, Counts] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    execPlan.asScala.foreach { case (id, plan) =>
      Option(execGroup.get(id)).foreach { g =>
        bucketScans(plan).foreach { case (a, b) => c(g).bucketsRead += a; c(g).bucketsTotal += b }
      }
    }
    busy.foreach { case (g, iv) => c(g).jobBusyMs += unionMs(iv.toSeq) }
    val out = counts.toMap
    counts.clear(); busy.clear(); execPlan.clear(); execGroup.clear()
    jobInfo.clear(); stageGroup.clear()
    out
  }
}

/** One span: a layer boundary crossed by operation `op`; `parent` is the
  * enclosing span's name. */
final case class Span(name: String, startNs: Long, endNs: Long, parent: String, op: Int,
    gcMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder plus the job-group discipline: a span named
  * after a layer runs its body with the job group set to that name, so
  * the listener charges the body's Spark work to the layer. */
final class Tracer(spark: SparkSession) {
  val listener = new LayerListener
  spark.sparkContext.addSparkListener(listener)
  val spans = mutable.ArrayBuffer[Span]()

  /** Runs `body` as span `name` of operation `op`; the enclosing span
    * (if any) is its parent and gets its job group back afterwards. */
  def span[T](name: String, op: Int)(body: => T): T = {
    val sc = spark.sparkContext
    val parent = Option(sc.getLocalProperty("spark.jobGroup.id"))
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val gc0 = Tracer.gcMs()
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(name, t0, System.nanoTime(), parent.getOrElse(""), op, Tracer.gcMs() - gc0)
      parent match {
        case Some(p) => sc.setJobGroup(p, p, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Seconds spent in spans named `name` during operation `op`. */
  def seconds(name: String, op: Int): Double =
    spans.filter(s => s.name == name && s.op == op).map(_.seconds).sum

  def gcSeconds(name: String, op: Int): Double =
    spans.filter(s => s.name == name && s.op == op).map(_.gcMs).sum / 1e3

  def close(): Unit = spark.sparkContext.removeSparkListener(listener)

  def writeJson(f: java.io.File): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = m.createArrayNode()
    spans.foreach { s =>
      val o = arr.addObject()
      o.put("name", s.name); o.put("start_ns", s.startNs); o.put("end_ns", s.endNs)
      o.put("parent", s.parent); o.put("op", s.op); o.put("gc_ms", s.gcMs)
    }
    f.getParentFile.mkdirs()
    m.writerWithDefaultPrettyPrinter().writeValue(f, arr)
  }
}

object Tracer {
  /** Collection time of every JVM garbage collector so far. */
  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum
}
