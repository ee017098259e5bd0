package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `GraftSession.concurrently`: argument-order results, failures
  * rethrown only after every sibling finished, the caller's job group
  * and description on the workers' jobs, and `withConf` refused while a
  * block is in flight. */
class ConcurrentlySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("concurrently-spec").master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** One Spark job whose 2 tasks each sleep `ms`. */
  private def slowJob(ms: Long): Long =
    spark.sparkContext.parallelize(1 to 2, 2).map { x => Thread.sleep(ms); x }.count()

  /** Polls `cond` for up to 10 s: listener events arrive asynchronously. */
  private def eventually(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (!cond && System.nanoTime() < deadline) Thread.sleep(50)
    cond
  }

  test("results come back in argument order") {
    val got = GraftSession.concurrently(spark)(
      () => { slowJob(300); spark.range(0, 10).count() },
      () => { slowJob(150); spark.range(0, 20).count() },
      () => spark.range(0, 30).count())
    assert(got == Seq(10L, 20L, 30L))
    assert(GraftSession.concurrently(spark)() == Nil)
  }

  test("a failure is rethrown after every sibling finished, first in " +
      "argument order, and no sibling job outlives the call") {
    val started = new ConcurrentLinkedQueue[Int]()
    val ended = new ConcurrentLinkedQueue[(Int, Long)]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add((e.jobId, e.time))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val siblingDone = new AtomicBoolean(false)
      val e = intercept[IllegalStateException](GraftSession.concurrently(spark)(
        () => throw new IllegalStateException("first"),
        () => { slowJob(800); siblingDone.set(true) },
        () => throw new IllegalArgumentException("third")))
      val returnedAt = System.currentTimeMillis()
      assert(e.getMessage == "first")
      assert(siblingDone.get, "rethrown before the sibling finished")
      // a worker's failure reaches the caller unwrapped
      val w = intercept[IllegalArgumentException](GraftSession.concurrently(spark)(
        () => 1, () => throw new IllegalArgumentException("second")))
      assert(w.getMessage == "second")
      assert(eventually(started.size >= 1 &&
        started.asScala.toSet.subsetOf(ended.asScala.map(_._1).toSet)))
      assert(ended.asScala.forall(_._2 <= returnedAt),
        s"a job ended after the call returned at $returnedAt: $ended")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("the caller's job group and description reach the workers' jobs") {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[(String, String)]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((e.properties.getProperty("spark.jobGroup.id"),
          e.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(l)
    val threads = new ConcurrentLinkedQueue[String]()
    sc.setJobGroup("graft-cc-group", "graft-cc-description")
    try {
      GraftSession.concurrently(spark)(Seq.fill(3)(() => {
        threads.add(Thread.currentThread.getName)
        spark.range(0, 100).selectExpr("sum(id)").collect()
      }): _*)
      assert(threads.asScala.count(_.startsWith("graft-concurrently")) == 2, threads)
      assert(eventually(jobs.size >= 3), jobs)
      assert(jobs.asScala.forall(_ == ("graft-cc-group", "graft-cc-description")), jobs)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  test("withConf throws, naming the key, while a block is in flight") {
    val key = "spark.graft.test.concurrentProbe"
    val refused = GraftSession.concurrently(spark)(
      () => intercept[IllegalStateException](GraftSession.withConf(spark, key -> "a")(())),
      () => intercept[IllegalStateException](GraftSession.withConf(spark, key -> "b")(())))
    refused.foreach(e => assert(e.getMessage.contains(key), e.getMessage))
    assert(spark.conf.getOption(key).isEmpty)
    // after the block the scope works again
    assert(GraftSession.withConf(spark, key -> "c")(spark.conf.get(key)) == "c")
    assert(spark.conf.getOption(key).isEmpty)
  }
}
