package graft.warc

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** w08's loop drops the per-round `nodes` join on the invariant
  * dsts ⊇ srcs (every parsed page plants a self-edge). A graph that
  * breaks it must fail loudly, never return a shrunken rank table. */
class PageRankGuardSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("pagerank-guard-spec").master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("w08 pagerank: a src with no self-edge that is never a dst throws") {
    val sp = spark
    import sp.implicits._
    val covered = Seq((1L, 1L), (1L, 2L), (2L, 2L), (2L, 1L))
      .toDF("src", "dst").localCheckpoint(true)
    assert(WarcQueries.w08Ranks(sp, covered).count() == 2)
    // node 3 links out but has no self-edge and no in-link
    val planted = Seq((1L, 1L), (1L, 2L), (2L, 2L), (3L, 2L))
      .toDF("src", "dst").localCheckpoint(true)
    val e = intercept[IllegalStateException](WarcQueries.w08Ranks(sp, planted))
    assert(e.getMessage.contains("1 node(s)"), e.getMessage)
    assert(sp.conf.get("spark.sql.adaptive.enabled") == "true",
      "the guard must fire before the loop's session-conf overrides")
  }
}
