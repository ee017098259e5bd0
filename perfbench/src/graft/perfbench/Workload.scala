package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** What one operation did: its wall time, whether its output checked
  * out, and the user bytes it read and the bytes it wrote. `parts`
  * splits the wall time where an operation has more than one phase. */
final case class OpResult(seconds: Double, correct: Boolean, inBytes: Long,
    outBytes: Long, records: Long, parts: Map[String, Double] = Map.empty)

/** Per-layer numbers of one traced operation, plus the listener's
  * counts by job group. */
final case class LayerReport(values: Map[String, Double], counts: Map[String, Counts])

trait Workload {
  def name: String
  /** One-line description of the input size, printed with the results. */
  def inputSize: String
  /** Inputs that Spark has to write (parquet); untimed. */
  def generate(spark: SparkSession): Unit
  /** Set-up work after the session starts (store builds). */
  def setup(spark: SparkSession): Unit
  def op(spark: SparkSession, i: Int): OpResult
  /** Operation `i` again, split into layer spans. */
  def tracedOp(spark: SparkSession, i: Int, t: Tracer): (OpResult, LayerReport)
  /** Job groups whose Spark work makes up the real operation (the
    * `spark` layer); other groups are probes the traced run adds. */
  def opGroups: Seq[String]
  /** Fewest operations a run times, and the unit they come in (a
    * store-ingest run times whole compaction cycles). */
  def minOps: Int
  def cycle: Int = 1
  /** Untimed warm-up operations at the end of set-up. */
  def warmOps: Int = 1
  /** Check that runs once after the timed loop. */
  def finalCheck(spark: SparkSession): Boolean = true
}

object Workload {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Bytes written through Hadoop's local file system so far (task
    * threads and the calling thread alike; includes its checksum sidecar
    * files). */
  def fsBytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  /** Executes `df` reading every column (maps through their keys and
    * values) and returns (rows, rows where `flag` holds). No shuffle: one
    * job, one stage, so a cumulative prefix costs only the work of its
    * layers. A plain count would let column pruning skip the work. */
  def force(df: DataFrame, flag: org.apache.spark.sql.Column = lit(false)): (Long, Long) = {
    val cols = df.schema.fields.toSeq.flatMap { f =>
      f.dataType match {
        case _: MapType => Seq(map_keys(col(f.name)), map_values(col(f.name)))
        case _ => Seq(col(f.name))
      }
    }
    df.select(xxhash64(cols: _*), flag).queryExecution.toRdd.map(_.getBoolean(1))
      .aggregate((0L, 0L))({ case ((n, f), b) => (n + 1, f + (if (b) 1 else 0)) },
        { case ((n1, f1), (n2, f2)) => (n1 + n2, f1 + f2) })
  }

  /** Difference of cumulative-prefix counts: what layer `g` adds to the
    * prefix before it (`prev`), charged to layer `layer`. */
  def countDiff(layer: String, c: Map[String, Counts], g: String,
      prev: Option[String]): Map[String, Double] = {
    val z = new Counts
    val a = c.getOrElse(g, z)
    val b = prev.flatMap(c.get).getOrElse(z)
    Map(
      s"$layer.jobs" -> (a.jobs - b.jobs).toDouble,
      s"$layer.stages" -> (a.stages - b.stages).toDouble,
      s"$layer.tasks" -> (a.tasks - b.tasks).toDouble,
      s"$layer.shuffle_bytes" -> (a.shuffleBytes - b.shuffleBytes).toDouble,
      s"$layer.output_bytes" -> (a.outputBytes - b.outputBytes).toDouble)
  }
}
