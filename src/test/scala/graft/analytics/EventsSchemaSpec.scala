package graft.analytics

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** The driver regenerates /root/testdata between rounds and events.ts has
  * already shipped as both parquet TIMESTAMP(NANOS) and TIMESTAMP(MICROS)
  * (the r8→r9 flip broke 9 queries and silently corrupted 2 streaming
  * answers). This spec pins `Tables.adaptEvents` for every tolerated
  * encoding — synthesizing each shape in-test — so the NEXT shape change
  * fails here with a named error, not as a silent 1000× timestamp shift.
  */
class EventsSchemaSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("events-schema-spec").master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  // 2024-03-01T00:00:00Z plus a sub-milli remainder: micros survive the
  // micro path exactly; the nanos literal additionally carries sub-micro
  // digits that must truncate (div, not round) on the nanos path.
  private val EpochMicros = 1709251200000000L + 123456L
  private val EpochNanos  = EpochMicros * 1000L + 789L

  private def baseRow(tsCol: org.apache.spark.sql.Column) = {
    val s = spark
    import s.implicits._
    Seq((1L, 7L, "click", 1.5, "{}"))
      .toDF("event_id", "user_id", "event_type", "value", "props")
      .withColumn("ts", tsCol)
  }

  private def checkContract(adapted: org.apache.spark.sql.DataFrame,
                            wantNanos: Long): Unit = {
    assert(adapted.schema("ts").dataType === TimestampType)
    assert(adapted.schema("ts_nanos").dataType === LongType)
    val row = adapted.select(unix_micros(col("ts")), col("ts_nanos")).collect()(0)
    assert(row.getLong(0) === wantNanos / 1000L) // truncation, not rounding
    assert(row.getLong(1) === wantNanos)
  }

  test("nanos-as-long shape adapts: ts truncated to micros, ts_nanos exact") {
    checkContract(Tables.adaptEvents(baseRow(lit(EpochNanos))), EpochNanos)
  }

  test("TIMESTAMP_NTZ (micros parquet) shape adapts under UTC session tz") {
    val df = baseRow(timestamp_micros(lit(EpochMicros)).cast(TimestampNTZType))
    checkContract(Tables.adaptEvents(df), EpochMicros * 1000L)
  }

  test("TimestampType shape adapts unchanged") {
    val df = baseRow(timestamp_micros(lit(EpochMicros)))
    checkContract(Tables.adaptEvents(df), EpochMicros * 1000L)
  }

  test("parquet round-trip of the micros shape through Tables.events") {
    val dir = Files.createTempDirectory("events-schema-spec").toFile
    dir.deleteOnExit()
    val df = baseRow(timestamp_micros(lit(EpochMicros)).cast(TimestampNTZType))
    // one file named exactly events.parquet, like the driver's layout
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    checkContract(Tables.events(spark, dir.toString), EpochMicros * 1000L)
  }

  test("unsupported ts dtype fails with a named error, not a wrong-unit read") {
    val err = intercept[IllegalArgumentException] {
      Tables.adaptEvents(baseRow(lit("2024-03-01 00:00:00")))
    }
    assert(err.getMessage.contains("events.ts has unsupported type"))
    assert(err.getMessage.contains("adaptEvents"))
  }

  test("missing expected column fails loudly") {
    val err = intercept[IllegalArgumentException] {
      Tables.adaptEvents(baseRow(lit(EpochNanos)).drop("props"))
    }
    assert(err.getMessage.contains("props"))
  }

  test("unit-mismatch guard: 1970-vintage timestamps raise at runtime") {
    // micros value read as if nanos → lands in 1970; the guard must
    // turn that silent shrink into a loud failure on first action
    val df = Tables.adaptEvents(baseRow(lit(EpochMicros))) // nanos path, 1000× small
    val err = intercept[Exception](df.select("ts").collect())
    assert(err.getMessage.contains("sane range"))
  }
}
