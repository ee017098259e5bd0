package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table loader for the driver-generated TPC-H-ish testdata
  * (see /root/repo/TESTDATA.md). One parquet file per table under
  * `sfDir`. Reads are plain `spark.read.parquet` so Catalyst gets
  * column pruning + predicate pushdown into the scan for free.
  */
object Tables {
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  /** The driver regenerates `/root/testdata` between rounds and `events.ts`
    * has already shipped in two shapes: parquet TIMESTAMP(NANOS) (which
    * Spark's vectorized reader only accepts as long via the legacy conf)
    * and parquet TIMESTAMP(MICROS) (which Spark reads natively as
    * TIMESTAMP_NTZ). Adapt on the LOADED schema instead of hardcoding one
    * shape — the r8 hardcode broke 9 queries at analysis time and silently
    * corrupted 2 streaming answers when the shape flipped. The surfaced
    * contract is constant either way: `ts` TimestampType at micro
    * precision (session tz is UTC, so the NTZ→TZ cast is a no-op on the
    * stored micros) and `ts_nanos` LongType (exact nanos for the nanos
    * source; micros*1000 otherwise — identical to DuckDB `epoch_ns(ts)`
    * on the same file).
    */
  def events(s: SparkSession, d: String): DataFrame = adaptEvents(eventsFile(s, d))

  /** The events parquet as stored, before [[adaptEvents]] — for callers
    * that need the file's own schema (the stream reader) or rows
    * (Dev's corpus scaler). The one place that sets the nanos-as-long
    * legacy conf: it must be set before the read resolves. */
  private[graft] def eventsFile(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    apply(s, d, "events")
  }

  /** Expected events columns; `ts` is checked separately by dtype. */
  private val eventsCols = Seq("event_id", "ts", "user_id", "event_type",
    "value", "props")

  /** Normalize any tolerated `ts` encoding to the (`ts`, `ts_nanos`)
    * contract; any OTHER shape fails loudly with a named error (the
    * alternative — a wrong-unit read — is a silent 1000× timestamp shift
    * that only shows up as wrong aggregates downstream).
    */
  private[graft] def adaptEvents(raw: DataFrame): DataFrame = {
    val missing = eventsCols.filterNot(raw.columns.contains)
    require(missing.isEmpty,
      s"events table missing expected columns $missing; got ${raw.columns.toSeq}")
    val adapted = raw.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) read as long via the legacy conf
        raw.withColumnRenamed("ts", "ts_nanos")
          // integer division — double division loses precision at 1e18 nanos
          .withColumn("ts", timestamp_micros(expr("ts_nanos div 1000")))
      case TimestampNTZType => // TIMESTAMP(MICROS, isAdjustedToUTC=false)
        raw.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_nanos", unix_micros(col("ts")) * lit(1000L))
      case TimestampType => // TIMESTAMP(MICROS, isAdjustedToUTC=true)
        raw.withColumn("ts_nanos", unix_micros(col("ts")) * lit(1000L))
      case other => throw new IllegalArgumentException(
        s"events.ts has unsupported type $other — tolerated encodings are " +
          "parquet TIMESTAMP(NANOS) (long via nanosAsLong) and " +
          "TIMESTAMP(MICROS) (TimestampType/TimestampNTZType); extend " +
          "Tables.adaptEvents for the new shape")
    }
    adapted.withColumn("ts", guardTs(col("ts")))
  }

  /** Runtime unit guard: a micros-vs-nanos mix-up lands every timestamp
    * near 1970 (1000× shrink) or past 10⁵ AD (1000× stretch), so a sane
    * year range catches both loudly instead of producing silently-wrong
    * windows (the r8 st01/st04 failure mode). Codegen'd per-row
    * `CASE WHEN`, negligible next to the scan.
    */
  private def guardTs(c: Column): Column = {
    val lo = lit(java.sql.Timestamp.valueOf("1990-01-01 00:00:00"))
    val hi = lit(java.sql.Timestamp.valueOf("2100-01-01 00:00:00"))
    when(c.isNull || c.between(lo, hi), c).otherwise(raise_error(concat(
      lit("events.ts outside sane range [1990, 2100): "), c.cast("string"),
      lit(" — timestamp unit mismatch in the loader?"))))
  }
  /** documents/embeddings are driver-regenerated between rounds like
    * events — a column rename there would otherwise surface as dozens of
    * unresolved-attribute errors deep inside operators instead of one
    * named failure at the load (footer-only check, no data scan). */
  private def expectCols(df: DataFrame, table: String,
      cols: Seq[String]): DataFrame = {
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"$table table missing expected columns $missing; got " +
        s"${df.columns.toSeq} — driver testdata shape changed?")
    df
  }
  // only the LOAD-BEARING columns are asserted (spec fixtures synthesize
  // minimal tables; optional columns fail naturally at the few queries
  // that select them)
  def documents(s: SparkSession, d: String): DataFrame =
    expectCols(apply(s, d, "documents"), "documents", Seq("doc_id", "text"))
  def embeddings(s: SparkSession, d: String): DataFrame =
    expectCols(apply(s, d, "embeddings"), "embeddings",
      Seq("vec_id", "embedding"))
}
