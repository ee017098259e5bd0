package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types._
import org.apache.hadoop.fs.Path

import graft.dedup.Contamination

/** Structured Streaming surface over the `events` table.
  *
  * The reference's only "stream" is a sequential file iterator (SURVEY.md
  * §1.1); the Spark engine exposes real incremental processing:
  * `readStream` → event-time watermark → windowed aggregation →
  * `writeStream`. Queries run with `Trigger.AvailableNow` against the
  * events parquet so results are deterministic and oracle-checkable —
  * the same plan run continuously is the production shape.
  *
  * `events.ts` has shipped as both parquet TIMESTAMP(NANOS) and
  * TIMESTAMP(MICROS) across driver data refreshes; the stream reader
  * discovers the actual encoding from a batch footer peek and reuses
  * `Tables.adaptEvents` so stream and batch semantics cannot diverge
  * (the r8 hardcoded nanos schema read micros longs as nanos — every
  * timestamp 1000× small, silently wrong windows; the shared adapter's
  * range guard now makes that failure mode loud).
  */
object StreamingOps {

  private def streamEvents(s: SparkSession, d: String): DataFrame =
    // readStream requires a user-supplied schema: take the file's own
    // (footer-only read, no data scan), so whatever shape the driver
    // regenerated is the shape the stream parses
    graft.analytics.Tables.adaptEvents(
      s.readStream.schema(graft.analytics.Tables.eventsFile(s, d).schema)
        .option("pathGlobFilter", "events.parquet").parquet(d))

  /** Run `body` with streaming-sized shuffle parallelism, then restore the
    * caller's ACTUAL prior value. Each shuffle partition carries an
    * HDFS-backed state store whose per-batch checkpoint I/O dominates
    * these small stateful queries; 8 stores is plenty for the testdata
    * volumes (a production stream would size this to its key
    * cardinality). Streaming plans capture the value at `start()`, so the
    * override must span query construction through `awaitTermination`.
    * The restore is save/restore, not a reset to the GraftSession
    * default — the r4 shape clobbered any caller-set value in a shared
    * session. */
  private[streaming] def withStreamShuffle[T](s: SparkSession)(body: => T): T = {
    val prior = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try body finally s.conf.set("spark.sql.shuffle.partitions", prior)
  }

  /** The one way a stream's result leaves the stream. `stream` is built
    * inside a fresh staging dir on the session's filesystem (it may stage
    * its own source files under the dir it is handed — st05/p03) and
    * inside the streaming shuffle width, then drained with AvailableNow
    * through `foreachBatch` into parquet written from the EXECUTORS: the
    * driver never holds result rows (a memory sink would collect every
    * row there — st10/st11 emit one per corpus vector/doc). The write
    * mode follows the output mode: complete overwrites (the last batch
    * IS the final state), update and append append (update's read-back
    * reduces to the last update per key in `finish`). `perBatch` maps a
    * micro-batch to what is written (st08/p03's store admission); the
    * default writes the batch as is.
    *
    * The checkpoint sits under the staging dir, so a failed query
    * leaves nothing behind (Spark keeps its own temporary checkpoint on
    * failure). The read-back passes the captured batch schema (no
    * footer-inference job), and the `finish`ed frame is checkpointed off
    * the files before the staging dir is deleted. */
  private[graft] def drainToParquet(s: SparkSession, tag: String,
      mode: OutputMode, finish: DataFrame => DataFrame,
      perBatch: (DataFrame, DataFrame => Unit) => Unit = (b, write) => write(b))(
      stream: Path => DataFrame): DataFrame =
    graft.analytics.StagingDir.withStagingDir(s, s"graft-$tag") { root =>
      withStreamShuffle(s) {
        val out = new Path(root, "out").toString
        val writeMode = if (mode == OutputMode.Complete()) "overwrite" else "append"
        @volatile var schema: StructType = null
        val write = (df: DataFrame) => {
          schema = df.schema
          df.write.mode(writeMode).parquet(out)
        }
        stream(root).writeStream
          .option("checkpointLocation", new Path(root, "ckpt").toString)
          .foreachBatch((b: DataFrame, _: Long) => perBatch(b, write))
          .outputMode(mode).trigger(Trigger.AvailableNow()).start()
          .awaitTermination()
        if (schema == null) throw new IllegalStateException(
          s"$tag stream drained no batches — check the source wiring " +
            "(e.g. a pathGlobFilter matching no file)")
        finish(s.read.schema(schema).parquet(out)).localCheckpoint(true)
      }
    }

  /** st01: streaming tumbling-window aggregation with a watermark,
    * complete mode, drained with AvailableNow. */
  def st01_stream_window(s: SparkSession, d: String): DataFrame =
    drainToParquet(s, "st01", OutputMode.Complete(),
        _.orderBy("hour", "event_type")) { _ =>
      streamEvents(s, d)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("total_value"))
        .select(col("window.start").as("hour"), col("event_type"),
          col("n_events"), col("total_value"))
    }

  val st01Oracle: String =
    """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** st02: session windows (30-minute inactivity gap) per user — the
    * state-merging operator family; batch execution here, identical
    * semantics under `readStream`. Oracle = gaps-and-islands SQL. */
  def st02_session_window(s: SparkSession, d: String): DataFrame = {
    val ev = graft.analytics.Tables.events(s, d)
    ev.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        max(col("n_events")).as("max_session_events"))
      .orderBy(col("user_id"))
  }

  /** st02 as a real stream: the same 30-minute-gap session windows
    * computed incrementally (`session_window` state merges sessions
    * across micro-batches) in complete mode — append would need the
    * watermark to pass each session's close, which never happens for the
    * tail of a bounded drain, silently dropping the last ~gap of
    * sessions. The per-user rollup happens on the read-back, batch-side.
    * Row-identical to the batch registry row (spec-pinned). */
  private[graft] def st02_session_window_stream(s: SparkSession,
      d: String): DataFrame =
    drainToParquet(s, "st02", OutputMode.Complete(),
        _.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_sessions"),
            sum(col("n_events")).as("n_events"),
            max(col("n_events")).as("max_session_events"))
          .orderBy(col("user_id"))) { _ =>
      streamEvents(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("n_events"))
    }

  val st02Oracle: String =
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
      |           OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w
      |              >= INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM e),
      |per_session AS (
      |  SELECT user_id, session_id, COUNT(*) AS n_events
      |  FROM sess GROUP BY 1, 2)
      |SELECT user_id, COUNT(*) AS n_sessions,
      |  CAST(SUM(n_events) AS BIGINT) AS n_events,
      |  MAX(n_events) AS max_session_events
      |FROM per_session GROUP BY 1 ORDER BY 1""".stripMargin

  /** st03: streaming deduplication — the stream unioned with itself
    * (every event duplicated) then `dropDuplicates(event_id)`; counts
    * per type must equal the base table's. State-backed exact dedup is
    * the streaming twin of d01. */
  def st03_stream_dedup(s: SparkSession, d: String): DataFrame =
    drainToParquet(s, "st03", OutputMode.Complete(),
        _.orderBy("event_type")) { _ =>
      val ev = streamEvents(s, d)
      ev.union(ev)
        .dropDuplicates("event_id")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"))
    }

  val st03Oracle: String =
    """SELECT event_type, COUNT(*) AS n_events
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** st04: stream-stream inner join — purchases joined to same-user
    * clicks within the preceding hour, both sides watermarked (the
    * time-range condition bounds the join state). Oracle = the batch
    * interval join. */
  def st04_stream_stream_join(s: SparkSession, d: String): DataFrame =
    // stream-stream joins emit in Append mode only: drain the matched
    // pairs, aggregate them batch-side on the read-back
    drainToParquet(s, "st04", OutputMode.Append(),
        _.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("purchase_id")).as("n_purchases"))
          .orderBy("user_id")) { _ =>
      val ev = streamEvents(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
          col("event_id").as("click_id"))
        .withWatermark("c_ts", "2 hours")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("purchase_id"))
        .withWatermark("p_ts", "2 hours")
      purchases.join(clicks,
          col("p_user") === col("c_user") &&
            col("c_ts") <= col("p_ts") &&
            col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
        .select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"))
    }

  val st04Oracle: String =
    """SELECT p.user_id, COUNT(*) AS n_pairs,
      |  COUNT(DISTINCT p.event_id) AS n_purchases
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id
      | AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
      | AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 1 HOUR
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- custom state: flatMapGroupsWithState sessionization ----

  case class Event(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(start: Long, last: Long, n: Int, total: Double)
  case class SessionOut(user_id: Long, start_ms: Long, end_ms: Long,
      n_events: Int, total_value: Double)

  /** Session accumulator for [[flatMapSessionize]]: merges events within
    * `gapMs`, emits a session when the gap is exceeded or the group times
    * out. The streaming twin of [[st02_session_window]] with arbitrary
    * per-session state (event count + value sum) — the
    * `flatMapGroupsWithState` pattern for state Spark's built-in windows
    * can't hold. */
  def sessionStep(gapMs: Long)(
      userId: Long,
      events: Iterator[Event],
      state: org.apache.spark.sql.streaming.GroupState[SessionState])
      : Iterator[SessionOut] = {
    val sorted = events.toSeq.sortBy(_.ts.getTime)
    var cur = state.getOption
    val out = Seq.newBuilder[SessionOut]
    if (state.hasTimedOut) {
      cur.foreach(c => out += SessionOut(userId, c.start, c.last, c.n, c.total))
      state.remove()
      cur = None
    }
    sorted.foreach { e =>
      val t = e.ts.getTime
      cur match {
        case Some(c) if t - c.last < gapMs =>
          cur = Some(SessionState(c.start, math.max(c.last, t), c.n + 1,
            c.total + e.value))
        case Some(c) =>
          out += SessionOut(userId, c.start, c.last, c.n, c.total)
          cur = Some(SessionState(t, t, 1, e.value))
        case None =>
          cur = Some(SessionState(t, t, 1, e.value))
      }
    }
    cur match {
      case Some(c) =>
        state.update(c)
        state.setTimeoutTimestamp(c.last + gapMs)
      case None =>
    }
    out.result().iterator
  }

  /** Streaming sessionization over any Dataset[Event] stream. */
  def flatMapSessionize(events: org.apache.spark.sql.Dataset[Event],
      gapMs: Long): org.apache.spark.sql.Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events
      .withWatermark("ts", "30 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        sessionStep(gapMs))
  }

  case class UserTotals(user_id: Long, n_events: Long, total_value: Double)

  /** st06: per-key running state via `mapGroupsWithState` — the
    * one-output-per-key sibling of [[flatMapSessionize]]'s
    * flatMapGroupsWithState (SURVEY §2 maps both state APIs). Each user's
    * event count and value total live in arbitrary `GroupState`,
    * updated per micro-batch and emitted in Update mode; with
    * AvailableNow draining the events table the final update per user
    * equals the batch aggregate, which is the oracle. Value totals
    * accumulate in deci-cent LONGS (value has 2 decimals ⇒ ×100 is
    * integer-exact in double, and the long sum is order-insensitive —
    * the same determinism rule as s04/w08; a double running sum would
    * depend on batch arrival order). */
  def st06_running_totals(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    // Update mode emits one row per (user, batch); the LAST update per
    // user is the running total — dedup by max n_events per user
    drainToParquet(s, "st06", OutputMode.Update(),
        _.groupBy($"user_id")
          .agg(max(struct($"n_events", $"total_value")).as("m"))
          .select($"user_id", $"m.n_events".as("n_events"),
            $"m.total_value".as("total_value"))
          .orderBy($"user_id")) { _ =>
      streamEvents(s, d)
        .select($"user_id", $"value").as[(Long, Double)]
        .groupByKey(_._1)
        .mapGroupsWithState[(Long, Long), UserTotals](
          GroupStateTimeout.NoTimeout()) { (uid, rows, state) =>
          var (n, cents) = state.getOption.getOrElse((0L, 0L))
          rows.foreach { case (_, v) => n += 1; cents += math.round(v * 100) }
          state.update((n, cents))
          UserTotals(uid, n, cents / 100.0)
        }.toDF()
    }
  }

  val st06Oracle: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
      |    AS total_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** st05: streaming CRAWL INGESTION — the continuous-arrival shape of
    * the batch WARC pipeline. `.warc` containers are staged to a
    * directory (as a crawler would drop them), consumed incrementally by
    * a `binaryFile` file stream, and run through the SAME record parser
    * and enrichment chain the batch path uses
    * (`WarcSource.fromBytes` → `Pipeline.urlResources` — one code path,
    * two execution modes), aggregated per hostname in complete mode and
    * drained with AvailableNow. New files landing in the directory would
    * be picked up by the next trigger; the oracle recomputes the per-host
    * rollup from `documents`. */
  def st05_stream_warc_ingest(s: SparkSession, d: String): DataFrame =
    drainToParquet(s, "st05", OutputMode.Complete(),
        _.orderBy("hostname")) { dir =>
      graft.warc.Pipeline.urlResources(
          graft.warc.WarcSource.fromBytes(stagedWarcStream(s, d, dir)))
        .groupBy(col("hostname"))
        .agg(count(lit(1)).as("n_pages"),
          sum(col("word_count").cast("long")).as("word_sum"))
    }

  /** Stage the corpus's WARC containers under the drain's staging `dir`
    * (as a crawler would drop them) and return a `binaryFile` STREAM of
    * them — the shared front half of st05 and p03 (r12). The staging dir
    * is on the SESSION'S filesystem, so on a cluster the staged files
    * land on the shared FS where the stream source can list them, and
    * [[drainToParquet]] removes them with the rest of the dir.
    *
    * Staging writes from the EXECUTORS (foreachPartition through the
    * Hadoop FS API): the r4 shape collect()ed every WARC container to
    * the driver and wrote them there — the one corpus-sized driver
    * collect in the repo, a bottleneck at any real sf. File names are
    * partition-deterministic and creates overwrite, so a task retry
    * rewrites its own files idempotently. */
  private[streaming] def stagedWarcStream(s: SparkSession, d: String,
      dir: Path): org.apache.spark.sql.Dataset[(String, Array[Byte])] = {
    import s.implicits._
    val hconf = s.sparkContext.hadoopConfiguration
    val serConf = new graft.warc.source.SerializableHadoopConf(hconf)
    val warcDir = new Path(dir, "warc")
    warcDir.getFileSystem(hconf).mkdirs(warcDir)
    val dirStr = warcDir.toString
    graft.warc.WarcQueries.warcFiles(s, d).foreachPartition {
      (it: Iterator[(String, Array[Byte])]) =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var i = 0
        it.foreach { case (_, bytes) =>
          val p = new Path(dirStr, f"crawl-$pid%04d-$i%03d.warc")
          val out = p.getFileSystem(serConf.value).create(p, true)
          try out.write(bytes) finally out.close()
          i += 1
        }
    }
    s.readStream.format("binaryFile")
      .option("pathGlobFilter", "*.warc")
      .schema(StructType(Seq(
        StructField("path", StringType),
        StructField("modificationTime", TimestampType),
        StructField("length", LongType),
        StructField("content", BinaryType))))
      .load(dirStr)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
  }

  val st05Oracle: String =
    s"""WITH d AS (
      |  SELECT doc_id, text,
      |    'docs' || ${graft.warc.WarcQueries.hostClassSql} || '.example.gov.au' AS host
      |  FROM documents)
      |SELECT CASE WHEN doc_id % 7 = 0 THEN 'aa' || host ELSE host END AS hostname,
      |  COUNT(*) AS n_pages,
      |  CAST(SUM(6 + len(string_split(text, ' '))) AS BIGINT) AS word_sum
      |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  /** st07: STREAMING QUALITY GATE — the t07 curation rule run as a
    * continuous pipeline over arriving documents (the shape of a crawl
    * feeding curation online instead of in batches). Structured
    * Streaming allows only ONE stateful aggregation per query, so t07's
    * two-level plan (gram dedup, then per-doc rollup) can't stream;
    * the per-doc signals collapse into the map-side
    * [[graft.text.TextOps.gateKeep]] UDF (identical rule, spec-pinned
    * against t07's column formulation) and the single streaming
    * aggregation is the per-(lang, verdict) rollup. Oracle = the same
    * rule in batch SQL. */
  def st07_stream_quality_gate(s: SparkSession, d: String): DataFrame =
    drainToParquet(s, "st07", OutputMode.Complete(),
        _.orderBy("lang", "keep")) { _ =>
      val docsSchema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("text", StringType),
        StructField("lang", StringType),
        StructField("source", StringType),
        StructField("n_chars", LongType)))
      val keepU = udf { text: String => graft.text.TextOps.gateKeep(text) }
      s.readStream.schema(docsSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
        .select(col("lang"), keepU(col("text")).as("keep"))
        .groupBy(col("lang"), col("keep"))
        .agg(count(lit(1)).as("n_docs"))
    }

  val st07Oracle: String = {
    val toks = graft.text.TextOps.oracleToks("text")
    raw"""WITH base AS (
      |  SELECT doc_id, lang,
      |    CAST(len($toks) AS BIGINT) AS n_tok,
      |    CAST(len(list_filter($toks,
      |      x -> x IN ('the','a','of','to','in','and','is','on','for','with'))) AS BIGINT) AS n_stop,
      |    CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS BIGINT) AS n_punct,
      |    CAST(length(text) AS BIGINT) AS n_chars_m
      |  FROM documents),
      |toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
      |  FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    CASE WHEN len(ts) < 3 THEN array_to_string(ts, ' ')
      |         ELSE array_to_string(ts[i:i+2], ' ') END AS gram
      |  FROM toks, UNNEST(range(1, GREATEST(len(ts) - 1, 2))) AS u(i)),
      |c AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2),
      |rep AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams,
      |          COUNT(*) AS n_distinct
      |        FROM c GROUP BY 1),
      |j AS (SELECT * FROM base JOIN rep USING (doc_id))
      |SELECT lang,
      |  NOT (n_tok < 30 OR n_stop * 1000 < n_tok * 15
      |    OR n_punct * 10 > n_chars_m
      |    OR (n_grams - n_distinct) * 10 > n_grams) AS keep,
      |  COUNT(*) AS n_docs
      |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }


  /** st10: STREAMING SEMANTIC-CONTAMINATION GATE — d21's paraphrase
    * screen run as continuous admission: every incoming embedding is
    * checked against the (small, broadcast) benchmark BEFORE it can
    * enter the corpus, the placement a decontamination stage actually
    * wants at 100 TB — screen on ingest, never re-scan the corpus.
    *
    * The verdict is STATELESS per row (the d21 semantics exactly: band
    * signature via md5-Rademacher fixed-point sign bits, candidates =
    * benchmark members sharing ≥1 of 8 byte-bands, contaminated iff any
    * candidate's exact cosine ≥ 0.9), so the stream needs no watermark,
    * no state store, and scales as a pure map over the source — the
    * benchmark index rides the closure like a broadcast. Per-vector
    * output: `contaminated` plus the max 2^32-quantized candidate
    * cosine (−2·2^32 — outside the valid qcos range — when no band
    * collides: the honest "never even compared" marker; −1 would
    * collide with real negative-cosine candidates). Benchmark members streaming past flag
    * THEMSELVES at cosine 1.0 (verbatim leakage); everything else on
    * this corpus stays below 0.9, and sub-threshold band collisions
    * exercise the reject path (the d21 discrimination story).
    *
    * Oracle: the full path in SQL — the d21 signature/bucket CTEs over
    * the whole corpus, cosFold verify, per-vector bool_or/max rollup,
    * LEFT JOIN back so never-collided vectors carry (false, −1). */
  def st10_stream_semantic_gate(s: SparkSession, d: String): DataFrame =
    st10Against(s, d, st10FixtureBench(s, d))

  /** The fixture benchmark split — d21's contract (`vec_id <` BenchN),
    * one Scala-side source of truth with the batch operator. */
  private[graft] def st10FixtureBench(s: SparkSession, d: String): DataFrame =
    s.read.option("pathGlobFilter", "embeddings.parquet").parquet(d)
      .select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") < Contamination.BenchN)

  /** st10 against a CALLER-SUPPLIED benchmark `(vec_id, embedding)` —
    * the operator contract the fixture query instantiates (r17 verdict
    * item 4); pass e.g. `spark.read.parquet(benchPath)`. The benchmark
    * rides the verdict UDF's closure, so the driver collect is capped
    * LOUDLY at `spark.graft.decontam.benchMaxRows` — an over-bound
    * benchmark raises with the conf named instead of OOMing; that
    * regime belongs to batch [[Contamination.d15Against]]/d21's
    * digest-join shapes. */
  def st10Against(s: SparkSession, d: String,
      benchVecs: DataFrame): DataFrame =
    drainToParquet(s, "st10", OutputMode.Append(), _.orderBy("vec_id")) { _ =>
      // band geometry referenced from the batch operator's constants —
      // st10 IS d21 as admission, so the two cannot desynchronize
      // (r17 ADVICE; the oracle SQL still states the literals)
      val nBands = Contamination.D21Bands; val bits = Contamination.D21Bits
      val planes = graft.sim.SimilarityOps.md5Planes(nBands * bits, 64)
      def bandKeys(v: Seq[Float]): Array[Long] = {
        val sig = graft.sim.SimilarityOps.md5SignBits(v, planes)
        Array.tabulate(nBands)(b =>
          (b.toLong << 32) | ((sig >>> (b * bits)) & ((1L << bits) - 1)))
      }
      // benchmark index: a capped driver collect (32 rows on the
      // fixture), carried into the verdict UDF like a broadcast
      val bench: Array[(Long, Array[Float], Array[Long])] =
        Contamination.cappedCollect(
          benchVecs.select(col("vec_id"), col("embedding")), "st10 benchmark")
        .map(r => {
          val v = r.getSeq[Float](1).toArray
          (r.getLong(0), v, bandKeys(v))
        })
      // "never even band-collided" marker: −2·2^32, strictly outside the
      // quantized-cosine range [−2^32, 2^32] — a plain −1 would collide
      // with real negative-cosine candidates (qcos < −1 exists, so a −1
      // sentinel silently wins the max; caught by the sf0.001 oracle)
      val NoCand = -8589934592L
      val verdictU = udf { v: Seq[Float] =>
        val keys = bandKeys(v)
        var contaminated = false
        var qmax = NoCand
        bench.foreach { case (_, bv, bk) =>
          if (keys.exists(k => bk.contains(k))) {
            val cos = graft.sim.SimilarityOps.cosineArr(v.toArray, bv)
            val q = graft.sim.SimilarityOps.qCosKey(cos)
            if (q > qmax) qmax = q
            if (cos >= 0.9) contaminated = true
          }
        }
        (contaminated, qmax)
      }
      val embSchema = s.read
        .option("pathGlobFilter", "embeddings.parquet").parquet(d).schema
      s.readStream.schema(embSchema)
        .option("pathGlobFilter", "embeddings.parquet").parquet(d)
        .select(col("vec_id"), verdictU(col("embedding")).as("v"))
        .select(col("vec_id"), col("v._1").as("contaminated"),
          col("v._2").as("qcos_max"))
    }

  val st10Oracle: String = {
    import graft.sim.SimilarityOps.cosFoldSql
    s"""WITH bench AS (
      |  SELECT vec_id AS bench_id, embedding
      |  FROM embeddings WHERE vec_id < 32),
      |sgn AS (
      |  SELECT b,
      |    list_transform(range(0, 64), i -> CASE WHEN
      |        strpos('02468ace', substr(md5('lsh:' || b || ':' || i), 1, 1)) > 0
      |      THEN 1 ELSE -1 END) AS srow
      |  FROM (SELECT unnest(range(0, 64)) AS b)),
      |cq AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * 16777216) AS BIGINT)) AS qv
      |  FROM embeddings),
      |cbits AS (
      |  SELECT vec_id, b // 8 AS band,
      |    CAST(SUM(CASE WHEN list_sum(
      |        list_transform(range(0, 64), i -> sgn.srow[i + 1] * qv[i + 1])
      |      ) > 0 THEN (1 << (b % 8)) ELSE 0 END) AS BIGINT) AS byte
      |  FROM cq CROSS JOIN sgn GROUP BY vec_id, b // 8),
      |cand AS (
      |  -- benchmark bits are the corpus bits of vec_id < 32 (the bench
      |  -- IS a corpus subset here), so one self-join replaces a second
      |  -- signature CTE
      |  SELECT DISTINCT cb.vec_id, bb.vec_id AS bench_id
      |  FROM cbits cb JOIN cbits bb
      |    ON cb.band = bb.band AND cb.byte = bb.byte AND bb.vec_id < 32),
      |scored AS (
      |  SELECT c.vec_id,
      |    ${cosFoldSql("e.embedding", "b.embedding")} AS cos
      |  FROM (SELECT vec_id, bench_id FROM cand) c
      |  JOIN embeddings e ON e.vec_id = c.vec_id
      |  JOIN bench b ON b.bench_id = c.bench_id),
      |per AS (
      |  SELECT vec_id, bool_or(cos >= 0.9) AS contaminated,
      |    MAX(CAST(trunc(cos * 4294967296) AS BIGINT)) AS qcos_max
      |  FROM scored GROUP BY 1)
      |SELECT e.vec_id, COALESCE(p.contaminated, false) AS contaminated,
      |  COALESCE(p.qcos_max, -8589934592) AS qcos_max
      |FROM embeddings e LEFT JOIN per p USING (vec_id)
      |ORDER BY vec_id""".stripMargin
  }

  /** st11: STREAMING N-GRAM DECONTAMINATION GATE — d15's 13-gram
    * benchmark-overlap scoring run as continuous admission (the
    * quartet's last seat: st07 screens quality, st08 duplicates, st10
    * paraphrase leakage, st11 verbatim-excerpt leakage). Each incoming
    * doc's distinct 13-gram digests are probed against the benchmark
    * gram set inside ONE stateless per-row UDF; flagged iff
    * 2·hits ≥ n13 (the integer form of d15's ≥ 0.5 rule — identical on
    * integers, no float ever decides) with n13 > 0. Docs under 13
    * tokens emit (0, 0, false) — a gate must decide EVERY doc.
    *
    * The benchmark set rides the closure like a broadcast: here it is
    * d15's corpus-derived fixture (every 97th doc's middle slice,
    * ~corpus/97 docs of grams — a bounded driver collect at the gate
    * SFs, stated bound), but the OPERATOR contract is an external
    * broadcast-sized benchmark suite (the d21/GPT-3 assumption); a
    * corpus-sized benchmark belongs to batch d15's digest-join shape,
    * not this gate. Scale: pure map over the stream, no state store,
    * no shuffle.
    *
    * Oracle: d15's CTEs reshaped per-doc (bench grams, per-doc
    * distinct grams, LEFT JOIN hit count, the integer flag rule), LEFT
    * JOINed back so sub-13-token docs carry (0, 0, false). The spec
    * additionally reconciles Σ flagged against d15's own n_flagged —
    * two independent implementations of the same rule. */
  def st11_stream_ngram_gate(s: SparkSession, d: String): DataFrame =
    st11Against(s, d, st11FixtureBench(s, d))

  /** The fixture benchmark SUITE as one text row per item — the exact
    * d15 derivation (every 97th doc, first/last 5 tokens dropped),
    * re-joined to text so the fixture flows through the same
    * external-benchmark contract as a caller's parquet of docs.
    * Token-exact under re-splitting: tokens come from `\s+` splits, so
    * they contain no whitespace and `array_join(…, ' ')` round-trips. */
  /** `replica0Only = true` bounds the derivation to replica 0 of a
    * genScaled corpus (ids under the 1,000,000 stride) — the FIXED
    * benchmark the st11fixed 100x contract row drives through
    * [[st11Against]]; at a base corpus the bound is vacuous, so the
    * fixed benchmark coincides with the registered fixture's exactly
    * (one derivation, not a hand-kept copy). */
  private[graft] def st11FixtureBench(s: SparkSession, d: String,
      replica0Only: Boolean = false): DataFrame = {
    val N = 13
    val tk = split(trim(col("text")), "\\s+")
    val docs = s.read.option("pathGlobFilter", "documents.parquet").parquet(d)
    (if (replica0Only) docs.filter(col("doc_id") < graft.Dev.ReplicaStride)
     else docs)
      .select(col("doc_id"), tk.as("tk"))
      .filter(col("doc_id") % 97 === 0 && size(col("tk")) >= N + 10)
      .select(expr(s"array_join(slice(tk, 6, size(tk) - 10), ' ')").as("text"))
  }

  /** st11 against a CALLER-SUPPLIED benchmark suite `(text)` — one row
    * per benchmark item (r17 verdict item 4); pass e.g.
    * `spark.read.parquet(benchPath)`. The distinct gram-digest set
    * rides the gate UDF's closure, so its driver collect is capped
    * LOUDLY at `spark.graft.decontam.benchMaxRows` (the r17 fixture
    * collect grew with corpus/97 and would have OOMed silently at some
    * scale) — a corpus-sized benchmark belongs to batch
    * [[Contamination.d15Against]]'s digest-join shape, and the error
    * says so. */
  def st11Against(s: SparkSession, d: String,
      benchDocs: DataFrame): DataFrame =
    drainToParquet(s, "st11", OutputMode.Append(), _.orderBy("doc_id")) { _ =>
      val N = 13
      val docsBatch = s.read
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      val tk = split(trim(col("text")), "\\s+")
      val grams = expr(s"transform(sequence(1, size(tk) - ${N - 1}), " +
        s"i -> md5(array_join(slice(tk, i, $N), ' ')))")
      val benchSet: Set[String] = Contamination.cappedCollect(
        benchDocs.select(tk.as("tk")).filter(size(col("tk")) >= N)
          .select(explode(grams).as("g")).distinct(),
        "st11 benchmark gram set")
        .map(_.getString(0)).toSet
      val gateU = udf { text: String =>
        val toks = graft.dedup.DedupOps.WsPattern
          .split(graft.dedup.DedupOps.sqlTrim(text))
        if (toks.length < N) (0L, 0L, false)
        else {
          // thread-local digest + table hex (DedupOps.md5Hex): a
          // getInstance + "%02x".format per gram dominated this hot
          // per-token path (r17 ADVICE)
          val gs = toks.sliding(N)
            .map(w => graft.dedup.DedupOps.md5Hex(w.mkString(" "))).toSet
          val hits = gs.count(benchSet)
          (gs.size.toLong, hits.toLong, hits * 2 >= gs.size && gs.nonEmpty)
        }
      }
      val docsSchema = docsBatch.schema
      s.readStream.schema(docsSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
        .select(col("doc_id"), gateU(col("text")).as("v"))
        .select(col("doc_id"), col("v._1").as("n13"), col("v._2").as("hits"),
          col("v._3").as("flagged"))
    }

  val st11Oracle: String =
    raw"""WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
      |  FROM documents),
      |bench AS (
      |  SELECT doc_id AS bench_id, tk[6:len(tk)-5] AS tk
      |  FROM toks WHERE doc_id % 97 = 0 AND len(tk) >= 23),
      |bench_grams AS (
      |  SELECT DISTINCT md5(array_to_string(tk[i:i+12], ' ')) AS g
      |  FROM bench, UNNEST(range(1, len(tk) - 11)) AS u(i)),
      |doc_grams AS (
      |  SELECT DISTINCT doc_id, md5(array_to_string(tk[i:i+12], ' ')) AS g
      |  FROM toks, UNNEST(range(1, len(tk) - 11)) AS u(i)
      |  WHERE len(tk) >= 13),
      |per AS (
      |  SELECT dg.doc_id, COUNT(*) AS n13, COUNT(bg.g) AS hits
      |  FROM doc_grams dg LEFT JOIN bench_grams bg ON dg.g = bg.g
      |  GROUP BY 1)
      |SELECT t.doc_id, COALESCE(p.n13, 0) AS n13,
      |  COALESCE(p.hits, 0) AS hits,
      |  COALESCE(p.hits * 2 >= p.n13 AND p.n13 > 0, false) AS flagged
      |FROM toks t LEFT JOIN per p USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st07_stream_quality_gate" -> (st07_stream_quality_gate _),
    "st10_stream_semantic_gate" -> (st10_stream_semantic_gate _),
    "st11_stream_ngram_gate" -> (st11_stream_ngram_gate _),
    "st01_stream_window" -> (st01_stream_window _),
    "st02_session_window" -> (st02_session_window _),
    "st03_stream_dedup" -> (st03_stream_dedup _),
    "st04_stream_stream_join" -> (st04_stream_stream_join _),
    "st05_stream_warc_ingest" -> (st05_stream_warc_ingest _),
    "st06_running_totals" -> (st06_running_totals _),
  )

  val oracle: Map[String, String] = Map(
    "st07_stream_quality_gate" -> st07Oracle,
    "st10_stream_semantic_gate" -> st10Oracle,
    "st11_stream_ngram_gate" -> st11Oracle,
    "st01_stream_window" -> st01Oracle,
    "st02_session_window" -> st02Oracle,
    "st03_stream_dedup" -> st03Oracle,
    "st04_stream_stream_join" -> st04Oracle,
    "st05_stream_warc_ingest" -> st05Oracle,
    "st06_running_totals" -> st06Oracle,
  )
}
