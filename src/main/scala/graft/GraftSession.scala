package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession factory with the engine's scale posture baked in,
  * and the one module that decides session confs: every session-wide
  * planner decision is set here once, in [[builder]], and every override
  * that must stay scoped goes through [[withConf]].
  *
  * Session-wide decisions (100 TB posture, tested at local[32]):
  *  - AQE on: runtime coalescing of small shuffles + skew-join splitting,
  *    so `shuffle.partitions` can be sized for the big case without
  *    penalizing small stages.
  *  - canChangeCachedPlanOutputPartitioning on: AQE inside cached-plan
  *    compilation (see the builder comment).
  *  - autoBroadcastJoinThreshold lowered to 1 MiB: dimension tables are
  *    broadcast EXPLICITLY via `broadcast()` hints in every query; the
  *    size-estimate heuristic must never pick a column-pruned *fact*
  *    table as the build side (observed at sf0.1: Spark broadcast the
  *    600k-row lineitem scan and serialized the whole plan through one
  *    task — 3× slower than shuffling it).
  *  - shuffle.partitions = cores in local mode (driver contract says 32);
  *    a cluster deployment would size this to 2-3× total cores.
  *  - unionOutputPartitioning off: in this Spark build UnionExec can
  *    report its children's common hash partitioning while concatenating
  *    their partitions, so an aggregate or join planned on that claim
  *    skips the exchange and never sees equal keys from two children
  *    together (observed: a store compaction's `distinct` over two
  *    identically bucketed scans doubled the rows). Off, every union
  *    feeding a keyed operator gets its exchange, and a union's output
  *    has its children's partitions side by side;
  *    `StoreLifecycle.compact` refuses to run on a session where the
  *    claim is on.
  *  - auto-bucketed-scan off: the planner's heuristic drops bucketed
  *    reading when no join exploits the clustering, which also drops
  *    BUCKET PRUNING, the thing the ANN store probes (s07–s09, s12,
  *    `annSearch`) are built on: a broadcast probe join never "exploits"
  *    partitioning, so the heuristic would re-read all k buckets. Off
  *    session-wide, the traced store-ingest benchmark (seeds 9 and 21)
  *    runs the same jobs, stages and tasks as with it scoped to the
  *    probes.
  *  - parquet nanosAsLong on: `events.ts` ships as parquet
  *    TIMESTAMP(NANOS) in some data refreshes, which the reader only
  *    accepts as a long under this legacy conf; it must be in force
  *    before a read resolves, and `Tables.adaptEvents` turns the long
  *    back into the (`ts`, `ts_nanos`) contract.
  *  - codegen cache at 1000 entries (Spark's default is 100): generated
  *    classes live in one JVM-wide LRU cache, keyed by code and context
  *    class loader (so in local mode a class is cached once for the
  *    driver and once for the task threads). One curation release fills
  *    311–325 entries; store-ingest set-up plus one step ≈ 400. At 100
  *    the cache evicted all of them, so every release re-ran Janino
  *    ~310 times, mostly inside its task threads (22.6 ms per compile on
  *    average, 239 ms at most): 23% of steady-state JFR samples, and
  *    task run time 3× task CPU time. At 1000 a release compiles its
  *    classes once per JVM (seed 9: ~310 on the warm-up, then 0–43),
  *    at +5–7% peak RSS in heap pages; metaspace and code cache stay
  *    flat. 1000 is ~3× the largest measured working set, a property of
  *    the program's plan shapes, not of the data. It is a static conf,
  *    read once per JVM when the first class compiles, so only a
  *    session build can set it. Every session in `src/main`, `src/test`
  *    and `perfbench/` is built through [[builder]] (all 19
  *    `getOrCreate` calls, by grep), so every JVM of the program gets
  *    the same value.
  *  - UTC session time zone, graft SQL extensions, Kryo, no UI.
  *
  * Concurrency decision: a query runs its Spark actions one after the
  * other, except where [[concurrently]] overlaps actions that do not
  * depend on each other (the release's pair engines, its writes, its
  * reconciliation reads). At small sizes most stages run one task, so
  * a serial chain leaves cores idle between jobs. The width is the
  * number of bodies at the call site, on the default FIFO scheduler: no
  * conf key, environment variable or scheduler pool. Session confs are
  * global to the session, so [[withConf]] refuses to run while a
  * concurrent block is in flight on it.
  */
object GraftSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Extra session confs from `SPARK_GRAFT_EXTRA_CONF` ("k=v;k=v").
    * Two consumers: cluster deployments override scale-dependent knobs
    * (advisory partition size, broadcast thresholds) without a rebuild,
    * and optimization A/B runs flip one conf per run with everything
    * else held fixed. Applied LAST so they win over the baked defaults. */
  private def extraConf: Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .map { kv => val i = kv.indexOf('='); (kv.take(i), kv.drop(i + 1)) }

  def builder(appName: String): SparkSession.Builder =
    extraConf.foldLeft(SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // AQE inside cached-plan compilation (off by default): every
      // `withCache`d frame otherwise materializes at the pre-AQE
      // shuffle partition count, so each of its consumers launches that
      // many tasks per scan regardless of data size. With this on, the
      // cache keeps AQE's coalesced partitioning — scale-adaptive in
      // both directions (tiny corpora coalesce to a few partitions,
      // 100 TB corpora keep advisory-sized ones). Guide §2.2/§2.4.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (1 << 20).toString)
      .config("spark.sql.unionOutputPartitioning", "false")
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
    ) { case (b, (k, v)) => b.config(k, v) }

  def get(appName: String): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `body` with the session confs `kvs` set, then put each key back
    * as it was: a key that held a value gets it again, a key that was
    * unset is unset again — also when `body` throws. Nested scopes
    * unwind innermost first. The overrides are session-global while
    * `body` runs, so every action on the session would see them: this
    * throws, naming the first key, while a [[concurrently]] block is in
    * flight on `s` (inside one of its bodies too). */
  def withConf[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    if (kvs.nonEmpty && concurrentBlocks.synchronized(concurrentBlocks.containsKey(s)))
      throw new IllegalStateException(
        s"withConf(${kvs.head._1}): a concurrently block is in flight on this " +
          "session; a session conf set now would reach its other actions")
    val prior = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prior.reverse.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Concurrent blocks in flight per session; a session with none has no
    * entry. Weak keys: a dropped session does not stay reachable. */
  private val concurrentBlocks = new java.util.WeakHashMap[SparkSession, Integer]()

  private def enterConcurrent(s: SparkSession, delta: Int): Unit =
    concurrentBlocks.synchronized {
      val n = Option(concurrentBlocks.get(s)).fold(0)(_.intValue) + delta
      if (n == 0) concurrentBlocks.remove(s) else concurrentBlocks.put(s, n)
    }

  /** Daemon threads for [[concurrently]]'s other bodies, built on first
    * use. Cached, so the width is what the call sites ask for, and a
    * body may itself call [[concurrently]] without waiting on a slot. */
  private lazy val pool = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    java.util.concurrent.Executors.newCachedThreadPool { (r: Runnable) =>
      val t = new Thread(r, s"graft-concurrently-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  }

  /** Run independent Spark actions side by side and return their results
    * in argument order. The first body runs on the calling thread; the
    * others run on a daemon pool through
    * `SQLExecution.withThreadLocalCaptured`, so each keeps the caller's
    * active session and local properties (job group, job description).
    * Waits for EVERY body, then rethrows the first failure in argument
    * order: no job of the block outlives the call. The bodies must not
    * depend on each other's side effects. */
  def concurrently[T](s: SparkSession)(bodies: (() => T)*): Seq[T] = {
    val classic = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    enterConcurrent(s, 1)
    try {
      val others = bodies.drop(1).map(b =>
        org.apache.spark.sql.execution.SQLExecution
          .withThreadLocalCaptured(classic, pool)(b()))
      val results = bodies.headOption.map(b => attempt(b())).toSeq ++
        others.map(f => attempt(f.join()))
      results.map {
        case Right(v) => v
        case Left(e: java.util.concurrent.CompletionException)
            if e.getCause != null => throw e.getCause
        case Left(e) => throw e
      }
    } finally enterConcurrent(s, -1)
  }

  private def attempt[T](body: => T): Either[Throwable, T] =
    try Right(body) catch { case e: Throwable => Left(e) }
}
