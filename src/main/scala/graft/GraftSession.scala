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
  *  - UTC session time zone, graft SQL extensions, Kryo, no UI.
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
    * `body` runs: queries on one session run serially. */
  def withConf[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prior = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prior.reverse.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
