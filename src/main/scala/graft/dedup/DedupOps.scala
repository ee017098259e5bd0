package graft.dedup

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import graft.analytics.Tables

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard (embedding near-dup lives in
  * `graft.sim`).
  *
  * The testdata `documents` table has no duplicates, so each query first
  * PLANTS deterministic duplicates/near-duplicates (doc_id + 100000,
  * exact copy or last-token-dropped copy) — a pure function of the base
  * table, so oracles can state the expected pair set exactly and recall
  * of the probabilistic methods is measurable.
  *
  * Scale shapes (100 TB posture):
  *  - exact dedup = hash aggregate on a digest — one shuffle on md5.
  *  - MinHash LSH = signature UDF (map-side) → explode bands → shuffle
  *    on (band, bucket) → per-bucket pairs → verify join. No all-pairs
  *    product anywhere; cost is bounded by bucket sizes.
  *  - SimHash = 64-bit signature, pigeonhole banding (4×16 bits ⇒ any
  *    pair within hamming ≤3 shares a band) → same bucket-join shape.
  *  - n-gram Jaccard = inverted-index self-join on shingles (explode →
  *    shuffle on shingle → pair counts). Exact, and the one to prefilter
  *    with MinHash when corpus size makes |pairs| explode.
  */
object DedupOps {

  val Shift = 100000L

  /** The testdata is a single parquet row group ⇒ one scan task; the
    * signature UDFs downstream are the expensive part, so spread rows
    * across the cluster first (at production scale parallelism comes
    * from the file count and this repartition is a no-op cost-wise). */
  private[dedup] def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Persist `toCache` for the duration of `build`, eagerly materialize
    * the (aggregate-sized) result via `localCheckpoint`, then unpersist —
    * so multi-consumer UDF subtrees run once AND no large cached blocks
    * leak into a shared session after the operator returns. The
    * checkpointed result's blocks are reference-tracked and reclaimed by
    * the ContextCleaner once the returned DataFrame is dropped, unlike
    * `persist()` entries which outlive their last reader until an
    * explicit `unpersist`/`clearCache`. */
  private[graft] def withCache(toCache: DataFrame)(build: DataFrame => DataFrame): DataFrame =
    withCacheImpl(toCache, eager = true)(build)

  /** `eager = false` skips the materializing checkpoint and returns the
    * full LAZY plan — used by PlanSpec to inspect the physical plan of
    * checkpointing operators (a checkpointed result's plan is just a
    * LogicalRDD scan, which would hide the query from plan assertions). */
  private[graft] def withCacheImpl(toCache: DataFrame, eager: Boolean)(
      build: DataFrame => DataFrame): DataFrame = {
    val cached = toCache.persist()
    try {
      val out = build(cached)
      if (eager) out.localCheckpoint(true) else out
    } finally cached.unpersist(false)
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.dedup")

  private[dedup] val guardObsId = new java.util.concurrent.atomic.AtomicLong(0L)
  private val guardListenerSessions =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  /** Surface oversized-bucket overflow WITHOUT an extra job: the star
    * branch carries a `CollectMetrics` node (`Dataset.observe`) whose
    * aggregates are computed as rows stream through the existing plan, and
    * this listener (registered once per session) logs them after each
    * action. The r2 implementation ran a driver-side `count()` during
    * operator CONSTRUCTION — a full extra pass over the bucket table for
    * every guarded query (d02/d03/s02), even when nothing overflowed, and
    * it made building the DataFrame have side effects. */
  private[dedup] def ensureGuardListener(s: SparkSession): Unit =
    if (guardListenerSessions.add(s))
      s.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (name, m) =>
            if (name.startsWith("graft_bucket_guard") && !m.isNullAt(0) && m.getLong(0) > 0)
              log.warn(s"$name: ${m.getLong(0)} member(s) of oversized LSH bucket(s) " +
                s"(largest ${m.getLong(1)}) star-linked to their min-id representative " +
                "instead of emitting all pairs (cluster connectivity preserved)")
          }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
      })

  /** Candidate pairs from an LSH bucket table `(doc_id, key…)`, with an
    * oversized-bucket guard. Buckets of ≤ `cap` docs emit all intra-bucket
    * pairs (the exact LSH candidate set). A degenerate bucket — N
    * near-identical docs, common in real crawls — would be O(N²) there,
    * so buckets over `cap` instead STAR-LINK: every member pairs with the
    * bucket's min-id representative, O(N) rows, which still connects the
    * whole near-dup cluster through the representative once pairs are
    * verified (union-find over confirmed pairs recovers the component).
    * NOTE this is a deliberate CONTRACT CHANGE above the cap: the emitted
    * pair SET is star-shaped, not all-pairs — an exact-pair-set consumer
    * (like the oracle compare) must keep its data under `cap` or raise
    * it; cluster/keeper consumers are unaffected. No sub-quadratic
    * algorithm can emit the full pair set of an N-identical-doc bucket
    * (the output itself is O(N²)). Overflow is observed in-flight
    * (`Dataset.observe` — zero extra jobs) and logged after each action —
    * silent truncation at 100 TB would read as "covered everything"
    * when it didn't. */
  private[graft] def guardedBucketPairs(buckets: DataFrame, keyCols: Seq[String],
      cap: Int = 1000): DataFrame = {
    val sizes = buckets.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("bkt_n"), min(col("doc_id")).as("bkt_rep"))
    val withSize = buckets.join(sizes, keyCols)
    val small = withSize.filter(col("bkt_n") <= cap)
      .select(col("doc_id") +: keyCols.map(col): _*)
    val smallPairs = small.as("a").join(small.as("b"),
        keyCols.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    // bkt_rep = min(doc_id) ⇒ rep < member, so (id_a, id_b) stays ordered
    ensureGuardListener(buckets.sparkSession)
    val starPairs = withSize
      .filter(col("bkt_n") > cap && col("doc_id") =!= col("bkt_rep"))
      .observe(s"graft_bucket_guard_${guardObsId.incrementAndGet()}",
        count(lit(1)).as("n_star_members"), max(col("bkt_n")).as("max_bucket"))
      .select(col("bkt_rep").as("id_a"), col("doc_id").as("id_b"))
    smallPairs.union(starPairs).distinct()
  }

  /** documents ∪ exact copies (ids shifted). */
  def withExactDups(s: SparkSession, d: String): DataFrame = {
    val docs = spread(Tables.documents(s, d).select("doc_id", "text"))
    docs.unionByName(docs.select((col("doc_id") + Shift).as("doc_id"), col("text")))
  }

  /** documents ∪ near-dup copies: last whitespace token dropped. */
  def withNearDups(s: SparkSession, d: String): DataFrame = {
    val docs = spread(Tables.documents(s, d).select("doc_id", "text"))
    val toks = split(trim(col("text")), "\\s+")
    val dropped = array_join(slice(toks, lit(1), size(toks) - 1), " ")
    docs.unionByName(docs.select((col("doc_id") + Shift).as("doc_id"),
      dropped.as("text")))
  }

  /** d01: exact dedup via digest group-by. */
  def d01_exact_dedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    withExactDups(s, d)
      .groupBy(md5($"text").as("digest"))
      .agg(count(lit(1)).as("n_copies"), min($"doc_id").as("keeper_id"))
      .agg(count(lit(1)).as("n_groups"),
        sum($"n_copies").as("n_rows"),
        sum(when($"n_copies" > 1, $"n_copies" - 1).otherwise(0L))
          .as("n_redundant"),
        sum($"keeper_id").as("keeper_id_sum"))
  }

  // ---- shingling + signatures (shared scalar core) ----

  /** Space-only trim matching Spark SQL / DuckDB `trim()` — Java's
    * `String.trim` also strips tabs/newlines (all ≤ U+0020), which would
    * silently diverge from the SQL oracles on text with non-space edge
    * whitespace. Tokenization must use ONE trim semantics on both sides. */
  def sqlTrim(s: String): String = {
    var b = 0
    var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    if (b == 0 && e == s.length) s else s.substring(b, e)
  }

  /** Shared compiled whitespace splitter: `String.split("\\s+")` compiles
    * the pattern on EVERY call, and the dedup UDFs tokenize millions of
    * times per query (d04's verify alone re-shingles both texts of every
    * candidate pair). Semantics identical to `String.split` (limit 0 ⇒
    * trailing empties dropped). */
  private[graft] val WsPattern = java.util.regex.Pattern.compile("\\s+")

  def shingles(text: String, k: Int = 3): Set[String] = {
    val toks = WsPattern.split(sqlTrim(text))
    if (toks.length < k) Set(toks.mkString(" "))
    else toks.sliding(k).map(_.mkString(" ")).toSet
  }

  /** Seeded odd multipliers for the multiply-shift permutation family. */
  private[dedup] val PermA: Array[Long] = {
    val r = new java.util.Random(0x5eed5eedL)
    Array.fill(64)(r.nextLong() | 1L)
  }

  /** 64-permutation MinHash signature: ONE 64-bit string hash per
    * shingle, then 64 multiply-shift mixes (Dietzfelbinger's universal
    * family — `(a_i · h) >>> 33` with odd a_i). Hashing the string once
    * instead of per-permutation cuts the map-side CPU of the signature
    * UDF ~60×; banding probabilities are unchanged (the mixes are
    * pairwise-independent enough for LSH, and the verify step is exact
    * anyway). */
  def minhash(sh: Set[String], nPerm: Int = 64): Array[Int] =
    minhashFromHashes(sh.iterator.map(hash64).toArray, nPerm)

  /** Signature from pre-hashed shingles (order-insensitive — each
    * permutation takes a min over the elements). */
  def minhashFromHashes(hs: Array[Long], nPerm: Int = 64): Array[Int] = {
    val sig = Array.fill(nPerm)(Int.MaxValue)
    var k = 0
    while (k < hs.length) {
      val base = hs(k)
      var i = 0
      while (i < nPerm) {
        val h = ((PermA(i) * base) >>> 33).toInt
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      k += 1
    }
    sig
  }

  /** 64-bit string hash (two seeded murmur32 halves) — used to keep every
    * shuffle/sort of the d04 candidate phase on longs instead of 3-gram
    * strings. */
  def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0xbeefcafe).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x5ca1ab1e).toLong & 0xffffffffL)

  def jaccard(a: Set[String], b: Set[String]): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    // iterate the smaller side (same count either way)
    val common = if (a.size <= b.size) a.count(b.contains) else b.count(a.contains)
    common.toDouble / (a.size + b.size - common)
  }

  private val md5Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** First 8 bytes of md5(s) as a big-endian 64-bit value — the same
    * bits DuckDB's `CAST(concat('0x', substr(md5(g), 1, 16)) AS UBIGINT)`
    * parses, which is what makes the d03 pipeline SQL-replicable (d01's
    * digest rule applied per shingle; r5 verdict stretch item). The
    * digest instance is thread-local: `getInstance` per call would
    * dominate the per-shingle cost in the signature UDF. */
  def md5Hash64(s: String): Long = {
    val md = md5Local.get()
    md.reset()
    val dig = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(dig).getLong
  }

  private val HexChars = "0123456789abcdef".toCharArray

  /** Full 32-char lowercase hex md5 of `s` — the same string SQL `md5()`
    * returns, for paths that compare against SQL-side digests (st11's
    * per-row gram probe). Thread-local digest + table-driven hex: a
    * `getInstance` + `"%02x".format` per gram would dominate the
    * per-token cost in a hot streaming UDF (r17 ADVICE). */
  def md5Hex(s: String): String = {
    val md = md5Local.get()
    md.reset()
    val dig = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexChars((dig(i) >> 4) & 0xf)
      out(2 * i + 1) = HexChars(dig(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** 64-bit SimHash over token 3-grams. Shingle hash = [[md5Hash64]], so
    * an engine with only md5 + bit ops (the DuckDB oracle) reproduces
    * signatures bit-for-bit; murmur stays on the d02/d04 paths where the
    * hash is engine-internal and speed matters more. */
  def simhash(sh: Set[String]): Long = {
    val acc = new Array[Int](64)
    sh.foreach { g =>
      val h = md5Hash64(g)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) acc(i) += 1 else acc(i) -= 1
        i += 1
      }
    }
    var out = 0L
    var i = 0
    while (i < 64) { if (acc(i) > 0) out |= (1L << i); i += 1 }
    out
  }

  /** d02: MinHash + banded LSH candidate generation, exact-Jaccard
    * verification at 0.8. 32 bands × 2 rows ⇒ a J=0.8 pair misses every
    * band with p = (1-0.64)^32 ≈ 6e-15, so the confirmed set equals the
    * exact-Jaccard answer (which the oracle recomputes in SQL) — the
    * corpus contains both planted near-dups and natural ones. */
  /** 32-band × 2-row MinHash band keys from a shingle-hash array. */
  private[graft] def bandKeys(hs: Array[Long]): Seq[Int] = {
    val nBands = 32
    val rowsPerBand = 2
    val sig = minhashFromHashes(hs)
    (0 until nBands).map { b =>
      var h = b
      var i = 0
      while (i < rowsPerBand) { h = h * 31 + sig(b * rowsPerBand + i); i += 1 }
      h
    }
  }

  /** 32-band × 2-row MinHash band hashes from raw text (d07 and the
    * d08 signature-store writer; d02 uses [[sigWithHashesU]], which also
    * carries the hash array for its verify). */
  private[graft] val minhashBandsU = udf { text: String =>
    bandKeys(shingles(text).iterator.map(hash64).toArray)
  }

  /** Sorted distinct shingle hashes + band keys in ONE pass: the corpus
    * is tokenized and hashed exactly once, and the hash array rides along
    * for the verify stage (the r3 verify re-tokenized and re-shingled
    * BOTH texts of every candidate pair — at 20k candidates that is 40k
    * redundant shingle-set builds, the dominant verify cost). */
  private[graft] val sigWithHashesU = udf { text: String =>
    // distinct: two different shingles of one doc can hash64-collide
    // (P ~ |sh|²/2⁶⁴) — sorted_overlap_count's contract is sorted SETS
    val hs = shingles(text).iterator.map(hash64).toArray.distinct
    java.util.Arrays.sort(hs)
    (hs.toSeq, bandKeys(hs))
  }

  def d02_minhash_lsh(s: SparkSession, d: String): DataFrame =
    d02Impl(s, d, eager = true)

  private[graft] def d02Impl(s: SparkSession, d: String, eager: Boolean): DataFrame = {
    import s.implicits._
    // the signature subtree feeds three consumers (buckets + both verify
    // joins) — cache so the UDF chain runs once, not per consumer
    withCacheImpl(withNearDups(s, d).withColumn("sig", sigWithHashesU($"text")), eager) { docs =>
      withCacheImpl(scoredOf(docs), eager) { scored =>
        confirmedPairsOf(docs, scored).agg(
          count(lit(1)).as("n_confirmed"),
          sum(when($"id_b" === $"id_a" + Shift, 1L).otherwise(0L))
            .as("n_planted_found"))
      }
    }
  }

  /** The d02 candidate-scoring stage over a `(doc_id, text, sig)` frame
    * (r14 split of [[d02Impl]] so p06 can reuse the near-dup machinery):
    * banded-bucket candidate pairs, then the exact-decision margin
    * `m = 9i − 4(|a|+|b|)` from the native sorted-hash intersection. */
  private[graft] def scoredOf(docs: DataFrame): DataFrame = {
    val sp = docs.sparkSession
    import sp.implicits._
    val buckets = docs.select($"doc_id",
      posexplode($"sig._2").as(Seq("band", "bucket")))
    val cand = guardedBucketPairs(buckets, Seq("band", "bucket"))
    val hsT = docs.select($"doc_id", $"sig._1".as("hs"))
    // Verify on the 64-bit hash sets with an exact-decision slack band:
    // J ≥ 0.8 ⇔ 5i ≥ 4u on the TRUE shingle sets. A hash collision
    // perturbs (i, u) by at most 1 each, so c colliding hashes move
    // 5i − 4u by at most 9c; pairs with |5i − 4u| > 18 are decided by
    // the hash sets EXACTLY unless ≥ 3 collisions hit one pair
    // (P ≈ (126²/2⁶⁴)³ ≈ 1e-45); only the razor-thin band around the
    // threshold falls back to the collision-free string Jaccard — so
    // the answer still equals the oracle's string-set recomputation,
    // but the per-pair cost is a two-pointer long-array merge instead
    // of two regex tokenizations + shingle-set builds, and the text
    // column is shuffled only for the in-band handful.
    // the intersection count runs as a native codegen'd expression
    // (no per-row boxing of the hash arrays); with u = |a| + |b| − i,
    // the margin 5i − 4u rewrites to 9i − 4(|a| + |b|) — all builtins
    val iNative = graft.functions.GraftFunctions.sorted_overlap_count($"hs_a", $"hs_b")
    cand
      .join(hsT.select($"doc_id".as("id_a"), $"hs".as("hs_a"))
        .hint("shuffle_hash"), "id_a")
      .join(hsT.select($"doc_id".as("id_b"), $"hs".as("hs_b"))
        .hint("shuffle_hash"), "id_b")
      .select($"id_a", $"id_b",
        (iNative * 9 - (size($"hs_a") + size($"hs_b")).cast("long") * 4)
          .as("m"))
  }

  /** The d02 confirm stage: callers cache `scored` (it feeds the sure
    * and in-band branches — the bucket self-join must run once, not
    * twice). Emits the confirmed ≥0.8-Jaccard pair set `(id_a, id_b)`,
    * id_a < id_b. */
  private[graft] def confirmedPairsOf(docs: DataFrame, scored: DataFrame): DataFrame = {
    val sp = docs.sparkSession
    import sp.implicits._
    val sure = scored.filter($"m" > 18).select($"id_a", $"id_b")
    val texts = docs.select($"doc_id", $"text")
    val jacU = udf { (ta: String, tb: String) => jaccard(shingles(ta), shingles(tb)) }
    val bandPairs = scored.filter($"m" >= -18 && $"m" <= 18)
      .join(texts.select($"doc_id".as("id_a"), $"text".as("text_a")), "id_a")
      .join(texts.select($"doc_id".as("id_b"), $"text".as("text_b")), "id_b")
      .filter(jacU($"text_a", $"text_b") >= 0.8)
      .select($"id_a", $"id_b")
    sure.unionByName(bandPairs)
  }

  /** d03: SimHash near-dup with pigeonhole banding (4×16 bits finds every
    * pair within hamming distance 3; verification bound 6 since planted
    * dups differ in few shingles). Oracle-checkable since the shingle
    * hash moved to [[md5Hash64]]: the whole pipeline — signatures,
    * banding, hamming verify — replays in DuckDB as md5 + bit
    * arithmetic ([[d03Oracle]]). The oracle emits the exact all-pairs
    * candidate set, so it shares `guardedBucketPairs`' documented
    * contract: keep the compared corpus under the bucket cap (the sf
    * gates are; an over-cap bucket would star-link and diverge). */
  def d03_simhash(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val simU = udf { text: String => simhash(shingles(text)) }
    withCache(withNearDups(s, d).withColumn("sig", simU($"text"))) { docs =>
      val banded = docs.select($"doc_id",
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            ($"sig".bitwiseAND(lit(0xffffL << (b * 16)))).as("bits"))): _*))
          .as("bb"))
        .select($"doc_id", $"bb.band", $"bb.bits")
      val cand = guardedBucketPairs(banded, Seq("band", "bits"))
      val sigs = docs.select($"doc_id", $"sig")
      cand
        .join(sigs.select($"doc_id".as("id_a"), $"sig".as("sig_a")), "id_a")
        .join(sigs.select($"doc_id".as("id_b"), $"sig".as("sig_b")), "id_b")
        // built-in bit_count(xor) keeps the verify inside codegen — no UDF
        .withColumn("hamming", bit_count($"sig_a".bitwiseXOR($"sig_b")))
        .filter($"hamming" <= 6)
        .agg(count(lit(1)).as("n_confirmed"),
          sum(when($"id_b" === $"id_a" + Shift, 1L).otherwise(0L))
            .as("n_planted_found"))
    }
  }

  /** d04: EXACT n-gram Jaccard join with prefix filtering (the published
    * exact set-similarity-join technique: Chaudhuri et al. SSJoin 2006 /
    * Bayardo et al. WWW'07 / Xiao et al. PPJoin). Instead of self-joining
    * the full inverted index (a shingle in f docs → f² pair rows — the
    * hot-shingle quadratic blowup), each doc indexes only its PREFIX:
    * its |d| − ⌈t·|d|⌉ + 1 globally-rarest shingles (global order =
    * ascending doc frequency). Theorem: J(a,b) ≥ t ⇒ prefix(a) and
    * prefix(b) share a shingle, so joining prefix-to-prefix misses no
    * true pair — and prefixes consist of rare shingles by construction,
    * so no join key is hot. Candidates are then verified EXACTLY against
    * the docs' full shingle sets. Same answer as the unpruned join
    * (oracle recomputes it end-to-end), different cost curve at 100 TB.
    */
  def d04_ngram_jaccard(s: SparkSession, d: String): DataFrame =
    d04Impl(s, d, eager = true)

  /** Session-scoped VERIFIED-PAIRS artifact — the d08 philosophy ("the
    * corpus is signed once; everything downstream probes the artifact")
    * applied to d04's output: the exact near-dup pair set is a pure
    * function of the corpus, it is the single most expensive artifact
    * in the dedup family, and two downstream stages consume it (d06
    * clusters it, d16 materializes the survivors) — recomputing the
    * PPJoin per consumer is the pipeline anti-pattern this repo's
    * store operators exist to avoid. Built once per (application,
    * corpus dir) and kept as an eagerly-checkpointed frame: pairs scale
    * with duplicate MASS, not the corpus, so the retained blocks are
    * tiny. Keyed like [[graft.sim.AnnStore]]'s store registry, same
    * caveat: a dir whose content changes under a live session must use
    * a fresh path (immutable-input discipline for cached artifacts).
    * d04's own gate/bench entry does NOT use the registry — its
    * reported cost stays the honest full build. Bounded [[PairCache]]
    * since r20 (LRU of 2 corpora, evicted checkpoints released). */
  private val pairsRegistry = new PairCache()
  private[graft] def ensureVerifiedPairs(s: SparkSession, d: String): DataFrame =
    pairsRegistry.getOrBuild(s.sparkContext.applicationId + ":" + d)(
      d04Impl(s, d, eager = true))

  private[graft] def d04Impl(s: SparkSession, d: String, eager: Boolean): DataFrame = {
    import s.implicits._
    // Candidate phase runs entirely on 64-bit shingle HASHES: every
    // shuffle/sort/join key is a long, not a 3-gram string. A collision
    // can move hash-Jaccard EITHER way (a collision inside A∩B lowers it:
    // (i-1)/(u-1) < i/u), so the candidate phase runs at the SLACK
    // threshold t' = 11/20 = 0.55 — one intersection collision moves a
    // true J=0.6 pair to at worst (0.6u-1)/(u-1) ≥ 0.55 for u ≥ 9 shingles
    // (the corpus floor; multi-collisions are ~2^-120) — and the exact
    // string verify at 0.6 below removes every false positive the slack
    // admits. Residual risk is adversarially-crafted murmur multi-
    // collisions, which can hide candidates but never corrupt emitted
    // pairs (the final verify is collision-free).
    val hashShinglesU = udf { text: String =>
      val hs = shingles(text).iterator.map(hash64).toArray.distinct
      java.util.Arrays.sort(hs) // sorted ⇒ the verify's two-pointer merge
      hs.toSeq
    }
    // the PRE-explode (doc_id, hs-array) frame is what gets cached: the
    // exploded index AND the verify's hash-set sides both derive from it
    // (explode is cheap; the UDF is not), so the corpus is tokenized and
    // hashed exactly once per run. `text` deliberately does NOT ride in
    // this cache (r21 A/B): d04's phase-2 text joins re-derive
    // withNearDups from the parquet scan, which measured FASTER (4.6 vs
    // 5.7 s) than caching text — the twin construction is one cheap
    // map-side pass, while a text-bearing cache inflates the build and
    // every one of the cache's five readers. Contrast containmentPairsOf,
    // where the corpus construction is expensive and caching text wins.
    val pre = withNearDups(s, d).select($"doc_id", hashShinglesU($"text").as("hs"))
    withCacheImpl(pre, eager) { preC =>
      // n_sh (the doc's distinct-shingle count) is computed at explode
      // time and carried as a column — one extra long through the shuffle
      // instead of a second window pass over the whole index
      val idx = preC.select($"doc_id", size($"hs").cast("long").as("n_sh"),
        explode($"hs").as("h"))
      val df = idx.groupBy($"h").agg(count(lit(1)).as("df"))
      // per-doc global ranking, rarest shingles first ((df, h) is a
      // total order); one shuffle on doc_id for the ranking window.
      // t' = 11/20 kept as integer arithmetic — a float ⌈0.55·n⌉ can
      // round the prefix short and silently drop true pairs
      val byRarity = Window.partitionBy($"doc_id").orderBy($"df", $"h")
      val ranked = idx.join(df, "h")
        .withColumn("rk", row_number().over(byRarity))
      // cache the (pruned, long-only) prefix table: the self-join below
      // would otherwise recompute the join+window subplan once PER SIDE
      withCacheImpl(ranked
          .filter($"rk" <= $"n_sh" - (($"n_sh" * 11 + 19) / 20).cast("long") + 1)
          .select($"doc_id", $"h", $"rk", $"n_sh"), eager) { prefix =>
        // The de-dup of matched prefix rows is a groupBy anyway, so the
        // SAME shuffle also accumulates the PPJoin evidence: pm = number
        // of prefix-prefix matches, (mra, mrb) = positions of the LAST
        // match. Every common shingle globally smaller than the last
        // prefix match must itself be a prefix-prefix match (positions
        // below a prefix match are inside both prefixes), so
        // common ≤ pm + min(|a| − mra, |b| − mrb) — a tighter overlap
        // bound than the per-row single-match filter, applied for free
        // on the shuffle the dedup already pays. (Honest measurement:
        // on THIS synthetic corpus — a tiny shared vocabulary, so even
        // "rare" shingles have df ≈ 5-20 and matches sit at early
        // prefix ranks — it prunes little; on a real crawl's long-tail
        // shingle distribution the accumulated bound is where PPJoin's
        // pruning power lives.)
        val cand = prefix.as("a").join(prefix.as("b"),
            $"a.h" === $"b.h" && $"a.doc_id" < $"b.doc_id" &&
              // length filter: J ≥ 11/20 ⇒ 20·min(|a|,|b|) ≥ 11·max(|a|,|b|)
              greatest($"a.n_sh", $"b.n_sh") * 11 <= least($"a.n_sh", $"b.n_sh") * 20 &&
              // PPJoin position filter: overlap upper bound from the match
              // positions must reach α = ⌈(11/31)(|a|+|b|)⌉ (t'/(1+t') = 11/31)
              (least($"a.n_sh" - $"a.rk", $"b.n_sh" - $"b.rk") + 1) * 31 >=
                ($"a.n_sh" + $"b.n_sh") * 11)
          .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"),
            $"a.rk".as("rka"), $"b.rk".as("rkb"),
            $"a.n_sh".as("na"), $"b.n_sh".as("nb"))
          .groupBy($"id_a", $"id_b")
          .agg(count(lit(1)).as("pm"),
            max($"rka").as("mra"), max($"rkb").as("mrb"),
            first($"na").as("na"), first($"nb").as("nb"))
          .filter(($"pm" + least($"na" - $"mra", $"nb" - $"mrb")) * 31 >=
            ($"na" + $"nb") * 11)
          .select($"id_a", $"id_b")
        // Two-phase verification (the d02 device at threshold 3/5):
        // phase 1 joins the candidates to the CACHED per-doc hash
        // arrays and scores them entirely inside codegen — native
        // sorted_overlap_count i, margin 5i − 3u = 8i − 3(|a| + |b|).
        // A pair with margin < −16 is J < 0.6 on the true string sets
        // unless ≥ 3 hash collisions hit that one pair (P ≈ 1e-45), so
        // only the survivors — the output-sized winner set plus the
        // razor-thin band — reach phase 2, the collision-free string
        // verify that computes the EMITTED jaccard value (so output
        // values stay exact-by-construction, not just
        // exact-with-probability). This replaces the r3 shape that
        // string-verified every candidate: same shuffle volume in
        // phase 1 (hash arrays ≈ text bytes), ~60× fewer tokenizations
        // in phase 2. The per-doc arrays come from the cached
        // pre-explode frame — no collect_list aggregation and no
        // broadcast of corpus data anywhere (PlanSpec pins both);
        // shuffle_hash hints skip the sort-merge sorts nothing needs.
        val hsT = preC
        val iNat = graft.functions.GraftFunctions.sorted_overlap_count($"hs_a", $"hs_b")
        val winners = cand
          .join(hsT.select($"doc_id".as("id_a"), $"hs".as("hs_a"))
            .hint("shuffle_hash"), "id_a")
          .join(hsT.select($"doc_id".as("id_b"), $"hs".as("hs_b"))
            .hint("shuffle_hash"), "id_b")
          .select($"id_a", $"id_b",
            (iNat * 8 - (size($"hs_a") + size($"hs_b")).cast("long") * 3).as("m"))
          .filter($"m" >= -16)
          .select($"id_a", $"id_b")
        val texts = withNearDups(s, d)
        val jacU = udf { (ta: String, tb: String) => jaccard(shingles(ta), shingles(tb)) }
        winners
          .join(texts.select($"doc_id".as("id_a"), $"text".as("text_a"))
            .hint("shuffle_hash"), "id_a")
          .join(texts.select($"doc_id".as("id_b"), $"text".as("text_b"))
            .hint("shuffle_hash"), "id_b")
          .withColumn("jaccard", jacU($"text_a", $"text_b"))
          .filter($"jaccard" >= 0.6)
          .select($"id_a", $"id_b", $"jaccard")
          .orderBy($"id_a", $"id_b")
      }
    }
  }

  /** documents ∪ containment plants — the d22 fixture. Two plant
    * families: `% 13` docs get a copy (id + 200000) extended with a
    * doc-unique filler suffix of 2× their token count — containment 1.0
    * toward the original but Jaccard ≈ 1/3, the pair symmetric dedup is
    * BLIND to; `% 29` docs get a copy (id + 300000) extended by only
    * tokens/5 — containment 1.0 AND Jaccard ≈ 0.83, the near-dup case
    * d04 already owns, planted so d22's J < 0.6 exclusion provably
    * binds (92 → 44 rows at sf0.01, measured in DuckDB before wiring).
    * Filler tokens embed the source doc_id, so no cross-plant dups. */
  private[graft] def withContainmentPlants(s: SparkSession, d: String,
      carrySource: Boolean = false): DataFrame = {
    import s.implicits._
    // p10's pipeline surface needs the anti-domination key: plants
    // inherit their original's `source` (same publisher, longer capture)
    val baseCols =
      if (carrySource) Seq($"doc_id", $"text", $"source")
      else Seq($"doc_id", $"text")
    val docs = spread(Tables.documents(s, d).select(baseCols: _*))
    def planted(mod: Int, shift: Long, fillerExpr: String) =
      docs.filter($"doc_id" % mod === 0)
        .select(($"doc_id" + shift).as("doc_id") +:
          concat($"text", lit(" "), expr(fillerExpr)).as("text") +:
          (if (carrySource) Seq($"source") else Nil): _*)
    // corpus token floor is 10 (all SFs + the replica generator keeps
    // counts), so size/5 >= 2 — Spark's descending sequence(1, 0) and
    // DuckDB's empty range(1, 1) can never be asked to disagree
    val big = planted(13, 200000L,
      "array_join(transform(sequence(1, 2 * size(split(trim(text), '\\\\s+'))), " +
        "j -> concat('c', CAST(doc_id AS STRING), 'x', CAST(j AS STRING))), ' ')")
    val near = planted(29, 300000L,
      "array_join(transform(sequence(1, CAST(size(split(trim(text), '\\\\s+')) / 5 AS INT)), " +
        "j -> concat('n', CAST(doc_id AS STRING), 'x', CAST(j AS STRING))), ' ')")
    docs.unionByName(big).unionByName(near)
  }

  /** Distinct sorted 64-bit shingle hashes of a document — the probe
    * representation [[d22_containment]]'s candidate and phase-1 verify
    * stages share (sorted so the overlap count is a codegen'd merge). */
  private[graft] val hashShinglesU = udf { text: String =>
    val hs = shingles(text).iterator.map(hash64).toArray.distinct
    java.util.Arrays.sort(hs)
    hs.toSeq
  }

  /** Candidate phase of [[d22_containment]] — rarity-ranked probe-prefix
    * × full-index equi-join on shingle hashes — with a HOT-SHINGLE
    * guard (r17 verdict item 1). Cost of the unguarded join is
    * Σ_prefix df(h): on a long-tail shingle distribution the rare-first
    * prefix keeps every df small, but a boilerplate-flooded corpus
    * (~20% of docs sharing one template) makes even each clone's
    * "rarest" shingles carry df ≈ N/5, and the join goes quadratic —
    * the skewed-key scale-killer. df is a property of the shingle
    * alone, shared by both join sides, so capping the PREFIX side at
    * `df ≤ cap` bounds the join output per shingle at df·|probes of h|
    * ≤ cap² and the total at cap · |corpus shingle rows| — linear at
    * fixed cap. Hot shingles (df > cap) instead STAR-LINK their full
    * posting through its min-id doc — O(df) rows per hot shingle — so
    * a boilerplate clone whose entire prefix is hot still joins its
    * near-dup component through the representative. NOTE this is the
    * [[guardedBucketPairs]] contract change above the cap: the pair
    * SET for flood docs is star-shaped, not the exact pigeonhole
    * candidate set — recall for a containment pair BOTH of whose docs
    * sit inside a hot posting is through the representative only. An
    * exact-recall consumer (the oracle compare) must keep max df under
    * `cap`; the healthy fixture's max df is 9 (sf0.01) / 33 (sf0.1),
    * measured in DuckDB, and replica-disjoint shingles keep it there
    * at the scaled certs. Overflow is observed in-flight
    * (`graft_bucket_guard…` — the [[ensureGuardListener]] channel, zero
    * extra jobs) and certified adversarially by the scalebench row
    * `skew02_planted_hot_shingle`, whose pass rule REQUIRES engagement
    * at both scales. Input: `(doc_id, hs)` with `hs` sorted distinct
    * hashes; output: normalized candidate pairs `(id_a < id_b)`. */
  private[graft] def containmentCandidates(pre: DataFrame, cap: Int = 1000): DataFrame = {
    val idx = pre.select(col("doc_id"), size(col("hs")).cast("long").as("n_sh"),
      explode(col("hs")).as("h"))
    // rep = min(doc_id) computed IN the df aggregate: both are map-side
    // combinable partials over the same (uniformly keyed) shuffle, so the
    // hot-posting representative costs nothing extra here — and the star
    // link below can then be a broadcast join instead of a window over
    // the hot posting (r19 verdict item 2: `min().over(partitionBy(h))`
    // shipped every row of a hot shingle's posting to ONE task — the
    // exact single-task materialization the guard exists to prevent)
    val dfh = idx.groupBy(col("h"))
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("rep"))
    val byRarity = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
    val ranked = idx.join(dfh.select(col("h"), col("df")), "h")
      .withColumn("rk", row_number().over(byRarity))
    // prefix size ⌊3n/10⌋ + 1 (slack t' = 0.7 vs the 0.8 threshold):
    // covers the ≤ ⌈0.2n⌉ outside-shingles plus one collision for
    // every n ≥ 10 (the corpus floor); hot shingles leave the probe
    // side here — their postings are star-linked below instead
    val prefix = ranked
      .filter(col("rk") <= (col("n_sh") * 3 / 10).cast("long") + 1 &&
        col("df") <= cap)
      .select(col("doc_id").as("id_p"), col("h"))
    // probe-prefix × full-index join; no df filter is needed on the
    // index side — df(h) is one number for both sides, so a cold probe
    // shingle's posting is ≤ cap by construction. Normalize the pair
    // (containment toward the min side is direction-free) and dedup —
    // longs only.
    val cold = prefix.join(idx.select(col("doc_id").as("id_i"), col("h")), "h")
      .filter(col("id_p") =!= col("id_i"))
      .select(least(col("id_p"), col("id_i")).as("id_a"),
        greatest(col("id_p"), col("id_i")).as("id_b"))
    ensureGuardListener(pre.sparkSession)
    // hot postings: plain equi-join of the index against the hot-rep
    // table (shingles with df > cap; ≤ total shingle rows / cap entries
    // by construction). No hint on purpose: Spark broadcasts it when
    // it is actually small (the common case — a handful of flood
    // templates) and falls back to a shuffle join with AQE skew-split
    // when a pathological corpus makes it large — the same
    // distributed-either-way shape [[guardedBucketPairs]]' size join
    // certifies under skew01. A forced broadcast() would be a driver
    // cliff on many-template floods; the r19 window shape was a
    // single-task cliff on ONE-template floods (r20 review + verdict).
    // rep = min(doc_id) ⇒ rep < member, so (id_a, id_b) stays ordered
    val hotStar = idx.join(
        dfh.filter(col("df") > cap).select(col("h"), col("df"), col("rep")),
        "h")
      .filter(col("doc_id") =!= col("rep"))
      .observe(s"graft_bucket_guard_d22_${guardObsId.incrementAndGet()}",
        count(lit(1)).as("n_star_members"), max(col("df")).as("max_bucket"))
      .select(col("rep").as("id_a"), col("doc_id").as("id_b"))
    cold.union(hotStar).distinct()
  }

  /** d22: CONTAINMENT detection — the asymmetric near-dup case every
    * symmetric pass (d02's resemblance, d04's Jaccard) is structurally
    * blind to: a document that CONTAINS most of another (a quote-heavy
    * page wrapping an article, a benchmark item pasted into a long
    * post) has containment |A∩B|/min(|A|,|B|) ≈ 1 while its Jaccard
    * dilutes below every dedup threshold as the host grows. Emits the
    * specifically-asymmetric pairs: containment ≥ 0.8 AND Jaccard
    * < 0.6 (pairs over 0.6 are d04's jurisdiction — the exclusion is
    * spec-pinned live, see [[withContainmentPlants]]).
    *
    * Scale shape (100 TB posture): the candidate phase is the
    * containment variant of d04's PPJoin — a probe-PREFIX × FULL-INDEX
    * equi-join on 64-bit shingle hashes. Asymmetry changes the filter
    * algebra: there is NO length filter (a tiny doc can live inside a
    * huge one) and only the CONTAINED side's prefix prunes — the
    * pigeonhole guarantee is one-sided (if C(A→B) ≥ 0.8, fewer than
    * ⌈0.2|A|⌉ + 1 of A's shingles miss B, so A's ⌊0.3|A|⌋ + 1 rarest
    * shingles — prefix at slack t' = 0.7, collision headroom included —
    * must hit B). Since min-side containment is symmetric in the pair,
    * EVERY doc probes with its own prefix and recall follows. Candidate
    * cost is Σ_prefix df(h) — rare-first ranking keeps that small on
    * long-tail shingle distributions, and the df-cap guard inside
    * [[containmentCandidates]] bounds it on boilerplate-flooded corpora
    * where even "rarest" shingles are hot (see that method's contract).
    * Shuffles carry longs only until the
    * output-sized verify; the exact string verify (collision-free, the
    * d04 two-phase device with a hash pre-filter at slack 0.7) computes
    * the EMITTED values, so output is exact-by-construction. Residual
    * risk is d04's: a 64-bit murmur collision can hide a candidate
    * (P ≈ n²/2^64), never corrupt an emitted pair. */
  def d22_containment(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    containmentPairsOf(withContainmentPlants(s, d))
      .select($"id_a", $"id_b", $"containment", $"jaccard")
      .orderBy($"id_a", $"id_b")
  }

  /** The confirmed-containment-pair ENGINE behind [[d22_containment]]
    * and the d23 keeper tail ([[Materialize.d23_containment_keeper]]):
    * guarded candidate phase, codegen hash-overlap keep at slack 0.7,
    * exact string verify computing the emitted values. Output
    * additionally carries the exact distinct-shingle sizes `(n_a, n_b)`
    * the verify already computed — they decide pair DIRECTION downstream
    * (the smaller side is the contained one), and under the d22 emit
    * thresholds ties are impossible: |A| = |B| forces J = C/(2−C) ≥
    * 0.8/1.2 = 2/3 > 0.6, which the J < 0.6 exclusion rejects. */
  /** `eager = false` returns the lazy composed plan (the d02Impl device)
    * so plan captures/specs can inspect the physical shape. */
  private[graft] def containmentPairsOf(corpus: DataFrame,
      eager: Boolean = true): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    // `text` rides in the cache beside the hash sets (r21): the phase-2
    // verify joins previously re-derived `corpus` twice — for the
    // plant-fixture corpora (d22/d23/d24/p10) that re-ran the whole
    // filler-construction expr chain per side, the two most expensive
    // duplicated stages in the stage profile. Cached batches are
    // column-pruned on read, so the candidate phase still moves longs
    // only.
    val pre = corpus.select($"doc_id", $"text", hashShinglesU($"text").as("hs"))
    withCacheImpl(pre, eager) { preC =>
      val cand = containmentCandidates(preC.select($"doc_id", $"hs"))
      // phase 1: hash overlap in codegen, keep at slack 0.7·min
      val iNat = graft.functions.GraftFunctions.sorted_overlap_count($"hs_a", $"hs_b")
      val winners = cand
        .join(preC.select($"doc_id".as("id_a"), $"hs".as("hs_a"))
          .hint("shuffle_hash"), "id_a")
        .join(preC.select($"doc_id".as("id_b"), $"hs".as("hs_b"))
          .hint("shuffle_hash"), "id_b")
        .filter(iNat * 10 >= least(size($"hs_a"), size($"hs_b")).cast("long") * 7)
        .select($"id_a", $"id_b")
      // phase 2: collision-free string verify computes the emitted values
      val contU = udf { (ta: String, tb: String) =>
        val sa = shingles(ta); val sb = shingles(tb)
        val i = sa.intersect(sb).size
        (i.toDouble / math.min(sa.size, sb.size),
          i.toDouble / (sa.size + sb.size - i),
          sa.size.toLong, sb.size.toLong)
      }
      winners
        .join(preC.select($"doc_id".as("id_a"), $"text".as("text_a"))
          .hint("shuffle_hash"), "id_a")
        .join(preC.select($"doc_id".as("id_b"), $"text".as("text_b"))
          .hint("shuffle_hash"), "id_b")
        .withColumn("cj", contU($"text_a", $"text_b"))
        .select($"id_a", $"id_b", $"cj._1".as("containment"), $"cj._2".as("jaccard"),
          $"cj._3".as("n_a"), $"cj._4".as("n_b"))
        .filter($"containment" >= 0.8 && $"jaccard" < 0.6)
    }
  }

  /** The d23 fixture — [[withContainmentPlants]] extended with a THIRD
    * containment tier so the keeper rule is exercised on CHAINS, not
    * just pairs: each `% 13` doc additionally gets a MEGA host
    * (id + 400000) = the big plant's text extended by 3n more
    * doc-unique filler tokens (6n total) — so orig ⊂ big ⊂ mega, with
    * C = 1.0 along every edge and J ≈ {1/6, 1/3, 1/2} all under the
    * 0.6 exclusion. The big plant is then BOTH a container (of its
    * original) and contained (in its mega) — the doc class whose
    * keep/drop decision a pair-local rule gets wrong and the rollup's
    * `n_chain_docs` counts (39 at sf0.01, measured in DuckDB before
    * wiring; zero would mean the chain tier regressed to vacuity). */
  private[graft] def withContainmentChain(s: SparkSession, d: String,
      carrySource: Boolean = false): DataFrame = {
    import s.implicits._
    val baseCols =
      if (carrySource) Seq($"doc_id", $"text", $"source")
      else Seq($"doc_id", $"text")
    val docs = spread(Tables.documents(s, d).select(baseCols: _*))
    // the big plant's text, reconstructed from the SAME expression
    // withContainmentPlants uses (the mega tier extends it verbatim)
    val mega = docs.filter($"doc_id" % 13 === 0)
      .select(($"doc_id" + 400000L).as("doc_id") +:
        concat($"text", lit(" "),
          expr("array_join(transform(sequence(1, 2 * size(split(trim(text), '\\\\s+'))), " +
            "j -> concat('c', CAST(doc_id AS STRING), 'x', CAST(j AS STRING))), ' ')"),
          lit(" "),
          expr("array_join(transform(sequence(1, 3 * size(split(trim(text), '\\\\s+'))), " +
            "j -> concat('m', CAST(doc_id AS STRING), 'x', CAST(j AS STRING))), ' ')")
        ).as("text") +:
        (if (carrySource) Seq($"source") else Nil): _*)
    withContainmentPlants(s, d, carrySource).unionByName(mega)
  }

  /** d05: benchmark-contamination check — the "is the eval set in the
    * training data?" gate every pretraining pipeline needs. A synthetic
    * benchmark is derived from every 97th document (even ids verbatim,
    * odd ids uppercased — the reformatted-contamination case), then
    * matched against the corpus at two levels: exact md5 and a
    * normalized digest (lowercase + whitespace collapse). Two digest
    * joins — each one shuffle on a 32-char key, no text comparison. */
  def d05_contamination(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = spread(Tables.documents(s, d).select($"doc_id", $"text"))
    val norm = (c: Column) => md5(regexp_replace(lower(trim(c)), "\\s+", " "))
    val bench = docs.filter($"doc_id" % 97 === 0)
      .select(($"doc_id" + Shift).as("bench_id"),
        when($"doc_id" % 2 === 0, $"text").otherwise(upper($"text")).as("text"))
      .select($"bench_id", md5($"text").as("digest"), norm($"text").as("norm_digest"))
    val train = docs.select(md5($"text").as("digest"), norm($"text").as("norm_digest"))
    val exactHits = bench.join(train, Seq("digest"))
      .select($"bench_id").distinct()
    val normHits = bench.join(train.select($"norm_digest"), Seq("norm_digest"))
      .select($"bench_id").distinct()
    bench.agg(count(lit(1)).as("n_bench"))
      .crossJoin(exactHits.agg(count(lit(1)).as("n_exact_contaminated")))
      .crossJoin(normHits.agg(count(lit(1)).as("n_norm_contaminated")))
  }

  /** Bound on the wait for an observed CC count (the edge count, a
    * round's convergence count). The metric arrives through the listener
    * bus right after the checkpoint action it rides, normally within
    * milliseconds; a count that never arrives must fail the call, not
    * hang it. */
  private val ObservedWait = scala.concurrent.duration.Duration(120, "s")

  /** The long metric `name` of `obs`, waited on with a bound: a missing
    * count throws naming `what`, never guesses. */
  private def observedLong(obs: org.apache.spark.sql.Observation, name: String,
      what: String, wait: scala.concurrent.duration.Duration): Long =
    try scala.concurrent.Await.result(obs.future, wait).getAs[Long](name)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        throw new IllegalStateException(
          s"connectedComponents $what not observed within $wait after its " +
            "checkpoint — refusing to guess")
    }

  /** The round's `changed` count: no count means no convergence
    * decision, so a missing one throws naming the round. */
  private[graft] def observedChanged(obs: org.apache.spark.sql.Observation, round: Int,
      wait: scala.concurrent.duration.Duration = ObservedWait): Long =
    observedLong(obs, "changed", s"round $round: convergence count", wait)

  /** Symmetric edge rows per contraction task. One task's union-find
    * holds every node of its rows in memory (at most two map entries
    * per row), so this bounds a task's map; the partition count it
    * derives is capped at `spark.sql.shuffle.partitions`. */
  private val CcEdgesPerTask = 1L << 20

  /** Connected components over an undirected pair list `(id_a, id_b)` of
    * integral ids → `(id, label)` with label = the component's min id,
    * eagerly checkpointed, `id` and `label` of the ids' (widened) type.
    *
    * Contract first. The symmetric edges are checkpointed once; the
    * checkpoint action also observes their count (no extra job), and
    * the edge partition count is derived from it: ⌈edges /
    * [[CcEdgesPerTask]]⌉, capped at `shuffle.partitions`. One
    * `mapPartitions` pass runs min-root union-find inside each partition
    * (edges hashed on `id_a`, or coalesced when the count is 1, which
    * moves nothing) and emits `(node, local min)`. At one partition that
    * IS the answer — every edge was in the one union-find — so it is
    * returned with no confirming round: two jobs.
    *
    * Above one partition the local minima only contract the graph (each
    * partition's component is a star on its min), so the min-label
    * rounds below run on the contracted `(node, local min)` edges, which
    * connect exactly what the input connects. Each round is (1) min-label
    * exchange — every node adopts the smallest label among itself and
    * its neighbors — then (2) root hooking — every node whose old label
    * was r adopts the least label any node labelled r reached — then
    * (3) one pointer-jumping hop — `label ← label(label)`. Exchange alone
    * needs O(diameter) rounds; exchange + hop only doubles along label
    * chains whose ids increase, and a path with shuffled ids took
    * O(length) rounds (a 100-node one 34–70 rounds, over the cap). The
    * hook merges whole label trees, Shiloach–Vishkin style: measured
    * 7–12 rounds for shuffled-id paths of 50–3000 nodes. Every step is
    * safe: a node's label is always the id of some node in its own
    * component (labels only ever move along edges or within a label
    * tree), so each stays in-component and monotonically ≤.
    * Convergence is observed on each round's checkpoint action under a
    * bounded wait. If the round cap is STILL hit while labels are
    * changing, this throws — wrong cluster labels must never leave
    * silently (same no-silent-truncation contract as the LSH bucket
    * guard).
    *
    * A null id connects nothing: it is one `(null, null)` row, as in
    * the rounds. `edgePartitions` forces the partition count (a test
    * seam for the multi-partition path). */
  private[graft] def connectedComponents(pairs: DataFrame, maxRounds: Int = 20,
      edgePartitions: Option[Int] = None): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    val sized = new org.apache.spark.sql.Observation()
    val edges = pairs
      .unionByName(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .observe(sized, count(lit(1)).as("n"))
      .localCheckpoint(true)
    val idType = edges.schema("id_a").dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"connectedComponents: id_a/id_b must be integral, got $idType")
    val parts = edgePartitions.getOrElse {
      val n = observedLong(sized, "n", "edge count", ObservedWait)
      math.min((n + CcEdgesPerTask - 1) / CcEdgesPerTask,
        s.conf.get("spark.sql.shuffle.partitions").toLong).max(1L).toInt
    }
    val placed =
      if (parts == 1) edges.coalesce(1) else edges.repartition(parts, col("id_a"))
    val contracted = placed
      .select(col("id_a").cast("long"), col("id_b").cast("long"))
      .as[(Option[Long], Option[Long])]
      .mapPartitions(localMinRoots)
      .toDF("id_a", "id_b")
    def typed(labels: DataFrame): DataFrame =
      labels.select(col("id").cast(idType), col("label").cast(idType))
    if (parts == 1) typed(contracted.toDF("id", "label")).localCheckpoint(true)
    else typed(minLabelRounds(contracted, maxRounds))
  }

  /** Min-root union-find over one partition's edge rows: every node seen
    * maps to the least id it is connected to through these rows. A row
    * with a null end connects nothing; the partition then also emits
    * one `(None, None)`. */
  private def localMinRoots(rows: Iterator[(Option[Long], Option[Long])])
      : Iterator[(Option[Long], Option[Long])] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
      var y = x
      while (y != r) { val up = parent(y); parent(y) = r; y = up }
      r
    }
    var sawNull = false
    rows.foreach {
      case (Some(a), Some(b)) =>
        val (ra, rb) = (find(a), find(b))
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      case (a, b) =>
        sawNull = true
        a.foreach(find); b.foreach(find)
    }
    val roots = parent.keys.toArray.map(x => (Option(x), Option(find(x))))
    roots.iterator ++ (if (sawNull) Iterator((None, None)) else Iterator.empty)
  }

  /** The min-label + root-hook + pointer-jump rounds of
    * [[connectedComponents]] over an undirected pair list `(id_a, id_b)`
    * of longs → `(id, label)`. */
  private def minLabelRounds(pairs: DataFrame, maxRounds: Int): DataFrame = {
    val edges = pairs
      .unionByName(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .localCheckpoint(true)
    val nodes = edges.select(col("id_a").as("id")).distinct()
    var labels = nodes.select(col("id"), col("id").as("label")).localCheckpoint(true)
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "id_b")
          .withColumnRenamed("label", "nbr_label"), "id_b")
        .groupBy(col("id_a").as("id")).agg(min(col("nbr_label")).as("nbr_label"))
      val exchanged = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
      // root hooking: every node of an old label's tree takes the least
      // label any node of that tree reached, so trees merge whole
      // instead of one hop per round at their edges
      val hooked = exchanged.withColumn("label", least(col("label"),
        min(col("label")).over(Window.partitionBy(col("old")))))
      // pointer-jumping: label ← label's own current label (min-kept);
      // self-labeled roots join to themselves, so the left join always hits
      //
      // Convergence count rides the checkpoint pass as an observe metric
      // (guide §5, driver job floor): the eager localCheckpoint is
      // already an action over every row, so a separate filter(chg)
      // .count() job per round only re-scanned the checkpointed blocks
      // to compute a number the checkpoint pass had already seen.
      // Labels only decrease, so a changed label is one below its old
      // value; count(when(label < old, 1)) skips the null id's null
      // compare, and `count` is never null even on an empty frame.
      val obs = new org.apache.spark.sql.Observation()
      val next = hooked
        .join(labels.select(col("id").as("label"), col("label").as("ll")),
          Seq("label"), "left")
        .select(col("id"), col("old"),
          least(col("label"), coalesce(col("ll"), col("label"))).as("label"))
        .observe(obs, count(when(col("label") < col("old"), lit(1))).as("changed"))
        .localCheckpoint(true)
      rounds += 1
      changed = observedChanged(obs, rounds)
      labels = next.select(col("id"), col("label"))
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxRounds rounds " +
          s"($changed labels still changing) — raise maxRounds; refusing to " +
          "return wrong cluster labels silently")
    labels
  }

  /** d06: dedup CLUSTERING — the step that turns pair emission (d02/d04)
    * into an actionable keep/drop decision: connected components over the
    * confirmed near-dup pairs (consumed from the session's
    * [[ensureVerifiedPairs]] artifact — built on first use, reused by
    * d16), one keeper (min id) per component.
    * Oracle: DuckDB recursive CTE computing the same components. */
  def d06_dedup_clusters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = ensureVerifiedPairs(s, d).select($"id_a", $"id_b")
    connectedComponents(pairs).groupBy($"label")
      .agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_clusters"),
        sum($"sz").as("n_docs_clustered"),
        max($"sz").as("max_cluster_size"),
        sum($"label").as("keeper_id_sum"))
  }

  /** d09: SKETCH-QUALITY audit — the d02-family twin of s03's LSH
    * recall dial: at extreme scale the exact verify can be skipped
    * entirely and pair similarity read off the signatures (Ĵ = matching
    * minhash slots / 64, the unbiased MinHash estimator with
    * std ≈ √(J(1−J)/64) ≈ 0.05); this query MEASURES that trade on the
    * planted near-dup pairs, emitting one row per pair: the estimate,
    * the exact string-shingle Jaccard, and the absolute error.
    *
    * Fully ORACLE-CHECKED (r9 verdict item 6 — previously rows-only):
    * the audit signature's base string hash is [[md5Hash64]] (the d03
    * rule an md5-equipped SQL engine can replay bit-for-bit) instead of
    * the production murmur [[hash64]], so DuckDB recomputes the ENTIRE
    * multiply-shift MinHash — the seeded odd multipliers are embedded in
    * the oracle SQL as literals, the 64-bit wraparound multiply is done
    * in HUGEINT via 32-bit limb decomposition — plus the exact Jaccard,
    * and every output column hash-matches. The mix family (Ĵ's
    * distribution) is identical to production's; only the base hash
    * differs. Per-pair output also kills the r4 mean-determinism
    * concern: no cross-partition float summation at all.
    *
    * The exact baseline is the string-set Jaccard — computing it from
    * the hashed sets would fold (negligible but nonzero) collision
    * error into the measured estimator error, making the audited
    * quantity itself approximate (r4 advisory). Map-side everything:
    * signatures come from one cached pass (texts ride along), pairs are
    * formed by the id-shift join. */
  def d09_minhash_estimate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sketchU = udf { text: String =>
      val hs = shingles(text).iterator.map(md5Hash64).toArray.distinct
      java.util.Arrays.sort(hs)
      minhashFromHashes(hs).toSeq
    }
    withCache(withNearDups(s, d)
        .select($"doc_id", $"text", sketchU($"text").as("sig"))) { docs =>
      val base = docs.filter($"doc_id" < Shift)
        .select($"doc_id", $"text".as("text_a"), $"sig".as("sig_a"))
      val copies = docs.filter($"doc_id" >= Shift)
        .select(($"doc_id" - Shift).as("doc_id"),
          $"text".as("text_b"), $"sig".as("sig_b"))
      val matchU = udf { (a: Seq[Int], b: Seq[Int]) =>
        var i = 0; var m = 0
        while (i < a.length) { if (a(i) == b(i)) m += 1; i += 1 }
        m
      }
      val jacU = udf { (ta: String, tb: String) => jaccard(shingles(ta), shingles(tb)) }
      base.join(copies, "doc_id")
        .select($"doc_id",
          (matchU($"sig_a", $"sig_b").cast("double") / 64.0).as("est_j"),
          jacU($"text_a", $"text_b").as("exact_j"))
        .withColumn("abs_err", abs($"est_j" - $"exact_j"))
        .orderBy($"doc_id")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d01_exact_dedup" -> (d01_exact_dedup _),
    "d02_minhash_lsh" -> (d02_minhash_lsh _),
    "d03_simhash" -> (d03_simhash _),
    "d04_ngram_jaccard" -> (d04_ngram_jaccard _),
    "d22_containment" -> (d22_containment _),
    "d05_contamination" -> (d05_contamination _),
    "d06_dedup_clusters" -> (d06_dedup_clusters _),
    "d09_minhash_estimate" -> (d09_minhash_estimate _),
  )

  val oracle: Map[String, String] = Map(
    "d01_exact_dedup" -> DedupOracles.d01Oracle,
    "d02_minhash_lsh" -> DedupOracles.d02Oracle,
    "d03_simhash" -> DedupOracles.d03Oracle,
    "d04_ngram_jaccard" -> DedupOracles.d04Oracle,
    "d22_containment" -> DedupOracles.d22Oracle,
    "d05_contamination" -> DedupOracles.d05Oracle,
    "d06_dedup_clusters" -> DedupOracles.d06Oracle,
    "d09_minhash_estimate" -> DedupOracles.d09Oracle,
  )
}
