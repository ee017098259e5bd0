package graft.warc

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.analytics.Tables
import graft.rake.Rake

/** Driver-checkable queries exercising the WARC pipeline operators
  * (SURVEY.md §2) against the testdata.
  *
  * There is no WARC testdata, so each query first derives WARC bytes
  * DETERMINISTICALLY from the `documents` parquet table (a pure
  * per-partition transformation of driver-provided inputs), then runs the
  * real engine operators on them. Because the synthesis is an exact
  * function of `documents` rows, the DuckDB oracle can recompute every
  * scalar output column directly from the base table — giving the full
  * scan → filter → gunzip → envelope → parse → absolutize → project chain
  * an exact end-to-end oracle.
  */
object WarcQueries {

  /** Host class of a doc id — `id % 50` within a replica, offset by 50
    * per [[graft.Dev.ReplicaStride]] replica so a scaled corpus carries
    * a SCALED host space (a 10× crawl has ~10× hosts; with the base-50
    * host space shared across replicas, the release drill's per-source
    * anti-domination cap stayed bound at the base corpus's kept mass —
    * the r18 verdict's scale-invariant-tail finding). Identity for
    * every testdata id (all < the stride), so the w/p oracle mirrors
    * certify the same values they always did. */
  def hostClass(id: Long): Long = hostClass(id, id)

  /** Host class for a derived class expression `cls` (the w07/w08 link
    * targets' affine/quadratic maps) with the replica offset taken from
    * the SOURCE doc's id — link targets stay within their own replica's
    * host block, so each replica's link graph mirrors the base graph. */
  def hostClass(cls: Long, id: Long): Long =
    cls % 50 + 50 * (id / graft.Dev.ReplicaStride)

  /** [[hostClass]] as DuckDB SQL over `doc_id` — the ONE fragment every
    * WARC-mirroring oracle splices (r19 review: the stride was pasted
    * as a literal into ~14 oracle strings, re-creating the hardcoded-
    * duplicate drift the [[graft.Dev.ReplicaStride]] constant exists to
    * prevent). */
  val hostClassSql: String =
    s"(doc_id % 50 + 50 * (doc_id // ${graft.Dev.ReplicaStride}))"
  /** The w07/w08 link-target classes: affine/quadratic map mod 50, the
    * replica offset still taken from the SOURCE doc's id. */
  val outClassSql: String =
    s"((doc_id * 7 + 13) % 50 + 50 * (doc_id // ${graft.Dev.ReplicaStride}))"
  val quadClassSql: String =
    s"((doc_id * doc_id + 3) % 50 + 50 * (doc_id // ${graft.Dev.ReplicaStride}))"

  /** Deterministic page synthesis — the single source of truth the oracle
    * SQL mirrors. One HTTP response payload per document. */
  def payloadFor(id: Long, text: String, lang: String): String = {
    val host = s"docs${hostClass(id)}.example.gov.au"
    val ga = 10000 + id
    val ms = (id % 5) * 1000
    val headerBlock =
      "HTTP/1.1 200 OK\r\n" +
        "Content-Type: text/html\r\n" +
        s"X-Funnelback-Total-Request-Time-MS: $ms\r\n" +
        "X-Request-Id: a: b\r\n" +
        (if (id % 7 == 0) s"X-Funnelback-AA-Domain: aa$host\r\n" else "")
    // outbound cross-host links: host class id%50 → (7·id+13)%50 (an
    // affine bijection — no fixed point mod 50) and → (id²+3)%50 (a
    // non-invertible quadratic, so host in-degrees VARY), giving the
    // domain link graph (w07) a non-trivial component structure and the
    // PageRank (w08) a non-uniform stationary distribution — both
    // recomputable by the oracles
    val outHost = s"docs${hostClass(id * 7 + 13, id)}.example.gov.au"
    val quadHost = s"docs${hostClass(id * id + 3, id)}.example.gov.au"
    val html =
      s"""<html><head><title>Doc $id</title><meta name="lang" content="$lang">""" +
        s"""<link href="/css/main.css"></head><body><h1>Heading $id</h1>""" +
        s"""<p>$text</p><a href="/rel/$id">link</a>""" +
        s"""<a href="https://$outHost/x/$id">out</a>""" +
        s"""<a href="https://$quadHost/q/$id">quad</a><a href="#frag">skip</a>""" +
        s"""<script src="/js/app.js">ga('create', 'UA-$ga-1'); """ +
        s"""ga('send', 'pageview'); t=GTM-ABC123;</script></body></html>"""
    headerBlock + "\r\n" + html
  }

  /** documents → multi-record WARC containers (one per partition), each
    * prefixed with a `warcinfo` record (filtered by F1) and a corrupt-gzip
    * record (dropped by S5) so the error-containment paths run. The ONE
    * synthesizer of corpus archives: batch queries split its bytes in
    * memory ([[WarcSource.fromBytes]]), [[stageArchives]] writes them as
    * files. With `gzip` every record is its own gzip member (the Common
    * Crawl layout) and a corrupt MEMBER is planted after the corrupt-body
    * record, so the `.warc.gz` reader's sentinel-and-resync path runs too. */
  def warcFiles(spark: SparkSession, d: String,
      gzip: Boolean): Dataset[(String, Array[Byte])] = {
    import spark.implicits._
    Tables.documents(spark, d)
      .select("doc_id", "text", "lang", "n_chars")
      .as[(Long, String, String, Long)]
      // single-row-group testdata ⇒ repartition so each task builds one
      // WARC container and the parse/RAKE stages downstream parallelize
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        val out = new java.io.ByteArrayOutputStream()
        def emit(rec: Array[Byte]): Unit =
          out.write(if (gzip) WarcSource.gzip(rec) else rec)
        emit(WarcSource.toWireFormat("warcinfo", "",
          0, "software: graft".getBytes(StandardCharsets.UTF_8)))
        emit(WarcSource.toWireFormat("response",
          "https://corrupt.example.gov.au/", 10, Array[Byte](0x1f, 0x7b, 1, 2)))
        // corrupt MEMBER: valid gzip header, garbage deflate stream — the
        // reader must surface a sentinel and resync, never fail
        if (gzip) out.write(Array[Byte](0x1f.toByte, 0x8b.toByte, 0x08, 0,
          1, 2, 3, 4, 0, 3, 7, 7, 7, 7, 7, 7))
        var n = 0
        it.foreach { case (id, text, lang, nChars) =>
          val url = s"https://docs${hostClass(id)}.example.gov.au/page/$id"
          val body = WarcSource.gzip(
            payloadFor(id, text, lang).getBytes(StandardCharsets.UTF_8))
          // deterministic WARC-Date spanning three crawl days — the K3
          // DAY-partitioning axis, oracle-checked via w01's crawl_day
          emit(WarcSource.toWireFormat("response", url, nChars, body,
            warcDate = s"2019-07-0${1 + id % 3}T00:00:00Z"))
          n += 1
        }
        if (n == 0) Iterator.empty
        else Iterator((if (gzip) "synth.warc.gz" else "synth.warc", out.toByteArray))
      }
  }

  /** Write [[warcFiles]]' containers as `crawl-<partition>.warc[.gz]`
    * files under `dir` (as a crawler would drop them) — the one archive
    * stager, for w09, the WARC streams (st05, p03) and `Dev warc-e2e`.
    * `dir` belongs to the caller (a [[graft.analytics.StagingDir]] on the
    * session's filesystem), who must materialize whatever reads the files
    * before deleting it. Writes happen on the EXECUTORS through the
    * Hadoop FS API — no corpus-sized driver collect; file names are
    * partition-deterministic and creates overwrite, so a retried task
    * re-stages the same files. */
  private[graft] def stageArchives(spark: SparkSession, d: String,
      dir: org.apache.hadoop.fs.Path, gzip: Boolean): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val serConf = new graft.warc.source.SerializableHadoopConf(hconf)
    dir.getFileSystem(hconf).mkdirs(dir)
    val dirStr = dir.toString
    val ext = if (gzip) "warc.gz" else "warc"
    warcFiles(spark, d, gzip).foreachPartition {
      (it: Iterator[(String, Array[Byte])]) =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        it.foreach { case (_, bytes) =>
          val p = new org.apache.hadoop.fs.Path(dirStr, f"crawl-$pid%04d.$ext")
          val os = p.getFileSystem(serConf.value).create(p, true)
          try os.write(bytes) finally os.close()
        }
    }
  }

  /** w01: full pipeline end-to-end; every column oracle-recomputable. */
  def w01_warc_pipeline(spark: SparkSession, d: String): DataFrame =
    w01Columns(Pipeline.urlResources(WarcSource.fromBytes(warcFiles(spark, d, gzip = false))))

  /** w01's (and w09's) oracle-comparable projection of `url_resource`. */
  private def w01Columns(urls: DataFrame): DataFrame = {
    import urls.sparkSession.implicits._
    urls
      .select(
        $"url", $"hostname", $"domain_name",
        $"size_bytes".cast("long").as("size_bytes"),
        $"load_time", $"title", $"text_content", $"headings_text",
        $"word_count".cast("long").as("word_count"),
        array_join($"links", "|").as("links_joined"),
        array_join($"resource_urls", "|").as("resources_joined"),
        element_at($"meta_tags", "lang").as("meta_lang"),
        element_at($"headers", "X-Request-Id").as("header_request_id"),
        array_join($"google_analytics", "|").as("ga_joined"),
        array_join($"google_analytics_config", "|").as("ga_config_joined"),
        $"html_errors",
        // compared as STRING: a DATE column's pandas dtype depends on
        // which reader materializes it (pyarrow date32 → object,
        // DuckDB DATE → datetime64) — the exact cross-channel typed-hash
        // trap that kept s06 red for four rounds. The engine layout
        // keeps the real DateType; only the cert row stringifies.
        $"crawl_day".cast("string").as("crawl_day"))
      .orderBy($"url")
  }

  val w01Oracle: String =
    s"""WITH d AS (
      |  SELECT doc_id, text, lang, n_chars,
      |    'docs' || ${hostClassSql} || '.example.gov.au' AS host
      |  FROM documents)
      |SELECT
      |  'https://' || host || '/page/' || doc_id AS url,
      |  CASE WHEN doc_id % 7 = 0 THEN 'aa' || host ELSE host END AS hostname,
      |  'example.gov.au' AS domain_name,
      |  n_chars AS size_bytes,
      |  CAST(doc_id % 5 AS FLOAT) AS load_time,
      |  'Doc ' || doc_id AS title,
      |  'Heading ' || doc_id || ' ' || text || ' link out quad skip' AS text_content,
      |  'Heading ' || doc_id AS headings_text,
      |  6 + len(string_split(text, ' ')) AS word_count,
      |  array_to_string(list_sort([
      |      'https://' || host || '/rel/' || doc_id,
      |      'https://docs' || ${outClassSql} || '.example.gov.au/x/' || doc_id,
      |      'https://docs' || ${quadClassSql} || '.example.gov.au/q/' || doc_id
      |    ]), '|') AS links_joined,
      |  'https://' || host || '/css/main.css|https://' || host || '/js/app.js' AS resources_joined,
      |  lang AS meta_lang,
      |  'a' AS header_request_id,
      |  'UA-' || (10000 + doc_id) || '-1|GTM-ABC123' AS ga_joined,
      |  '''create'', ''UA-' || (10000 + doc_id) || '-1''' AS ga_config_joined,
      |  '' AS html_errors,
      |  '2019-07-0' || (1 + doc_id % 3) AS crawl_day
      |FROM d ORDER BY url""".stripMargin

  /** w02: RAKE keyword extraction (A1–A5) over document text — the A4
    * ranked shape (keyword count + top-1 by score desc, phrase asc),
    * oracle-checked against `w02Oracle` (ranking over the same SQL RAKE
    * the w06 oracle pins). */
  def w02_rake_keywords(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val ranked = udf { text: String =>
      val r = Rake.rankedKeywords(text)
      (r.size, r.headOption.map(_._1).getOrElse(""),
        r.headOption.map(_._2).getOrElse(0f))
    }
    Tables.documents(spark, d)
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("r", ranked($"text"))
      .select($"doc_id", $"r._1".as("n_keywords"),
        $"r._2".as("top_keyword"), $"r._3".as("top_score"))
      .orderBy($"doc_id")
  }

  /** w05: corpus-level RAKE via a typed Aggregator (map-side partial
    * word-stats maps, merged associatively) — top-20 corpus keywords. */
  def w05_corpus_rake(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val corpusKw = udaf(graft.rake.CorpusRakeAgg.aggregator)
    Tables.documents(spark, d)
      .repartition(spark.sparkContext.defaultParallelism)
      .agg(corpusKw($"text").as("scores"))
      .select(explode($"scores").as(Seq("word", "score")))
      .orderBy($"score".desc, $"word")
      .limit(20)
  }

  /** w06: the FULL RAKE output (every phrase + f32 score per document),
    * oracle-checked end-to-end — phrase segmentation at punctuation and
    * stopwords, number filtering, freq/degree word scores, phrase-score
    * sums, all recomputed in SQL by the oracle below. This closes the
    * "RAKE is rows-only" gap: w02/w05 stay as the ranked/corpus shapes,
    * w06 pins the algorithm itself against DuckDB. */
  def w06_rake_scores(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val kwU = udf { text: String => Rake.keywords(text).toSeq }
    Tables.documents(spark, d)
      .repartition(spark.sparkContext.defaultParallelism)
      .select($"doc_id", explode(kwU($"text")).as("kv"))
      .select($"doc_id", $"kv._1".as("phrase"), $"kv._2".as("score"))
      .orderBy($"doc_id", $"phrase")
  }

  /** SQL re-implementation of RAKE (A1–A5): fragments via the reference
    * punctuation regex, tokens with ordinality, stopword gaps-and-islands
    * for phrase grouping, substring number filter, freq/degree stats over
    * scorable tokens, per-phrase score sums — validated token-for-token
    * against an independent reimplementation before being adopted here.
    * The stop VALUES are generated from the same embedded SMART list the
    * engine uses, so the two sides can never drift. */
  /** Shared RAKE CTE chain (through `phrase_scores`) — w06 selects the
    * full per-doc phrase→score map from it; w02 ranks it to the top-1. */
  private lazy val rakeCtes: String = {
    val stopVals = graft.rake.Stopwords.english.toSeq.sorted
      .map(w => s"('${w.replace("'", "''")}')").mkString(",")
    s"""WITH stop(w) AS (VALUES $stopVals),
      |frag AS (
      |  SELECT doc_id, f.frag, f.fi
      |  FROM documents,
      |    (SELECT UNNEST(string_split_regex(documents.text,
      |       '[^\\P{P}-]|\\s+-\\s+')) AS frag,
      |     UNNEST(range(1, len(string_split_regex(documents.text,
      |       '[^\\P{P}-]|\\s+-\\s+')) + 1)) AS fi) f),
      |tok AS (
      |  SELECT doc_id, fi, i, ts[i] AS tok
      |  FROM (SELECT doc_id, fi, string_split_regex(frag, '\\s+') AS ts FROM frag),
      |    UNNEST(range(1, len(ts) + 1)) AS u(i)
      |  WHERE ts[i] <> ''),
      |marked AS (
      |  SELECT doc_id, fi, i, tok,
      |    (lower(tok) IN (SELECT w FROM stop)) AS is_stop
      |  FROM tok),
      |islands AS (
      |  SELECT doc_id, fi, i,
      |    SUM(CASE WHEN is_stop THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id, fi ORDER BY i) AS grp
      |  FROM marked),
      |phrase_toks AS (
      |  SELECT m.doc_id, m.fi, il.grp, m.i, m.tok,
      |    regexp_matches(m.tok, '-?\\p{N}+[./٫,'']?\\p{N}*') AS is_num
      |  FROM marked m JOIN islands il
      |    ON m.doc_id = il.doc_id AND m.fi = il.fi AND m.i = il.i
      |  WHERE NOT m.is_stop),
      |phrases AS (
      |  SELECT doc_id, fi, grp,
      |    array_to_string(list(tok ORDER BY i), ' ') AS phrase,
      |    list(tok ORDER BY i) FILTER (WHERE NOT is_num) AS sc_toks,
      |    COUNT(*) FILTER (WHERE NOT is_num) AS sc_len
      |  FROM phrase_toks GROUP BY 1, 2, 3),
      |word_stats AS (
      |  SELECT doc_id, tok, COUNT(*) AS freq, SUM(sc_len - 1) AS deg
      |  FROM (SELECT p.doc_id, UNNEST(p.sc_toks) AS tok, p.sc_len
      |        FROM phrases p WHERE p.sc_len > 0)
      |  GROUP BY 1, 2),
      |phrase_scores AS (
      |  SELECT p.doc_id, p.phrase,
      |    COALESCE(SUM((ws.deg + ws.freq) * 1.0 / ws.freq), 0.0) AS score
      |  FROM phrases p
      |    LEFT JOIN (SELECT p2.doc_id AS d2, p2.fi, p2.grp,
      |                 UNNEST(p2.sc_toks) AS tok
      |               FROM phrases p2) st
      |      ON st.d2 = p.doc_id AND st.fi = p.fi AND st.grp = p.grp
      |    LEFT JOIN word_stats ws ON ws.doc_id = p.doc_id AND ws.tok = st.tok
      |  GROUP BY 1, 2, p.fi, p.grp)""".stripMargin
  }

  lazy val w06Oracle: String = rakeCtes +
    """
      |SELECT doc_id, phrase, CAST(MAX(score) AS REAL) AS score
      |FROM phrase_scores
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** w02 oracle: the ranked-keyword shape on top of the same RAKE CTEs —
    * per-doc keyword count and the top phrase by (score DESC, phrase),
    * exactly `Rake.rankedKeywords`' deterministic tiebreak. Ranking runs
    * on the f32-cast score so both engines compare identical floats;
    * docs with no candidate phrases keep w02's ("", 0.0) defaults. */
  /** w05 oracle: the corpus-level aggregation on the same RAKE CTEs —
    * word freq/degree summed over EVERY doc's phrases (exactly what the
    * typed Aggregator's reduce/merge accumulate), score =
    * (deg + freq)/freq in double then cast f32, ranked top-20 by
    * (f32 score DESC, word) — `CorpusRakeAgg.finish` + w05's ordering.
    * This closes the last rows-only check that was SQL-expressible. */
  lazy val w05Oracle: String = rakeCtes +
    """,
      |corpus_stats AS (
      |  SELECT tok, COUNT(*) AS freq, SUM(sc_len - 1) AS deg
      |  FROM (SELECT UNNEST(p.sc_toks) AS tok, p.sc_len
      |        FROM phrases p WHERE p.sc_len > 0)
      |  GROUP BY 1)
      |SELECT tok AS word,
      |  CAST((CAST(deg AS DOUBLE) + CAST(freq AS DOUBLE)) / CAST(freq AS DOUBLE)
      |    AS REAL) AS score
      |FROM corpus_stats
      |ORDER BY score DESC, word LIMIT 20""".stripMargin

  lazy val w02Oracle: String = rakeCtes +
    """,
      |kw AS (
      |  SELECT doc_id, phrase, CAST(MAX(score) AS REAL) AS score
      |  FROM phrase_scores GROUP BY 1, 2),
      |ranked AS (
      |  SELECT doc_id, phrase, score,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id
      |      ORDER BY score DESC, phrase) AS rn
      |  FROM kw),
      |counts AS (
      |  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_keywords FROM kw GROUP BY 1)
      |SELECT d.doc_id, COALESCE(c.n_keywords, 0) AS n_keywords,
      |  COALESCE(r.phrase, '') AS top_keyword,
      |  COALESCE(r.score, CAST(0.0 AS REAL)) AS top_score
      |FROM documents d
      |  LEFT JOIN counts c ON c.doc_id = d.doc_id
      |  LEFT JOIN ranked r ON r.doc_id = d.doc_id AND r.rn = 1
      |ORDER BY d.doc_id""".stripMargin

  /** w03: F2 blacklist as a pushdown-friendly Catalyst predicate. */
  def w03_blacklist_filter(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val synth = Tables.documents(spark, d)
      .withColumn("hostname",
        when($"doc_id" % 6 === 0, "data.gov.au")
          .when($"doc_id" % 6 === 1, "trove.nla.gov.au")
          .when($"doc_id" % 6 === 2, "www.tenders.gov.au")
          .otherwise(concat(lit("ok"), $"doc_id", lit(".gov.au"))))
      .withColumn("url",
        when($"doc_id" % 11 === 0,
          concat(lit("https://"), $"hostname", lit("/sbs.com.au/news/x")))
          .otherwise(concat(lit("https://"), $"hostname", lit("/p"))))
    synth.filter(Blacklist.keep($"hostname", $"url"))
      .agg(count(lit(1)).as("n_kept"),
        countDistinct($"hostname").as("n_hosts"))
  }

  val w03Oracle: String =
    """WITH s AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 6 = 0 THEN 'data.gov.au'
      |         WHEN doc_id % 6 = 1 THEN 'trove.nla.gov.au'
      |         WHEN doc_id % 6 = 2 THEN 'www.tenders.gov.au'
      |         ELSE 'ok' || doc_id || '.gov.au' END AS hostname
      |  FROM documents),
      |s2 AS (
      |  SELECT hostname,
      |    CASE WHEN doc_id % 11 = 0 THEN 'https://' || hostname || '/sbs.com.au/news/x'
      |         ELSE 'https://' || hostname || '/p' END AS url
      |  FROM s)
      |SELECT COUNT(*) AS n_kept, COUNT(DISTINCT hostname) AS n_hosts
      |FROM s2
      |WHERE NOT (hostname IN ('data.gov.au','trove.nla.gov.au','www.tenders.gov.au')
      |  OR url LIKE '%sbs.com.au/news%')""".stripMargin

  /** w04: P12 regex fallback extraction on tag-soup pages the strict
    * parser path would reject — title/body/href regexes from
    * `src/main.rs:54-68`. */
  def w04_fallback_extract(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val fb = udf { (id: Long, text: String) =>
      val soup = s"<html><title>Fallback $id</title><body class=x>" +
        s"<div>$text</div><a class=c href=\"/a/$id\">Tail $id words here"
      val r = HtmlParse.parseFallback(soup)
      (r.title, r.text.mkString(" "), r.links.mkString("|"))
    }
    Tables.documents(spark, d)
      .withColumn("r", fb($"doc_id", $"text"))
      .select($"doc_id", $"r._1".as("fb_title"), $"r._2".as("fb_text"),
        $"r._3".as("fb_links"))
      .orderBy($"doc_id")
  }

  val w04Oracle: String =
    """SELECT doc_id,
      |  'Fallback ' || doc_id AS fb_title,
      |  'Tail ' || doc_id || ' words here' AS fb_text,
      |  '/a/' || doc_id AS fb_links
      |FROM documents ORDER BY doc_id""".stripMargin

  /** w07: domain link graph — hosts as nodes, crawl hyperlinks as edges:
    * edge inventory, self-loop count, and weakly-connected components
    * (the same distributed min-label CC core d06 uses). Built from the
    * REAL pipeline output (parse → F6 anchor filter → P9 absolutize),
    * and the synthesis rule (class c links to itself via /rel and to
    * (7c+13) mod 50 via the cross-host anchor) lets the oracle recompute
    * the whole graph from `documents`. Scale shape: the page→edge
    * explode+distinct is the heavy distributed step (one shuffle on the
    * edge pair); the host graph that remains is millions of nodes at web
    * scale — still a DataFrame, never collected; CC rounds are shuffle
    * joins on node id. */
  /** Host-class edge list `(src, dst)` distilled from the real pipeline
    * output — the shared graph substrate of w07 (components) and w08
    * (PageRank). */
  def hostEdges(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val hostRe = "https://docs(\\d+)\\.example\\.gov\\.au/.*"
    Pipeline.urlResources(WarcSource.fromBytes(warcFiles(spark, d, gzip = false)))
      .select(regexp_extract($"url", hostRe, 1).cast("long").as("src"),
        explode($"links").as("lnk"))
      .select($"src", regexp_extract($"lnk", hostRe, 1).cast("long").as("dst"))
      .distinct()
  }

  def w07_link_graph(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    // Checkpoint: `edges` feeds both connectedComponents and the edge
    // aggregate below — without it the full WARC parse lineage runs twice
    // (w08 already checkpoints the same frame for the same reason).
    val edges = hostEdges(spark, d).localCheckpoint(true)
    val cc = graft.dedup.DedupOps.connectedComponents(
      edges.select($"src".as("id_a"), $"dst".as("id_b")))
    val comps = cc.groupBy($"label").agg(count(lit(1)).as("sz"))
    edges.agg(count(lit(1)).as("n_edges"),
        sum(when($"src" === $"dst", 1L).otherwise(0L)).as("n_self_loops"))
      .crossJoin(cc.agg(count(lit(1)).as("n_nodes")))
      .crossJoin(comps.agg(count(lit(1)).as("n_components"),
        max($"sz").as("max_component"), sum($"label").as("label_sum")))
      .select($"n_nodes", $"n_edges", $"n_self_loops",
        $"n_components", $"max_component", $"label_sum")
  }

  val w07Oracle: String =
    s"""WITH RECURSIVE cls AS (SELECT DISTINCT ${hostClassSql} AS c FROM documents),
      |e0 AS (
      |  SELECT DISTINCT src, dst FROM (
      |    SELECT c AS src, c AS dst FROM cls
      |    UNION ALL
      |    SELECT ${hostClassSql}, ${outClassSql} FROM documents
      |    UNION ALL
      |    SELECT ${hostClassSql}, ${quadClassSql} FROM documents) t),
      |nodes AS (SELECT DISTINCT id FROM (
      |  SELECT src AS id FROM e0 UNION ALL SELECT dst FROM e0) t),
      |ue AS (SELECT DISTINCT a, b FROM (
      |  SELECT src AS a, dst AS b FROM e0 WHERE src <> dst
      |  UNION ALL SELECT dst, src FROM e0 WHERE src <> dst) t),
      |reach(id, r) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT e.a, r.r FROM ue e JOIN reach r ON e.b = r.id),
      |comp AS (SELECT id, MIN(r) AS root FROM reach GROUP BY 1),
      |cl AS (SELECT root, COUNT(*) AS sz FROM comp GROUP BY 1)
      |SELECT
      |  (SELECT COUNT(*) FROM nodes) AS n_nodes,
      |  (SELECT COUNT(*) FROM e0) AS n_edges,
      |  (SELECT COUNT(*) FROM e0 WHERE src = dst) AS n_self_loops,
      |  (SELECT COUNT(*) FROM cl) AS n_components,
      |  (SELECT MAX(sz) FROM cl) AS max_component,
      |  (SELECT CAST(SUM(root) AS BIGINT) FROM cl) AS label_sum""".stripMargin

  /** One PageRank power-iteration round over co-partitioned inputs —
    * exposed for plan pinning: with `el` hash-partitioned on src and
    * `ranks` hash-partitioned on id at the SAME count (both
    * checkpointed, partitioning preserved by LogicalRDD), the physical
    * plan must contain exactly ONE exchange: the dst-keyed contribution
    * transpose. */
  private[graft] def w08Round(el: DataFrame, ranks: DataFrame,
      base: Long): DataFrame =
    el.join(ranks.select(col("id").as("src"), col("rank").as("r")), "src")
      .select(col("dst").as("id"),
        expr("(85 * r) div (100 * outdeg)").as("c"))
      .groupBy(col("id")).agg(sum(col("c")).as("sumc"))
      .select(col("id"), (lit(base) + col("sumc")).as("rank"))

  /** w08: PageRank over the domain link graph — 10 damped (d = 0.85)
    * power-iteration rounds in FIXED-POINT integer arithmetic: ranks are
    * scaled by 10¹² and every divide is an integer `div`, so the
    * iteration is bit-exact on both engines — double contributions would
    * make the last ulp depend on partial-aggregation merge order (the
    * same determinism rule as s04's centroid sums). The quadratic
    * cross-host link gives hosts varying in-degrees, so the stationary
    * distribution is genuinely non-uniform. Driver loop = iteration
    * control only; localCheckpoint bounds lineage growth across rounds.
    * No dangling-mass term is needed: every host links to itself via
    * /rel, so out-degree ≥ 1 everywhere.
    *
    * Round shape (r22, guide §2.4): ONE exchange per round — the
    * contribution transpose (src-keyed rows re-keyed by dst), which is
    * the only data movement PageRank fundamentally requires. `el` is
    * hash-partitioned on src ONCE at a size-derived count and each
    * round's output lands hash-partitioned on id at the same count (the
    * checkpoint preserves it), so the rank join zips partitions with no
    * exchange; AQE coalescing is suspended inside the loop so the
    * aggregation exchange keeps that count instead of re-coalescing per
    * round (the count is already size-derived — coalescing could only
    * break the co-partitioning, not improve it). Map-side partial
    * aggregation stays on the transpose, so the shuffle carries
    * near-node-scale partial sums, not edge-scale rows.
    *
    * The former per-round `nodes` LEFT join is dropped as provably
    * redundant: every node IS the dst of at least one edge — a src is
    * always a parsed page's own host class, whose /rel self-link plants
    * the (c, c) edge, so dsts ⊇ srcs and nodes = srcs ∪ dsts = dsts —
    * hence the contribution aggregate already emits exactly one row per
    * node and `sumc` is never null. Same rows, same values (oracle
    * unchanged and re-verified). */
  def w08_pagerank(spark: SparkSession, d: String): DataFrame =
    w08Ranks(spark, hostEdges(spark, d).localCheckpoint(true))

  /** w08's power iteration over a checkpointed `(src, dst)` edge list.
    * The loop relies on dsts ⊇ srcs (see [[w08_pagerank]]) and checks
    * it once: a src that is never a dst would silently vanish from the
    * rank output from round 1, so it throws instead, naming how many
    * nodes. */
  private[graft] def w08Ranks(spark: SparkSession, edges: DataFrame): DataFrame = {
    import spark.implicits._
    val Scale = 1000000000000L
    val nodes = edges.select($"src".as("id"))
      .union(edges.select($"dst".as("id"))).distinct().localCheckpoint(true)
    val n = nodes.count() // iteration constant, not data movement
    val missing = n - edges.select($"dst").distinct().count()
    if (missing != 0)
      throw new IllegalStateException(s"w08: $missing node(s) are a src " +
        "but never a dst (no self-edge); PageRank would drop them")
    // Size-derived loop partition count (never a local[32] constant):
    // the loop's widest shuffle is bounded by one (dst, contrib) long
    // pair per edge (~24 B unsafe-row bytes), sized to AQE's own
    // advisory partition target — a tiny graph runs the loop in one
    // partition, a web-scale host graph gets advisory-sized ones.
    val nEdges = edges.count()
    val advisory = spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val parts = math.max(1L, (nEdges * 24L + advisory - 1) / advisory).toInt
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("outdeg"))
    val base = (15L * Scale) / (100L * n)
    // AQE is suspended for the loop (one scoped withConf): an
    // AdaptiveSparkPlanExec root reports UnknownPartitioning to
    // Dataset.localCheckpoint, so the checkpointed LogicalRDD would
    // LOSE the hash partitioning and every round would re-shuffle both
    // join sides (measured: 3 exchanges/round instead of 1; PlanSpec
    // pins the zip). Nothing is given up: the loop's shuffles are
    // already size-pinned to `parts`, so runtime coalescing has nothing
    // to coalesce, and AQE cannot split aggregation skew anyway.
    val finalRanks = GraftSession.withConf(spark,
        "spark.sql.shuffle.partitions" -> parts.toString,
        "spark.sql.adaptive.enabled" -> "false") {
      val el = edges.join(deg, "src")
        .repartition(parts, $"src").localCheckpoint(true)
      var ranks = nodes.select($"id", lit(Scale / n).as("rank"))
        .repartition(parts, $"id").localCheckpoint(true)
      for (_ <- 1 to 10) {
        ranks = w08Round(el, ranks, base).localCheckpoint(true)
      }
      ranks
    }
    finalRanks.orderBy($"id")
  }

  val w08Oracle: String = {
    val graph =
      s"""WITH cls AS (SELECT DISTINCT ${hostClassSql} AS c FROM documents),
        |e0 AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT c AS src, c AS dst FROM cls
        |    UNION ALL
        |    SELECT ${hostClassSql}, ${outClassSql} FROM documents
        |    UNION ALL
        |    SELECT ${hostClassSql}, ${quadClassSql} FROM documents) t),
        |nodes AS (SELECT DISTINCT id FROM (
        |  SELECT src AS id FROM e0 UNION ALL SELECT dst FROM e0) t),
        |deg AS (SELECT src, COUNT(*) AS outdeg FROM e0 GROUP BY 1),
        |el AS (SELECT e0.src, e0.dst, deg.outdeg FROM e0 JOIN deg USING (src)),
        |base AS (SELECT (15 * 1000000000000) // (100 * COUNT(*)) AS b,
        |                1000000000000 // COUNT(*) AS r0 FROM nodes),
        |p0 AS (SELECT id, (SELECT r0 FROM base) AS rank FROM nodes)""".stripMargin
    val iters = (1 to 10).map { k =>
      s"""p$k AS (
         |  SELECT n.id, (SELECT b FROM base) + COALESCE(s.sumc, 0) AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT el.dst AS id,
         |      SUM((85 * p.rank) // (100 * el.outdeg)) AS sumc
         |    FROM el JOIN p${k - 1} p ON p.id = el.src GROUP BY 1) s
         |  ON s.id = n.id)""".stripMargin
    }.mkString(",\n")
    s"$graph,\n$iters\nSELECT id, CAST(rank AS BIGINT) AS rank FROM p10 ORDER BY id"
  }

  /** w09: the w01 chain through PER-RECORD-GZIPPED archives and the
    * splittable `.warc.gz` reader — the Common Crawl ingestion shape.
    * The same synthesized records are staged by [[stageArchives]] as real
    * multi-member `.warc.gz` files (one gzip member per record, plus a
    * planted corrupt member and the w01 corrupt-gzip-BODY record so both
    * containment paths run), then read back through
    * `spark.read.format("warc")` with splits far smaller than an archive
    * — most splits start mid-member, so member sync + trial-inflate
    * validation are exercised at the gate, not just in specs. Output and
    * oracle are w01's verbatim: the gz encoding must be invisible.
    *
    * The result is eagerly materialized (localCheckpoint) so the staging
    * dir can be deleted before returning — the driver holds only the
    * aggregate-sized output, never the archives. */
  def w09_warcgz_pipeline(spark: SparkSession, d: String): DataFrame =
    graft.analytics.StagingDir.withStagingDir(spark, "graft-w09") { dir =>
      import spark.implicits._
      stageArchives(spark, d, dir, gzip = true)
      val recs = spark.read.format("warc")
        .option("pathGlobFilter", "*.warc.gz")
        // far below archive size ⇒ several splits per file, most landing
        // mid-member (the sync + validation path, continuously gated)
        .option("maxPartitionBytes", (32 * 1024).toString)
        .load(dir.toString)
        .as[WarcRecord]
      // materialize before the staging dir dies
      w01Columns(Pipeline.urlResources(recs)).localCheckpoint(true)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "w09_warcgz_pipeline" -> (w09_warcgz_pipeline _),
    "w08_pagerank" -> (w08_pagerank _),
    "w07_link_graph" -> (w07_link_graph _),
    "w01_warc_pipeline" -> (w01_warc_pipeline _),
    "w02_rake_keywords" -> (w02_rake_keywords _),
    "w05_corpus_rake" -> (w05_corpus_rake _),
    "w06_rake_scores" -> (w06_rake_scores _),
    "w03_blacklist_filter" -> (w03_blacklist_filter _),
    "w04_fallback_extract" -> (w04_fallback_extract _),
  )

  val oracle: Map[String, String] = Map(
    "w09_warcgz_pipeline" -> w01Oracle, // same records, gz-invisible
    "w08_pagerank" -> w08Oracle,
    "w07_link_graph" -> w07Oracle,
    "w01_warc_pipeline" -> w01Oracle,
    "w02_rake_keywords" -> w02Oracle,
    "w05_corpus_rake" -> w05Oracle,
    "w06_rake_scores" -> w06Oracle,
    "w03_blacklist_filter" -> w03Oracle,
    "w04_fallback_extract" -> w04Oracle,
  )
}
