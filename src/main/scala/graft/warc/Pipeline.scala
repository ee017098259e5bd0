package graft.warc

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.rake.Rake

/** The WARC → `url_resource` pipeline (SURVEY.md §3.2), Spark-first.
  *
  * Reference shape: scan → F1 type filter → header projections → F2
  * blacklist → gunzip → envelope split → header map → GA scans → size
  * guard → HTML parse → links/keywords/word-count → sink
  * (`src/main.rs:169-515`). Here it is one narrow (shuffle-free)
  * DataFrame plan: cheap filters are plain column predicates BEFORE the
  * expensive decode/parse UDFs so Catalyst keeps them next to the scan
  * (SURVEY §4); the parse cascade is a single deterministic struct-
  * returning UDF. Every output field after that is its own expression —
  * a built-in, or a named single-pass kernel UDF where the regex form
  * dominated the cost (GA scans, whitespace collapse, word count, RAKE) —
  * so column pruning drops the work of every unused field.
  */
object Pipeline {

  // Reference regex constants (`src/main.rs:46-68`), Java-regex dialect.
  val HostnamePattern = "://(.*?(\\.au|\\.com|\\.net|\\.org)?)(:|/)"
  val GaPattern = "\\bUA-\\d{4,10}-\\d{1,4}\\b|\\bGTM-[A-Z0-9]{1,7}\\b"
  val GaConfigPattern = "ga\\((.*?)\\)"
  /** F3 oversize guard threshold (`src/main.rs:376`). */
  val MaxParseBytes = 2000000L
  /** P3 HTTP envelope separator (`src/main.rs:303-304`). */
  val EnvelopeSep = "\n\r\n"

  // ---- scalar functions (SURVEY §2.7) ----

  /** S5: gunzip to lossy UTF-8 text; corrupt gzip → null (dropped). */
  val gunzipText: Array[Byte] => String = bytes =>
    WarcSource.gunzip(bytes).map(b => new String(b, StandardCharsets.UTF_8)).orNull

  /** P4: HTTP header block → map. Skips blank and `HTTP/` status lines;
    * splits on `": "`; the value is parts[1] only — a value containing
    * `": "` loses its tail, reproducing the reference quirk
    * (`src/main.rs:309-314`). */
  val parseHeaders: String => Map[String, String] = block => {
    if (block == null) Map.empty
    else block.split('\n').iterator.map(_.stripSuffix("\r")).collect {
      case line if line.nonEmpty && !line.startsWith("HTTP/") && line.contains(": ") =>
        val parts = line.split(": ", -1)
        parts(0) -> parts(1)
    }.toMap
  }

  val parseHtmlFn: String => HtmlResult = html =>
    if (html == null) HtmlResult.empty else HtmlParse.parse(html)

  val absolutizeFn: (String, Seq[String]) => Seq[String] =
    (url, links) => UrlTools.absolutize(url, links)

  val domainRootFn: String => String = UrlTools.domainRoot

  val rakeFn: String => Map[String, Float] = text => Rake.keywords(text)

  /** `regexp_extract_all(s, re, group)`, trying `re` only where one of
    * `literals` begins. Every match of the GA patterns starts with one of
    * its literals, so this finds the same matches in the same order; a
    * page without a literal costs one `indexOf` per literal. Transparent
    * bounds let `\b` see the character before the candidate position. */
  private def extractAt(re: java.util.regex.Pattern, group: Int,
      literals: Array[String], s: String): Seq[String] = {
    if (s == null) return null
    val next = literals.map(s.indexOf(_)) // -1 once a literal is exhausted
    var m: java.util.regex.Matcher = null
    val out = Seq.newBuilder[String]
    var from = 0
    var at = 0
    while (at >= 0) {
      at = -1
      var k = 0
      while (k < next.length) {
        if (next(k) >= 0 && next(k) < from) next(k) = s.indexOf(literals(k), from)
        if (next(k) >= 0 && (at < 0 || next(k) < at)) at = next(k)
        k += 1
      }
      if (at >= 0) {
        if (m == null) m = re.matcher(s).useTransparentBounds(true)
        m.region(at, s.length)
        from = if (m.lookingAt()) {
          val g = m.group(group)
          out += (if (g == null) "" else g)
          m.end()
        } else at + 1
      }
    }
    out.result()
  }

  private val GaRe = java.util.regex.Pattern.compile(GaPattern)
  private val GaConfigRe = java.util.regex.Pattern.compile(GaConfigPattern)
  private val GaLiterals = Array("UA-", "GTM-")
  private val GaConfigLiterals = Array("ga(")

  /** P7: every [[GaPattern]] match (`regexp_extract_all(_, GaPattern, 0)`). */
  val gaTrackerIds: String => Seq[String] = html => extractAt(GaRe, 0, GaLiterals, html)

  /** P8: capture 1 of every [[GaConfigPattern]] match. */
  val gaConfigCalls: String => Seq[String] =
    html => extractAt(GaConfigRe, 1, GaConfigLiterals, html)

  /** P10: `regexp_replace(s, "(\\s|\\\\n){2,}", "")` in one pass. A unit is
    * one ASCII `\s` char or the two chars `\` `n`; a run of two or more
    * units is removed, a lone unit is kept. */
  val collapseWs: String => String = s => {
    if (s == null) null
    else {
      val n = s.length
      var sb: java.lang.StringBuilder = null
      var copied = 0 // s[0, copied) is already in sb
      var i = 0
      while (i < n) {
        var j = i
        var units = 0
        var more = true
        while (more) {
          if (j < n && Rake.isSpace(s.charAt(j))) { j += 1; units += 1 }
          else if (j + 1 < n && s.charAt(j) == '\\' && s.charAt(j + 1) == 'n') {
            j += 2; units += 1
          } else more = false
        }
        if (units >= 2) {
          if (sb == null) sb = new java.lang.StringBuilder(n)
          sb.append(s, copied, i)
          copied = j
        }
        i = if (units > 0) j else i + 1
      }
      if (sb == null) s else sb.append(s, copied, n).toString
    }
  }

  /** P11: `size(split(trim(s), "\\s+"))`, or 0 when `trim(s)` is empty.
    * SQL `trim` strips spaces only and the split keeps leading and
    * trailing empty pieces, so the count is the number of `\s` runs + 1. */
  val wordCount: String => java.lang.Integer = s => {
    if (s == null) null
    else {
      var b = 0
      var e = s.length
      while (b < e && s.charAt(b) == ' ') b += 1
      while (e > b && s.charAt(e - 1) == ' ') e -= 1
      var runs = 0
      var i = b
      while (i < e) {
        if (Rake.isSpace(s.charAt(i))) {
          runs += 1
          while (i < e && Rake.isSpace(s.charAt(i))) i += 1
        } else i += 1
      }
      if (b == e) 0 else runs + 1
    }
  }

  /** P3 header block: the text before the first [[EnvelopeSep]] (all of
    * it when there is none) — part 0 of `split(decoded, "\n\r\n")`. */
  def headerBlock(decoded: Column): Column = substring_index(decoded, EnvelopeSep, 1)

  /** P3 raw HTML: the text after the first [[EnvelopeSep]] with every
    * further separator replaced by one space, or "" when there is none —
    * `array_join(slice(split(decoded, "\n\r\n"), 2, ∞), " ")` without
    * the regex split and the array. */
  def htmlBody(decoded: Column): Column = {
    val at = instr(decoded, EnvelopeSep)
    when(at === 0, lit(""))
      .otherwise(replace(decoded.substr(at + EnvelopeSep.length, lit(Int.MaxValue)),
        lit(EnvelopeSep), lit(" ")))
  }

  // ---- the plan ----

  /** Full enrichment: Dataset[WarcRecord] → url_resource DataFrame with
    * the 18-column contract of SURVEY §1.2. */
  def urlResources(records: Dataset[WarcRecord]): DataFrame = {
    val spark = records.sparkSession
    import spark.implicits._

    val gunzipU = udf(gunzipText)
    val headersU = udf(parseHeaders)
    val parseU = udf(parseHtmlFn)
    val absU = udf(absolutizeFn)
    val domainU = udf(domainRootFn)
    val rakeU = udf(rakeFn).withName("rake_keywords")
    val gaU = udf(gaTrackerIds).withName("ga_tracker_ids")
    val gaConfigU = udf(gaConfigCalls).withName("ga_config_calls")
    val collapseU = udf(collapseWs).withName("collapse_ws")
    val wordCountU = udf(wordCount).withName("count_words")

    val df = records.toDF()
      // F1 record-type filter (`src/main.rs:230-231`)
      .filter($"version" =!= "0" &&
        element_at($"header", "warc-type") === "response")
      // header projections (`src/main.rs:233-244`)
      .withColumn("url", coalesce(element_at($"header", "warc-target-uri"), lit("")))
      // try_cast: crawl-controlled header strings must never fail the job
      // under ANSI mode — malformed/overflowing values → 0, matching the
      // reference's parse::<i32>().unwrap_or(0)
      .withColumn("size_bytes",
        coalesce(element_at($"header", "uncompressed-content-length")
          .try_cast("int"), lit(0)))
      // P1 hostname from URL (`src/main.rs:51-52,245-248`)
      .withColumn("hostname_from_url",
        regexp_extract($"url", HostnamePattern, 1))
      // F2 blacklist (`src/blacklist.rs`)
      .filter(Blacklist.keep($"hostname_from_url", $"url"))
      // S5 gunzip; corrupt → drop (`src/main.rs:287-302`)
      .withColumn("decoded", gunzipU($"content"))
      .filter($"decoded".isNotNull)
      // P3 envelope split on "\n\r\n" (`src/main.rs:303-304,342`)
      .withColumn("headers", headersU(headerBlock($"decoded")))
      .withColumn("raw_html", htmlBody($"decoded"))
      // P5 load_time (`src/main.rs:316-325`)
      .withColumn("load_time",
        (coalesce(element_at($"headers", "X-Funnelback-Total-Request-Time-MS")
          .try_cast("float"), lit(0f)) / 1000f).cast("float"))
      // P6 hostname override (`src/main.rs:326-332`)
      .withColumn("hostname",
        coalesce(element_at($"headers", "X-Funnelback-AA-Domain"),
          $"hostname_from_url"))
      // P2 domain root (`src/main.rs:333-339`)
      .withColumn("domain_name", domainU($"hostname"))
      // P7 GA tracker ids (`src/main.rs:344-355`)
      .withColumn("google_analytics", gaU($"raw_html"))
      // P8+F5 GA config minus plain pageviews (`src/main.rs:356-375`),
      // LAMBDA-FREE (r12): the two literal pageview forms drop via
      // array_remove ∘ array_remove ≡ filter(_, x => x ≠ a && x ≠ b) on
      // a null-free extract. The higher-order `filter` this replaces is
      // the same construct that deterministically mis-evaluated (empty
      // result, correct when projected standalone) on this UDF-heavy
      // WARC lineage in r11 — see LambdaHofReproSpec and
      // TextOps.stopCount for the pinned hazard.
      .withColumn("google_analytics_config",
        array_remove(
          array_remove(
            gaConfigU($"raw_html"),
            "\"send\", \"pageview\""),
          "'send', 'pageview'"))
      // F3 size guard around the parse cascade (`src/main.rs:376-381`);
      // chars <= bytes, so only pages over the bound in bytes are counted
      .withColumn("html",
        when($"size_bytes" > MaxParseBytes ||
            (octet_length($"raw_html") > MaxParseBytes &&
              length($"raw_html") > MaxParseBytes),
          typedLit(HtmlResult.empty))
          .otherwise(parseU($"raw_html")))
      // P9 absolutize + canonicalize (`src/lib.rs:400-417`)
      .withColumn("links", absU($"url", $"html.links"))
      .withColumn("resource_urls", absU($"url", $"html.resource_urls"))
      // P10 text join + parser-path whitespace collapse (`src/main.rs:384-386`)
      .withColumn("text_content", collapseU(array_join($"html.text", " ")))
      .withColumn("headings_text", array_join($"html.headings_text", " "))
      // P11 word count (`src/main.rs:468-471`)
      .withColumn("word_count", wordCountU($"text_content"))
      // A1–A5 RAKE keywords (`src/lib.rs:386-399`)
      .withColumn("keywords", rakeU($"text_content"))
      // K3 DAY axis: the crawl day from the record's WARC-Date header
      // (ISO 8601 — the leading 10 chars are the date). The reference
      // gets its DAY partitioning from BigQuery load-time ingestion
      // (`load.bat:3-7`); the Spark counterpart derives it from the
      // archive's own crawl timestamp so [[run]] can partitionBy it.
      // Records without the header (pre-1.0 tools) or with a mangled
      // timestamp → null → the default partition, never a dropped row
      // or a failed job (try_to_date, same ANSI discipline as the
      // try_casts above — Spark 4 runs ANSI-on by default).
      .withColumn("crawl_day", expr(
        "try_to_date(substring(element_at(header, 'warc-date'), 1, 10))"))

    df.select(
      $"url", $"hostname", $"domain_name", $"size_bytes", $"load_time",
      $"html.title".as("title"), $"text_content", $"headings_text",
      $"word_count", $"links", $"resource_urls", $"keywords",
      $"html.meta_tags".as("meta_tags"), $"headers",
      $"google_analytics", $"google_analytics_config",
      $"html.html_errors".as("html_errors"), $"source", $"crawl_day")
  }

  /** K4 debug sink (`src/lib.rs:347-371` writes `{url}-broken.htm`):
    * records whose gzip body is corrupt, side-written to a quarantine
    * path instead of silently dropped. Cheap — runs off the same scan
    * before the expensive parse stages. */
  def quarantine(records: Dataset[WarcRecord], path: String): Unit = {
    val spark = records.sparkSession
    import spark.implicits._
    val gunzipU = udf(gunzipText)
    records.toDF()
      .filter($"version" =!= "0" &&
        element_at($"header", "warc-type") === "response")
      .withColumn("decoded", gunzipU($"content"))
      .filter($"decoded".isNull)
      .select(
        coalesce(element_at($"header", "warc-target-uri"), lit("")).as("url"),
        length($"content").as("gzip_bytes"), $"source")
      .write.mode("overwrite").parquet(path)
  }

  /** End-to-end job: WARC glob → url_resource files (SURVEY §3.1-3.2).
    * Output is laid out for the warehouse contract K3 (`load.bat:1-10`,
    * `--time_partitioning_type=DAY --clustering_fields=domain_name`):
    * file formats with a directory layout (parquet & co.) write
    * `partitionBy(crawl_day)` — the DAY pruning axis, derived from each
    * record's WARC-Date in [[urlResources]] — and sort within partitions
    * by (crawl_day, domain_name) so each day's files cluster by domain
    * and per-domain scans prune row groups; `maxRecordsPerFile` mirrors
    * the reference's 50k-records-per-output-file granularity (D5,
    * `src/main.rs:159-160`). The Avro path keeps the reference's exact
    * 18-field container contract (its DAY axis is applied by the
    * warehouse LOADER, exactly as `load.bat` does with BigQuery).
    */
  def run(spark: SparkSession, warcGlob: String, outPath: String,
      format: String = "avro", quarantinePath: Option[String] = None): Unit = {
    // S3 idempotency probe (`src/lib.rs:155-169`): skip the whole unit of
    // work when the output already exists — restartable at file granularity.
    val hadoopPath = new org.apache.hadoop.fs.Path(outPath)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(outPath, "_SUCCESS"))) return
    // a partial dir without _SUCCESS is a failed attempt — clear it so
    // the restart isn't killed by FileOutputFormat.checkOutputSpecs
    if (fs.exists(hadoopPath)) fs.delete(hadoopPath, true)
    val records = WarcSource.read(spark, warcGlob)
    quarantinePath.foreach(qp => quarantine(records, qp))
    val out = urlResources(records)
      .sortWithinPartitions("crawl_day", "domain_name")
    format match {
      case "avro" => AvroSink.write(out, outPath)
      case f => out.write.mode("overwrite").format(f)
        .option("maxRecordsPerFile", 50000)
        .partitionBy("crawl_day").save(outPath)
    }
  }

  /** S3 idempotency at the REFERENCE's granularity (`src/lib.rs:155-169`
    * skips per output Avro object, one per input report): one unit of
    * work per input archive, each with its own `<outRoot>/<stem>` dir and
    * `_SUCCESS` probe, so a restart mid-crawl redoes only the archives
    * whose outputs are missing — [[run]]'s single probe redoes the whole
    * glob. Still fully distributed: each per-archive job splits its file
    * by byte range internally, and up to `maxConcurrentJobs` archive jobs
    * run at once (Spark's scheduler interleaves their stages), so small
    * archives don't serialize the cluster behind one another.
    * Returns (archive path, ran?) per input for job-level auditing. */
  def runPerFile(spark: SparkSession, warcGlob: String, outRoot: String,
      format: String = "avro", quarantineRoot: Option[String] = None,
      maxConcurrentJobs: Int = 4): Seq[(String, Boolean)] = {
    // inputs and outputs may live on DIFFERENT filesystems (s3a crawl →
    // hdfs warehouse): list with the glob's own fs, probe with outRoot's
    val conf = spark.sparkContext.hadoopConfiguration
    val globPath = new org.apache.hadoop.fs.Path(warcGlob)
    val inFs = globPath.getFileSystem(conf)
    val outFs = new org.apache.hadoop.fs.Path(outRoot).getFileSystem(conf)
    val inputs = Option(inFs.globStatus(globPath))
      .map(_.toSeq).getOrElse(Seq.empty)
      .filter(_.isFile).map(_.getPath)
    def stem(p: org.apache.hadoop.fs.Path): String = {
      val n = p.getName
      val cut = n.indexOf(".warc")
      if (cut > 0) n.substring(0, cut) else n
    }
    // two inputs sharing a stem (a.warc + a.warc.gz) would race on one
    // unit dir — run() deletes a partial dir, so the collision corrupts
    // output that then gets a _SUCCESS. Refuse up front.
    val dup = inputs.groupBy(stem).filter(_._2.lengthCompare(1) > 0)
    require(dup.isEmpty,
      s"runPerFile: inputs collide on output unit name(s) " +
        s"${dup.map { case (k, v) => s"$k <- ${v.mkString(", ")}" }.mkString("; ")}")
    val todo = inputs.map { p =>
      val done = outFs.exists(new org.apache.hadoop.fs.Path(
        s"$outRoot/${stem(p)}", "_SUCCESS"))
      (p, !done)
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, maxConcurrentJobs))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val jobs = todo.collect { case (p, true) =>
        scala.concurrent.Future {
          run(spark, p.toString, s"$outRoot/${stem(p)}", format,
            quarantineRoot.map(q => s"$q/${stem(p)}"))
        }
      }
      // settle ALL jobs (success or failure) BEFORE acting on any
      // failure: rethrowing on the first error while sibling jobs were
      // still writing would let an immediate restart launch run()
      // against a unit whose first attempt is still live — and run()
      // deletes the partial dir out from under it (r9 advisory). Then
      // fail loudly on the first error; completed units keep their
      // _SUCCESS and are skipped on the restart this throw forces.
      val settled = scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(
          jobs.map(_.transform(scala.util.Success(_)))),
        scala.concurrent.duration.Duration.Inf)
      settled.collectFirst { case scala.util.Failure(e) => e }
        .foreach(e => throw e)
    } finally pool.shutdown()
    todo.map { case (p, ran) => (p.toString, ran) }
  }
}
