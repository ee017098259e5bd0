package graft.warc

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{element_at, size}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Drives the splittable WARC DataSourceV2 with byte-range splits far
  * smaller than the file, asserting exactly-once record recovery against
  * the trusted single-pass splitter. */
class WarcSourceV2Spec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("warc-v2-spec").master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def makeWarc(n: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(WarcSource.toWireFormat("warcinfo", "", 0,
      "software: graft\n".getBytes(StandardCharsets.UTF_8)))
    (0 until n).foreach { i =>
      // bodies of varying size incl. gzip (binary) content, and every 7th
      // record EMBEDS a plausible fake WARC record (WARC-Type +
      // Content-Length + spec terminator) whose bogus 100 KB length would
      // jump many real records if a mid-split sync ever trusted it
      val body =
        if (i % 7 == 0)
          ("quoting a warc capture:\nWARC/1.0\r\nWARC-Type: response\r\n" +
            "WARC-Target-URI: https://fake/\r\nContent-Length: 100000\r\n\r\n" +
            "trailing junk " + i + " " + ("z" * (i % 300)))
            .getBytes(StandardCharsets.UTF_8)
        else if (i % 3 == 0) WarcSource.gzip(("doc " + i + " " + ("x" * (i % 500))).getBytes)
        else ("plain body " + i + " " + ("y" * (i % 700))).getBytes(StandardCharsets.UTF_8)
      out.write(WarcSource.toWireFormat("response", s"https://ex.gov.au/p/$i",
        body.length, body))
    }
    out.toByteArray
  }

  test("splittable source returns every record exactly once across splits") {
    val dir = Files.createTempDirectory("warcv2")
    val bytes = makeWarc(200)
    Files.write(dir.resolve("a.warc"), bytes)
    Files.write(dir.resolve("b.warc"), makeWarc(57))

    val expected =
      (WarcSource.splitWarc(bytes, "a.warc").toSeq ++
        WarcSource.splitWarc(makeWarc(57), "b.warc").toSeq)
        .filter(_.version != "0")
        .map(r => (r.header.getOrElse("warc-target-uri", ""), r.content.length, r.source))
        .sorted

    // 4 KiB ranges => many splits per file, most starting mid-record
    val df = spark.read.format("warc")
      .option("maxPartitionBytes", "4096")
      .load(dir.toString)
    assert(df.rdd.getNumPartitions > 10)

    val sp = spark
    import sp.implicits._
    val got = df.filter($"version" =!= "0")
      .select($"header".getItem("warc-target-uri"), $"content", $"source")
      .as[(String, Array[Byte], String)]
      .collect()
      .map { case (uri, c, src) => (Option(uri).getOrElse(""), c.length, src) }
      .toSeq.sorted
    assert(got.size == expected.size)
    assert(got == expected)
  }

  test("malformed numeric headers never fail the job under ANSI mode") {
    // crawl-controlled header values: "N/A" length, non-numeric load time
    val body = WarcSource.gzip(
      ("HTTP/1.1 200 OK\r\nX-Funnelback-Total-Request-Time-MS: fast\r\n" +
        "\n\r\n<html><body>hello ansi</body></html>")
        .getBytes(StandardCharsets.UTF_8))
    val rec = WarcSource.toWireFormat("response", "https://ex.gov.au/x", 123, body)
    val s = new String(rec, StandardCharsets.ISO_8859_1)
      .replace("Uncompressed-Content-Length: 123",
        "Uncompressed-Content-Length: N/A") // same byte length
    val dir = Files.createTempDirectory("warcansi")
    Files.write(dir.resolve("m.warc"), s.getBytes(StandardCharsets.ISO_8859_1))
    val recs = spark.read.format("warc").load(dir.toString)
      .as(org.apache.spark.sql.Encoders.product[WarcRecord])
    val rows = Pipeline.urlResources(recs).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Int]("size_bytes") == 0)     // unwrap_or(0) parity
    assert(r.getAs[Float]("load_time") == 0f)
  }

  /** Per-record gzip (Common Crawl layout): each record its own member. */
  private def makeWarcGz(n: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(WarcSource.gzip(WarcSource.toWireFormat("warcinfo", "", 0,
      "software: graft\n".getBytes(StandardCharsets.UTF_8))))
    (0 until n).foreach { i =>
      // every 5th body is INCOMPRESSIBLE pseudo-random bytes salted with
      // literal gzip magics (1f 8b 08): deflate stores such data in raw
      // stored blocks, so the compressed stream itself contains magic
      // sequences a mid-split sync will land on — the trial-inflate
      // validation must reject them or records get double-emitted
      val body =
        if (i % 5 == 0) {
          val rnd = new scala.util.Random(i)
          val b = new Array[Byte](800 + i % 400)
          rnd.nextBytes(b)
          var j = 13
          while (j + 3 < b.length) {
            b(j) = 0x1f.toByte; b(j + 1) = 0x8b.toByte; b(j + 2) = 0x08.toByte
            j += 97
          }
          b
        } else ("gz body " + i + " " + ("w" * (i % 600)))
          .getBytes(StandardCharsets.UTF_8)
      out.write(WarcSource.gzip(WarcSource.toWireFormat("response",
        s"https://ex.gov.au/gz/$i", body.length, body)))
    }
    out.toByteArray
  }

  test("per-record .warc.gz splits on member boundaries, exactly once") {
    val dir = Files.createTempDirectory("warcv2gz")
    val bytes = makeWarcGz(200)
    Files.write(dir.resolve("a.warc.gz"), bytes)
    Files.write(dir.resolve("b.warc.gz"), makeWarcGz(57))

    // GZIPInputStream reads concatenated members, so the trusted
    // whole-archive decode is just gunzip + the single-pass splitter
    def expectOne(b: Array[Byte], src: String) =
      WarcSource.splitWarc(WarcSource.gunzip(b).get, src).toSeq
    val expected = (expectOne(bytes, "a.warc.gz") ++
        expectOne(makeWarcGz(57), "b.warc.gz"))
      .filter(_.version != "0")
      .map(r => (r.header.getOrElse("warc-target-uri", ""), r.content.length, r.source))
      .sorted

    // 2 KiB ranges: most splits start mid-member, many inside the salted
    // stored blocks full of fake gzip magics
    val df = spark.read.format("warc")
      .option("maxPartitionBytes", "2048")
      .load(dir.toString)
    assert(df.rdd.getNumPartitions > 20)

    val sp = spark
    import sp.implicits._
    val got = df.filter($"version" =!= "0")
      .select($"header".getItem("warc-target-uri"), $"content", $"source")
      .as[(String, Array[Byte], String)]
      .collect()
      .map { case (uri, c, src) => (Option(uri).getOrElse(""), c.length, src) }
      .toSeq.sorted
    assert(got.size == expected.size)
    assert(got == expected)
    // sanity: nothing degraded to sentinels either
    assert(df.filter($"version" === "0").count() == 0)
  }

  test(".warc.gz corrupt member yields one sentinel, neighbors survive") {
    val out = new java.io.ByteArrayOutputStream()
    (0 until 30).foreach { i =>
      val m = WarcSource.gzip(WarcSource.toWireFormat("response",
        s"https://ex.gov.au/c/$i", 10, ("body " + i + " pad").getBytes))
      if (i == 13) { // corrupt the deflate payload, keep header magic intact
        m(m.length / 2) = (m(m.length / 2) ^ 0x55).toByte
        m(m.length / 2 + 1) = (m(m.length / 2 + 1) ^ 0x2a).toByte
      }
      out.write(m)
    }
    val dir = Files.createTempDirectory("warcv2gzc")
    Files.write(dir.resolve("c.warc.gz"), out.toByteArray)
    val sp = spark
    import sp.implicits._
    val df = spark.read.format("warc")
      .option("maxPartitionBytes", "1024").load(dir.toString)
    val real = df.filter($"version" =!= "0")
      .select($"header".getItem("warc-target-uri")).as[String].collect().toSet
    // 29 of 30 records survive; the corrupted one is absent
    assert(real == (0 until 30).filter(_ != 13)
      .map(i => s"https://ex.gov.au/c/$i").toSet)
    // containment surfaced it (at least one sentinel), no task failure
    assert(df.filter($"version" === "0").count() >= 1)
  }

  test("single-stream .warc.gz degrades to one owning split, still exact") {
    // one gzip member wrapping the WHOLE archive: not a per-record
    // layout; the split owning byte 0 decodes everything, others own no
    // member start
    val dir = Files.createTempDirectory("warcv2gzs")
    Files.write(dir.resolve("s.warc.gz"), WarcSource.gzip(makeWarc(40)))
    val sp = spark
    import sp.implicits._
    val real = spark.read.format("warc")
      .option("maxPartitionBytes", "2048").load(dir.toString)
      .filter($"version" =!= "0").count()
    assert(real == 41L) // 40 + warcinfo
  }

  /** gzip ONE member with a FOREIGN writer's header shape (wget /
    * warcio / Common Crawl): MTIME + OS set, optional
    * FEXTRA/FNAME/FCOMMENT/FHCRC fields. Deliberately independent of
    * [[WarcSource.gzip]] (bare JDK header, no optional fields) — manual
    * RFC 1952 header + raw [[java.util.zip.Deflater]] — so the reader is
    * exercised against bytes it did not round-trip itself. */
  private def foreignGzip(payload: Array[Byte], fname: String = null,
      comment: String = null, extra: Array[Byte] = null,
      hcrc: Boolean = false): Array[Byte] = {
    import java.util.zip.{CRC32, Deflater}
    val hdr = new java.io.ByteArrayOutputStream()
    var flg = 0
    if (hcrc) flg |= 0x02
    if (extra != null) flg |= 0x04
    if (fname != null) flg |= 0x08
    if (comment != null) flg |= 0x10
    hdr.write(0x1f); hdr.write(0x8b); hdr.write(0x08); hdr.write(flg)
    val mtime = 0x66aa1234 // wget stamps the source file's mtime
    hdr.write(mtime & 0xff); hdr.write((mtime >> 8) & 0xff)
    hdr.write((mtime >> 16) & 0xff); hdr.write((mtime >> 24) & 0xff)
    hdr.write(0x00) // XFL
    hdr.write(0x03) // OS = Unix
    if (extra != null) {
      hdr.write(extra.length & 0xff); hdr.write((extra.length >> 8) & 0xff)
      hdr.write(extra, 0, extra.length)
    }
    if (fname != null) {
      hdr.write(fname.getBytes(StandardCharsets.ISO_8859_1)); hdr.write(0)
    }
    if (comment != null) {
      hdr.write(comment.getBytes(StandardCharsets.ISO_8859_1)); hdr.write(0)
    }
    val out = new java.io.ByteArrayOutputStream()
    val hb = hdr.toByteArray
    out.write(hb, 0, hb.length)
    if (hcrc) { // CRC16 of every header byte so far
      val c = new CRC32; c.update(hb)
      out.write((c.getValue & 0xff).toInt)
      out.write(((c.getValue >> 8) & 0xff).toInt)
    }
    val defl = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    defl.setInput(payload); defl.finish()
    val chunk = new Array[Byte](8192)
    while (!defl.finished()) out.write(chunk, 0, defl.deflate(chunk))
    defl.end()
    val crc = new CRC32; crc.update(payload)
    val cv = crc.getValue; val isz = payload.length.toLong
    (0 until 4).foreach(i => out.write(((cv >> (8 * i)) & 0xff).toInt))
    (0 until 4).foreach(i => out.write(((isz >> (8 * i)) & 0xff).toInt))
    out.toByteArray
  }

  test("foreign member headers (FNAME/FCOMMENT/FEXTRA/FHCRC) + empty members, exactly once") {
    // real crawls (wget, warcio) emit FNAME+MTIME members; warc-tools add
    // FCOMMENT; FEXTRA subfields and FHCRC are rare but legal. Cycle all
    // shapes, and interleave EMPTY members (zero-byte payload — some
    // writers flush them) which must contribute no rows and never break
    // sync.
    val out = new java.io.ByteArrayOutputStream()
    val n = 120
    (0 until n).foreach { i =>
      if (i % 10 == 0) out.write(foreignGzip(Array.emptyByteArray, fname = s"empty-$i"))
      val rec = WarcSource.toWireFormat("response", s"https://ex.gov.au/fh/$i",
        10, ("foreign body " + i + " " + ("q" * (i % 350))).getBytes)
      val m = (i % 4) match {
        case 0 => foreignGzip(rec, fname = s"rec-$i.warc")
        case 1 => foreignGzip(rec, comment = s"written by warcio-ish tool $i")
        case 2 => foreignGzip(rec, extra = Array[Byte]('s', 'l', 4, 0, 1, 2, 3, 4))
        case _ => foreignGzip(rec, fname = s"rec-$i.warc", hcrc = true)
      }
      out.write(m)
    }
    val bytes = out.toByteArray
    val dir = Files.createTempDirectory("warcv2gzf")
    Files.write(dir.resolve("f.warc.gz"), bytes)

    // trusted decode: JDK GZIPInputStream handles concatenated members
    // with all optional header fields (and checks FHCRC)
    val expected = WarcSource.splitWarc(WarcSource.gunzip(bytes).get, "f.warc.gz")
      .toSeq.filter(_.version != "0")
      .map(r => (r.header.getOrElse("warc-target-uri", ""), r.content.length))
      .sorted
    assert(expected.size == n)

    val sp = spark
    import sp.implicits._
    val df = spark.read.format("warc")
      .option("maxPartitionBytes", "2048").load(dir.toString)
    assert(df.rdd.getNumPartitions >= 8)
    val got = df.filter($"version" =!= "0")
      .select($"header".getItem("warc-target-uri"), $"content")
      .as[(String, Array[Byte])].collect()
      .map { case (uri, c) => (Option(uri).getOrElse(""), c.length) }
      .toSeq.sorted
    assert(got == expected)
    assert(df.filter($"version" === "0").count() == 0) // all members valid
  }

  test("member starting exactly on a split boundary is read exactly once") {
    // splits are carved at fixed i*maxPartitionBytes offsets
    // (WarcScan.planInputPartitions), so pad with FCOMMENT bytes until
    // one member STARTS at exactly 4096: split 0's reader must stop
    // there (memberEnd >= endExclusive) and split 1's tentative sync
    // must adopt it at its own offset — an off-by-one on either side
    // drops or double-reads it.
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (out.size < 2500) {
      out.write(foreignGzip(WarcSource.toWireFormat("response",
        s"https://ex.gov.au/pad/$i", 10, s"pre-boundary body $i".getBytes),
        fname = s"p$i"))
      i += 1
    }
    val nPre = i
    val boundaryRec = WarcSource.toWireFormat("response",
      "https://ex.gov.au/pad/filler", 10, "filler to the boundary".getBytes)
    val probe = foreignGzip(boundaryRec, comment = "")
    val need = 4096 - out.size - probe.length
    assert(need >= 0, s"fixture geometry: need=$need")
    out.write(foreignGzip(boundaryRec, comment = "c" * need))
    assert(out.size == 4096)
    (0 until 30).foreach { j =>
      out.write(foreignGzip(WarcSource.toWireFormat("response",
        s"https://ex.gov.au/post/$j", 10,
        ("post-boundary body " + j + " " + ("r" * (j % 200))).getBytes)))
    }
    val dir = Files.createTempDirectory("warcv2gzb")
    Files.write(dir.resolve("bnd.warc.gz"), out.toByteArray)

    val sp = spark
    import sp.implicits._
    val df = spark.read.format("warc")
      .option("maxPartitionBytes", "4096").load(dir.toString)
    assert(df.rdd.getNumPartitions >= 2)
    val got = df.filter($"version" =!= "0")
      .select($"header".getItem("warc-target-uri")).as[String]
      .collect().toSeq.sorted
    val expected = ((0 until nPre).map(i => s"https://ex.gov.au/pad/$i") ++
      Seq("https://ex.gov.au/pad/filler") ++
      (0 until 30).map(j => s"https://ex.gov.au/post/$j")).sorted
    assert(got == expected) // exactly once: no drop, no double-read
  }

  test("resync after corruption rejects an embedded non-WARC inner member") {
    // a damaged region can embed a COMPLETE valid gzip member whose
    // payload is not a WARC record (e.g. a gzipped HTTP body stored
    // verbatim inside the outer member). Sync re-establishment must
    // reject it via the WARC/ payload check — adopting it would emit
    // phantom sentinel rows and shift sync through the damaged region.
    val out = new java.io.ByteArrayOutputStream()
    (0 until 10).foreach { i =>
      out.write(foreignGzip(WarcSource.toWireFormat("response",
        s"https://ex.gov.au/rs/$i", 10, s"pre body $i".getBytes)))
    }
    // damaged region: magic-free filler wrapping a valid non-WARC member
    out.write(Array.fill(50)('G'.toByte))
    out.write(foreignGzip("HTTP/1.1 200 OK\r\n\r\nan inner http body, not a warc record".getBytes))
    out.write(Array.fill(37)('G'.toByte))
    (10 until 20).foreach { i =>
      out.write(foreignGzip(WarcSource.toWireFormat("response",
        s"https://ex.gov.au/rs/$i", 10, s"post body $i".getBytes)))
    }
    val dir = Files.createTempDirectory("warcv2gzr")
    Files.write(dir.resolve("rs.warc.gz"), out.toByteArray)

    val sp = spark
    import sp.implicits._
    // one split: deterministic sentinel accounting (no tentative starts)
    val df = spark.read.format("warc").load(dir.toString)
    val real = df.filter($"version" =!= "0")
      .select($"header".getItem("warc-target-uri")).as[String]
      .collect().toSeq.sorted
    assert(real == (0 until 20).map(i => s"https://ex.gov.au/rs/$i").sorted)
    // exactly ONE sentinel for the whole damaged region: the inner
    // member was skipped silently during resync, not adopted
    assert(df.filter($"version" === "0").count() == 1)
  }

  test("checked-in fixture from a foreign gzip implementation reads exactly once") {
    // src/test/resources/foreign-python.warc.gz was produced by CPython's
    // gzip module (FNAME + MTIME header fields, mixed compression
    // levels) — bytes no code in this repo emitted, so the reader is
    // validated against a second, independent RFC 1952 implementation.
    val res = getClass.getResourceAsStream("/foreign-python.warc.gz")
    assert(res != null, "fixture missing from test resources")
    val bytes = res.readAllBytes(); res.close()
    val dir = Files.createTempDirectory("warcv2py")
    Files.write(dir.resolve("py.warc.gz"), bytes)
    val expected = WarcSource
      .splitWarc(WarcSource.gunzip(bytes).get, "py.warc.gz").toSeq
      .filter(_.version != "0")
      .map(r => (r.header.getOrElse("warc-target-uri", ""), r.content.length))
      .sorted
    assert(expected.size == 25)
    val sp = spark
    import sp.implicits._
    val df = spark.read.format("warc")
      .option("maxPartitionBytes", "1024").load(dir.toString)
    assert(df.rdd.getNumPartitions >= 4)
    val got = df.filter($"version" =!= "0")
      .select($"header".getItem("warc-target-uri"), $"content")
      .as[(String, Array[Byte])].collect()
      .map { case (uri, c) => (Option(uri).getOrElse(""), c.length) }
      .toSeq.sorted
    assert(got == expected)
    assert(df.filter($"version" === "0").count() == 0)
  }

  private def utf8(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  /** Write `records` as one plain container `<name>.warc` under
    * `dir/plain` and as one per-record-gzipped `<name>.warc.gz` under
    * `dir/gz`; returns (plain bytes, plain dir, gz dir). */
  private def writeBoth(name: String, records: Seq[Array[Byte]]) = {
    val dir = Files.createTempDirectory("warcv2both")
    val plain = Files.createDirectory(dir.resolve("plain"))
    val gz = Files.createDirectory(dir.resolve("gz"))
    val bytes = records.reduce(_ ++ _)
    Files.write(plain.resolve(s"$name.warc"), bytes)
    Files.write(gz.resolve(s"$name.warc.gz"), records.map(WarcSource.gzip).reduce(_ ++ _))
    (bytes, plain.toString, gz.toString)
  }

  private def readWarc(dir: String, maxPartitionBytes: Long = 128L << 20) =
    spark.read.format("warc")
      .option("maxPartitionBytes", maxPartitionBytes.toString).load(dir)
      .as(org.apache.spark.sql.Encoders.product[WarcRecord])

  /** Non-sentinel records as a sorted multiset of (version, header,
    * content) — header order and sentinel counts left out. */
  private def multiset(recs: Seq[WarcRecord]): Seq[String] =
    recs.filter(_.version != "0").map { r =>
      s"${r.version}|${r.header.toSeq.sorted}|" +
        java.util.Base64.getEncoder.encodeToString(r.content)
    }.sorted

  /** Split-dependent sentinel counts are excluded: a malformed record
    * that a mid-file split meets first is a tentative reject (no
    * sentinel), so sentinels may add rows, never remove them, and only
    * the non-sentinel records must agree. */
  test("single-split read matches whole-file read") {
    val dir = Files.createTempDirectory("warcv2b")
    Files.write(dir.resolve("one.warc"), makeWarc(20))
    val whole = spark.read.format("warc").load(dir.toString).count()
    val split = spark.read.format("warc")
      .option("maxPartitionBytes", "512").load(dir.toString).count()
    // same non-sentinel record count regardless of split granularity
    val sp = spark
    import sp.implicits._
    val wholeReal = spark.read.format("warc").load(dir.toString)
      .filter($"version" =!= "0").count()
    val splitReal = spark.read.format("warc")
      .option("maxPartitionBytes", "512").load(dir.toString)
      .filter($"version" =!= "0").count()
    assert(wholeReal == 21 && splitReal == 21)
    assert(whole >= 21 && split >= 21) // sentinels may add rows, never remove

    // three-way agreement on (version, header, content): the plain
    // reader (whole file and small splits), the gzip reader over the same
    // records one member each, and splitWarc — over planted malformed
    // records (non-numeric Content-Length, a header line without a colon,
    // a UTF-8 IRI, LF-only lines, and a truncated body at the end)
    val body = "planted body\r\nno magic at any line start\r\n"
    val planted = Seq(
      utf8("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://ex.gov.au/badlen\r\n" +
        s"Content-Length: 12x\r\n\r\n$body\r\n\r\n"),
      utf8("WARC/1.0\r\nWARC-Type: response\r\nthis header line has no colon\r\n" +
        "WARC-Target-URI: https://ex.gov.au/nocolon\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n$body\r\n\r\n"),
      utf8("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://ex.gov.au/ü/日本\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n$body\r\n\r\n"),
      utf8("WARC/1.0\nWARC-Type: response\nWARC-Target-URI: https://ex.gov.au/lf\n" +
        s"Content-Length: ${body.length}\n\n$body\n\n"))
    val truncated = utf8("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: https://ex.gov.au/trunc\r\nContent-Length: 500\r\n\r\ncut short")
    val normal = (0 until 24).map { i =>
      val b = if (i % 3 == 0) WarcSource.gzip(utf8("doc " + i + " " + ("x" * (i * 13))))
        else utf8("plain body " + i + " " + ("y" * (i * 17)))
      WarcSource.toWireFormat("response", s"https://ex.gov.au/p/$i", b.length, b)
    }
    val records = normal.take(8) ++ planted.take(2) ++ normal.slice(8, 16) ++
      planted.drop(2) ++ normal.drop(16) :+ truncated
    val (bytes, plainDir, gzDir) = writeBoth("planted", records)
    val expected = multiset(WarcSource.splitWarc(bytes, "planted.warc").toSeq)
    assert(expected.size == 24 + 3) // badlen and the truncated record are sentinels
    assert(expected.exists(_.contains("(warc-target-uri,https://ex.gov.au/ü/日本)")))
    assert(expected.exists(_.contains("(warc-target-uri,https://ex.gov.au/lf)")))
    assert(!expected.exists(_.contains("no colon")))
    for ((what, got) <- Seq(
        "plain whole file" -> readWarc(plainDir),
        "plain 512 B splits" -> readWarc(plainDir, 512),
        "gzip members" -> readWarc(gzDir),
        "gzip 512 B splits" -> readWarc(gzDir, 512)))
      assert(multiset(got.collect().toSeq) == expected, what)
  }

  test("a repeated header keeps one entry with its last value on every read path") {
    // WARC-Concurrent-To may legally repeat (ISO 28500); the reference's
    // HashMap keeps the last value. A second WARC-Target-URI must not
    // give the same record a different url on plain and gzipped archives
    val http = WarcSource.gzip(utf8("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
      "<html><head><title>dup</title></head><body><p>dup body</p></body></html>"))
    val dup = utf8("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: https://ex.gov.au/first\r\nWARC-Concurrent-To: <urn:uuid:a>\r\n" +
      "WARC-Target-URI: https://ex.gov.au/second\r\nWARC-Concurrent-To: <urn:uuid:b>\r\n" +
      s"Uncompressed-Content-Length: 99\r\nContent-Length: ${http.length}\r\n\r\n") ++
      http ++ utf8("\r\n\r\n")
    val filler = (0 until 12).map { i =>
      val b = utf8(s"metadata $i " + ("m" * 200))
      WarcSource.toWireFormat("metadata", s"https://ex.gov.au/m/$i", b.length, b)
    }
    val (bytes, plainDir, gzDir) = writeBoth("dup", (filler.take(6) :+ dup) ++ filler.drop(6))
    val sp = spark
    import sp.implicits._
    val paths = Seq(
      "plain whole file" -> readWarc(plainDir),
      "plain 512 B splits" -> readWarc(plainDir, 512),
      "gzip" -> readWarc(gzDir),
      "fromBytes" -> WarcSource.fromBytes(Seq(("dup.warc", bytes)).toDS()))
    for ((what, recs) <- paths) {
      val got = recs.filter(element_at($"header", "warc-type") === "response")
        .select(size($"header"), element_at($"header", "warc-target-uri"),
          element_at($"header", "warc-concurrent-to"))
        .as[(Int, String, String)].collect().toSeq
      assert(got == Seq((5, "https://ex.gov.au/second", "<urn:uuid:b>")), what)
      assert(Pipeline.urlResources(recs).select($"url").as[String].collect().toSeq ==
        Seq("https://ex.gov.au/second"), what)
    }
  }
}
