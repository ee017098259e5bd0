package graft.warc

import java.io.{BufferedInputStream, ByteArrayInputStream, ByteArrayOutputStream, InputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPInputStream

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** WARC container reading (SURVEY.md §2.1 S1/S5).
  *
  * The reference iterates a local `.warc` file record-at-a-time
  * (`src/main.rs:199-204`); here the scan is the splittable
  * DataSourceV2 (`graft.warc.source.WarcDataSource`): plain `.warc`
  * containers split by byte range on WARC/ magic, per-record-gzipped
  * `.warc.gz` archives on validated gzip-member boundaries — task
  * memory stays O(record) and parallelism is O(bytes), not O(files),
  * at both encodings (the reference's stride-sharding, SURVEY §2.6 D4,
  * dissolves into this). This object holds the shared record grammar
  * (the single-pass splitter the readers and tests both trust) and the
  * per-record gzip codec.
  *
  * Record grammar (ISO 28500): `WARC/<ver>\r\n` + `Key: Value` header
  * lines + `\r\n` blank + `Content-Length` body bytes + `\r\n\r\n`.
  * Header keys are case-insensitive (reference `CaseString`) — normalized
  * to lowercase here. A malformed record yields the reference's sentinel
  * `version == "0"` record (`src/main.rs:1-20`) so the downstream F1
  * filter drops it instead of failing the task.
  */
object WarcSource {

  /** Bodies beyond this are header-only records with the body skipped
    * in-stream (JVM arrays cap at ~2 GiB; the pipeline's F3 guard never
    * parses anything this size anyway). */
  val MaxBodyBytes: Long = 1L << 30

  /** Streaming split of one WARC container into records. */
  def splitWarc(bytes: Array[Byte], source: String): Iterator[WarcRecord] =
    splitWarc(new ByteArrayInputStream(bytes), source)

  def splitWarc(in0: InputStream, source: String): Iterator[WarcRecord] = {
    val in = new BufferedInputStream(in0, 1 << 16)

    // Reads one CRLF- (or LF-) terminated line decoded as UTF-8 (ISO
    // 28500 headers may carry UTF-8, e.g. IRIs in WARC-Target-URI);
    // null at EOF.
    def readLine(): String = {
      val bos = new ByteArrayOutputStream(64)
      var c = in.read()
      if (c < 0) return null
      while (c >= 0 && c != '\n') { bos.write(c); c = in.read() }
      val s = new String(bos.toByteArray, StandardCharsets.UTF_8)
      if (s.nonEmpty && s.charAt(s.length - 1) == '\r') s.substring(0, s.length - 1) else s
    }

    def skipFully(n: Long): Boolean = {
      var left = n
      while (left > 0) {
        val r = in.skip(left)
        if (r <= 0) { if (in.read() < 0) return false else left -= 1 }
        else left -= r
      }
      true
    }

    def readFully(n: Int): Array[Byte] = {
      val buf = new Array[Byte](n)
      var off = 0
      while (off < n) {
        val r = in.read(buf, off, n - off)
        if (r < 0) return java.util.Arrays.copyOf(buf, off)
        off += r
      }
      buf
    }

    val sentinel = WarcRecord("0", Map.empty, Array.emptyByteArray, source)

    new Iterator[WarcRecord] {
      private var nextRec: WarcRecord = null
      private var done = false

      private def advance(): Unit = {
        if (done) return
        // seek the next WARC/ magic line (skips inter-record blank lines)
        var line = readLine()
        while (line != null && !line.startsWith("WARC/")) line = readLine()
        if (line == null) { done = true; return }
        val version = line.substring(5)
        var headers = Map.newBuilder[String, String]
        var contentLength = -1L
        var h = readLine()
        var bad = false
        while (h != null && h.nonEmpty) {
          val i = h.indexOf(':')
          if (i > 0) {
            val k = h.substring(0, i).trim.toLowerCase
            val v = h.substring(i + 1).trim
            headers += (k -> v)
            if (k == "content-length")
              contentLength = try v.toLong catch { case _: NumberFormatException => bad = true; -1L }
          }
          h = readLine()
        }
        if (h == null || bad || contentLength < 0) {
          nextRec = sentinel
          if (h == null) done = true
          return
        }
        if (contentLength > MaxBodyBytes) {
          // legal 64-bit lengths beyond what fits a JVM array: keep the
          // headers, skip the body in-stream, emit with empty content
          // (downstream F3 skips parsing oversized records anyway)
          if (!skipFully(contentLength)) done = true
          nextRec = WarcRecord(version, headers.result(), Array.emptyByteArray, source)
          return
        }
        val body = readFully(contentLength.toInt)
        nextRec =
          if (body.length < contentLength) { done = true; sentinel }
          else WarcRecord(version, headers.result(), body, source)
      }

      def hasNext: Boolean = {
        if (nextRec == null && !done) advance()
        nextRec != null
      }
      def next(): WarcRecord = {
        if (!hasNext) throw new NoSuchElementException
        val r = nextRec; nextRec = null; r
      }
    }
  }

  /** S1 scan: glob of `.warc` files → Dataset[WarcRecord], through the
    * splittable DataSourceV2 (`graft.warc.source.WarcDataSource`) — huge
    * containers are carved into byte-range splits, so task memory stays
    * O(record) and parallelism is O(bytes), not O(files). */
  def read(spark: SparkSession, glob: String): Dataset[WarcRecord] = {
    import spark.implicits._
    val idx = glob.lastIndexOf('/')
    val last = if (idx >= 0) glob.substring(idx + 1) else glob
    val reader = spark.read.format("warc")
    val df =
      if (last.contains("*") && idx > 0)
        reader.option("pathGlobFilter", last).load(glob.substring(0, idx))
      else reader.load(glob)
    df.as[WarcRecord]
  }

  /** Split an already-loaded (source, bytes) dataset — used by the
    * testdata-driven queries that synthesize WARC bytes from the
    * `documents` table before exercising the real pipeline. */
  def fromBytes(files: Dataset[(String, Array[Byte])]): Dataset[WarcRecord] = {
    import files.sparkSession.implicits._
    files.flatMap { case (src, bytes) => splitWarc(bytes, src) }
  }

  /** S5 per-record gzip decode — reference `src/main.rs:287-302`.
    * Corrupt gzip → None (record dropped downstream, never fails task). */
  def gunzip(bytes: Array[Byte]): Option[Array[Byte]] =
    if (bytes == null || bytes.length < 2) None
    else try {
      val in = new GZIPInputStream(new ByteArrayInputStream(bytes), 1 << 16)
      val out = new ByteArrayOutputStream(math.max(bytes.length * 4, 1 << 14))
      val buf = new Array[Byte](1 << 16)
      var r = in.read(buf)
      while (r >= 0) { out.write(buf, 0, r); r = in.read(buf) }
      Some(out.toByteArray)
    } catch { case _: java.io.IOException => None }

  def gzip(bytes: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(bytes); gz.close()
    bos.toByteArray
  }

  /** Serialize one record back to WARC wire format (used by tests and the
    * documents→WARC synthesis; inverse of [[splitWarc]]). */
  def toWireFormat(warcType: String, targetUri: String,
      uncompressedLength: Long, body: Array[Byte],
      warcDate: String = ""): Array[Byte] = {
    val head = new StringBuilder()
      .append("WARC/1.0\r\n")
      .append("WARC-Type: ").append(warcType).append("\r\n")
      .append("WARC-Target-URI: ").append(targetUri).append("\r\n")
    if (warcDate.nonEmpty)
      head.append("WARC-Date: ").append(warcDate).append("\r\n")
    val headBytes = head
      .append("Uncompressed-Content-Length: ").append(uncompressedLength).append("\r\n")
      .append("Content-Length: ").append(body.length).append("\r\n\r\n")
      .toString.getBytes(StandardCharsets.ISO_8859_1)
    val out = new Array[Byte](headBytes.length + body.length + 4)
    System.arraycopy(headBytes, 0, out, 0, headBytes.length)
    System.arraycopy(body, 0, out, headBytes.length, body.length)
    out(out.length - 4) = '\r'; out(out.length - 3) = '\n'
    out(out.length - 2) = '\r'; out(out.length - 1) = '\n'
    out
  }
}
