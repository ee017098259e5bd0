package graft.warc

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPInputStream

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.warc.source.{WarcByteReader, WarcGrammar}

/** WARC container reading (SURVEY.md §2.1 S1/S5).
  *
  * The reference iterates a local `.warc` file record-at-a-time
  * (`src/main.rs:199-204`); here the scan is the splittable
  * DataSourceV2 (`graft.warc.source.WarcDataSource`): plain `.warc`
  * containers split by byte range on WARC/ magic, per-record-gzipped
  * `.warc.gz` archives on validated gzip-member boundaries — task
  * memory stays O(record) and parallelism is O(bytes), not O(files),
  * at both encodings (the reference's stride-sharding, SURVEY §2.6 D4,
  * dissolves into this). The ISO 28500 record grammar lives in ONE
  * module, [[graft.warc.source.WarcGrammar]] over the one byte reader
  * [[graft.warc.source.WarcByteReader]]: both partition readers parse
  * through it, and so does this object's [[splitWarc]] — the unsplit
  * entry the in-memory path and the tests use, so the readers and the
  * tests trust the same code. This object also holds the per-record
  * gzip codec and the wire-format writer.
  *
  * Record grammar (ISO 28500): `WARC/<ver>\r\n` + `Key: Value` header
  * lines + `\r\n` blank + `Content-Length` body bytes + `\r\n\r\n`.
  * Header keys are case-insensitive (reference `CaseString`) — normalized
  * to lowercase, a repeated key keeping its last value. A malformed
  * record yields the reference's sentinel `version == "0"` record
  * (`src/main.rs:1-20`) so the downstream F1 filter drops it instead of
  * failing the task.
  */
object WarcSource {

  /** Bodies beyond this are header-only records with the body skipped
    * in-stream (JVM arrays cap at ~2 GiB; the pipeline's F3 guard never
    * parses anything this size anyway). */
  val MaxBodyBytes: Long = 1L << 30

  /** Streaming split of one unsplit WARC container into records, through
    * the shared grammar ([[graft.warc.source.WarcGrammar]]); the array is
    * read in place. */
  def splitWarc(bytes: Array[Byte], source: String): Iterator[WarcRecord] =
    split(WarcByteReader.of(bytes, bytes.length), source)

  def splitWarc(in: InputStream, source: String): Iterator[WarcRecord] =
    split(new WarcByteReader(in), source)

  private def split(r: WarcByteReader, source: String): Iterator[WarcRecord] = {
    val g = new WarcGrammar
    g.records(r)(g.record(source),
      WarcRecord("0", Map.empty, Array.emptyByteArray, source))
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
