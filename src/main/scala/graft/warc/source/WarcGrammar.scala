package graft.warc.source

import java.io.InputStream
import java.nio.charset.StandardCharsets
import java.util.zip.Inflater

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.warc.{WarcRecord, WarcSource}

/** Counting buffered reader: one 64 KiB window over `in`, tracking the
  * absolute offset of the next byte. The one byte layer under the ISO
  * 28500 grammar — both partition readers and `WarcSource.splitWarc`
  * read through it. [[WarcByteReader.of]] wraps an in-memory array as
  * the window itself (no copy), which is how inflated gzip members and
  * `splitWarc`'s array entry are parsed. */
final class WarcByteReader private (in: InputStream, buf: Array[Byte],
    initialLen: Int) {
  def this(in: InputStream) = this(in, new Array[Byte](1 << 16), 0)

  private var bufLen = initialLen
  private var bufPos = 0
  private var pos: Long = 0L // absolute offset of the next byte to return
  private var line = new Array[Byte](256)

  def position: Long = pos

  private def fill(): Boolean = {
    if (bufPos < bufLen) return true
    bufLen = math.max(in.read(buf, 0, buf.length), 0)
    bufPos = 0
    bufLen > 0
  }

  def readByte(): Int =
    if (!fill()) -1
    else { val b = buf(bufPos) & 0xff; bufPos += 1; pos += 1; b }

  /** Reposition WITHOUT discarding the window when the target is inside
    * it — the common case is a tiny hop (a tentative reject's rewind to
    * magic+5, the gzip trailer fetch after the inflater's read-ahead, a
    * magic+1 rescan), and a naive seek would re-read 64 KiB and pay a
    * positioned read per hop (on object stores a seek can reopen the
    * connection). Only a target outside the window seeks `in`, which
    * must then be [[org.apache.hadoop.fs.Seekable]]. */
  def seekTo(target: Long): Unit = {
    val windowStart = pos - bufPos
    if (target >= windowStart && target <= windowStart + bufLen) {
      bufPos = (target - windowStart).toInt
      pos = target
    } else {
      in.asInstanceOf[org.apache.hadoop.fs.Seekable].seek(target)
      pos = target; bufLen = 0; bufPos = 0
    }
  }

  /** One CRLF- (or LF-) terminated line decoded as UTF-8 (ISO 28500
    * headers may carry UTF-8, e.g. IRIs in WARC-Target-URI); null at EOF. */
  def readLine(): String = {
    var c = readByte()
    if (c < 0) return null
    var n = 0
    while (c >= 0 && c != '\n') {
      if (n == line.length) line = java.util.Arrays.copyOf(line, n * 2)
      line(n) = c.toByte; n += 1
      c = readByte()
    }
    if (n > 0 && line(n - 1) == '\r') n -= 1
    new String(line, 0, n, StandardCharsets.UTF_8)
  }

  def skipFully(n: Long): Boolean = {
    var left = n
    while (left > 0) {
      val chunk = math.min(left, (bufLen - bufPos).toLong)
      if (chunk > 0) { bufPos += chunk.toInt; pos += chunk; left -= chunk }
      else if (!fill()) return false
    }
    true
  }

  /** `n` bytes, or fewer if the stream ends first. */
  def readFully(n: Int): Array[Byte] = {
    val out = new Array[Byte](n)
    var off = 0
    while (off < n) {
      if (!fill()) return java.util.Arrays.copyOf(out, off)
      val take = math.min(n - off, bufLen - bufPos)
      System.arraycopy(buf, bufPos, out, off, take)
      bufPos += take; pos += take; off += take
    }
    out
  }

  /** Hand the rest of the window to `inflater` (refilling first); false
    * at EOF. Bytes the inflater does not consume are given back with
    * `seekTo(position - inflater.getRemaining)`. */
  def feed(inflater: Inflater): Boolean = fill() && {
    val n = bufLen - bufPos
    inflater.setInput(buf, bufPos, n)
    bufPos += n; pos += n
    true
  }

  def close(): Unit = in.close()
}

object WarcByteReader {
  /** The first `len` bytes of `bytes`, read in place. */
  def of(bytes: Array[Byte], len: Int): WarcByteReader =
    new WarcByteReader(InputStream.nullInputStream(), bytes, len)
}

/** The ISO 28500 record grammar — the one header loop in the engine:
  * `WARC/<ver>\r\n` + `Key: Value` header lines + a blank line +
  * `Content-Length` body bytes. Header keys are case-insensitive
  * (reference `CaseString`) and normalized to lowercase; a repeated key
  * keeps ONE entry, in first-occurrence order, holding the LAST value
  * (the reference's `HashMap::insert`; `WARC-Concurrent-To` may
  * legally repeat). A line without a colon is skipped. Bodies beyond
  * [[WarcSource.MaxBodyBytes]] are skipped in-stream and reported
  * empty. One instance per reader; [[parse]] overwrites its state. */
final class WarcGrammar {
  import WarcGrammar._

  private var version: String = _
  private var body: Array[Byte] = _
  private val keys = new ArrayBuffer[String]
  private val values = new ArrayBuffer[String]
  private val index = new java.util.HashMap[String, Integer]

  /** Parse the record whose `WARC/` magic `r` has just consumed:
    * [[Record]] (then [[row]] or [[record]] builds it),
    * [[Malformed]] (headers end but Content-Length is absent or not a
    * number, or `requireType` and WARC-Type is missing — the body is
    * NOT read, its length is not trusted), [[EofInHeaders]] or
    * [[ShortBody]] (the stream ends inside the record). */
  def parse(r: WarcByteReader, requireType: Boolean): Int = {
    keys.clear(); values.clear(); index.clear(); body = null
    version = r.readLine()
    if (version == null) return EofInHeaders
    var h = r.readLine()
    while (h != null && h.nonEmpty) {
      val i = h.indexOf(':')
      if (i > 0) {
        val k = h.substring(0, i).trim.toLowerCase
        val v = h.substring(i + 1).trim
        val at = index.putIfAbsent(k, keys.length)
        if (at == null) { keys += k; values += v } else values(at) = v
      }
      h = r.readLine()
    }
    if (h == null) return EofInHeaders
    val cl = index.get("content-length")
    val contentLength =
      if (cl == null) -1L
      else try values(cl).toLong catch { case _: NumberFormatException => -1L }
    if (contentLength < 0 || (requireType && !index.containsKey("warc-type")))
      return Malformed
    if (contentLength > WarcSource.MaxBodyBytes) {
      if (!r.skipFully(contentLength)) return ShortBody
      body = Array.emptyByteArray
    } else {
      body = r.readFully(contentLength.toInt)
      if (body.length < contentLength) return ShortBody
    }
    Record
  }

  /** The records of an UNSPLIT container from `r`'s position on: a
    * malformed record yields `sentinel` and the scan resumes at the next
    * line-initial magic; a record cut short by EOF yields `sentinel` and
    * ends the stream. */
  def records[T](r: WarcByteReader)(record: => T, sentinel: => T): Iterator[T] =
    new Iterator[T] {
      private var pending: Option[T] = None
      private var done = false
      private def advance(): Option[T] =
        if (syncToMagic(r, requireNewline = false) < 0) { done = true; None }
        else parse(r, requireType = false) match {
          case Record => Some(record)
          case Malformed => Some(sentinel)
          case _ => done = true; Some(sentinel)
        }
      def hasNext: Boolean = {
        if (pending.isEmpty && !done) pending = advance()
        pending.nonEmpty
      }
      def next(): T = {
        if (!hasNext) throw new NoSuchElementException
        val t = pending.get; pending = None; t
      }
    }

  /** The parsed record as a row of [[WarcDataSource.schema]]. */
  def row(source: UTF8String): InternalRow = {
    val n = keys.length
    val ks = new Array[Any](n)
    val vs = new Array[Any](n)
    var i = 0
    while (i < n) {
      ks(i) = UTF8String.fromString(keys(i)); vs(i) = UTF8String.fromString(values(i))
      i += 1
    }
    new GenericInternalRow(Array[Any](UTF8String.fromString(version),
      new ArrayBasedMapData(new GenericArrayData(ks), new GenericArrayData(vs)),
      body, source))
  }

  def record(source: String): WarcRecord =
    WarcRecord(version, keys.indices.map(i => keys(i) -> values(i)).toMap, body, source)
}

object WarcGrammar {
  final val Record = 0
  final val Malformed = 1
  final val EofInHeaders = 2
  final val ShortBody = 3

  private[source] val Magic = "WARC/".getBytes(StandardCharsets.US_ASCII)

  /** Scan forward until a line-initial `WARC/` has been CONSUMED; the
    * reader's current position counts as a line start unless
    * `requireNewline`. Returns the magic's absolute start offset, or -1
    * at EOF. */
  def syncToMagic(r: WarcByteReader, requireNewline: Boolean): Long = {
    var atLineStart = !requireNewline
    var m = 0
    var magicStart = -1L
    while (true) {
      val b = r.readByte()
      if (b < 0) return -1L
      if (m > 0 && b == Magic(m)) {
        m += 1
        if (m == Magic.length) return magicStart
      } else {
        val wasLineStart = atLineStart
        atLineStart = b == '\n'
        if (wasLineStart && b == 'W') { m = 1; magicStart = r.position - 1 }
        else m = 0
      }
    }
    -1L
  }

  /** The reference's sentinel record (`version == "0"`, `src/main.rs:1-20`):
    * the downstream F1 filter drops it and the quarantine path counts it. */
  def sentinelRow(source: UTF8String): InternalRow =
    new GenericInternalRow(Array[Any](UTF8String.fromString("0"),
      new ArrayBasedMapData(new GenericArrayData(Array.empty[Any]),
        new GenericArrayData(Array.empty[Any])),
      Array.emptyByteArray, source))
}
