package graft.warc.source

import java.util.zip.{CRC32, DataFormatException, Inflater}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.unsafe.types.UTF8String

/** Byte-range reader for PER-RECORD-GZIPPED WARC containers
  * (`.warc.gz`) — the Common Crawl layout: every record is its own gzip
  * MEMBER and members are concatenated, which is exactly what makes the
  * format splittable even though a single gzip stream is not. The
  * reference reads only plain `.warc` (`src/main.rs:199-204`), so this
  * is parity-plus: at 100 TB of gzipped crawls the alternative is one
  * whole-file task per archive.
  *
  * Split ownership matches [[WarcPartitionReader]]: a member belongs to
  * the split containing its FIRST byte; a reader keeps consuming past
  * its range end until the next member STARTS at or beyond it, so
  * every member is decoded exactly once across splits.
  *
  * Mid-split sync scans for the gzip magic (`1f 8b 08`) and then
  * validates hard before trusting a candidate: the member must inflate
  * cleanly, its CRC32 and ISIZE trailer must match the inflated bytes,
  * and — whenever sync is UNPROVEN (the tentative first member of a
  * mid-file split, or the first candidate after a corrupt-member
  * rescan) — the payload must begin with `WARC/`. Compressed bytes can
  * contain the 3-byte magic by chance (~1 per 16 MiB), and a stored
  * block can even embed a complete valid INNER gzip member (e.g. a
  * gzipped HTTP body); the payload check rejects those at every
  * sync-establishment point. A failed candidate rewinds to magic+1 and
  * rescans, so a false sync can never skip real members.
  *
  * Error containment (S5/D7 semantics): after the first accepted
  * member, a corrupt member yields the sentinel record (version "0",
  * the quarantine path's contract) and the reader rescans for the next
  * member magic — one bad record never fails the task or drops the
  * rest of the archive. One documented geometry dependence (shared
  * with the plain reader's tentative rejects): a corrupt member whose
  * first byte happens to BE a split start is indistinguishable from a
  * false sync and is skipped without a sentinel, so sentinel COUNTS
  * can vary with maxPartitionBytes — record recovery never does.
  * Members inflating beyond
  * [[graft.warc.WarcSource.MaxBodyBytes]] are treated the same way
  * (task memory stays O(record), the F3 guard never parses bodies that
  * size anyway).
  */
class GzipWarcPartitionReader(part: WarcInputPartition,
    hadoopConf: org.apache.hadoop.conf.Configuration)
    extends PartitionReader[InternalRow] {

  private val in = new WarcByteReader(
    new Path(part.file).getFileSystem(hadoopConf).open(new Path(part.file)))
  private val endExclusive = part.start + part.length
  private val sourceName =
    UTF8String.fromString(part.file.substring(part.file.lastIndexOf('/') + 1))
  private val grammar = new WarcGrammar
  import in.{readByte, seekTo}

  // ---- gzip member scan + decode ----
  private final val M0 = 0x1f
  private final val M1 = 0x8b
  private final val M2 = 0x08 // CM = deflate, the only defined method

  /** Scan forward (from the current position) for the next `1f 8b 08`;
    * returns its absolute start offset with the stream positioned just
    * after the 3 bytes, or -1 at EOF. */
  private def syncToMagic(): Long = {
    var b = readByte()
    while (b >= 0) {
      if (b == M0) {
        val p0 = in.position - 1
        if (readByte() == M1 && readByte() == M2) return p0
        // overlap-safe: resume right after the candidate's first byte
        seekTo(p0 + 1)
      }
      b = readByte()
    }
    -1L
  }

  // inflate state, reused member after member
  private val inflater = new Inflater(true)
  private val outChunk = new Array[Byte](1 << 16)
  private val payload = new GzipWarcPartitionReader.Payload
  private val crc = new CRC32

  /** Decode ONE gzip member whose magic starts at `memberStart` (stream
    * anywhere; seeks itself) into `payload`. False if the member is
    * malformed (bad header, inflate error, trailer mismatch, or payload
    * over MaxBodyBytes); on success the stream is positioned at the next
    * member's start. */
  private def readMember(memberStart: Long): Boolean = {
    seekTo(memberStart)
    if (readByte() != M0 || readByte() != M1 || readByte() != M2) return false
    val flg = readByte()
    if (flg < 0 || (flg & 0xe0) != 0) return false // reserved bits must be 0
    // MTIME(4) XFL(1) OS(1)
    var i = 0
    while (i < 6) { if (readByte() < 0) return false; i += 1 }
    if ((flg & 0x04) != 0) { // FEXTRA: 2-byte little-endian length + data
      val lo = readByte(); val hi = readByte()
      if (lo < 0 || hi < 0) return false
      var left = lo | (hi << 8)
      while (left > 0) { if (readByte() < 0) return false; left -= 1 }
    }
    if ((flg & 0x08) != 0) { // FNAME: zero-terminated
      var b = readByte()
      while (b > 0) b = readByte()
      if (b < 0) return false
    }
    if ((flg & 0x10) != 0) { // FCOMMENT: zero-terminated
      var b = readByte()
      while (b > 0) b = readByte()
      if (b < 0) return false
    }
    if ((flg & 0x02) != 0) { // FHCRC: 2-byte header CRC (unchecked, skipped)
      if (readByte() < 0 || readByte() < 0) return false
    }
    // raw deflate stream: feed the inflater from the shared window and
    // track exactly how many compressed bytes it consumes, so the
    // trailer (and the next member) can be located without read-ahead
    // loss
    inflater.reset(); payload.reset(); crc.reset()
    var eof = false
    while (!inflater.finished()) {
      if (inflater.needsInput() && !in.feed(inflater)) eof = true
      if (eof && inflater.needsInput()) return false // truncated member
      val written =
        try inflater.inflate(outChunk)
        catch { case _: DataFormatException => return false }
      if (inflater.needsDictionary()) return false // never valid in gzip
      if (written > 0) {
        if (payload.size().toLong + written > graft.warc.WarcSource.MaxBodyBytes)
          return false // containment: never materialize a monster member
        payload.write(outChunk, 0, written)
        crc.update(outChunk, 0, written)
      } else if (eof && written == 0 && !inflater.finished()) return false
    }
    // un-consume the input bytes the inflater buffered past stream end
    seekTo(in.position - inflater.getRemaining)
    // trailer: CRC32 + ISIZE, little-endian
    var trailer = 0L
    i = 0
    while (i < 4) {
      val b = readByte(); if (b < 0) return false
      trailer |= b.toLong << (8 * i); i += 1
    }
    if (trailer != crc.getValue) return false
    var isize = 0L
    i = 0
    while (i < 4) {
      val b = readByte(); if (b < 0) return false
      isize |= b.toLong << (8 * i); i += 1
    }
    isize == (payload.size().toLong & 0xffffffffL)
  }

  // position of the next member to decode; -1 = none. A split starting
  // at 0 trusts offset 0 only after the same full-member validation;
  // later splits scan from their start offset (ownership = [start, end)).
  private var nextMemberStart: Long = {
    if (part.start > 0) seekTo(part.start)
    syncToMagic()
  }
  private var tentative = part.start > 0
  // set after a corrupt established member forces a magic rescan: the
  // next candidate must prove it is a WARC member boundary (payload
  // check) before sync is re-established, exactly like the tentative
  // split-start case — otherwise a stored-block-embedded INNER gzip body
  // (valid member, HTTP payload) inside the damaged outer member could be
  // adopted as the resync point and shift sync for the rest of it
  private var resyncing = false
  private var pending: Iterator[InternalRow] = Iterator.empty
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (true) {
      if (pending.hasNext) { current = pending.next(); return true }
      if (nextMemberStart < 0 || nextMemberStart >= endExclusive) return false
      val memberStart = nextMemberStart
      if (!readMember(memberStart)) {
        // malformed candidate. Tentative/resyncing: silent rescan (almost
        // always a false magic inside compressed data). Established: a
        // genuinely corrupt member — surface the sentinel for quarantine,
        // then rescan for the next member.
        seekTo(memberStart + 3)
        nextMemberStart = syncToMagic()
        if (!tentative && !resyncing) {
          resyncing = true
          current = WarcGrammar.sentinelRow(sourceName); return true
        }
      } else {
        val p = payload.bytes; val n = payload.size
        val isWarc = n >= 5 &&
          p(0) == 'W' && p(1) == 'A' && p(2) == 'R' && p(3) == 'C' && p(4) == '/'
        if ((tentative || resyncing) && !isWarc) {
          // inflated cleanly but is not a record start: not a per-record
          // WARC member boundary — keep scanning
          seekTo(memberStart + 3)
          nextMemberStart = syncToMagic()
        } else {
          tentative = false
          resyncing = false
          nextMemberStart = in.position
          // a member normally holds exactly one record, but the grammar
          // tolerates several (and emits the sentinel for malformed
          // payload bytes — same containment as the plain reader); rows
          // copy their bodies out before the next member reuses `payload`
          pending = grammar.records(WarcByteReader.of(p, n))(
            grammar.row(sourceName), WarcGrammar.sentinelRow(sourceName))
        }
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = { inflater.end(); in.close() }
}

private object GzipWarcPartitionReader {
  /** The inflated member, read in place by the grammar. */
  final class Payload extends java.io.ByteArrayOutputStream(1 << 16) {
    def bytes: Array[Byte] = buf
  }
}
