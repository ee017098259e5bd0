package graft.warc.source

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.unsafe.types.UTF8String

/** Byte-range WARC record reader (see [[WarcDataSource]] for the split
  * ownership rule). Streams records — one record in memory at a time —
  * through the shared [[WarcGrammar]]; this class adds only what a
  * byte-range split needs around it: ownership, the tentative first
  * record and its terminator check, and the rewind past a false magic.
  *
  * Caveat shared with every offset-splittable record format: a split
  * seeking into the middle of a binary body could false-sync on magic
  * bytes inside the body. The first record after a mid-split sync is
  * therefore TENTATIVE: it must carry WARC-Type and a parseable
  * Content-Length, AND its claimed length must land on a well-formed
  * record terminator (CRLF padding then EOF or a line-initial `WARC/`)
  * — otherwise the reader rewinds to just past the false magic and
  * rescans, so an embedded header block with a bogus length can never
  * jump real records. Content-Length-driven skipping means true records
  * are never double-emitted by their owning split.
  */
class WarcPartitionReader(part: WarcInputPartition,
    hadoopConf: org.apache.hadoop.conf.Configuration)
    extends PartitionReader[InternalRow] {

  private val in = new WarcByteReader(
    new Path(part.file).getFileSystem(hadoopConf).open(new Path(part.file)))
  private val endExclusive = part.start + part.length
  private val sourceName =
    UTF8String.fromString(part.file.substring(part.file.lastIndexOf('/') + 1))
  private val grammar = new WarcGrammar
  import WarcGrammar._

  /** Tentative-record terminator check. A record accepted from a mid-
    * split sync must END like a WARC record: its body followed by only
    * CR/LF padding and then EOF or a line-initial `WARC/` magic. Returns
    * the next magic's start offset (magic consumed), -1 for EOF-accept,
    * -2 for reject. Without this, a body that EMBEDS a plausible WARC
    * header block (crawls serving .warc files, HTML quoting WARC
    * headers) would be trusted and its Content-Length skip could jump
    * real records owned by this split. */
  private def validateTerminator(): Long = {
    // CR/LF padding is unbounded: a writer emitting extra blank lines
    // between records is out-of-spec but must not get its boundary
    // record dropped — any pure-CRLF run ending at EOF or a line-initial
    // magic still IS a record boundary
    var sawNewline = false
    while (true) {
      val b = in.readByte()
      if (b < 0) return -1L
      if (b == 'W' && sawNewline) {
        val start = in.position - 1
        var m = 1
        while (m < Magic.length) {
          if (in.readByte() != Magic(m)) return -2L
          m += 1
        }
        return start
      }
      if (b != '\r' && b != '\n') return -2L
      sawNewline |= b == '\n'
    }
    -2L
  }

  // stream is positioned just AFTER a consumed magic whose start offset
  // is `nextMagicStart`; -1 when no further magic exists
  private var nextMagicStart: Long = {
    if (part.start > 0) in.seekTo(part.start - 1)
    syncToMagic(in, requireNewline = part.start > 0)
  }
  // the first record after a mid-file seek is TENTATIVE: a false sync on
  // magic bytes inside a record body must not be trusted to skip
  // Content-Length bytes (it could jump real records). A tentative
  // record missing the mandatory WARC-Type header, with an untrusted
  // length, or whose length runs past EOF or misses a record terminator
  // is rejected, and the scan resumes right after its magic.
  private var tentative = part.start > 0
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (nextMagicStart >= 0 && nextMagicStart < endExclusive) {
      val magicStart = nextMagicStart // rewind point for tentative rejects
      val outcome = grammar.parse(in, requireType = tentative)
      if (outcome == EofInHeaders) {
        current = sentinelRow(sourceName); nextMagicStart = -1L; return true
      }
      if (!tentative) {
        // malformed records surface as sentinels for the quarantine path
        // and the scan resumes past their headers; a short body ends it
        current = if (outcome == Record) grammar.row(sourceName) else sentinelRow(sourceName)
        nextMagicStart =
          if (outcome == ShortBody) -1L else syncToMagic(in, requireNewline = false)
        return true
      }
      val v = if (outcome == Record) validateTerminator() else -2L
      if (v == -2L) {
        // rejected tentative pseudo-record: emit nothing and rescan from
        // just past the false magic (the header scan may have consumed a
        // real magic)
        in.seekTo(magicStart + Magic.length)
        nextMagicStart = syncToMagic(in, requireNewline = false)
      } else {
        current = grammar.row(sourceName)
        tentative = false
        nextMagicStart = v
        return true
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}
