package graft.boom

import java.io.InputStream

import scala.collection.mutable.ArrayBuffer

import org.apache.avro.Schema
import org.apache.avro.file.DataFileStream
import org.apache.avro.io.{DatumReader, Decoder, DecoderFactory}
import org.apache.avro.util.Utf8
import org.apache.spark.unsafe.types.UTF8String

/** One decoded-and-filtered log line. `message` is null when column pruning
  * determined the message isn't needed (its decode is skipped entirely).
  */
final class BoomLine {
  var timestamp: Long = 0L
  var eventId: Int = 0
  var message: UTF8String = _
  var createTime: Long = 0L
  var blockNumber: Long = 0L
  var lineNumber: Long = 0L
}

/** One pushed substring term. `onUpper` = the predicate arrived as
  * `CONTAINS(UPPER(message), term)` (logsearch/logmultisearch `--i`), so the
  * line test is `upper(message) contains term`.
  */
final case class BoomTerm(term: UTF8String, onUpper: Boolean) extends Serializable {
  /** Pure-ASCII terms may be block-prescanned under byte-wise ASCII
    * uppercasing; multi-byte characters change under Unicode uppercasing, so
    * non-ASCII `--i` terms are exempt from the block scan (never decode-skip
    * on them — conservative, no false skips).
    */
  def asciiOnly: Boolean = {
    var i = 0
    val n = term.numBytes()
    while (i < n) {
      if ((term.getByte(i) & 0x80) != 0) return false
      i += 1
    }
    true
  }
}

/** Mutable per-task accumulator for the pushed-aggregate walk: exact
  * surviving-line count and min/max timestamps (epoch ms). `minTs`/`maxTs`
  * are meaningful only when `cnt > 0` and `extremes` (MIN or MAX was
  * pushed): a COUNT-only walk credits whole blocks without reading `ms`.
  */
final class BoomAggStats(val extremes: Boolean) {
  var cnt: Long = 0L
  var minTs: Long = Long.MaxValue
  var maxTs: Long = Long.MinValue
}

/** Scan-time pushdown state for a Boom read.
  *
  * @param minTs      inclusive lower bound on line timestamp (epoch ms)
  * @param maxTsExcl  exclusive upper bound
  * @param clauses    CNF over substring terms: every clause must hold for a
  *                   line; a clause holds if ANY of its terms matches
  *                   (logmultisearch OR = one clause of N terms, AND = N
  *                   clauses of one term — util/MultiSearch.java:165-198)
  * @param needMessage whether the message column must be decoded
  */
final case class BoomPushdown(
    minTs: Long = Long.MinValue,
    maxTsExcl: Long = Long.MaxValue,
    clauses: Seq[Seq[BoomTerm]] = Nil,
    needMessage: Boolean = true) extends Serializable {
  def hasTimeFilter: Boolean = minTs != Long.MinValue || maxTsExcl != Long.MaxValue
}

/** Hand-rolled Avro `DatumReader` for `logBlock` records that filters *during*
  * decode:
  *
  *   - blocks whose `second` lies wholly outside the pushed time range have
  *     their line array skipped without materializing strings — the Spark
  *     analogue of the reference's second-granularity block skip
  *     (util/FastSearch.java:266-269, Cat.java:83-84);
  *   - pushed term clauses are tested byte-wise per line before a row is
  *     surfaced (util/FastSearch.java:215-224 case-sensitive,
  *     MultiSearch.java:165-198 OR/AND); `--i` terms test against the
  *     uppercased line, materialized at most once per line;
  *   - when the `message` column is pruned, string decode is skipped.
  *
  * (The pre-decode CONTAINER-block scan — skipping Avro decode entirely for
  * blocks whose bytes contain no term — lives one level up in
  * [[BoomFileRangeIterator]], which owns the raw block buffer.)
  *
  * Tolerates writer-schema evolution the same way the reference does
  * (readers pass writer+expected schema, BoomRecordReader.java:82-87): fields
  * are dispatched by name, unknown fields are skipped, and a missing `eventId`
  * defaults to 0.
  *
  * Each `read` returns the (possibly empty) buffer of surviving lines of one
  * logBlock record.
  */
final class BoomBlockDatumReader(pushdown: BoomPushdown)
    extends DatumReader[ArrayBuffer[BoomLine]] {

  private var writerSchema: Schema = BoomSchemas.logBlockSchema
  private var utf8 = new Utf8
  private val clauses: Array[Array[BoomTerm]] = pushdown.clauses.map(_.toArray).toArray

  override def setSchema(schema: Schema): Unit = {
    // The streaming decode below computes base = second·1000 the moment
    // the logLines field is dispatched, so the per-line math is only
    // correct when the writer schema puts the metadata longs BEFORE the
    // array (the hardcoded logBlock layout every known writer uses —
    // Schemas.java:96-107). A reordered-but-legal Avro evolution would
    // silently misdecode (second read as 0 → every timestamp ms-only and
    // time pushdown skipping all blocks), so refuse loudly instead.
    val names = schema.getFields
    val linesIdx = (0 until names.size()).find(i =>
      names.get(i).name() == "logLines")
    linesIdx.foreach { li =>
      Seq("second", "createTime", "blockNumber").foreach { n =>
        val idx = (0 until names.size()).find(i => names.get(i).name() == n)
        require(idx.forall(_ < li),
          s"unsupported Boom writer schema: field '$n' appears after " +
            "'logLines' — streaming decode needs block metadata first")
      }
      // The ITEM schema carries the same constraint one level down: the
      // per-line range/term enforcement lives in the 'message' branch and
      // uses the 'ms' value read EARLIER in the same item — a writer
      // schema with message before ms would range-test with ms=0, and one
      // without message would never run the pushed tests at all. Refuse.
      val itemFields = names.get(li).schema().getElementType.getFields
      val msIdx = (0 until itemFields.size()).find(i =>
        itemFields.get(i).name() == "ms")
      val msgIdx = (0 until itemFields.size()).find(i =>
        itemFields.get(i).name() == "message")
      require(msIdx.nonEmpty && msgIdx.nonEmpty && msIdx.get < msgIdx.get,
        "unsupported Boom writer schema: logLines items need 'ms' before " +
          "'message' — per-line pushdown enforcement reads ms first")
    }
    writerSchema = schema
  }

  override def read(reuse: ArrayBuffer[BoomLine], in: Decoder): ArrayBuffer[BoomLine] = {
    val out = if (reuse == null) new ArrayBuffer[BoomLine] else { reuse.clear(); reuse }
    var second = 0L
    var createTime = 0L
    var blockNumber = 0L

    val fields = writerSchema.getFields
    val nFields = fields.size()
    var f = 0
    while (f < nFields) {
      val field = fields.get(f)
      field.name() match {
        case "second" => second = in.readLong()
        case "createTime" => createTime = in.readLong()
        case "blockNumber" => blockNumber = in.readLong()
        case "logLines" =>
          val base = second * 1000L
          // Block-level skip: the block covers [base, base+999] — except
          // blocks with second <= 0: the REFERENCE writer derives
          // (second, ms) with truncating / and % (BoomWriter.java:73-74),
          // so its pre-epoch lines carry ms in [-999, 999] and the block
          // covers [base-999, base+999]. Widen the lower bound for those
          // blocks; the per-line test uses the true ts either way.
          val coverLo = if (second <= 0L) base - 999L else base
          val skipAll = pushdown.hasTimeFilter &&
            (base + 999L < pushdown.minTs || coverLo >= pushdown.maxTsExcl)
          val itemSchema = field.schema().getElementType
          if (skipAll) skipLines(in, itemSchema)
          else readLines(in, itemSchema, base, createTime, blockNumber, out)
        case _ => skipByType(in, field.schema())
      }
      f += 1
    }
    out
  }

  /** CNF term test; uppercases the line at most once, lazily. */
  private def matchesClauses(message: UTF8String): Boolean = {
    var upper: UTF8String = null
    var c = 0
    while (c < clauses.length) {
      val cl = clauses(c)
      var hit = false
      var t = 0
      while (!hit && t < cl.length) {
        val term = cl(t)
        val hay =
          if (term.onUpper) {
            if (upper == null) upper = message.toUpperCase
            upper
          } else message
        if (hay.contains(term.term)) hit = true
        t += 1
      }
      if (!hit) return false
      c += 1
    }
    true
  }

  private def readLines(
      in: Decoder,
      itemSchema: Schema,
      base: Long,
      createTime: Long,
      blockNumber: Long,
      out: ArrayBuffer[BoomLine]): Unit = {
    val itemFields = itemSchema.getFields
    val nItemFields = itemFields.size()
    var lineNo = 0L
    var n = in.readArrayStart()
    while (n != 0) {
      var i = 0L
      while (i < n) {
        lineNo += 1
        var ms = 0L
        var eventId = 0
        var message: UTF8String = null
        var matched = true
        var f = 0
        while (f < nItemFields) {
          itemFields.get(f).name() match {
            case "ms" => ms = in.readLong()
            case "eventId" => eventId = in.readInt()
            case "message" =>
              val ts = base + ms
              val inRange = ts >= pushdown.minTs && ts < pushdown.maxTsExcl
              if (!inRange) { in.skipString(); matched = false }
              else if (pushdown.needMessage || clauses.nonEmpty) {
                utf8 = in.readString(utf8)
                // Copy out of the reused buffer only if the line survives.
                message = UTF8String.fromBytes(
                  java.util.Arrays.copyOf(utf8.getBytes, utf8.getByteLength))
                if (clauses.nonEmpty && !matchesClauses(message)) matched = false
              } else in.skipString()
            case _ => skipByType(in, itemFields.get(f).schema())
          }
          f += 1
        }
        if (matched) {
          val line = new BoomLine
          line.timestamp = base + ms
          line.eventId = eventId
          line.message = message
          line.createTime = createTime
          line.blockNumber = blockNumber
          line.lineNumber = lineNo
          out += line
        }
        i += 1
      }
      n = in.arrayNext()
    }
  }

  /** Aggregate decode of one logBlock record for pushed COUNT(*) and
    * MIN/MAX(timestamp): folds the lines whose timestamp falls in the pushed
    * range into `stats` WITHOUT materializing a single BoomLine or message
    * string (the A4 count-under-time-range fast path — the reference burned
    * a full scan-and-spool job on it). Three regimes per block, decided by
    * the block `second`:
    *
    *   - wholly outside the range → [[skipLines]];
    *   - boundary second → per-line `ms` test, everything else skipped;
    *   - wholly inside → every line counts. COUNT alone credits the array
    *     ITEM COUNTS (items skipped, no `ms` read); MIN/MAX read each
    *     line's `ms` varint, the price of EXACT extremes (a whole-second
    *     block bounds its lines' timestamps only to [base, base+999]).
    *
    * Only valid when no term clauses are pushed (the scan builder gates
    * aggregate pushdown on exactly that).
    */
  def statLines(in: Decoder, stats: BoomAggStats): Unit = {
    var second = 0L
    val fields = writerSchema.getFields
    val nFields = fields.size()
    var f = 0
    while (f < nFields) {
      val field = fields.get(f)
      field.name() match {
        case "second" => second = in.readLong()
        case "logLines" =>
          val base = second * 1000L
          // second <= 0 blocks may carry reference-written ms in
          // [-999, 999] (truncating Java % — see read()) → coverage
          // widens to [base-999, base+999] for every regime.
          val coverLo = if (second <= 0L) base - 999L else base
          val itemSchema = field.schema().getElementType
          if (base + 999L < pushdown.minTs || coverLo >= pushdown.maxTsExcl) {
            skipLines(in, itemSchema)
          } else {
            val boundary = pushdown.hasTimeFilter &&
              !(coverLo >= pushdown.minTs && base + 999L < pushdown.maxTsExcl)
            statLinesInBlock(in, itemSchema, base, boundary, stats)
          }
        case _ => skipByType(in, field.schema())
      }
      f += 1
    }
  }

  /** `readArrayStart`/`arrayNext` (not `skipArray`) so byte-sized array
    * blocks from foreign writers still report their item counts.
    */
  private def statLinesInBlock(
      in: Decoder, itemSchema: Schema, base: Long, boundary: Boolean,
      stats: BoomAggStats): Unit = {
    val itemFields = itemSchema.getFields
    val nItemFields = itemFields.size()
    val readMs = boundary || stats.extremes
    var n = in.readArrayStart()
    while (n != 0) {
      var i = 0L
      while (i < n) {
        var ms = 0L
        var f = 0
        while (f < nItemFields) {
          val fld = itemFields.get(f)
          if (readMs && fld.name() == "ms") ms = in.readLong()
          else skipByType(in, fld.schema())
          f += 1
        }
        val ts = base + ms
        if (readMs && (!boundary || (ts >= pushdown.minTs && ts < pushdown.maxTsExcl))) {
          stats.cnt += 1
          if (ts < stats.minTs) stats.minTs = ts
          if (ts > stats.maxTs) stats.maxTs = ts
        }
        i += 1
      }
      if (!readMs) stats.cnt += n
      n = in.arrayNext()
    }
  }

  private def skipLines(in: Decoder, itemSchema: Schema): Unit = {
    val itemFields = itemSchema.getFields
    val nItemFields = itemFields.size()
    var n = in.skipArray()
    while (n != 0) {
      var i = 0L
      while (i < n) {
        var f = 0
        while (f < nItemFields) { skipByType(in, itemFields.get(f).schema()); f += 1 }
        i += 1
      }
      n = in.skipArray()
    }
  }

  private def skipByType(in: Decoder, s: Schema): Unit = s.getType match {
    case Schema.Type.LONG => in.readLong()
    case Schema.Type.INT => in.readInt()
    case Schema.Type.STRING => in.skipString()
    case Schema.Type.BYTES => in.skipBytes()
    case Schema.Type.BOOLEAN => in.readBoolean()
    case Schema.Type.FLOAT => in.readFloat()
    case Schema.Type.DOUBLE => in.readDouble()
    case Schema.Type.NULL => in.readNull()
    case Schema.Type.FIXED => in.skipFixed(s.getFixedSize)
    case other => throw new UnsupportedOperationException(s"Cannot skip $other in Boom file")
  }
}

/** Flat iterator of surviving [[BoomLine]]s over one Boom file stream
  * (non-seekable; used by the local `boomcat` path — the task read path is
  * [[BoomFileRangeIterator]]).
  */
final class BoomFileIterator(input: InputStream, pushdown: BoomPushdown)
    extends Iterator[BoomLine] with AutoCloseable {

  private val stream =
    new DataFileStream[ArrayBuffer[BoomLine]](input, new BoomBlockDatumReader(pushdown))
  private var buffer: ArrayBuffer[BoomLine] = new ArrayBuffer[BoomLine]
  private var pos = 0

  override def hasNext: Boolean = {
    while (pos >= buffer.length && stream.hasNext) {
      buffer = stream.next(buffer)
      pos = 0
    }
    pos < buffer.length
  }

  override def next(): BoomLine = {
    if (!hasNext) throw new NoSuchElementException
    val l = buffer(pos)
    pos += 1
    l
  }

  override def close(): Unit = stream.close()
}

/** Iterator over one byte-range slice of a Boom file, reading the Avro
  * object-container format RAW (header, then `count, size, payload, sync`
  * frames — a public, stable format) instead of through `DataFileReader`.
  * Owning the container frame gives the two scan tricks the reference's
  * readers had:
  *
  *   - **pre-decode block term scan** (util/FastSearch.java:179-255,
  *     MultiSearch.java:349-405): pushed terms are byte-searched against the
  *     INFLATED block buffer first; if some clause has no term occurring
  *     anywhere in the ~2 MiB block, no line in it can match and the whole
  *     block skips Avro decode entirely. `--i` terms scan an ASCII-uppercased
  *     copy (made once per block, only when ci terms are pushed); non-ASCII
  *     ci terms never cause a skip (conservative — Unicode case folding
  *     changes byte length).
  *   - **sync-aligned slicing** (BoomRecordReader.java:93): a slice [s, e)
  *     owns exactly the blocks whose preceding sync marker starts in [s, e),
  *     so adjacent slices of one file partition the blocks exactly-once.
  *
  * Deflate (the reference's only codec, boom/BoomWriter.java) and null
  * codecs are supported; the `Inflater` and block buffers are reused across
  * blocks.
  *
  * Malformed input never yields short output: every length read from the
  * file is checked against what remains of it, and a corrupt frame fails
  * with an `IOException` naming `file` and the byte offset.
  */
final class BoomFileRangeIterator(
    in: org.apache.avro.file.SeekableInput,
    pushdown: BoomPushdown,
    start: Long,
    end: Long,
    file: String = "<boom input>")
    extends Iterator[BoomLine] with AutoCloseable {

  private val SyncSize = 16
  private val datumReader = new BoomBlockDatumReader(pushdown)

  // Block-scannable clauses: raw term bytes (and, for ci terms, the term is
  // searched in the block's ASCII-uppercased copy).
  private val scanClauses: Array[Array[BoomTerm]] =
    pushdown.clauses.filter(_.forall(t => !t.onUpper || t.asciiOnly))
      .map(_.toArray).toArray
  private val scanTermBytes: Array[Array[Array[Byte]]] =
    scanClauses.map(_.map(_.term.getBytes))
  private val needUpperScan = scanClauses.exists(_.exists(_.onUpper))

  // ---- raw input with tracked position ----
  private val fileLen = in.length()
  private var pos = 0L // absolute position of the next byte to read

  private def seekTo(p: Long): Unit = { in.seek(p); pos = p }

  private def readFully(b: Array[Byte], off: Int, len: Int): Boolean = {
    var done = 0
    while (done < len) {
      val n = in.read(b, off + done, len - done)
      if (n < 0) return false
      done += n
    }
    pos += len
    true
  }

  private val one = new Array[Byte](1)
  private def readByte(): Int =
    if (readFully(one, 0, 1)) one(0) & 0xFF else -1

  /** Avro zigzag varint. */
  private def readVarLong(): Long = {
    val at = pos
    var b = readByte()
    if (b < 0) throw corrupt("EOF in varint", at)
    var acc = (b & 0x7FL)
    var shift = 7
    while ((b & 0x80) != 0) {
      b = readByte()
      if (b < 0) throw corrupt("EOF in varint", at)
      acc |= (b & 0x7FL) << shift
      shift += 7
    }
    (acc >>> 1) ^ -(acc & 1L)
  }

  private def corrupt(what: String, at: Long): java.io.IOException =
    new java.io.IOException(s"Corrupt boom file $file: $what at byte $at")

  /** A varint count or length read at the current position, rejected when
    * negative or above `limit` (for lengths: the bytes left in the file).
    */
  private def readLength(what: String, limit: Long): Int = {
    val at = pos
    val v = readVarLong()
    val max = math.min(limit, Int.MaxValue)
    if (v < 0 || v > max) throw corrupt(s"$what $v outside [0, $max]", at)
    v.toInt
  }

  // ---- header ----
  private var sync: Array[Byte] = _
  private var headerEnd: Long = _
  private var codec: String = "null"

  private def parseHeader(): Unit = {
    seekTo(0L)
    val magic = new Array[Byte](4)
    if (!readFully(magic, 0, 4) || magic(0) != 'O' || magic(1) != 'b' ||
      magic(2) != 'j' || magic(3) != 1) {
      throw new java.io.IOException(s"Not an Avro object container file: $file")
    }
    var schemaJson: String = null
    var n = readVarLong()
    while (n != 0) {
      val count = if (n < 0) { readVarLong(); -n } else n // negative: size follows
      var i = 0L
      while (i < count) {
        val key = readBytesStr()
        val value = readBytesArr()
        key match {
          case "avro.schema" => schemaJson = new String(value, java.nio.charset.StandardCharsets.UTF_8)
          case "avro.codec" => codec = new String(value, java.nio.charset.StandardCharsets.UTF_8)
          case _ => ()
        }
        i += 1
      }
      n = readVarLong()
    }
    sync = new Array[Byte](SyncSize)
    val headerSyncAt = pos
    if (!readFully(sync, 0, SyncSize)) throw corrupt("EOF in header sync", headerSyncAt)
    headerEnd = pos
    if (schemaJson == null) throw new java.io.IOException(s"Boom file missing avro.schema: $file")
    datumReader.setSchema(new Schema.Parser().parse(schemaJson))
    if (codec != "null" && codec != "deflate") {
      throw new UnsupportedOperationException(s"Unsupported boom codec: $codec")
    }
  }

  private def readBytesStr(): String =
    new String(readBytesArr(), java.nio.charset.StandardCharsets.UTF_8)

  private def readBytesArr(): Array[Byte] = {
    val len = readLength("header length", fileLen - pos)
    val b = new Array[Byte](len)
    if (!readFully(b, 0, len)) throw corrupt("EOF in header bytes", pos)
    b
  }

  /** Position after the first sync marker whose START is at/after `from`;
    * -1 if none before EOF.
    */
  private def seekPastSync(from: Long): Long = {
    if (from >= fileLen) return -1L
    seekTo(from)
    val chunk = new Array[Byte](64 * 1024 + SyncSize)
    var base = from
    var carry = 0
    while (true) {
      val n = in.read(chunk, carry, chunk.length - carry)
      if (n <= 0) return -1L
      pos += n
      val avail = carry + n
      var i = 0
      while (i + SyncSize <= avail) {
        var j = 0
        while (j < SyncSize && chunk(i + j) == sync(j)) j += 1
        if (j == SyncSize) {
          val markerStart = base + i
          seekTo(markerStart + SyncSize)
          return markerStart + SyncSize
        }
        i += 1
      }
      // Keep the last SyncSize-1 bytes as overlap for markers spanning reads.
      carry = math.min(SyncSize - 1, avail)
      System.arraycopy(chunk, avail - carry, chunk, 0, carry)
      base = base + avail - carry
    }
    -1L
  }

  // ---- block machinery ----
  private val inflater = new java.util.zip.Inflater(true)
  private var packed = new Array[Byte](0)
  private var inflated = new Array[Byte](1 << 20)
  private var upperBuf = new Array[Byte](0)
  private val syncCheck = new Array[Byte](SyncSize)

  private var buffer: ArrayBuffer[BoomLine] = new ArrayBuffer[BoomLine]
  private var bufPos = 0
  private var recordBuf: ArrayBuffer[BoomLine] = new ArrayBuffer[BoomLine]
  private var binDecoder: org.apache.avro.io.BinaryDecoder = _
  private var done = false

  /** Observability for tests/tuning: container blocks decoded vs skipped by
    * the pre-decode term scan.
    */
  var blocksDecoded: Long = 0L
  var blocksSkipped: Long = 0L

  parseHeader()
  // Position at the first owned block: a slice [s, e) owns blocks whose
  // preceding sync marker starts in [s, e). The header's trailing sync
  // "precedes" the first block.
  private val firstBlockPos: Long =
    if (start <= headerEnd - SyncSize) headerEnd else seekPastSync(start)
  if (firstBlockPos < 0) done = true else seekTo(firstBlockPos)

  private def indexOf(hay: Array[Byte], hayLen: Int, needle: Array[Byte]): Boolean = {
    if (needle.length == 0) return true
    val last = hayLen - needle.length
    var i = 0
    while (i <= last) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return true
      i += 1
    }
    false
  }

  /** Pre-decode scan: false → no line in the block can satisfy the pushed
    * clauses (term bytes appear nowhere in the inflated buffer).
    *
    * Case-insensitive clauses may not SKIP a block containing any of the
    * few Unicode characters whose FULL uppercase maps into ASCII (ß→SS,
    * ı→I, ſ→S, ŉ→ʼN, ẖ/ẗ/ẘ/ẙ/ẚ→H̱/T̈/W̊/Y̊/Aʾ, ﬀ-ﬆ→FF…ST): the per-line
    * test uppercases with the full mapping and could match where the
    * byte-level ASCII-upper scan cannot — those (rare) blocks decode.
    * (A plain any-high-byte test would disable the prescan everywhere:
    * Avro varint length bytes set the high bit on every real block.)
    */
  private def blockMayMatch(data: Array[Byte], len: Int): Boolean = {
    if (scanClauses.isEmpty) return true
    var upperLen = -1
    var hazard = -1 // -1 unknown, 0 none, 1 present (computed lazily)
    def hasUppercaseHazard: Boolean = {
      if (hazard < 0) {
        hazard = 0
        var i = 0
        while (hazard == 0 && i + 1 < len) {
          val b0 = data(i) & 0xFF
          val b1 = data(i + 1) & 0xFF
          val hit =
            (b0 == 0xC3 && b1 == 0x9F) ||                      // ß
            (b0 == 0xC4 && b1 == 0xB1) ||                      // ı
            (b0 == 0xC5 && (b1 == 0x89 || b1 == 0xBF)) ||      // ŉ ſ
            (b0 == 0xE1 && b1 == 0xBA && i + 2 < len &&
              (data(i + 2) & 0xFF) >= 0x96 &&
              (data(i + 2) & 0xFF) <= 0x9A) ||                 // ẖ-ẚ
            (b0 == 0xEF && b1 == 0xAC && i + 2 < len &&
              (data(i + 2) & 0xFF) >= 0x80 &&
              (data(i + 2) & 0xFF) <= 0x86)                    // ﬀ-ﬆ
          if (hit) hazard = 1
          i += 1
        }
      }
      hazard == 1
    }
    var c = 0
    while (c < scanClauses.length) {
      val cl = scanClauses(c)
      var hit = false
      var anyUpper = false
      var t = 0
      while (!hit && t < cl.length) {
        if (cl(t).onUpper) {
          anyUpper = true
          if (upperLen < 0) {
            if (upperBuf.length < len) upperBuf = new Array[Byte](len)
            var i = 0
            while (i < len) {
              val b = data(i)
              upperBuf(i) = if (b >= 'a' && b <= 'z') (b - 32).toByte else b
              i += 1
            }
            upperLen = len
          }
          if (indexOf(upperBuf, upperLen, scanTermBytes(c)(t))) hit = true
        } else if (indexOf(data, len, scanTermBytes(c)(t))) hit = true
        t += 1
      }
      if (!hit && !(anyUpper && hasUppercaseHazard)) return false
      c += 1
    }
    true
  }

  // Inflated payload of the frame `nextRawBlock` just produced.
  private var blockData: Array[Byte] = _
  private var blockLen: Int = 0

  /** Read + inflate the next owned container frame into `blockData`
    * / `blockLen`; returns its RECORD count, or -1 at slice end.
    */
  private def nextRawBlock(): Int = {
    // Ownership: the sync preceding the block at `pos` started at pos-16.
    if (pos - SyncSize >= end || pos >= fileLen) return -1
    // Bytes remain past the last sync, so EOF inside this frame is
    // truncation, never a clean end.
    val countAt = pos
    val count = readLength("block count", Int.MaxValue)
    val sizeAt = pos
    val size = readLength("block size", fileLen - sizeAt)
    if (packed.length < size) packed = new Array[Byte](math.max(size, packed.length * 2))
    if (!readFully(packed, 0, size)) throw corrupt("EOF in block payload", sizeAt)
    val syncAt = pos
    if (!readFully(syncCheck, 0, SyncSize) ||
      !java.util.Arrays.equals(syncCheck, sync)) {
      throw corrupt("bad sync", syncAt)
    }

    var data = packed
    var len = size
    if (codec == "deflate") {
      inflater.reset()
      inflater.setInput(packed, 0, size)
      var outLen = 0
      while (!inflater.finished()) {
        if (outLen == inflated.length) {
          inflated = java.util.Arrays.copyOf(inflated, inflated.length * 2)
        }
        val n = inflater.inflate(inflated, outLen, inflated.length - outLen)
        if (n == 0 && inflater.needsInput()) {
          throw corrupt("truncated deflate block", sizeAt)
        }
        outLen += n
      }
      data = inflated
      len = outLen
    }
    // Every logBlock record takes at least one byte (its `second`).
    if (count > len) throw corrupt(s"block count $count exceeds its $len payload bytes", countAt)
    blockData = data
    blockLen = len
    count
  }

  /** Read the next owned container block into `buffer`; false at slice end. */
  private def readBlock(): Boolean = {
    val count = nextRawBlock()
    if (count < 0) return false
    buffer.clear()
    bufPos = 0
    if (!blockMayMatch(blockData, blockLen)) { blocksSkipped += 1; return true } // no decode
    blocksDecoded += 1
    binDecoder = DecoderFactory.get().binaryDecoder(blockData, 0, blockLen, binDecoder)
    var i = 0
    while (i < count) {
      recordBuf = datumReader.read(recordBuf, binDecoder)
      buffer ++= recordBuf
      i += 1
    }
    true
  }

  /** Drain the slice in AGGREGATE mode (pushed COUNT(*) and
    * MIN/MAX(timestamp)): no BoomLine/message ever materializes
    * ([[BoomBlockDatumReader.statLines]] per record). Terminal: the
    * iterator is `done` afterwards.
    */
  def statsRemaining(stats: BoomAggStats): Unit = {
    require(pushdown.clauses.isEmpty,
      "aggregate-only scan requires no pushed term clauses")
    require(bufPos >= buffer.length,
      "statsRemaining must run on a fresh iterator")
    if (done) return // slice owned no blocks
    var count = nextRawBlock()
    while (count >= 0) {
      blocksDecoded += 1
      binDecoder = DecoderFactory.get().binaryDecoder(blockData, 0, blockLen, binDecoder)
      var i = 0
      while (i < count) { datumReader.statLines(binDecoder, stats); i += 1 }
      count = nextRawBlock()
    }
    done = true
  }

  /** Lines of the slice in the pushed time range: [[statsRemaining]] with
    * COUNT alone pushed.
    */
  def countRemaining(): Long = {
    val stats = new BoomAggStats(extremes = false)
    statsRemaining(stats)
    stats.cnt
  }

  override def hasNext: Boolean = {
    while (bufPos >= buffer.length && !done) {
      if (!readBlock()) done = true
    }
    bufPos < buffer.length
  }

  override def next(): BoomLine = {
    if (!hasNext) throw new NoSuchElementException
    val l = buffer(bufPos)
    bufPos += 1
    l
  }

  override def close(): Unit = {
    inflater.end()
    in.close()
  }
}
