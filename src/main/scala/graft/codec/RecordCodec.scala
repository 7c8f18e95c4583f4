package graft.codec

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer
import java.sql.Timestamp

import graft.model.ChangeEvent

/** Binary change-record codec — our WAL record format. The layout is a
  * fixed header + length-prefixed fields, deliberately exercising the
  * reference's mainframe storage semantics (SURVEY.md §2.3 P4-P10):
  * big-endian binary integers (COMP analog, encoding.py:258-276), EBCDIC
  * cp037 character data (encoding.py:279-306), zoned decimal
  * (encoding.py:209-256) and packed decimal COMP-3 (encoding.py:112-161)
  * for the v2 evolved columns.
  *
  * Record layout (big-endian throughout):
  * {{{
  *   byte   0      schemaVersion (1 | 2)
  *   byte   1      op tag: 'I' | 'U' | 'D'  (REDEFINES-style dispatch)
  *   bytes  2-9    seq      int64  (COMP-8 analog)
  *   bytes 10-17   warc_ts  int64 epoch micros
  *   url   : int16 len + EBCDIC(IBM037) bytes        (PIC X(n) analog)
  *   lang  : 2 bytes EBCDIC, space-padded            (PIC X(2) analog)
  *   text  : int32 len (-1 = null) + UTF-8 bytes
  *   html  : int32 len (-1 = null) + raw bytes
  *   -- schemaVersion >= 2 only --
  *   fetch_status : 3-byte zoned decimal (PIC 9(3))
  *   content_len  : 6-byte packed decimal (PIC S9(11) COMP-3)
  * }}}
  */
object RecordCodec {

  val SchemaV1 = 1
  val SchemaV2 = 2

  /** Evolved columns carried by v2 records, in promotion order. */
  val V2Columns: Seq[(String, String)] =
    Seq("fetch_status" -> "int", "content_len" -> "bigint")

  def encode(e: ChangeEvent): Array[Byte] = {
    val bos = new ByteArrayOutputStream(64 +
      (if (e.text == null) 0 else e.text.length) +
      (if (e.html == null) 0 else e.html.length))
    val out = new DataOutputStream(bos)
    require(e.schemaVersion == SchemaV1 || e.schemaVersion == SchemaV2,
      s"unsupported schema version ${e.schemaVersion}")
    out.writeByte(e.schemaVersion)
    out.writeByte(e.op.charAt(0))
    out.writeLong(e.seq)
    out.writeLong(e.warcTs.getTime * 1000L + (e.warcTs.getNanos / 1000) % 1000)
    val urlBytes = MainframeNum.stringToEbcdic(e.url)
    require(urlBytes.length <= Short.MaxValue, "url too long")
    out.writeShort(urlBytes.length)
    out.write(urlBytes)
    val lang2 = (Option(e.lang).getOrElse("") + "  ").substring(0, 2)
    out.write(MainframeNum.stringToEbcdic(lang2))
    writeLenPrefixed(out, if (e.text == null) null else e.text.getBytes("UTF-8"))
    writeLenPrefixed(out, e.html)
    if (e.schemaVersion >= SchemaV2) {
      // the fixed-width zoned/packed fields carry no null indicator, so a
      // v2 record CANNOT represent a missing value — reject it here
      // rather than silently persisting 0 (an impossible HTTP status /
      // a fake length) that decode would then resurrect as Some(0)
      require(e.fetch_status.isDefined && e.content_len.isDefined,
        s"v2 record for ${e.url} lacks fetch_status/content_len — " +
          "the wire format cannot encode null v2 fields")
      val fs = e.fetch_status.get.toLong
      out.write(MainframeNum.encodeZoned(java.math.BigDecimal.valueOf(fs), 3))
      val cl = e.content_len.get
      out.write(MainframeNum.encodePacked(java.math.BigDecimal.valueOf(cl), 11))
    }
    out.flush()
    bos.toByteArray
  }

  private def writeLenPrefixed(out: DataOutputStream, bytes: Array[Byte]): Unit =
    if (bytes == null) out.writeInt(-1)
    else { out.writeInt(bytes.length); out.write(bytes) }

  def decode(bytes: Array[Byte]): ChangeEvent = decodeAt(bytes, 0)

  /** Decode a record at an absolute offset inside a larger buffer
    * (zero-copy segment walking). */
  def decodeAt(bytes: Array[Byte], recOff: Int): ChangeEvent = {
    val buf = ByteBuffer.wrap(bytes) // big-endian by default
    buf.position(recOff)
    val schemaVersion = buf.get().toInt
    require(schemaVersion == SchemaV1 || schemaVersion == SchemaV2,
      s"unsupported schema version $schemaVersion")
    val op = buf.get().toChar.toString
    val seq = buf.getLong()
    val tsMicros = buf.getLong()
    val ts = microsToTimestamp(tsMicros)
    val urlLen = buf.getShort() & 0xffff
    val urlBytes = new Array[Byte](urlLen); buf.get(urlBytes)
    val url = MainframeNum.ebcdicToString(urlBytes)
    val langBytes = new Array[Byte](2); buf.get(langBytes)
    val lang = MainframeNum.ebcdicToString(langBytes).trim
    val text = readLenPrefixed(buf).map(new String(_, "UTF-8")).orNull
    val html = readLenPrefixed(buf).orNull
    val (fetchStatus, contentLen) =
      if (schemaVersion >= SchemaV2) {
        val zoned = new Array[Byte](3); buf.get(zoned)
        val fs = MainframeNum.decodeZoned(zoned, 0).intValueExact()
        val packed = new Array[Byte](MainframeNum.packedStorageBytes(11)); buf.get(packed)
        val cl = MainframeNum.decodePacked(packed, 0).longValueExact()
        (Some(fs), Some(cl))
      } else (None, None)
    ChangeEvent(op, seq, url, ts, html, text, lang, schemaVersion, fetchStatus, contentLen)
  }

  /** Record start/length offsets inside a framed segment — zero-copy walk
    * (the record slice is only materialized for rows that survive
    * filtering; the key pass never copies payloads at all). */
  def segmentOffsets(segment: Array[Byte]): Iterator[(Int, Int)] = {
    val buf = ByteBuffer.wrap(segment)
    val hasCrc = parseHeader(buf)._2
    val crcLen = if (hasCrc) 4 else 0
    new Iterator[(Int, Int)] {
      def hasNext: Boolean = buf.remaining() > 4
      def next(): (Int, Int) = {
        val len = buf.getInt()
        val off = buf.position()
        // fail fast on a corrupt length prefix: a non-positive or
        // past-the-end length would otherwise reposition the buffer
        // backwards (or not at all) and spin this iterator forever —
        // the CRC-skipping key pass has no other guard. Subtraction
        // form: `off + len + crcLen` would overflow Int for a corrupt
        // len near Int.MaxValue and slip past an addition-form check
        // (same rationale as verifySegment / truncationPoint).
        if (len <= 0 || len > segment.length - off - crcLen)
          throw new CorruptRecordException(
            s"corrupt frame length $len at offset ${off - 4}")
        buf.position(off + len + crcLen)
        (off, len)
      }
    }
  }

  /** big-endian int64 at an absolute position — manual read, zero alloc
    * (ByteBuffer.wrap allocates a wrapper object per call; the key pass
    * calls these per event). */
  private def longAt(b: Array[Byte], p: Int): Long =
    ((b(p) & 0xffL) << 56) | ((b(p + 1) & 0xffL) << 48) |
      ((b(p + 2) & 0xffL) << 40) | ((b(p + 3) & 0xffL) << 32) |
      ((b(p + 4) & 0xffL) << 24) | ((b(p + 5) & 0xffL) << 16) |
      ((b(p + 6) & 0xffL) << 8) | (b(p + 7) & 0xffL)

  /** schema version at a record's absolute offset (byte 0 of the frame). */
  def svAt(segment: Array[Byte], recOff: Int): Int = segment(recOff) & 0xff

  /** seq field at absolute position (record offset + 2) — big-endian. */
  def seqAt(segment: Array[Byte], recOff: Int): Long = longAt(segment, recOff + 2)

  /** warc_ts micros at absolute position (record offset + 10). */
  def tsMicrosAt(segment: Array[Byte], recOff: Int): Long = longAt(segment, recOff + 10)

  /** url field length at record offset + 18 (uint16 big-endian). */
  def urlLenAt(segment: Array[Byte], recOff: Int): Int =
    ((segment(recOff + 18) & 0xff) << 8) | (segment(recOff + 19) & 0xff)

  /** absolute offset of the url bytes inside a record. */
  def urlOffAt(recOff: Int): Int = recOff + 20

  /** Seeded xxHash64 of the url bytes, computed in place (Spark's own
    * unsafe hasher — no per-event allocation). Two calls with independent
    * seeds form a 128-bit url identity; collision probability for a batch
    * of n urls ≈ n²/2¹²⁹, negligible at any feasible batch size. */
  def urlHashAt(segment: Array[Byte], recOff: Int, seed: Long): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      segment,
      org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + urlOffAt(recOff),
      urlLenAt(segment, recOff), seed)

  /** Key peek at an absolute record offset: (seq, tsMicros, urlBytes). */
  def peekKeyBytesAt(segment: Array[Byte], recOff: Int): (Long, Long, Array[Byte]) = {
    val buf = ByteBuffer.wrap(segment)
    buf.position(recOff + 2) // skip schemaVersion + op
    val seq = buf.getLong()
    val tsMicros = buf.getLong()
    val urlLen = buf.getShort() & 0xffff
    val urlBytes = new Array[Byte](urlLen); buf.get(urlBytes)
    (seq, tsMicros, urlBytes)
  }

  private def readLenPrefixed(buf: ByteBuffer): Option[Array[Byte]] = {
    val len = buf.getInt()
    if (len < 0) None
    else { val a = new Array[Byte](len); buf.get(a); Some(a) }
  }

  def microsToTimestamp(micros: Long): Timestamp = {
    val ts = new Timestamp(Math.floorDiv(micros, 1000L))
    ts.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
    ts
  }

  // -------------------------------------------------------------------
  // Segment framing: magic + version, then int32-length-prefixed records.
  // One segment file = one WAL chunk; decode parallelism = #segments.
  // -------------------------------------------------------------------

  val SegmentMagic: Array[Byte] = "GWAL".getBytes("US-ASCII")

  /** Segment header: magic + int32 format version + (format>=2) one byte
    * carrying the max record schema version inside — a driver-readable hint
    * so schema-evolution decisions never need a Spark job over the data.
    *
    * Format 3 (the default write format) appends a CRC32 of each record
    * after its bytes: `[len][record][crc32]`. That closes the
    * damage class `fsck` alone cannot see (a flipped bit inside free text)
    * for every newly written segment, at ~0.5 cycles/byte on hardware-
    * accelerated CRC32. Formats 1/2 remain fully readable. Integrity
    * contract at ingest: [[readSegment]] (full-record paths) verifies
    * every record it materializes, and the winner decode path verifies
    * each LWW winner before it can enter the table — corrupt bytes are
    * never committed; the zero-copy KEY pass deliberately skips
    * verification (it reads 20-ish header bytes per record, and a
    * corruption there either loses to CRC at winner decode or promotes an
    * authentic-but-older record — `fsck` is the full audit). */
  def frameSegment(records: Iterator[Array[Byte]], maxSchemaVersion: Int = SchemaV1,
      withCrc: Boolean = true): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.write(SegmentMagic)
    out.writeInt(if (withCrc) 3 else 2)
    out.writeByte(maxSchemaVersion)
    val crc = new java.util.zip.CRC32()
    records.foreach { r =>
      out.writeInt(r.length); out.write(r)
      if (withCrc) {
        crc.reset(); crc.update(r)
        out.writeInt(crc.getValue.toInt)
      }
    }
    out.flush()
    bos.toByteArray
  }

  /** CRC32 of `len` bytes at `off`, compared to the int32 stored right
    * after them (format-3 frames). */
  def crcMatchesAt(bytes: Array[Byte], off: Int, len: Int): Boolean = {
    val crc = new java.util.zip.CRC32()
    crc.update(bytes, off, len)
    crc.getValue.toInt == ByteBuffer.wrap(bytes, off + len, 4).getInt()
  }

  final class CorruptRecordException(msg: String) extends RuntimeException(msg)

  /** Parse the segment header; returns (hasSchemaHint, hasCrc) with the
    * buffer positioned at the first frame. */
  private def parseHeader(buf: ByteBuffer): (Boolean, Boolean) = {
    val magic = new Array[Byte](4); buf.get(magic)
    require(java.util.Arrays.equals(magic, SegmentMagic), "bad segment magic")
    buf.getInt() match {
      case 1 => (false, false)
      case 2 => buf.get(); (true, false)
      case 3 => buf.get(); (true, true)
      case v => throw new IllegalArgumentException(s"bad segment version $v")
    }
  }

  /** Whether a segment's frames carry per-record CRC32s (format 3). */
  def segmentHasCrc(segment: Array[Byte]): Boolean = {
    val buf = ByteBuffer.wrap(segment)
    parseHeader(buf)._2
  }

  val SegmentHeaderLen: Int = 9 // magic(4) + version(4) + maxSchemaVersion(1)

  /** Read the max-schema-version hint from the first header bytes of a
    * segment file; None for format-1 segments (no hint). */
  def segmentSchemaHint(header: Array[Byte]): Option[Int] = {
    require(header.length >= 8, "header too short")
    val buf = ByteBuffer.wrap(header)
    val magic = new Array[Byte](4); buf.get(magic)
    require(java.util.Arrays.equals(magic, SegmentMagic), "bad segment magic")
    buf.getInt() match {
      case 1          => None
      case 2 | 3      => Some(buf.get().toInt)
      case v          => throw new IllegalArgumentException(s"bad segment version $v")
    }
  }

  /** Iterate raw records of a framed segment (lazy, no copy of the whole).
    * Format-3 frames are CRC-verified as they are materialized — a
    * mismatch throws [[CorruptRecordException]] (ingest is fail-fast;
    * `fsck` locates and the operator excises). */
  def readSegment(segment: Array[Byte]): Iterator[Array[Byte]] = {
    val buf = ByteBuffer.wrap(segment)
    val hasCrc = parseHeader(buf)._2
    val crc = new java.util.zip.CRC32()
    new Iterator[Array[Byte]] {
      def hasNext: Boolean = buf.remaining() > 4
      def next(): Array[Byte] = {
        val len = buf.getInt()
        val a = new Array[Byte](len); buf.get(a)
        if (hasCrc) {
          crc.reset(); crc.update(a)
          val stored = buf.getInt()
          if (crc.getValue.toInt != stored)
            throw new CorruptRecordException(
              s"record CRC mismatch at segment offset ${buf.position() - len - 8}")
        }
        a
      }
    }
  }

  def decodeSegment(segment: Array[Byte]): Iterator[ChangeEvent] =
    readSegment(segment).map(decode)

  /** Integrity check of one framed segment — the `fsck` primitive, kept
    * OFF the engine's zero-copy hot path (ingest stays fail-fast; this is
    * the operator's tool for locating damage before excising/re-fetching a
    * segment). Validates the header and every record's frame (catching
    * truncation, corrupt length prefixes, trailing garbage — the
    * Kafka-log-recovery class of damage: framing is length-prefixed, so a
    * corrupt length loses the remainder of the file and the FIRST bad
    * offset is the actionable fact). With `deep = true` every record is
    * additionally fully decoded and re-encoded, so content damage the
    * codec can see (bad schema tag, zoned/packed digit nibbles, length
    * inconsistencies between frame and fields) is caught too; a flipped
    * bit inside free text is honestly undetectable without per-record
    * checksums. Returns the record count, or the first problem as
    * Left(byteOffset, message). */
  def verifySegment(segment: Array[Byte], deep: Boolean = false): Either[(Long, String), Long] = {
    if (segment.length < 8) return Left((0L, "segment shorter than header"))
    val buf = ByteBuffer.wrap(segment)
    val magic = new Array[Byte](4); buf.get(magic)
    if (!java.util.Arrays.equals(magic, SegmentMagic))
      return Left((0L, "bad segment magic"))
    val hasCrc = buf.getInt() match {
      case 1 => false
      case v @ (2 | 3) =>
        if (buf.remaining() < 1) return Left((8L, "missing schema-hint byte"))
        val sv = buf.get().toInt
        if (sv < SchemaV1 || sv > SchemaV2) return Left((8L, s"bad schema hint $sv"))
        v == 3
      case v => return Left((4L, s"bad segment version $v"))
    }
    val crcLen = if (hasCrc) 4 else 0
    var n = 0L
    while (buf.remaining() > 4) {
      val lenPos = buf.position().toLong
      val len = buf.getInt()
      // compare as subtraction from remaining: `len + crcLen` overflows Int
      // for corrupt lengths near Int.MaxValue and would sneak past the guard
      if (len <= 0 || len > buf.remaining() - crcLen)
        return Left((lenPos,
          s"corrupt frame length $len with ${buf.remaining()} bytes after it"))
      val off = buf.position()
      // format 3: every byte of every record is checksummed — content
      // damage is caught even WITHOUT --deep
      if (hasCrc && !crcMatchesAt(segment, off, len))
        return Left((off.toLong, "record CRC mismatch"))
      if (deep) {
        val decoded =
          try Right(decodeAt(segment, off))
          catch { case e: Exception => Left(e.toString) }
        decoded match {
          case Left(err) => return Left((off.toLong, s"record decode failed: $err"))
          case Right(e) =>
            // canonical re-encode must reproduce the frame length exactly —
            // catches a decode that silently bled past its frame
            val reenc = encode(e)
            if (reenc.length != len)
              return Left((off.toLong,
                s"frame/content length mismatch: frame $len, re-encoded ${reenc.length}"))
        }
      }
      buf.position(off + len + crcLen)
      n += 1
    }
    if (buf.remaining() != 0)
      Left((buf.position().toLong, s"${buf.remaining()} trailing bytes after last frame"))
    else Right(n)
  }

  /** Torn-write recovery point: the byte offset just past the LAST frame
    * that passes framing (and, for format 3, CRC) — i.e. the safe length
    * to truncate a damaged segment to. None when the segment is clean
    * (nothing to repair) or the header itself is unreadable (nothing to
    * keep). Used by `fsck --repair-tail`; truncation at this point always
    * yields a segment [[verifySegment]] accepts. */
  /** Tail-repair plan for a damaged segment — the one decision procedure
    * behind BOTH `fsck --repair-tail` (MainIngest) and the `cdc_torn_tail`
    * oracle query, so the driver-checked recovery semantics are exactly
    * the CLI's. Right((cut, records)) = truncating the file to `cut`
    * bytes keeps a fully-valid prefix of `records` frames (Kafka
    * log-recovery semantics); Left((offset, msg)) = not repairable as a
    * torn tail (no valid prefix, or damage strictly before the tear) and
    * the segment must be re-fetched. A clean segment plans to its own
    * length. */
  def planTailRepair(segment: Array[Byte],
      deep: Boolean = false): Either[(Long, String), (Int, Long)] =
    verifySegment(segment, deep) match {
      case Right(n) => Right((segment.length, n))
      case Left((off, msg)) =>
        truncationPoint(segment) match {
          case Some(cut) if cut > SegmentHeaderLen =>
            val kept = java.util.Arrays.copyOfRange(segment, 0, cut)
            verifySegment(kept, deep) match {
              case Right(n) => Right((cut, n))
              case Left((o2, m2)) =>
                Left((o2, s"$m2 (deep damage before the torn tail — re-fetch)"))
            }
          case _ =>
            Left((off, s"$msg (no valid prefix to keep — re-fetch)"))
        }
    }

  def truncationPoint(segment: Array[Byte]): Option[Int] = {
    val buf = ByteBuffer.wrap(segment)
    val hasCrc =
      try parseHeader(buf)._2
      catch { case _: Exception => return None }
    val crcLen = if (hasCrc) 4 else 0
    var lastGood = buf.position()
    while (buf.remaining() > 4) {
      val len = buf.getInt()
      if (len <= 0 || len > buf.remaining() - crcLen) // subtraction: no Int overflow
        return Some(lastGood)
      val off = buf.position()
      if (hasCrc && !crcMatchesAt(segment, off, len))
        return Some(lastGood)
      buf.position(off + len + crcLen)
      lastGood = buf.position()
    }
    if (buf.remaining() != 0) Some(lastGood) else None
  }
}
