package graft.codec

import java.io.{ByteArrayOutputStream, EOFException, InputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant
import scala.collection.immutable.ListMap

/** One WARC record: version line, dynamic string-keyed headers, opaque
  * payload. Mirrors the reference's universal record shape
  * (/root/reference/write.go:39-43, /root/reference/header.go:6).
  */
final case class WarcRecord(
    version: String,
    headers: Map[String, String],
    content: Array[Byte]
) {
  def warcType: String = headers.getOrElse("WARC-Type", "")
  def targetUri: String = headers.getOrElse("WARC-Target-URI", "")
  def contentLength: Long =
    headers.get("Content-Length").map(_.trim.toLong).getOrElse(content.length.toLong)
  def blockDigest: String = headers.getOrElse("WARC-Block-Digest", "")
  /** Recomputed `sha1:<base32>` digest of the block bytes. */
  def computedBlockDigest: String = "sha1:" + Digests.sha1Base32(content)
}

/** A record whose payload lives in a spool (memory ≤ threshold, temp file
  * beyond) instead of an array — the >2 GB / low-heap scan shape. The
  * block digest is computed during the scan, not from a buffer. */
final case class SpooledWarcRecord(
    version: String,
    headers: Map[String, String],
    payload: SpooledPayload,
    blockSha1: Array[Byte]
) {
  def warcType: String = headers.getOrElse("WARC-Type", "")
  def targetUri: String = headers.getOrElse("WARC-Target-URI", "")
  def contentLength: Long = payload.size
  def blockDigest: String = headers.getOrElse("WARC-Block-Digest", "")
  def computedBlockDigest: String = "sha1:" + Digests.base32(blockSha1)
}

/** Parse / serialize semantics of the reference's record scan + writer:
  *  - parse: version line (CRLF), `key: value` header lines until a blank
  *    line, exactly `Content-Length` payload bytes, then two empty-line
  *    boundaries; malformed header lines are dropped; early EOF or a
  *    non-empty boundary is an error (/root/reference/read.go:67-136,
  *    /root/reference/utils.go:51-57).
  *  - serialize: version + CRLF, headers, blank line, payload, CRLF CRLF
  *    (/root/reference/write.go:55-115). The reference writes headers in
  *    map-iteration order (non-deterministic); we sort keys so output is
  *    reproducible — its own reader and verify tool accept any order.
  */
object WarcCodec {

  final class WarcFormatException(msg: String) extends RuntimeException(msg)

  /** Buffered record input. Header lines are found by scanning this
    * reader's own byte buffer for `\n`, and payload reads copy out of that
    * buffer or, once it is drained, read straight into the caller's array.
    * Every record parse goes through one of these.
    *
    * Each read from `in` asks for at most `chunk` bytes. With the default
    * chunk the reader owns the rest of `in`; with `chunk = 1` it never
    * reads past the bytes it has handed out, so `in` stays positioned
    * right after the last record parsed. */
  final class RecordInput(in: InputStream, chunk: Int = 1 << 16) extends InputStream {
    require(chunk > 0, s"chunk must be positive: $chunk")
    private var buf = new Array[Byte](math.max(chunk, 256))
    private var pos = 0
    private var lim = 0

    /** Reads up to `chunk` more bytes after `lim`, first compacting the
      * buffer (or doubling it, when one line fills it); false at EOF. */
    private def fill(): Boolean = {
      if (pos == lim) { pos = 0; lim = 0 }
      else if (lim == buf.length) {
        if (pos > 0) {
          System.arraycopy(buf, pos, buf, 0, lim - pos)
          lim -= pos
          pos = 0
        } else buf = java.util.Arrays.copyOf(buf, buf.length * 2)
      }
      val n = in.read(buf, lim, math.min(chunk, buf.length - lim))
      if (n > 0) lim += n
      n > 0
    }

    /** One CR?LF-terminated line, CR stripped, decoded as UTF-8; a last
      * line without LF ends at EOF. null at EOF before any byte. */
    private[codec] def readLine(): String = {
      var scan = pos
      var eof = false
      while (!eof) {
        while (scan < lim) {
          if (buf(scan) == '\n') {
            val start = pos
            pos = scan + 1
            return decode(start, scan)
          }
          scan += 1
        }
        val scanned = scan - pos
        eof = !fill()
        scan = pos + scanned
      }
      if (pos == lim) return null
      val start = pos
      pos = lim
      decode(start, lim)
    }

    private def decode(start: Int, end: Int): String = {
      val e = if (end > start && buf(end - 1) == '\r') end - 1 else end
      new String(buf, start, e - start, UTF_8)
    }

    override def read(): Int =
      if (pos < lim || fill()) { val b = buf(pos) & 0xff; pos += 1; b } else -1

    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (len == 0) return 0
      if (pos == lim) {
        if (len >= chunk) return in.read(b, off, len)
        if (!fill()) return -1
      }
      val n = math.min(len, lim - pos)
      System.arraycopy(buf, pos, b, off, n)
      pos += n
      n
    }

    override def close(): Unit = in.close()
  }

  /** `in` itself when it is already a RecordInput; otherwise a one-byte-
    * chunk reader over it, so a caller's plain stream is left right after
    * the record. */
  private def recordInput(in: InputStream): RecordInput = in match {
    case r: RecordInput => r
    case other => new RecordInput(other, chunk = 1)
  }

  private def readFully(in: InputStream, n: Long): Array[Byte] = {
    if (n > Int.MaxValue) throw new WarcFormatException(s"record too large: $n")
    val out = new Array[Byte](n.toInt)
    var off = 0
    while (off < n) {
      val r = in.read(out, off, n.toInt - off)
      if (r == -1) throw new EOFException(s"early EOF: got $off of $n payload bytes")
      off += r
    }
    out
  }

  /** Version line + header block + declared Content-Length; null at a
    * clean end-of-stream boundary. */
  private def readHead(in: RecordInput): (String, Map[String, String], Long) = {
    var version = in.readLine()
    // tolerate extra blank lines between records (some writers emit them)
    while (version != null && version.isEmpty) version = in.readLine()
    if (version == null) return null
    if (!version.startsWith("WARC/"))
      throw new WarcFormatException(s"bad version line: '$version'")
    var headers = ListMap.empty[String, String]
    var line = in.readLine()
    while (line != null && line.nonEmpty) {
      val idx = line.indexOf(':')
      if (idx > 0) { // malformed (no colon) header lines are dropped
        val k = line.substring(0, idx)
        val v = line.substring(idx + 1).trim
        headers = headers.updated(k, v)
      }
      line = in.readLine()
    }
    if (line == null) throw new EOFException("EOF inside header block")
    val cl = headers.get("Content-Length").map(_.trim.toLong).getOrElse(
      throw new WarcFormatException("missing Content-Length"))
    (version, headers, cl)
  }

  /** Two empty-line boundaries required (/root/reference/read.go:120-133). */
  private def readBoundary(in: RecordInput): Unit = {
    var i = 0
    while (i < 2) {
      val b = in.readLine()
      if (b == null) throw new EOFException("early EOF at record boundary")
      if (b.nonEmpty) throw new WarcFormatException(s"non-empty record boundary: '$b'")
      i += 1
    }
  }

  /** Read one record; None at a clean end-of-stream boundary. Pass a
    * [[RecordInput]] to read a stream record by record with buffered
    * header scans. */
  def readRecord(in: InputStream): Option[WarcRecord] = readOne(recordInput(in))

  private def readOne(in: RecordInput): Option[WarcRecord] = {
    val head = readHead(in)
    if (head == null) return None
    val (version, headers, cl) = head
    val content = readFully(in, cl)
    readBoundary(in)
    Some(WarcRecord(version, headers, content))
  }

  /** Spooled record scan for the tool path: the payload streams into a
    * SpooledPayload (in-memory ≤ threshold, temp file beyond — the
    * reference's spooledtempfile shape, /root/reference/spooled.go:18-22)
    * while the SHA-1 block digest accumulates on the fly, so records
    * larger than the heap — or than the 2 GB array cap that bounds
    * `readRecord` — verify and extract in bounded memory. Caller must
    * `payload.close()` each record. As with `readRecord`, pass a
    * [[RecordInput]] for buffered header scans. */
  def readRecordSpooled(
      in: InputStream,
      threshold: Int = Spool.DefaultThreshold,
      spoolDir: Option[java.nio.file.Path] = None): Option[SpooledWarcRecord] = {
    val input = recordInput(in)
    val head = readHead(input)
    if (head == null) return None
    val (version, headers, cl) = head
    val payload = new SpooledPayload(threshold, spoolDir)
    val sha1 = java.security.MessageDigest.getInstance("SHA-1")
    val buf = new Array[Byte](64 << 10)
    var remaining = cl
    while (remaining > 0) {
      val r = input.read(buf, 0, math.min(buf.length.toLong, remaining).toInt)
      if (r == -1) throw new EOFException(
        s"early EOF: got ${cl - remaining} of $cl payload bytes")
      sha1.update(buf, 0, r)
      payload.write(buf, 0, r)
      remaining -= r
    }
    readBoundary(input)
    Some(SpooledWarcRecord(version, headers, payload, sha1.digest()))
  }

  /** Parse a whole stream into records through one [[RecordInput]]:
    * header lines are scanned inside its 64 KB buffer, so the
    * decompressor below sees only bulk reads. */
  def readAll(in: InputStream): Vector[WarcRecord] = {
    val input = in match {
      case r: RecordInput => r
      case other => new RecordInput(other)
    }
    val out = Vector.newBuilder[WarcRecord]
    var r = readOne(input)
    while (r.isDefined) {
      out += r.get
      r = readOne(input)
    }
    out.result()
  }

  def parseAll(bytes: Array[Byte]): Vector[WarcRecord] =
    readAll(new java.io.ByteArrayInputStream(bytes))

  /** Serialize with deterministic (sorted) header order. */
  def serialize(rec: WarcRecord): Array[Byte] = {
    val out = new ByteArrayOutputStream(rec.content.length + 512)
    out.write((rec.version + "\r\n").getBytes(UTF_8))
    rec.headers.toSeq.sortBy(_._1).foreach { case (k, v) =>
      out.write(s"$k: $v\r\n".getBytes(UTF_8))
    }
    out.write("\r\n".getBytes(UTF_8))
    out.write(rec.content)
    out.write("\r\n\r\n".getBytes(UTF_8))
    out.toByteArray
  }

  /** Fill defaulted headers the way the reference writer does
    * (/root/reference/write.go:61-85): WARC-Date (RFC3339Nano), WARC-Type
    * (`resource`), WARC-Record-ID (`<urn:uuid:…>`), Content-Length,
    * WARC-Block-Digest (`sha1:` + base32). Record IDs are derived
    * deterministically from content+headers so tests are reproducible
    * (reference uses random uuids, F7 in SURVEY.md §2.7). */
  def withDefaults(rec: WarcRecord, now: Instant): WarcRecord = {
    var h = rec.headers
    if (!h.contains("WARC-Date")) h = h.updated("WARC-Date", formatRfc3339Nano(now))
    if (!h.contains("WARC-Type")) h = h.updated("WARC-Type", "resource")
    if (!h.contains("WARC-Record-ID")) {
      val sha1 = java.security.MessageDigest.getInstance("SHA-1")
      sha1.update(rec.content)
      sha1.update(h.toSeq.sorted.mkString("|").getBytes(UTF_8))
      h = h.updated("WARC-Record-ID", urnUuid(sha1.digest()))
    }
    h = h.updated("Content-Length", rec.content.length.toString)
    if (!h.contains("WARC-Block-Digest"))
      h = h.updated("WARC-Block-Digest", "sha1:" + Digests.sha1Base32(rec.content))
    rec.copy(headers = h)
  }

  /** Deterministic record id for a (target-uri, warc-date) pair — the
    * engine's replacement for the reference's random uuids (F7): the same
    * capture always gets the same `<urn:uuid:…>`, so a revisit record can
    * compute its first capture's `WARC-Refers-To` id
    * (/root/reference/dialer.go:521-523) without re-reading that record. */
  def recordIdFor(targetUri: String, warcDate: String): String =
    urnUuid(Digests.sha1(s"record-id|$targetUri|$warcDate".getBytes(UTF_8)))

  private final val HexDigits = "0123456789abcdef".toCharArray

  /** `<urn:uuid:…>` of the first 16 bytes of `seed`: lowercase hex in
    * 8-4-4-4-12 groups. */
  private def urnUuid(seed: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(47).append("<urn:uuid:")
    var i = 0
    while (i < 16) {
      if (i == 4 || i == 6 || i == 8 || i == 10) sb.append('-')
      val b = seed(i) & 0xff
      sb.append(HexDigits(b >>> 4)).append(HexDigits(b & 0xf))
      i += 1
    }
    sb.append('>').toString
  }

  private val SecondsUtc = java.time.format.DateTimeFormatter
    .ofPattern("uuuu-MM-dd'T'HH:mm:ss")
    .withZone(java.time.ZoneOffset.UTC)

  /** Go RFC3339Nano: fractional seconds with trailing zeros trimmed, no
    * dot when the fraction is zero (SURVEY.md F6). */
  def formatRfc3339Nano(t: Instant): String = {
    val base = SecondsUtc.format(t)
    var frac = t.getNano
    if (frac == 0) return base + "Z"
    var digits = 9
    while (frac % 10 == 0) { frac /= 10; digits -= 1 }
    val sb = new java.lang.StringBuilder(base.length + 11).append(base).append('.')
    val s = Integer.toString(frac)
    var pad = digits - s.length
    while (pad > 0) { sb.append('0'); pad -= 1 }
    sb.append(s).append('Z').toString
  }
}
