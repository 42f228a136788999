package graft.codec

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.util.Locale
import java.util.zip.GZIPInputStream

/** Parsed HTTP message (request or response). Header lookup is
  * case-insensitive (HTTP semantics); original casing preserved in `headers`.
  */
final case class HttpMessage(
    startLine: String,
    headers: Seq[(String, String)],
    body: Array[Byte]
) {
  def header(name: String): Option[String] = {
    val lower = name.toLowerCase(Locale.ROOT)
    headers.collectFirst { case (k, v) if k.toLowerCase(Locale.ROOT) == lower => v }
  }
  def status: Int = {
    val parts = startLine.split(" ", 3)
    if (parts.length >= 2 && parts(0).startsWith("HTTP/")) parts(1).toInt else -1
  }
  def isChunked: Boolean =
    header("Transfer-Encoding").exists(_.toLowerCase(Locale.ROOT).contains("chunked"))
  def isGzipped: Boolean =
    header("Content-Encoding").exists(_.toLowerCase(Locale.ROOT).contains("gzip"))
}

/** HTTP-over-bytes parse path — the byte-identical text contract
  * (SURVEY.md P8): split stored block bytes at the first `\r\n\r\n`,
  * chunked-decode when `Transfer-Encoding: chunked`, gunzip when
  * `Content-Encoding: gzip` and decompression is requested
  * (/root/reference/dialer.go:447,534-581; /root/reference/transport.go:27-32;
  * /root/reference/cmd/extract.go:250-259).
  */
object HttpCodec {

  final class HttpFormatException(msg: String) extends RuntimeException(msg)

  private final val Http9Methods = Set(
    "GET", "HEAD", "POST", "PUT", "DELETE", "CONNECT", "OPTIONS", "TRACE", "PATCH")

  /** Predicate over a first line: is this an HTTP/1.x request line?
    * (/root/reference/utils.go:59-73) */
  def isHttpRequestLine(line: String): Boolean = {
    val sp = line.indexOf(' ')
    sp > 0 && Http9Methods.contains(line.substring(0, sp)) &&
      (line.endsWith("HTTP/1.0") || line.endsWith("HTTP/1.1"))
  }

  /** Index just past the first CRLFCRLF, or -1. */
  def endOfHeaders(bytes: Array[Byte]): Int = {
    var i = 0
    val n = bytes.length
    while (i + 3 < n) {
      if (bytes(i) == '\r' && bytes(i + 1) == '\n' && bytes(i + 2) == '\r' && bytes(i + 3) == '\n')
        return i + 4
      i += 1
    }
    -1
  }

  /** Parse raw HTTP message bytes; body is the raw (still-encoded) bytes
    * after the header block, truncated to Content-Length when present and
    * not chunked. */
  def parse(block: Array[Byte]): HttpMessage = {
    val eoh = endOfHeaders(block)
    if (eoh < 0) throw new HttpFormatException("no end-of-headers CRLFCRLF found")
    val head = new String(block, 0, eoh - 4, ISO_8859_1)
    val lines = head.split("\r\n", -1)
    if (lines.isEmpty) throw new HttpFormatException("empty header block")
    val startLine = lines(0)
    val headers = lines.drop(1).toSeq.flatMap { line =>
      val idx = line.indexOf(':')
      if (idx > 0) Some(line.substring(0, idx) -> line.substring(idx + 1).trim)
      else None
    }
    val raw = java.util.Arrays.copyOfRange(block, eoh, block.length)
    val msg = HttpMessage(startLine, headers, raw)
    if (msg.isChunked) msg
    else
      msg.header("Content-Length").map(_.trim.toLong) match {
        case Some(cl) if cl >= 0 && cl <= raw.length =>
          msg.copy(body = java.util.Arrays.copyOf(raw, cl.toInt))
        case _ => msg
      }
  }

  /** Decode `Transfer-Encoding: chunked` body bytes. */
  def decodeChunked(body: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(body.length)
    var i = 0
    def line(): String = {
      val start = i
      while (i < body.length && body(i) != '\n') i += 1
      val end = if (i > start && body(i - 1) == '\r') i - 1 else i
      i += 1 // skip \n
      new String(body, start, end - start, ISO_8859_1)
    }
    var done = false
    while (!done && i < body.length) {
      val sizeLine = line()
      val semi = sizeLine.indexOf(';')
      val hexStr = (if (semi >= 0) sizeLine.substring(0, semi) else sizeLine).trim
      if (hexStr.isEmpty) {
        // tolerate stray blank line
      } else {
        val size = java.lang.Long.parseLong(hexStr, 16).toInt
        if (size == 0) {
          // trailers until blank line
          var t = line()
          while (t.nonEmpty && i < body.length) t = line()
          done = true
        } else {
          if (i + size > body.length)
            throw new HttpFormatException(s"chunk overruns body: $size at $i")
          out.write(body, i, size)
          i += size
          // consume CRLF after chunk data
          if (i < body.length && body(i) == '\r') i += 1
          if (i < body.length && body(i) == '\n') i += 1
        }
      }
    }
    out.toByteArray
  }

  def gunzip(bytes: Array[Byte]): Array[Byte] = {
    // inflater buffer sized to the payload (default 512 costs ~1.5× on
    // the hot extraction path)
    val bufSize = math.max(4096, math.min(bytes.length, 1 << 16))
    val in = new GZIPInputStream(new java.io.ByteArrayInputStream(bytes), bufSize)
    val out = new ByteArrayOutputStream(bytes.length * 4)
    val buf = new Array[Byte](8192)
    var r = in.read(buf)
    while (r != -1) {
      out.write(buf, 0, r)
      r = in.read(buf)
    }
    in.close()
    out.toByteArray
  }

  def gzip(bytes: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(bytes.length / 2 + 64)
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(bytes)
    gz.close()
    bos.toByteArray
  }

  /** The full reference decode path: parse → chunked-decode → gunzip.
    * The result bytes must equal the reference's `resp.Body` — this is the
    * byte-identical text contract (BASELINE.json `input_hint`). */
  def decodedBody(block: Array[Byte]): Array[Byte] = {
    val msg = parse(block)
    val dechunked = if (msg.isChunked) decodeChunked(msg.body) else msg.body
    if (msg.isGzipped) gunzip(dechunked) else dechunked
  }

  // --- streaming variants (the spooled >2 GB tool path) -------------------

  /** Streaming decode of one HTTP message: header parse (bounded), then the
    * body wrapped with Content-Length bound / chunked decode / gunzip as
    * declared — the same pipeline as `decodedBody` without materializing.
    * Returns (message-with-empty-body, decoded-body-stream). */
  def decodedBodyStream(in: java.io.InputStream): (HttpMessage, java.io.InputStream) = {
    // header scan: byte-at-a-time until CRLFCRLF, never reads past it
    val head = new ByteArrayOutputStream(512)
    var state = 0
    var done = false
    while (!done) {
      val c = in.read()
      if (c == -1) throw new HttpFormatException("no end-of-headers CRLFCRLF found")
      head.write(c)
      state = (state, c.toChar) match {
        case (0, '\r') => 1
        case (1, '\n') => 2
        case (2, '\r') => 3
        case (3, '\n') => 4
        case (_, '\r') => 1
        case _ => 0
      }
      if (state == 4) done = true
    }
    val headBytes = head.toByteArray
    val lines = new String(headBytes, 0, headBytes.length - 4, ISO_8859_1).split("\r\n", -1)
    val startLine = lines(0)
    val headers = lines.drop(1).toSeq.flatMap { line =>
      val idx = line.indexOf(':')
      if (idx > 0) Some(line.substring(0, idx) -> line.substring(idx + 1).trim) else None
    }
    val msg = HttpMessage(startLine, headers, Array.emptyByteArray)
    val raw: java.io.InputStream =
      if (msg.isChunked) new ChunkedInputStream(in)
      else msg.header("Content-Length").map(_.trim.toLong) match {
        case Some(cl) if cl >= 0 => new BoundedInputStream(in, cl)
        case _ => in
      }
    // gzip wrap is LAZY: GZIPInputStream's constructor reads the gzip
    // header, which must not happen for callers that only want `msg`
    val decoded: java.io.InputStream =
      if (!msg.isGzipped) raw
      else new java.io.InputStream {
        private var inner: java.io.InputStream = _
        private def ensure(): java.io.InputStream = {
          if (inner == null) inner = new GZIPInputStream(raw, 1 << 16)
          inner
        }
        override def read(): Int = ensure().read()
        override def read(b: Array[Byte], off: Int, len: Int): Int =
          ensure().read(b, off, len)
        override def close(): Unit = if (inner != null) inner.close() else raw.close()
      }
    (msg, decoded)
  }

  /** Reads at most `limit` bytes from `in` (Content-Length framing). */
  private final class BoundedInputStream(in: java.io.InputStream, limit: Long)
      extends java.io.InputStream {
    private var remaining = limit
    override def read(): Int =
      if (remaining <= 0) -1
      else { val c = in.read(); if (c != -1) remaining -= 1; c }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (remaining <= 0) return -1
      val r = in.read(b, off, math.min(len.toLong, remaining).toInt)
      if (r > 0) remaining -= r
      r
    }
    override def close(): Unit = in.close()
  }

  /** Streaming `Transfer-Encoding: chunked` decoder — same grammar as
    * `decodeChunked` (size line ± extensions, data, CRLF, trailers after
    * the 0-chunk) over an InputStream. */
  private final class ChunkedInputStream(in: java.io.InputStream)
      extends java.io.InputStream {
    private var remaining = 0L // bytes left in the current chunk
    private var finished = false

    /** Next CRLF-terminated line, or null when EOF hit before any byte —
      * callers must treat null as truncated input, never as a blank line. */
    private def readLine(): String = {
      val sb = new StringBuilder(16)
      var c = in.read()
      if (c == -1) return null
      while (c != -1 && c != '\n') { sb.append(c.toChar); c = in.read() }
      if (sb.nonEmpty && sb.charAt(sb.length - 1) == '\r') sb.setLength(sb.length - 1)
      sb.toString
    }

    private def advance(): Unit = {
      // consume CRLF after previous chunk data, then the next size line
      var sizeLine = readLine()
      while (sizeLine != null && sizeLine.trim.isEmpty) sizeLine = readLine() // tolerate blanks
      if (sizeLine == null)
        throw new HttpFormatException("EOF before chunk size line")
      val semi = sizeLine.indexOf(';')
      val hexStr = (if (semi >= 0) sizeLine.substring(0, semi) else sizeLine).trim
      val size = java.lang.Long.parseLong(hexStr, 16)
      if (size == 0) {
        var t = readLine() // trailers until blank line (EOF ends them too)
        while (t != null && t.nonEmpty) t = readLine()
        finished = true
      } else remaining = size
    }

    override def read(): Int = {
      if (finished) return -1
      if (remaining == 0) { advance(); if (finished) return -1 }
      val c = in.read()
      if (c == -1) throw new HttpFormatException("EOF inside chunk")
      remaining -= 1
      c
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (finished) return -1
      if (remaining == 0) { advance(); if (finished) return -1 }
      val r = in.read(b, off, math.min(len.toLong, remaining).toInt)
      if (r == -1) throw new HttpFormatException("EOF inside chunk")
      remaining -= r
      r
    }
    override def close(): Unit = in.close()
  }

  /** Serialize a simple HTTP/1.1 response (used by the deterministic pages
    * generator; header order is the given order). */
  def buildResponse(
      status: Int,
      reason: String,
      headers: Seq[(String, String)],
      body: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder
    sb.append(s"HTTP/1.1 $status $reason\r\n")
    headers.foreach { case (k, v) => sb.append(s"$k: $v\r\n") }
    sb.append("\r\n")
    val head = sb.toString.getBytes(ISO_8859_1)
    val out = new Array[Byte](head.length + body.length)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(body, 0, out, head.length, body.length)
    out
  }

  /** Chunked-encode a body with a fixed chunk size (deterministic). */
  def chunkEncode(body: Array[Byte], chunkSize: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream(body.length + 64)
    var i = 0
    while (i < body.length) {
      val n = math.min(chunkSize, body.length - i)
      out.write(s"${n.toHexString}\r\n".getBytes(ISO_8859_1))
      out.write(body, i, n)
      out.write("\r\n".getBytes(ISO_8859_1))
      i += n
    }
    out.write("0\r\n\r\n".getBytes(ISO_8859_1))
    out.toByteArray
  }
}
