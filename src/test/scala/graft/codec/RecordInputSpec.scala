package graft.codec

import graft.sources.{PagesGen, WarcIO}
import org.scalatest.funsuite.AnyFunSuite
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, EOFException, InputStream}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.time.Instant
import scala.collection.immutable.ListMap

/** The buffered WARC record reader (`WarcCodec.RecordInput`) against a
  * per-byte reference reader written here, and the table-driven record
  * ids and dates against their `String.format`/`ofPattern` forms. */
class RecordInputSpec extends AnyFunSuite {

  /** One `read()` per header byte: the reader `RecordInput` replaced. */
  private object PerByte {
    def readLine(in: InputStream): String = {
      val buf = new ByteArrayOutputStream(128)
      var c = in.read()
      if (c == -1) return null
      while (c != -1 && c != '\n') { buf.write(c); c = in.read() }
      val bytes = buf.toByteArray
      val n = if (bytes.nonEmpty && bytes(bytes.length - 1) == '\r') bytes.length - 1 else bytes.length
      new String(bytes, 0, n, UTF_8)
    }

    def readRecord(in: InputStream): Option[WarcRecord] = {
      var version = readLine(in)
      while (version != null && version.isEmpty) version = readLine(in)
      if (version == null) return None
      if (!version.startsWith("WARC/")) throw new WarcCodec.WarcFormatException(version)
      var headers = ListMap.empty[String, String]
      var line = readLine(in)
      while (line != null && line.nonEmpty) {
        val idx = line.indexOf(':')
        if (idx > 0) headers = headers.updated(line.substring(0, idx), line.substring(idx + 1).trim)
        line = readLine(in)
      }
      if (line == null) throw new EOFException("EOF inside header block")
      val content = new Array[Byte](headers("Content-Length").trim.toInt)
      var off = 0
      while (off < content.length) {
        val r = in.read(content, off, content.length - off)
        if (r == -1) throw new EOFException("early EOF in payload")
        off += r
      }
      for (_ <- 0 until 2) {
        val b = readLine(in)
        if (b == null) throw new EOFException("early EOF at record boundary")
        if (b.nonEmpty) throw new WarcCodec.WarcFormatException(b)
      }
      Some(WarcRecord(version, headers, content))
    }

    def readAll(in: InputStream): Vector[WarcRecord] =
      Iterator.continually(readRecord(in)).takeWhile(_.isDefined).map(_.get).toVector
  }

  private def assertSame(got: Seq[WarcRecord], want: Seq[WarcRecord]): Unit = {
    assert(got.length == want.length)
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g.version == w.version, s"record $i version")
      assert(g.headers.toSeq == w.headers.toSeq, s"record $i headers (incl. order)")
      assert(java.util.Arrays.equals(g.content, w.content), s"record $i content")
    }
  }

  private def bytes(s: String): Array[Byte] = s.getBytes(ISO_8859_1)

  /** Parses with RecordInputs of several chunk sizes, record by record
    * and through readAll; every parse must equal the per-byte reader's. */
  private def assertParsesLikePerByte(stream: Array[Byte]): Vector[WarcRecord] = {
    val want = PerByte.readAll(new ByteArrayInputStream(stream))
    for (chunk <- Seq(1, 2, 3, 7, 64, 255, 256, 257, 1 << 16)) {
      val in = new WarcCodec.RecordInput(new ByteArrayInputStream(stream), chunk)
      val got = Iterator.continually(WarcCodec.readRecord(in)).takeWhile(_.isDefined).map(_.get).toVector
      assertSame(got, want)
    }
    assertSame(WarcCodec.readAll(new ByteArrayInputStream(stream)), want)
    want
  }

  private lazy val pages = (0L until 400L).map(i => PagesGen.genPage(i, 400L, 100, 42L))
  private lazy val records = pages.map(p => WarcIO.pageToRecord(p.url, p.warc_ts, p.html))

  test("LF-only lines parse like CRLF lines") {
    val recs = assertParsesLikePerByte(bytes(
      "WARC/1.1\nWARC-Type: resource\nContent-Length: 3\n\nabc\n\n" +
        "WARC/1.0\r\nWARC-Type: metadata\nContent-Length: 0\r\n\n\r\n\n"))
    assert(recs.map(_.warcType) == Vector("resource", "metadata"))
    assert(new String(recs(0).content, UTF_8) == "abc")
  }

  test("header lines across the buffer edge and longer than the buffer") {
    // 300 records whose header lines grow by one byte each: every chunk
    // size puts some line across the end of the buffer
    val out = new ByteArrayOutputStream()
    (0 until 300).foreach { i =>
      out.write(WarcCodec.serialize(WarcRecord("WARC/1.1",
        Map("WARC-Type" -> "resource", "X-Pad" -> ("p" * i), "Content-Length" -> "2"),
        "hi".getBytes(UTF_8))))
    }
    // one line far longer than the initial buffer of every chunk size
    val long = "v" * ((1 << 16) * 2 + 17)
    out.write(WarcCodec.serialize(WarcRecord("WARC/1.1",
      Map("X-Long" -> long, "Content-Length" -> "1"), "!".getBytes(UTF_8))))
    val recs = assertParsesLikePerByte(out.toByteArray)
    assert(recs.length == 301)
    assert(recs.last.headers("X-Long") == long)
  }

  test("blank lines between records are skipped; only blank lines is a clean end") {
    val one = "WARC/1.1\r\nContent-Length: 1\r\n\r\nx\r\n\r\n"
    val recs = assertParsesLikePerByte(bytes("\r\n\n" + one + "\r\n\r\n\n" + one + "\n"))
    assert(recs.length == 2)
    assert(WarcCodec.readAll(new ByteArrayInputStream(bytes("\r\n\n\r\n"))).isEmpty)
    assert(WarcCodec.readRecord(new ByteArrayInputStream(Array.emptyByteArray)).isEmpty)
  }

  test("EOF in the header block, at the boundary and mid-payload is EOFException") {
    val full = "WARC/1.1\r\nWARC-Type: resource\r\nContent-Length: 5\r\n\r\nhello\r\n\r\n"
    val cuts = Seq(
      "WARC/1.1",                                  // version line without LF
      "WARC/1.1\r\nWARC-Type: resource\r\n",       // inside the header block
      "WARC/1.1\r\nContent-Length: 5\r\n\r\nhel",  // mid-payload
      "WARC/1.1\r\nContent-Length: 5\r\n\r\nhello", // before the boundary
      "WARC/1.1\r\nContent-Length: 5\r\n\r\nhello\r\n") // one boundary line of two
    for (cut <- cuts; chunk <- Seq(1, 3, 1 << 16)) {
      intercept[EOFException] {
        WarcCodec.readAll(new WarcCodec.RecordInput(new ByteArrayInputStream(bytes(cut)), chunk))
      }
      intercept[EOFException](PerByte.readAll(new ByteArrayInputStream(bytes(cut))))
    }
    assert(WarcCodec.parseAll(bytes(full)).length == 1)
  }

  test("a non-empty boundary or a bad version line is WarcFormatException") {
    for (chunk <- Seq(1, 3, 1 << 16)) {
      def parse(s: String) =
        WarcCodec.readAll(new WarcCodec.RecordInput(new ByteArrayInputStream(bytes(s)), chunk))
      intercept[WarcCodec.WarcFormatException](parse("WARC/1.1\r\nContent-Length: 1\r\n\r\nxXX\r\n\r\n"))
      intercept[WarcCodec.WarcFormatException](parse("WARC/1.1\r\nContent-Length: 1\r\n\r\nx\r\nX\r\n"))
      intercept[WarcCodec.WarcFormatException](parse("HTTP/1.1 200 OK\r\n\r\n"))
    }
  }

  test("a plain stream is left right after the record it was read for") {
    val one = WarcCodec.serialize(records.head)
    val two = WarcCodec.serialize(records(1))
    val in = new ByteArrayInputStream(one ++ two)
    assert(WarcCodec.readRecord(in).get.targetUri == records.head.targetUri)
    assert(in.available() == two.length)
    val spooled = WarcCodec.readRecordSpooled(in).get
    assert(spooled.targetUri == records(1).targetUri)
    spooled.payload.close()
    assert(in.available() == 0)
  }

  test("400 pageToRecord records parse like the per-byte reader: raw, gzip, zstd") {
    for (c <- Seq(Codecs.NoCompression, Codecs.GzipCompression, Codecs.ZstdCompression())) {
      val bos = new ByteArrayOutputStream(1 << 20)
      val w = Codecs.memberWriter(bos, c)
      records.foreach(r => w.writeMember(WarcCodec.serialize(r)))
      w.close()
      def open() = Codecs.sniffStream(new ByteArrayInputStream(bos.toByteArray))
      val want = PerByte.readAll(new java.io.BufferedInputStream(open(), 1 << 16))
      assert(want.length == records.length)
      want.zip(records).foreach { case (w, r) =>
        assert(w.headers == r.headers && java.util.Arrays.equals(w.content, r.content))
      }
      assertSame(WarcCodec.readAll(open()), want)
      val in = new WarcCodec.RecordInput(open())
      val spooled = Iterator.continually(WarcCodec.readRecordSpooled(in, threshold = 1024))
        .takeWhile(_.isDefined).map(_.get).toVector
      assert(spooled.length == want.length, s"$c spooled count")
      spooled.zip(want).foreach { case (s, w) =>
        assert(s.headers.toSeq == w.headers.toSeq)
        assert(java.util.Arrays.equals(s.payload.toByteArray, w.content))
        assert(s.computedBlockDigest == s.blockDigest)
        s.payload.close()
      }
    }
  }

  // --- record ids and dates ---------------------------------------------------

  private def hexUuid(seed: Array[Byte]): String = {
    val hex = seed.take(16).map(b => f"${b & 0xff}%02x").mkString
    s"${hex.substring(0, 8)}-${hex.substring(8, 12)}-${hex.substring(12, 16)}-${hex.substring(16, 20)}-${hex.substring(20, 32)}"
  }

  private def formattedRecordId(targetUri: String, warcDate: String): String =
    s"<urn:uuid:${hexUuid(Digests.sha1(s"record-id|$targetUri|$warcDate".getBytes(UTF_8)))}>"

  private def formattedRfc3339Nano(t: Instant): String = {
    val base = java.time.format.DateTimeFormatter
      .ofPattern("uuuu-MM-dd'T'HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
      .format(t)
    val nanos = t.getNano
    if (nanos == 0) base + "Z"
    else {
      var frac = f"$nanos%09d"
      while (frac.endsWith("0")) frac = frac.substring(0, frac.length - 1)
      s"$base.${frac}Z"
    }
  }

  test("recordIdFor and formatRfc3339Nano equal their String.format forms on 10k inputs") {
    val rnd = new scala.util.Random(7)
    val nanoShapes = Seq[Int => Int](_ => 0, n => n, n => n / 1000 * 1000,
      n => n / 1000000 * 1000000, n => n / 10 * 10, n => n % 1000, _ => 100000000)
    (0 until 10000).foreach { i =>
      val t = Instant.ofEpochSecond(rnd.nextLong(253402300799L), // to 9999-12-31
        nanoShapes(i % nanoShapes.length)(rnd.nextInt(1000000000)))
      val date = WarcCodec.formatRfc3339Nano(t)
      assert(date == formattedRfc3339Nano(t), s"date of $t")
      val url = s"https://h${rnd.nextInt(1000)}.example/${rnd.alphanumeric.take(i % 40).mkString}"
      assert(WarcCodec.recordIdFor(url, date) == formattedRecordId(url, date))
    }
  }

  test("withDefaults' derived record id equals its String.format form") {
    val t = Instant.parse("2022-03-20T03:55:45.533Z")
    pages.take(200).foreach { p =>
      val rec = WarcRecord("WARC/1.1", Map("WARC-Target-URI" -> p.url), p.html)
      val h = rec.headers.updated("WARC-Date", formattedRfc3339Nano(t))
        .updated("WARC-Type", "resource")
      val seed = Digests.sha1(rec.content ++ h.toSeq.sorted.mkString("|").getBytes(UTF_8))
      assert(WarcCodec.withDefaults(rec, t).headers("WARC-Record-ID") == s"<urn:uuid:${hexUuid(seed)}>")
    }
  }
}
