package graft.codec

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.graft.ScratchDir

/** The spooled >heap record path: SpooledPayload spill semantics
  * (reference pkg/spooledtempfile/spooled.go), the spooled record scan
  * with streaming block digest, and the streaming HTTP decode — all of
  * which must agree byte-for-byte with the array-based codec. */
class SpoolSpec extends AnyFunSuite {

  private def bytes(n: Int, seed: Int = 7): Array[Byte] = {
    val b = new Array[Byte](n)
    var x = seed
    var i = 0
    while (i < n) { x = x * 1103515245 + 12345; b(i) = (x >>> 16).toByte; i += 1 }
    b
  }

  test("small payload stays in memory; roundtrip exact") {
    val p = new SpooledPayload(1 << 20, None)
    val data = bytes(1000)
    p.write(data, 0, data.length)
    assert(p.inMemory)
    assert(p.size == 1000)
    assert(java.util.Arrays.equals(p.toByteArray, data))
    p.close()
  }

  test("payload past the threshold spills to disk; roundtrip exact; close deletes") {
    val dir = java.nio.file.Paths.get(ScratchDir("graft-spool-test"))
    val p = new SpooledPayload(4096, Some(dir))
    val data = bytes(100000)
    // write in odd-sized slices to exercise the spill boundary
    var off = 0
    while (off < data.length) {
      val n = math.min(777, data.length - off)
      p.write(data, off, n)
      off += n
    }
    assert(!p.inMemory)
    assert(p.size == data.length)
    assert(java.util.Arrays.equals(p.toByteArray, data))
    // repeated reads allowed
    val again = new java.io.ByteArrayOutputStream()
    p.writeTo(again)
    assert(java.util.Arrays.equals(again.toByteArray, data))
    assert(java.nio.file.Files.list(dir).count() == 1)
    p.close()
    assert(java.nio.file.Files.list(dir).count() == 0)
  }

  test("write after read is rejected (reference spooled.go:186-188)") {
    val p = new SpooledPayload(64, None)
    p.write(bytes(10), 0, 10)
    p.inputStream()
    intercept[IllegalStateException] { p.write(bytes(1), 0, 1) }
    p.close()
  }

  test("spooled scan of the golden fixture matches the array scan") {
    def openFixture() = new java.util.zip.GZIPInputStream(
      new java.io.FileInputStream(graft.Bench.FixtureWarc), 1 << 16)
    val in1 = openFixture()
    val arr = try WarcCodec.readAll(in1) finally in1.close()
    val in2 = new java.io.BufferedInputStream(openFixture(), 1 << 16)
    try {
      var i = 0
      var rec = WarcCodec.readRecordSpooled(in2, threshold = 256) // force spills
      while (rec.isDefined) {
        val s = rec.get
        val a = arr(i)
        assert(s.version == a.version)
        assert(s.headers == a.headers)
        assert(s.contentLength == a.content.length.toLong)
        assert(java.util.Arrays.equals(s.payload.toByteArray, a.content))
        assert(s.computedBlockDigest == a.computedBlockDigest)
        assert(s.blockDigest == a.blockDigest)
        s.payload.close()
        i += 1
        rec = WarcCodec.readRecordSpooled(in2, threshold = 256)
      }
      assert(i == arr.length)
    } finally in2.close()
  }

  test("a record far beyond the spool threshold scans in bounded memory") {
    val body = bytes(5 << 20) // 5 MB payload, 64 KB threshold
    val rec = WarcCodec.withDefaults(
      WarcRecord("WARC/1.1", Map("WARC-Type" -> "resource"), body),
      java.time.Instant.parse("2022-03-20T03:55:45Z"))
    val ser = WarcCodec.serialize(rec)
    val in = new java.io.ByteArrayInputStream(ser)
    val s = WarcCodec.readRecordSpooled(in, threshold = 64 << 10).get
    assert(!s.payload.inMemory)
    assert(s.contentLength == body.length.toLong)
    assert(s.computedBlockDigest == "sha1:" + Digests.sha1Base32(body))
    assert(s.blockDigest == s.computedBlockDigest)
    assert(WarcCodec.readRecordSpooled(in).isEmpty)
    s.payload.close()
  }

  test("streaming HTTP decode equals the array decode on all 4 transfer modes") {
    val body = ("stream me " * 2000).getBytes(UTF_8)
    val plain = HttpCodec.buildResponse(200, "OK",
      Seq("Content-Type" -> "text/html", "Content-Length" -> body.length.toString), body)
    val gz = HttpCodec.gzip(body)
    val gzipped = HttpCodec.buildResponse(200, "OK",
      Seq("Content-Type" -> "text/html", "Content-Encoding" -> "gzip",
        "Content-Length" -> gz.length.toString), gz)
    val chunked = HttpCodec.buildResponse(200, "OK",
      Seq("Content-Type" -> "text/html", "Transfer-Encoding" -> "chunked"),
      HttpCodec.chunkEncode(body, 512))
    val chunkedGz = HttpCodec.buildResponse(200, "OK",
      Seq("Content-Type" -> "text/html", "Content-Encoding" -> "gzip",
        "Transfer-Encoding" -> "chunked"),
      HttpCodec.chunkEncode(gz, 512))
    for (block <- Seq(plain, gzipped, chunked, chunkedGz)) {
      val expect = HttpCodec.decodedBody(block)
      val (msg, stream) = HttpCodec.decodedBodyStream(new java.io.ByteArrayInputStream(block))
      val got = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](777)
      var r = stream.read(buf)
      while (r != -1) { got.write(buf, 0, r); r = stream.read(buf) }
      stream.close()
      assert(msg.status == 200)
      assert(java.util.Arrays.equals(got.toByteArray, expect))
      assert(java.util.Arrays.equals(got.toByteArray, body))
    }
  }

  test("header-only pass never touches the body (lazy gzip, close unread)") {
    // empty gzip body would crash an eager GZIPInputStream constructor
    val block = HttpCodec.buildResponse(200, "OK",
      Seq("Content-Type" -> "x/y", "Content-Encoding" -> "gzip", "Content-Length" -> "0"),
      Array.emptyByteArray)
    val (msg, stream) = HttpCodec.decodedBodyStream(new java.io.ByteArrayInputStream(block))
    assert(msg.header("Content-Type").contains("x/y"))
    stream.close() // must not throw
  }
}
