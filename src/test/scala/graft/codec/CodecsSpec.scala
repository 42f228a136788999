package graft.codec

import org.scalatest.funsuite.AnyFunSuite
import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

/** Compression-member roundtrips + magic-byte sniffing (reference e2e
  * shapes: /root/reference/client_test.go:1552-1672 zstd ± dictionary,
  * /root/reference/decompression-reader.go:28-66 sniffing). */
class CodecsSpec extends AnyFunSuite {

  private def records(n: Int): Seq[WarcRecord] =
    (0 until n).map { i =>
      WarcCodec.withDefaults(
        WarcRecord("WARC/1.1", Map(
          "WARC-Type" -> "resource",
          "WARC-Target-URI" -> s"https://example.com/r$i"),
          (s"payload $i " * (i + 1)).getBytes(UTF_8)),
        java.time.Instant.ofEpochSecond(1647748545L + i))
    }

  private def writeMembers(c: Codecs.Compression, recs: Seq[WarcRecord]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val w = Codecs.memberWriter(bos, c)
    recs.foreach(r => w.writeMember(WarcCodec.serialize(r)))
    w.close()
    bos.toByteArray
  }

  private def readBack(bytes: Array[Byte]): Vector[WarcRecord] =
    WarcCodec.readAll(Codecs.sniffStream(new java.io.ByteArrayInputStream(bytes)))

  private def assertRoundtrip(c: Codecs.Compression): Unit = {
    val recs = records(5)
    val back = readBack(writeMembers(c, recs))
    assert(back.size == 5)
    back.zip(recs).foreach { case (b, r) =>
      assert(b.headers == r.headers, "headers must roundtrip exactly")
      assert(java.util.Arrays.equals(b.content, r.content), "payload bytes must roundtrip")
      assert(b.blockDigest == b.computedBlockDigest)
    }
  }

  test("gzip members roundtrip through sniffing reader (reused deflater)")(
    assertRoundtrip(Codecs.GzipCompression))

  test("zstd members roundtrip through sniffing reader")(
    assertRoundtrip(Codecs.ZstdCompression(None)))

  test("zstd frames that end where the reader's output buffer fills still end cleanly") {
    // 128 KiB and 256 KiB members: every frame ends exactly at a full
    // 128 KiB output buffer, the last one with the source used up
    val payloads = Seq(1 << 17, 1 << 18, 1 << 17).zipWithIndex
      .map { case (n, i) => Array.fill(n)(('a' + i).toByte) }
    val bos = new ByteArrayOutputStream()
    val w = Codecs.memberWriter(bos, Codecs.ZstdCompression(None))
    payloads.foreach(w.writeMember)
    w.close()
    val back = Codecs.sniffStream(new java.io.ByteArrayInputStream(bos.toByteArray)).readAllBytes()
    assert(java.util.Arrays.equals(back, payloads.flatten.toArray))
  }

  test("zstd + embedded dictionary: skippable frame with the reference magic") {
    // a dictionary biased toward the payload vocabulary
    val dict = ("payload WARC-Type resource example.com " * 200).getBytes(UTF_8)
    val bytes = writeMembers(Codecs.ZstdCompression(Some(dict)), records(5))
    // file must start with the skippable-frame magic 0x184D2A5D (LE)
    assert((bytes(0) & 0xff) == 0x5d && (bytes(1) & 0xff) == 0x2a &&
      (bytes(2) & 0xff) == 0x4d && (bytes(3) & 0xff) == 0x18,
      "dict file must lead with the 0x184D2A5D skippable frame")
    val back = readBack(bytes)
    assert(back.size == 5)
    assert(back.forall(b => b.blockDigest == b.computedBlockDigest))
  }

  test("sniffing dispatches bzip2 and xz without filename hints") {
    val recs = records(3)
    val plain = {
      val bos = new ByteArrayOutputStream()
      recs.foreach(r => bos.write(WarcCodec.serialize(r)))
      bos.toByteArray
    }
    val bz = {
      val bos = new ByteArrayOutputStream()
      val z = new org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream(bos)
      z.write(plain); z.close(); bos.toByteArray
    }
    val xz = {
      val bos = new ByteArrayOutputStream()
      val z = new org.apache.commons.compress.compressors.xz.XZCompressorOutputStream(bos)
      z.write(plain); z.close(); bos.toByteArray
    }
    assert(readBack(bz).size == 3, "bzip2 sniff")
    assert(readBack(xz).size == 3, "xz sniff")
    assert(readBack(plain).size == 3, "uncompressed passthrough")
  }

  test("gzip member writer output is standard multi-member gzip") {
    val recs = records(4)
    val bytes = writeMembers(Codecs.GzipCompression, recs)
    // plain JDK GZIPInputStream must read all members (concatenated-member support)
    val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(bytes))
    val back = WarcCodec.readAll(in)
    assert(back.size == 4)
    // and each member is independently decodable (seekability): the second
    // member starts at the first 1f 8b boundary after the first member
    var boundaries = 0
    for (i <- 1 until bytes.length - 1)
      if ((bytes(i) & 0xff) == 0x1f && (bytes(i + 1) & 0xff) == 0x8b) boundaries += 1
    assert(boundaries >= 3, "expected one gzip member per record")
  }

  test("reference fixture still parses through the sniffing open path") {
    val in = Codecs.sniffStream(new java.io.BufferedInputStream(
      new java.io.FileInputStream(graft.Bench.FixtureWarc)))
    val recs = WarcCodec.readAll(in)
    assert(recs.size == 3)
    assert(recs.forall(r => r.blockDigest == r.computedBlockDigest))
  }
}
