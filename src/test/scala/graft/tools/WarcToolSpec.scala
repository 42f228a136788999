package graft.tools

import graft.codec.{Codecs, Digests, HttpCodec, WarcCodec}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.spark.sql.graft.ScratchDir

/** Extract-sink filename fidelity (/root/reference/cmd/extract.go:116-268)
  * and the payload-digest verify path (/root/reference/cmd/verify.go:167-252). */
class WarcToolSpec extends AnyFunSuite {

  test("extractName: Content-Disposition filename param wins over url base") {
    assert(WarcTool.extractName("https://x.example/a/b.bin",
      Some("""attachment; filename="report.pdf"""")) == "report.pdf")
    assert(WarcTool.extractName("https://x.example/a/b.bin",
      Some("attachment; filename=plain.txt; size=3")) == "plain.txt")
    assert(WarcTool.extractName("https://x.example/a/b.bin", None) == "b.bin")
    assert(WarcTool.extractName("https://x.example/a/b.bin?q=1#f", None) == "b.bin")
    assert(WarcTool.extractName("https://x.example/", None) == "index")
  }

  test("extractName: 255-byte truncation keeps the extension") {
    val long = "x" * 300 + ".tar.gz"
    val out = WarcTool.extractName(s"https://x.example/$long", None)
    assert(out.length == 255)
    assert(out.endsWith(".gz"))
    // no sane extension → plain clamp
    val noExt = WarcTool.extractName("https://x.example/" + "y" * 400, None)
    assert(noExt.length == 255 && !noExt.contains('.'))
  }

  test("hashSuffixName: digest tail inserted before the extension") {
    val d = Digests.sha1Base32("content".getBytes(UTF_8))
    val n = WarcTool.hashSuffixName("file.txt", d)
    assert(n == s"file[${d.substring(26)}].txt")
    assert(WarcTool.hashSuffixName("noext", d) == s"noext[${d.substring(26)}]")
  }

  test("extract --hash-suffix: same-name different-content gets a digest suffix") {
    val dir = ScratchDir("graft-wt-extract")
    val warc = java.nio.file.Paths.get(ScratchDir("graft-wt-warc")).resolve("t.warc.gz").toString
    def response(url: String, body: String): graft.codec.WarcRecord = {
      val html = HttpCodec.buildResponse(200, "OK",
        Seq("Content-Type" -> "text/plain",
          "Content-Length" -> body.getBytes(UTF_8).length.toString),
        body.getBytes(UTF_8))
      graft.sources.WarcIO.pageToRecord(url, new java.sql.Timestamp(1647748545000L), html)
    }
    val out = new java.io.FileOutputStream(warc)
    val w = Codecs.memberWriter(out, Codecs.GzipCompression)
    w.writeMember(WarcCodec.serialize(response("https://a.example/dup.txt", "first body")))
    w.writeMember(WarcCodec.serialize(response("https://b.example/dup.txt", "second body")))
    w.writeMember(WarcCodec.serialize(response("https://c.example/dup.txt", "first body")))
    w.close(); out.close()
    WarcTool.main(Array("extract", warc, dir, "--hash-suffix"))
    val names = new java.io.File(dir).listFiles().map(_.getName).sorted
    assert(names.contains("dup.txt"))
    assert(names.exists(n => n.matches("dup\\[[A-Z2-7]{6}\\]\\.txt")),
      s"expected digest-suffixed collision file, got ${names.mkString(",")}")
    assert(names.length == 2, "identical content must not duplicate")
    assert(new String(Files.readAllBytes(
      new java.io.File(dir, "dup.txt").toPath), UTF_8) == "first body")
  }

  test("extract --threads --hash-suffix: same-name flood never skips on or overwrites a partial file") {
    // 40 records, ALL with the same target name, 4 distinct payloads: the
    // digest compare of every later record must run against a COMPLETE
    // prior file (per-path latch + temp-file atomic rename), so the final
    // state is exactly one file per distinct payload, each intact
    val dir = ScratchDir("graft-wt-race")
    val warc = java.nio.file.Paths.get(ScratchDir("graft-wt-warc")).resolve("race.warc.gz").toString
    def response(url: String, body: String): graft.codec.WarcRecord = {
      val html = HttpCodec.buildResponse(200, "OK",
        Seq("Content-Type" -> "text/plain",
          "Content-Length" -> body.getBytes(UTF_8).length.toString),
        body.getBytes(UTF_8))
      graft.sources.WarcIO.pageToRecord(url, new java.sql.Timestamp(1647748545000L), html)
    }
    val payloads = (0 until 4).map(i => s"payload-$i-" + ("x" * (40000 + i * 7)))
    val out = new java.io.FileOutputStream(warc)
    val w = Codecs.memberWriter(out, Codecs.GzipCompression)
    (0 until 40).foreach { i =>
      w.writeMember(WarcCodec.serialize(
        response(s"https://h$i.example/same.txt", payloads(i % 4))))
    }
    w.close(); out.close()
    WarcTool.main(Array("extract", warc, dir, "--hash-suffix", "--threads=8"))
    val files = new java.io.File(dir).listFiles().toSeq
    assert(!files.exists(_.getName.endsWith(".part")), "no temp files may remain")
    val contents = files.map(f => new String(Files.readAllBytes(f.toPath), UTF_8))
    assert(files.length == 4,
      s"expected one file per distinct payload, got ${files.map(_.getName).mkString(",")}")
    assert(contents.toSet == payloads.toSet,
      "every visible file must be a complete copy of one distinct payload")
  }

  test("extractName: 255-byte clamp counts UTF-8 BYTES at codepoint boundaries") {
    // 'é' is 2 UTF-8 bytes: 200 of them = 400 bytes, over the limit
    val long = "é" * 200 + ".txt"
    val out = WarcTool.extractName(s"https://x.example/$long", None)
    val bytes = out.getBytes(UTF_8)
    assert(bytes.length <= 255, s"got ${bytes.length} bytes")
    assert(out.endsWith(".txt"))
    // round-trips: no split codepoint (decode-encode is identity)
    assert(new String(bytes, UTF_8) == out)
    // 3-byte codepoints near the boundary also clamp cleanly
    val cjk = "世" * 100 + ".bin"
    val out2 = WarcTool.extractName(s"https://x.example/$cjk", None)
    assert(out2.getBytes(UTF_8).length <= 255 && out2.endsWith(".bin"))
  }

  test("extract: multiple input files under --threads, reference argv semantics") {
    val dir = ScratchDir("graft-wt-multi")
    val warcDir = java.nio.file.Paths.get(ScratchDir("graft-wt-multi-warc"))
    def writeWarc(path: String, urls: Seq[(String, String)]): Unit = {
      val out = new java.io.FileOutputStream(path)
      val w = Codecs.memberWriter(out, Codecs.GzipCompression)
      urls.foreach { case (url, body) =>
        val html = HttpCodec.buildResponse(200, "OK",
          Seq("Content-Type" -> "text/plain",
            "Content-Length" -> body.getBytes(UTF_8).length.toString),
          body.getBytes(UTF_8))
        w.writeMember(WarcCodec.serialize(
          graft.sources.WarcIO.pageToRecord(url, new java.sql.Timestamp(1647748545000L), html)))
      }
      w.close(); out.close()
    }
    val f1 = warcDir.resolve("a.warc.gz").toString
    val f2 = warcDir.resolve("b.warc.gz").toString
    writeWarc(f1, (1 to 8).map(i => (s"https://a.example/a$i.txt", s"body-a$i")))
    writeWarc(f2, (1 to 8).map(i => (s"https://b.example/b$i.txt", s"body-b$i")))
    WarcTool.main(Array("extract", f1, f2, dir, "--threads=4"))
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(names == ((1 to 8).map(i => s"a$i.txt") ++ (1 to 8).map(i => s"b$i.txt")).toSet)
    assert(new String(Files.readAllBytes(
      new java.io.File(dir, "a3.txt").toPath), UTF_8) == "body-a3")
  }

  test("extract skips existing files by default; --allow-overwrite restores overwrite") {
    val warcDir = java.nio.file.Paths.get(ScratchDir("graft-wt-ow-warc"))
    def writeWarc(path: String, body: String): Unit = {
      val out = new java.io.FileOutputStream(path)
      val w = Codecs.memberWriter(out, Codecs.GzipCompression)
      val html = HttpCodec.buildResponse(200, "OK",
        Seq("Content-Type" -> "text/plain",
          "Content-Length" -> body.getBytes(UTF_8).length.toString),
        body.getBytes(UTF_8))
      w.writeMember(WarcCodec.serialize(
        graft.sources.WarcIO.pageToRecord("https://a.example/f.txt",
          new java.sql.Timestamp(1647748545000L), html)))
      w.close(); out.close()
    }
    val f1 = warcDir.resolve("a.warc.gz").toString
    val f2 = warcDir.resolve("b.warc.gz").toString
    writeWarc(f1, "original")
    writeWarc(f2, "replacement")
    // default: second extraction must NOT clobber the existing file
    // (/root/reference/cmd/extract.go:232-235)
    val dir1 = ScratchDir("graft-wt-ow1")
    WarcTool.main(Array("extract", f1, dir1))
    WarcTool.main(Array("extract", f2, dir1))
    assert(new String(Files.readAllBytes(
      new java.io.File(dir1, "f.txt").toPath), UTF_8) == "original")
    // --allow-overwrite: it may
    val dir2 = ScratchDir("graft-wt-ow2")
    WarcTool.main(Array("extract", f1, dir2))
    WarcTool.main(Array("extract", f2, dir2, "--allow-overwrite"))
    assert(new String(Files.readAllBytes(
      new java.io.File(dir2, "f.txt").toPath), UTF_8) == "replacement")
  }

  test("verify --threads and per-file reports") {
    val dir = java.nio.file.Paths.get(ScratchDir("graft-wt-vthreads"))
    val f = dir.resolve("multi.warc.gz").toString
    val out = new java.io.FileOutputStream(f)
    val w = Codecs.memberWriter(out, Codecs.GzipCompression)
    (1 to 12).foreach { i =>
      val page = graft.sources.PagesGen.genPage(i.toLong, 100L, 10, 42L)
      w.writeMember(WarcCodec.serialize(
        graft.sources.WarcIO.pageToRecord(page.url, page.warc_ts, page.html)))
    }
    w.close(); out.close()
    val reports = WarcTool.verifyReports(Seq(f), threads = 4, quiet = true)
    assert(reports.length == 1)
    val r = reports.head
    assert(r.valid && r.errors == 0 && r.count == 12 && r.allRecordsRead)
    // a truncated file reports allRecordsRead=false and invalid
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(f))
    val cut = dir.resolve("cut.warc.gz")
    Files.write(cut, java.util.Arrays.copyOf(bytes, bytes.length / 2))
    val bad = WarcTool.verifyReports(Seq(cut.toString), threads = 4, quiet = true).head
    assert(!bad.valid && !bad.allRecordsRead && bad.errors > 0)
  }

  test("verify rejects WARC versions outside {1.0, 1.1}") {
    val dir = java.nio.file.Paths.get(ScratchDir("graft-wt-version"))
    val page = graft.sources.PagesGen.genPage(7L, 100L, 10, 42L)
    val rec = graft.sources.WarcIO.pageToRecord(page.url, page.warc_ts, page.html)
    def writeOne(path: String, r: graft.codec.WarcRecord): Unit = {
      val out = new java.io.FileOutputStream(path)
      val w = Codecs.memberWriter(out, Codecs.GzipCompression)
      w.writeMember(WarcCodec.serialize(r)); w.close(); out.close()
    }
    val ok = dir.resolve("ok.warc.gz").toString
    writeOne(ok, rec)
    assert(WarcTool.verifyFiles(Seq(ok)) == (1, 0))
    // same record with an out-of-membership version: rejected
    // (/root/reference/cmd/verify.go:299-307)
    val old = dir.resolve("old.warc.gz").toString
    writeOne(old, rec.copy(version = "WARC/0.9"))
    assert(WarcTool.verifyFiles(Seq(old)) == (1, 1))
    // and both files in one multi-file scan
    assert(WarcTool.verifyFiles(Seq(ok, old)) == (2, 1))
  }

  test("truncated chunked body raises HttpFormatException instead of hanging") {
    val body = "hello world, this is chunk data".getBytes(UTF_8)
    val full = HttpCodec.chunkEncode(body, 8)
    // cut AFTER a complete chunk (data + CRLF) but before the next size
    // line: the decoder must hit EOF looking for a size line and throw
    val cut = java.util.Arrays.copyOf(full, "8\r\n".length + 8 + 2)
    val resp = HttpCodec.buildResponse(200, "OK",
      Seq("Content-Type" -> "text/plain", "Transfer-Encoding" -> "chunked"), cut)
    val (_, stream) = HttpCodec.decodedBodyStream(new java.io.ByteArrayInputStream(resp))
    val ex = intercept[HttpCodec.HttpFormatException] {
      val buf = new Array[Byte](1024)
      while (stream.read(buf) != -1) ()
    }
    assert(ex.getMessage.contains("EOF before chunk size line"))
    // EOF mid-chunk still reports the established in-chunk error
    val cut2 = java.util.Arrays.copyOf(full, "8\r\n".length + 4)
    val resp2 = HttpCodec.buildResponse(200, "OK",
      Seq("Content-Type" -> "text/plain", "Transfer-Encoding" -> "chunked"), cut2)
    val (_, stream2) = HttpCodec.decodedBodyStream(new java.io.ByteArrayInputStream(resp2))
    intercept[HttpCodec.HttpFormatException] {
      val buf = new Array[Byte](1024)
      while (stream2.read(buf) != -1) ()
    }
  }

  test("verify: payload-digest recheck passes graft archives, catches tampering") {
    val dir = java.nio.file.Paths.get(ScratchDir("graft-wt-verify"))
    val good = dir.resolve("good.warc.gz").toString
    val page = graft.sources.PagesGen.genPage(5L, 100L, 10, 42L)
    val rec = graft.sources.WarcIO.pageToRecord(page.url, page.warc_ts, page.html)
    val out = new java.io.FileOutputStream(good)
    val w = Codecs.memberWriter(out, Codecs.GzipCompression)
    w.writeMember(WarcCodec.serialize(rec))
    w.close(); out.close()
    WarcTool.main(Array("verify", good)) // exits 1 on mismatch → test would die

    // tamper: change the stored payload digest but keep block digest valid
    val bad = dir.resolve("bad.warc.gz").toString
    val tampered = WarcCodec.withDefaults(
      rec.copy(headers = rec.headers
        - "WARC-Block-Digest"
        + ("WARC-Payload-Digest" -> "sha1:AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA")),
      java.time.Instant.ofEpochMilli(page.warc_ts.getTime))
    val out2 = new java.io.FileOutputStream(bad)
    val w2 = Codecs.memberWriter(out2, Codecs.GzipCompression)
    w2.writeMember(WarcCodec.serialize(tampered))
    w2.close(); out2.close()
    val in = Codecs.sniffStream(new java.io.BufferedInputStream(new java.io.FileInputStream(bad)))
    val r = WarcCodec.readAll(in).head
    assert(r.blockDigest == r.computedBlockDigest, "block digest still valid")
    val body = HttpCodec.decodedBody(r.content)
    assert("sha1:" + Digests.sha1Base32(body) !=
      r.headers("WARC-Payload-Digest"), "payload digest must mismatch")
  }
}
