package graft.tools

import graft.codec.{Codecs, Digests, HttpCodec, WarcCodec}
import java.io.FileInputStream

/** CLI mirroring the reference's `warc verify` / `warc extract` commands
  * (/root/reference/cmd/verify.go:36-165, /root/reference/cmd/extract.go:24-75)
  * as a local smoke tool. The distributed versions of these pipelines live
  * in graft.operators; this tool is the single-file surface for driving the
  * codec kernel end-to-end.
  *
  * Usage:
  *   verify <file.warc[.gz]> …    recompute + check block digests per record
  *   extract <file.warc[.gz]> <outDir>   write each response's decoded body
  */
object WarcTool {

  /** Magic-byte sniffing — a mis-named or foreign WARC (gzip/zstd/bzip2/xz)
    * opens correctly regardless of extension
    * (/root/reference/decompression-reader.go:28-66). */
  private def open(path: String): WarcCodec.RecordInput = new WarcCodec.RecordInput(
    Codecs.sniffStream(new java.io.BufferedInputStream(new FileInputStream(path), 1 << 16)))

  /** Filename for an extracted payload, reference semantics
    * (/root/reference/cmd/extract.go:116-140): `Content-Disposition`
    * filename param wins, else the url's last path segment; `/`→`_`;
    * truncate to 255 bytes KEEPING the extension. */
  private[tools] def extractName(targetUri: String, contentDisposition: Option[String]): String = {
    val fromCd = contentDisposition.flatMap { cd =>
      // mime param parse (F9): filename="quoted" or bare token
      val m = java.util.regex.Pattern
        .compile("filename\\s*=\\s*\"?([^\";]+)\"?", java.util.regex.Pattern.CASE_INSENSITIVE)
        .matcher(cd)
      if (m.find()) Some(m.group(1).trim).filter(_.nonEmpty) else None
    }
    val base0 = fromCd.getOrElse {
      val noQuery = targetUri.takeWhile(c => c != '?' && c != '#')
      // last segment of the url PATH (not the host when the path is empty)
      val schemeEnd = noQuery.indexOf("://")
      val pathStart = if (schemeEnd >= 0) noQuery.indexOf('/', schemeEnd + 3) else 0
      val path = if (pathStart >= 0) noQuery.substring(pathStart) else ""
      path.split("/").lastOption.filter(_.nonEmpty).getOrElse("index")
    }
    val base = base0.replace("/", "_")
    if (base.getBytes(java.nio.charset.StandardCharsets.UTF_8).length <= 255) base
    else {
      // clamp on UTF-8 BYTES (the filesystem limit), trimming at a
      // codepoint boundary so a multi-byte name never splits mid-character
      val dot = base.lastIndexOf('.')
      val (stem, ext) =
        if (dot > 0 && base.length - dot <= 32) (base.substring(0, dot), base.substring(dot))
        else (base, "")
      val extBytes = ext.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
      utf8Truncate(stem, 255 - extBytes) + ext
    }
  }

  /** Longest prefix of `s` whose UTF-8 encoding is ≤ maxBytes, cut at a
    * codepoint boundary. */
  private def utf8Truncate(s: String, maxBytes: Int): String = {
    var bytes = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val w =
        if (cp < 0x80) 1 else if (cp < 0x800) 2 else if (cp < 0x10000) 3 else 4
      if (bytes + w > maxBytes) return s.substring(0, i)
      bytes += w
      i += Character.charCount(cp)
    }
    s
  }

  /** Collision handling with `--hash-suffix`
    * (/root/reference/cmd/extract.go:208-216): same name + same content →
    * skip; same name + different content → append `[digest-tail]` before
    * the extension. */
  private[tools] def hashSuffixName(name: String, digestB32: String): String = {
    val tail = digestB32.substring(26) // last 6 base32 chars, like the reference
    val dot = name.lastIndexOf('.')
    if (dot > 0) s"${name.substring(0, dot)}[$tail]${name.substring(dot)}"
    else s"$name[$tail]"
  }

  /** Digest of a whole stream without materializing it. */
  private def streamDigest(in: java.io.InputStream, algo: String): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance(algo)
    val buf = new Array[Byte](64 << 10)
    var r = in.read(buf)
    while (r != -1) { md.update(buf, 0, r); r = in.read(buf) }
    md.digest()
  }

  final case class VerifyReport(file: String, valid: Boolean, errors: Int,
                                count: Int, allRecordsRead: Boolean)

  /** Per-record checks; returns the error count (0 = clean). */
  private def verifyRecord(r: graft.codec.SpooledWarcRecord,
                           quiet: Boolean): Int = {
    // version membership (/root/reference/cmd/verify.go:299-307):
    // only WARC/1.0 and WARC/1.1 are valid; anything else fails
    val versionOk = r.version == "WARC/1.0" || r.version == "WARC/1.1"
    val blockOk = r.blockDigest.isEmpty || r.blockDigest == r.computedBlockDigest
    // payload-digest check (/root/reference/cmd/verify.go:167-252):
    // re-parse HTTP, recompute over the decoded body, dispatch on the
    // stored sha1:/sha256: prefix; records whose body was transformed by
    // the crawler (X-Crawler-*-Encoding) can't be re-verified and count
    // as failures
    val stored = r.headers.getOrElse("WARC-Payload-Digest", "")
    val payloadOk =
      if (stored.isEmpty || r.warcType == "revisit" ||
          !r.headers.getOrElse("Content-Type", "").contains("msgtype=response")) true
      else try {
        val (msg, body) = HttpCodec.decodedBodyStream(r.payload.inputStream())
        if (msg.headers.exists(_._1.toLowerCase(java.util.Locale.ROOT).startsWith("x-crawler-"))) false
        else stored.split(":", 2) match {
          case Array("sha1", d) => d == Digests.base32(streamDigest(body, "SHA-1"))
          case Array("sha256", d) => d == Digests.base32(streamDigest(body, "SHA-256"))
          case _ => false
        }
      } catch { case _: Exception => false }
    if (!quiet) {
      val state =
        if (!versionOk) s"BAD-VERSION ${r.version}"
        else if (blockOk && payloadOk) "OK"
        else if (!blockOk) s"BLOCK-MISMATCH ${r.computedBlockDigest} != ${r.blockDigest}"
        else "PAYLOAD-MISMATCH"
      println(f"${r.warcType}%-10s cl=${r.contentLength}%-8d digest=$state uri=${r.targetUri}")
    }
    Seq(versionOk, blockOk, payloadOk).count(_ == false)
  }

  /** Verify every record of every file, `threads` records in flight per
    * file (the reference's worker pool, /root/reference/cmd/verify.go:66).
    * Bounded-memory scan (the reference's spooledtempfile shape,
    * /root/reference/pkg/spooledtempfile/spooled.go): payloads spool to
    * disk past 1 MB, the block digest accumulates during the scan, and
    * the payload digest streams through the HTTP decode — a record larger
    * than the heap (or the 2 GB array cap) verifies fine. */
  private[tools] def verifyReports(files: Seq[String], threads: Int = 1,
                                   quiet: Boolean = false): Seq[VerifyReport] =
    files.map { f =>
      val errors = new java.util.concurrent.atomic.AtomicInteger(0)
      var count = 0
      var allRead = false
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads.max(1))
      val gate = new java.util.concurrent.Semaphore(threads.max(1))
      val in = open(f)
      try {
        var rec = WarcCodec.readRecordSpooled(in)
        while (rec.isDefined) {
          val r = rec.get
          count += 1
          gate.acquire()
          pool.execute(() =>
            try errors.addAndGet(verifyRecord(r, quiet))
            catch { case _: Exception => errors.incrementAndGet() }
            finally { r.payload.close(); gate.release() })
          rec = WarcCodec.readRecordSpooled(in)
        }
        allRead = true
      } catch {
        case e: Exception =>
          errors.incrementAndGet()
          System.err.println(s"failed to read record: ${e.getMessage} file=$f")
      } finally {
        in.close()
        pool.shutdown()
        pool.awaitTermination(1, java.util.concurrent.TimeUnit.HOURS)
      }
      VerifyReport(f, errors.get() == 0, errors.get(), count, allRead)
    }

  /** Back-compat summary: (records checked, total failures). */
  private[tools] def verifyFiles(files: Seq[String]): (Int, Int) = {
    val reports = verifyReports(files)
    (reports.map(_.count).sum, reports.map(_.errors).sum)
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "verify" :: rest if rest.filterNot(_.startsWith("--")).nonEmpty =>
      val flags = rest.filter(_.startsWith("--")).toSet
      val files = rest.filterNot(_.startsWith("--"))
      val threads = flags.collectFirst {
        case x if x.startsWith("--threads=") => x.stripPrefix("--threads=").toInt
      }.getOrElse(Runtime.getRuntime.availableProcessors())
      val json = flags.contains("--json")
      // paths can carry quotes/backslashes/control chars — escape them or
      // the emitted line is not JSON
      def jstr(s: String): String = "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
      val reports = verifyReports(files, threads, quiet = json)
      reports.foreach { rep =>
        if (json)
          println(s"""{"file":${jstr(rep.file)},"valid":${rep.valid},"errors":${rep.errors},"count":${rep.count},"allRecordsRead":${rep.allRecordsRead}}""")
        else
          println(s"checked file=${rep.file} valid=${rep.valid} errors=${rep.errors} count=${rep.count} allRecordsRead=${rep.allRecordsRead}")
      }
      if (reports.exists(!_.valid)) sys.exit(1)

    case "extract" :: rest if rest.filterNot(_.startsWith("--")).length >= 2 =>
      val flags = rest.filter(_.startsWith("--")).toSet
      val positional = rest.filterNot(_.startsWith("--"))
      // reference parity (/root/reference/cmd/extract.go:24-75): N input
      // files iterated in argv order, records processed under a sized
      // waitgroup capped by --threads
      val files = positional.init
      val outDir = positional.last
      val hostSort = flags.contains("--host-sort")
      val hashSuffix = flags.contains("--hash-suffix")
      val allowOverwrite = flags.contains("--allow-overwrite")
      val threads = flags.collectFirst {
        case f if f.startsWith("--threads=") => f.stripPrefix("--threads=").toInt
      }.getOrElse(1).max(1)
      // --content-type=a,b keeps responses whose HTTP Content-Type contains
      // any given value (/root/reference/cmd/extract.go:100-104)
      val ctFilter: Seq[String] = flags.collectFirst {
        case f if f.startsWith("--content-type=") =>
          f.stripPrefix("--content-type=").split(",").toSeq.filter(_.nonEmpty)
      }.getOrElse(Seq.empty)
      val dir = new java.io.File(outDir)
      dir.mkdirs()
      val counts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      // sizedwaitgroup analog: at most `threads` records in flight, the
      // reader blocks acquiring a permit past that
      val gate = new java.util.concurrent.Semaphore(threads)
      val failures = new java.util.concurrent.atomic.AtomicInteger(0)
      // Per-target-path serialization: the whole decide-and-write critical
      // section for one base name runs under that name's in-flight latch,
      // so a later record with the same target waits for the prior WRITER
      // (not just the name reservation) to finish — its exists/digest
      // decision then reads a complete file. Records with different names
      // (the common case) stay fully parallel. Suffixed collision names
      // embed the base name, so the base-name latch covers them too.
      val inFlight =
        new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.CountDownLatch]()
      def withPathLock[T](key: String)(body: => T): T = {
        while (true) {
          val latch = new java.util.concurrent.CountDownLatch(1)
          val prev = inFlight.putIfAbsent(key, latch)
          if (prev == null) {
            try return body
            finally { inFlight.remove(key); latch.countDown() }
          } else prev.await()
        }
        throw new IllegalStateException("unreachable")
      }

      def processRecord(r: graft.codec.SpooledWarcRecord): Unit =
        try {
          // first pass reads only the header block (for ct/name); the
          // body stream is closed unread and re-opened per use below
          val (msg, body0) = HttpCodec.decodedBodyStream(r.payload.inputStream())
          body0.close()
          val httpCt = msg.header("Content-Type").getOrElse("")
          if (ctFilter.isEmpty || ctFilter.exists(httpCt.contains)) {
            val ct = if (httpCt.isEmpty) "unknown" else httpCt.split(";")(0).trim
            counts.merge(ct, 1, (a, b) => a + b)
            val name = extractName(r.targetUri, msg.header("Content-Disposition"))
            val parent =
              if (!hostSort) dir
              else {
                val host = graft.codec.UrlNormalizer.host(r.targetUri)
                val d = new java.io.File(dir, if (host.isEmpty) "unknown" else host)
                d.mkdirs(); d
              }
            // collision discipline (/root/reference/cmd/extract.go:157-235):
            // existing file → skip unless --allow-overwrite; with
            // --hash-suffix an identical payload skips, a different one
            // gets a digest-suffixed name (which itself only overwrites
            // under --allow-overwrite). Decision AND write run under the
            // base name's path latch; the body goes to a temp file and
            // atomically renames into place, so a visible file is always
            // complete (never a half-written digest-compare victim).
            withPathLock(new java.io.File(parent, name).getPath) {
              val out: Option[java.io.File] = {
                var o = new java.io.File(parent, name)
                if (!o.exists()) Some(o)
                else if (hashSuffix) {
                  // streaming compare: sha1 of the existing file vs a fresh
                  // decode pass over the spool — nothing materializes
                  val fin = new java.io.BufferedInputStream(new FileInputStream(o), 1 << 16)
                  val existingSha = try streamDigest(fin, "SHA-1") finally fin.close()
                  val newSha = streamDigest(
                    HttpCodec.decodedBodyStream(r.payload.inputStream())._2, "SHA-1")
                  if (java.util.Arrays.equals(existingSha, newSha)) None // identical: skip
                  else {
                    o = new java.io.File(parent, hashSuffixName(name, Digests.base32(newSha)))
                    if (o.exists() && !allowOverwrite) None
                    else Some(o)
                  }
                } else if (allowOverwrite) Some(o)
                else None
              }
              out match {
                case None => println(s"skipped ${new java.io.File(parent, name).getPath} (exists)")
                case Some(outFile) =>
                  val tmp = java.io.File.createTempFile("." + outFile.getName + "-", ".part", parent)
                  val sink = new java.io.BufferedOutputStream(
                    new java.io.FileOutputStream(tmp), 1 << 16)
                  var written = 0L
                  try {
                    val body = HttpCodec.decodedBodyStream(r.payload.inputStream())._2
                    val buf = new Array[Byte](64 << 10)
                    var n = body.read(buf)
                    while (n != -1) { sink.write(buf, 0, n); written += n; n = body.read(buf) }
                  } finally sink.close()
                  java.nio.file.Files.move(tmp.toPath, outFile.toPath,
                    java.nio.file.StandardCopyOption.ATOMIC_MOVE,
                    java.nio.file.StandardCopyOption.REPLACE_EXISTING)
                  println(s"wrote ${outFile.getPath} ($written B, $ct)")
              }
            }
          }
        } catch {
          case e: Exception =>
            failures.incrementAndGet()
            System.err.println(s"extract failed for ${r.targetUri}: ${e.getMessage}")
        } finally r.payload.close()

      try {
        files.foreach { file =>
          val in = open(file)
          try {
            var rec = WarcCodec.readRecordSpooled(in)
            while (rec.isDefined) {
              val r = rec.get
              if (r.headers.getOrElse("Content-Type", "").contains("msgtype=response") &&
                  r.warcType != "revisit") {
                gate.acquire()
                pool.execute(() => try processRecord(r) finally gate.release())
              } else r.payload.close()
              rec = WarcCodec.readRecordSpooled(in)
            }
          } finally in.close()
        }
      } finally {
        pool.shutdown()
        pool.awaitTermination(1, java.util.concurrent.TimeUnit.HOURS)
      }
      import scala.jdk.CollectionConverters._
      counts.asScala.toSeq.sortBy(_._1).foreach { case (ct, n) => println(s"$ct: $n") }
      if (failures.get() > 0) sys.exit(1)

    case "write" :: nStr :: outDir :: rest =>
      // distributed sink drive: synthetic pages → rotated .warc.gz files
      val n = nStr.toLong
      val perFile = rest.headOption.map(_.toInt).getOrElse(200)
      val spark = graft.GraftSession.local(8)
      val pages = graft.sources.PagesGen.pages(spark, n, 20, 42L).toDF()
      val files = graft.sources.WarcIO.writePages(pages, outDir, recordsPerFile = perFile)
      val back = graft.sources.WarcIO.readRecords(spark, outDir)
      val bad = back.filter(org.apache.spark.sql.functions.col("block_digest") =!=
        org.apache.spark.sql.functions.col("computed_digest")).count()
      println(s"wrote $files warc files, ${back.count()} records read back, $bad digest mismatches")
      spark.stop()
      if (bad > 0) sys.exit(1)

    case _ =>
      System.err.println("usage: WarcTool verify <file>… [--threads=N] [--json] | extract <file>… <outDir> [--host-sort] [--hash-suffix] [--allow-overwrite] [--threads=N] [--content-type=a,b] | write <n> <outDir> [recordsPerFile]")
      sys.exit(2)
  }
}
