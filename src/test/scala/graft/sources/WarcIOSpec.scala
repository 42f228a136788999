package graft.sources

import graft.GraftSession
import graft.functions.GraftFunctions._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import org.apache.spark.sql.graft.ScratchDir

class WarcIOSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  test("pages → rotated .warc.gz → parse back: byte-identical roundtrip") {
    val dir = ScratchDir("graft-warc")
    val pages = PagesGen.pages(spark, 500, 10, 42L).toDF().repartition(3)
    val nFiles = WarcIO.writePages(pages, dir, recordsPerFile = 100)
    assert(nFiles >= 3, s"expected rotation across tasks, got $nFiles files")
    assert(!new java.io.File(dir).listFiles().exists(_.getName.endsWith(".open")),
      "all files must be atomically renamed from .open")

    val back = WarcIO.readRecords(spark, dir).cache()
    val info = back.filter(col("warc_type") === "warcinfo")
    assert(info.count() == nFiles, "one warcinfo per file")
    val responses = back.filter(col("warc_type") === "response")
    assert(responses.count() == 500L)
    // every record re-digests to its stored block digest
    assert(back.filter(col("block_digest") =!= col("computed_digest")).count() == 0L)
    // payload decode is byte-identical to the original text column
    // (urls repeat across pages with different bodies, so compare the
    // multiset of text digests rather than joining on url)
    def digestCounts(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("d")).count().as[(String, Long)].collect().toMap
    val got = digestCounts(responses
      .select(sha2(http_extract_text(col("content")), 256).as("d")))
    val want = digestCounts(pages.select(sha2(col("text"), 256).as("d")))
    assert(got == want, "extracted text multiset must match original bytes")
  }

  test("crawl round → WARC: revisits written as truncated refers-to records") {
    import graft.operators.{Crawl, Frontier}
    val dir = ScratchDir("graft-warc3")
    // low dedupe threshold so the generator's dup-body clusters revisit
    val cfg = Frontier.Config(defaultBudget = 1000, sizeThreshold = 100)
    val pages = PagesGen.pages(spark, 2000, 10, 42L).toDF()
    val web = Crawl.asWeb(pages)
    val frontier = Frontier.canonicalize(pages)
      .select(col("url_norm").as("url"))
      .withColumn("depth", lit(0))
      .withColumn("warc_ts", lit(new java.sql.Timestamp(PagesGen.BaseEpochSec * 1000L)))
    val out = Crawl.round(frontier, web, None, None, cfg)
    val fetched = out.fetched.count()
    val nRevisits = out.fetched.filter(col("is_revisit")).count()
    assert(nRevisits > 0, "generator dup clusters must produce revisits")
    val n = WarcIO.writeFetched(out.fetched, dir, recordsPerFile = 500)
    assert(n >= 1)
    val back = WarcIO.readRecords(spark, dir).cache()
    assert(back.filter(col("block_digest") =!= col("computed_digest")).count() == 0L)
    val revisits = back.filter(col("warc_type") === "revisit")
    assert(revisits.count() == nRevisits)
    val rv = revisits.select("headers", "content")
      .as[(Map[String, String], Array[Byte])].head()
    assert(rv._1.contains("WARC-Refers-To-Target-URI"))
    // exact reference profile URI (/root/reference/dialer.go:525)
    assert(rv._1("WARC-Profile") ==
      "http://netpreserve.org/warc/1.1/revisit/identical-payload-digest")
    assert(rv._1("WARC-Truncated") == "length")
    // content truncated at end of HTTP headers
    assert(graft.codec.HttpCodec.endOfHeaders(rv._2) == rv._2.length || rv._2.isEmpty)
    val responses = back.filter(col("warc_type") === "response").count()
    assert(responses == fetched - nRevisits)

    // fetch PAIRS (J1): every capture has a request record whose
    // WARC-Concurrent-To names its response/revisit record, written
    // response-first into the same file (dialer.go:352-354,380-388)
    val requests = back.filter(col("warc_type") === "request")
    assert(requests.count() == fetched, "one request per fetch")
    val mainIds = back.filter(col("warc_type").isin("response", "revisit"))
      .select("headers").as[Map[String, String]].collect()
      .map(_("WARC-Record-ID")).toSet
    requests.select("headers", "content").as[(Map[String, String], Array[Byte])]
      .collect().foreach { case (h, bytes) =>
        assert(mainIds.contains(h("WARC-Concurrent-To")), "dangling WARC-Concurrent-To")
        val line = new String(bytes, "ISO-8859-1").split("\r\n")(0)
        assert(graft.codec.HttpCodec.isHttpRequestLine(line), s"bad request line: $line")
      }

    // every revisit's WARC-Refers-To must name an actual response record in
    // the archive (/root/reference/dialer.go:521-523), and that record's
    // payload digest must equal the revisit's (identical-payload-digest)
    val byId = back.filter(col("warc_type") === "response")
      .select("headers").as[Map[String, String]].collect()
      .map(h => h("WARC-Record-ID") -> h("WARC-Payload-Digest")).toMap
    val allRevisits = revisits.select("headers").as[Map[String, String]].collect()
    assert(allRevisits.nonEmpty)
    allRevisits.foreach { h =>
      val refId = h("WARC-Refers-To")
      assert(byId.contains(refId), s"dangling WARC-Refers-To $refId")
      assert(byId(refId) == h("WARC-Payload-Digest"),
        "revisit payload digest must match its referred response record")
    }
  }

  test("zstd compression: end-to-end write + sniffing read, ± dictionary") {
    import graft.codec.Codecs
    for (dict <- Seq(None, Some(("payload doc example " * 300).getBytes("UTF-8")))) {
      val dir = ScratchDir("graft-zstd")
      val pages = PagesGen.pages(spark, 200, 10, 42L).toDF().repartition(2)
      val n = WarcIO.writePages(pages, dir, recordsPerFile = 60,
        compression = Codecs.ZstdCompression(dict))
      assert(n >= 2)
      assert(new java.io.File(dir).listFiles().exists(_.getName.endsWith(".warc.zst")))
      val back = WarcIO.readRecords(spark, dir).cache()
      assert(back.filter(col("warc_type") === "response").count() == 200L)
      assert(back.filter(col("block_digest") =!= col("computed_digest")).count() == 0L)
    }
  }

  test("a WARC cut inside its last compression member fails the read with an EOFException") {
    import graft.codec.Codecs
    val gzipMagic = Array(0x1f, 0x8b, 0x08).map(_.toByte)
    val zstdMagic = Array(0x28, 0xb5, 0x2f, 0xfd).map(_.toByte)
    val dict = Some(("payload doc example " * 300).getBytes("UTF-8"))
    for ((compression, magic) <- Seq(Codecs.GzipCompression -> gzipMagic,
        Codecs.ZstdCompression() -> zstdMagic, Codecs.ZstdCompression(dict) -> zstdMagic)) {
      val dir = ScratchDir("graft-cut")
      val pages = PagesGen.pages(spark, 20, 4, 42L).toDF().coalesce(1)
      assert(WarcIO.writePages(pages, dir, compression = compression) == 1L)
      val file = new java.io.File(dir).listFiles().filter(_.getName.endsWith(compression.fileExt)).head
      val bytes = Files.readAllBytes(file.toPath)
      // one member per record: the last magic starts the last record's
      // member (or lies inside it), so the cut lands inside that member
      val last = bytes.indices.lastIndexWhere(i => bytes.startsWith(magic, i))
      Files.write(file.toPath, java.util.Arrays.copyOf(bytes, last + (bytes.length - last) / 2))
      val e = intercept[Exception](WarcIO.readRecords(spark, dir).count())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[java.io.EOFException]), s"$compression: $e")
    }
  }

  test("size-based rotation caps compressed file size") {
    val dir = ScratchDir("graft-rot")
    val pages = PagesGen.pages(spark, 400, 10, 42L).toDF().coalesce(1)
    WarcIO.writePages(pages, dir, recordsPerFile = Int.MaxValue, maxFileBytes = 64 * 1024)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".warc.gz"))
    assert(files.length >= 2, "size rotation must split output")
    // each file ≤ cap + one record of slack (rotation happens after the
    // record that crosses the threshold, like the reference's check-then-write)
    assert(files.forall(_.length <= 64 * 1024 + 512 * 1024))
  }

  test("WARC archives feed the engine: recordsToPages round-trips the pages table") {
    val dir = ScratchDir("graft-ingest")
    val pages = PagesGen.pages(spark, 300, 10, 42L).toDF()
    WarcIO.writePages(pages, dir, recordsPerFile = 100)
    val back = WarcIO.recordsToPages(WarcIO.readRecords(spark, dir)).cache()
    assert(back.count() == 300L)
    // url + timestamp + extracted text survive the full write→read→ingest loop
    val orig = pages.select(col("url"), col("warc_ts"), sha2(col("text"), 256).as("d"))
      .as[(String, java.sql.Timestamp, String)].collect().toSet
    val got = back.select(col("url"), col("warc_ts"), sha2(col("text"), 256).as("d"))
      .as[(String, java.sql.Timestamp, String)].collect().toSet
    assert(got == orig, "pages → WARC → pages must be lossless on (url, ts, text)")
    // and the ingested table drives the frontier directly
    val canon = graft.operators.Frontier.canonicalize(back)
    assert(canon.count() > 0)
  }

  test("CDX crawl: remote hits become revisits without WARC-Refers-To") {
    import graft.operators.{Crawl, Frontier}
    val dir = ScratchDir("graft-cdxwarc")
    val cfg = Frontier.Config(defaultBudget = 1000, sizeThreshold = 100)
    val pages = PagesGen.pages(spark, 500, 10, 42L).toDF()
    val web = Crawl.asWeb(pages).cache()
    // remote index: every page with a text longer than threshold whose
    // doc id is even is "already archived elsewhere"
    val cdx = web.filter(length(col("text")) >= 100)
      .filter(xxhash64(col("url_norm")) % 2 === 0)
      .select(
        graft.functions.GraftFunctions.sha1_base32(encode(col("text"), "UTF-8")).as("payload_digest"),
        concat(lit("https://other-archive.example/"), col("url_norm")).as("target_uri"),
        col("page_ts").as("capture_ts"),
        lit("text/html").as("record_type"))
    val frontier = Frontier.canonicalize(pages).select(col("url_norm").as("url"))
      .withColumn("depth", lit(0))
      .withColumn("warc_ts", lit(new java.sql.Timestamp(PagesGen.BaseEpochSec * 1000L)))
    val out = Crawl.round(frontier, web, None, None, cfg, cdx = Some(cdx))
    assert(out.fetched.filter(col("is_revisit")).count() > 0)
    val srcCounts = out.fetched.groupBy("dedupe_source").count()
      .as[(String, Long)].collect().toMap
    assert(srcCounts.getOrElse("cdx", 0L) > 0, "remote dedupe must fire")
    WarcIO.writeFetched(out.fetched, dir, recordsPerFile = 500)
    val revisits = WarcIO.readRecords(spark, dir)
      .filter(col("warc_type") === "revisit")
      .select("headers").as[Map[String, String]].collect()
    assert(revisits.nonEmpty)
    val (localRev, cdxRev) = revisits.partition(_.contains("WARC-Refers-To"))
    assert(cdxRev.nonEmpty, "cdx revisits must omit WARC-Refers-To")
    cdxRev.foreach { h =>
      assert(h("WARC-Refers-To-Target-URI").startsWith("https://other-archive.example/"))
    }
    // local revisits (if any) keep the resolvable record id
    localRev.foreach(h => assert(h("WARC-Refers-To").startsWith("<urn:uuid:")))
  }

  test("warcinfo + filename discipline matches reference shape") {
    val dir = ScratchDir("graft-warc2")
    WarcIO.writePages(PagesGen.pages(spark, 20, 5, 42L).toDF().coalesce(1), dir)
    val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".warc.gz")).head
    assert(f.getName.matches("GRAFT-\\d{14}-\\d{5}-\\d{5}\\.warc\\.gz"))
    val recs = WarcIO.readRecords(spark, dir)
    val wi = recs.filter(col("warc_type") === "warcinfo")
      .select("headers").as[Map[String, String]].head()
    assert(wi("WARC-Filename") == f.getName)
    assert(wi("Content-Type") == "application/warc-fields")
  }

  // --- read listing and task planning ---------------------------------------

  /** Writes `n` response records of seeded pages to `file` as members of
    * `compression`. */
  private def writeWarc(file: java.io.File, n: Int, seed: Long,
                        compression: graft.codec.Codecs.Compression): Unit = {
    import graft.codec.{Codecs, WarcCodec}
    file.getParentFile.mkdirs()
    val out = new java.io.FileOutputStream(file)
    try {
      val w = Codecs.memberWriter(out, compression)
      (0L until n.toLong).foreach { i =>
        val p = PagesGen.genPage(i, n.toLong, 5, seed)
        w.writeMember(WarcCodec.serialize(WarcIO.pageToRecord(p.url, p.warc_ts, p.html)))
      }
      w.close()
    } finally out.close()
  }

  test("readRecords lists the files binaryFile lists with the *.warc* glob") {
    import graft.codec.Codecs
    val dir = new java.io.File(ScratchDir("graft-list"))
    writeWarc(new java.io.File(dir, "a.warc.gz"), 3, 1L, Codecs.GzipCompression)
    writeWarc(new java.io.File(dir, "b.warc.zst"), 4, 2L, Codecs.ZstdCompression())
    writeWarc(new java.io.File(dir, "c.warc"), 5, 3L, Codecs.NoCompression)
    // binaryFile does not descend into a subdirectory that is not a k=v
    // partition, so neither do we: these files are never opened
    for (junk <- Seq("_x.warc.gz", ".x.warc.gz", "notes.txt", "f.warc.gz._COPYING_",
                     "sub/d.warc.gz", "sub/deeper/e.warc", "x.warc.d/f.warc")) {
      val f = new java.io.File(dir, junk)
      f.getParentFile.mkdirs()
      Files.write(f.toPath, "not a warc".getBytes("UTF-8"))
    }
    new java.io.File(dir, "emptysub").mkdirs()
    val viaBinaryFile = spark.read.format("binaryFile").option("pathGlobFilter", "*.warc*")
      .load(dir.getPath).select("path").as[String].collect().toSet
    val back = WarcIO.readRecords(spark, dir.getPath).cache()
    assert(back.select("path").distinct().as[String].collect().toSet == viaBinaryFile)
    assert(viaBinaryFile.map(_.split('/').last) == Set("a.warc.gz", "b.warc.zst", "c.warc"))
    assert(back.count() == 12L)
    assert(back.filter(col("block_digest") =!= col("computed_digest")).count() == 0L)
    back.unpersist()
    // a file given as the path is read on its own
    val one = WarcIO.readRecords(spark, new java.io.File(dir, "c.warc").getPath)
    assert(one.count() == 5L)
  }

  test("an empty directory reads as an empty frame with the same schema") {
    import graft.codec.Codecs
    val empty = new java.io.File(ScratchDir("graft-empty"))
    new java.io.File(empty, "sub").mkdirs()
    val full = new java.io.File(ScratchDir("graft-full"))
    writeWarc(new java.io.File(full, "a.warc.gz"), 2, 1L, Codecs.GzipCompression)
    val none = WarcIO.readRecords(spark, empty.getPath)
    assert(none.count() == 0L)
    assert(none.schema == WarcIO.readRecords(spark, full.getPath).schema)
    assert(WarcIO.recordsToPages(none).count() == 0L)
  }

  test("read tasks: max(defaultParallelism, bytes / maxPartitionBytes), capped at files") {
    val sizes = Seq(90L, 70L, 60L, 50L, 40L, 35L, 30L, 20L, 10L, 5L)
    val files = sizes.zipWithIndex.map { case (len, i) => (s"f$i", len) }
    def loads(tasks: Array[Array[String]]) =
      tasks.map(_.map(p => sizes(p.drop(1).toInt)).sum)
    def check(tasks: Array[Array[String]], n: Int, of: Seq[(String, Long)] = files): Unit = {
      assert(tasks.length == n)
      assert(tasks.flatten.sorted.toSeq == of.map(_._1).sorted, "every file exactly once")
      assert(tasks.forall(_.nonEmpty))
      // largest first to the least-loaded task: loads differ by at most
      // the largest file
      assert(loads(tasks).max - loads(tasks).min <= sizes.max)
    }
    check(WarcIO.planReadTasks(files, 4, 1L << 30), 4)        // parallelism floor
    check(WarcIO.planReadTasks(files, 4, 100L), 5)            // ceil(410 / 100)
    check(WarcIO.planReadTasks(files, 2, 60L), 7)             // ceil(410 / 60)
    check(WarcIO.planReadTasks(files, 4, 1L), 10)             // capped at the file count
    check(WarcIO.planReadTasks(files.take(3), 4, 1L << 30), 3, files.take(3))
    assert(WarcIO.planReadTasks(Nil, 4, 1L).isEmpty)
    // 10 files over 4 tasks: 90+20 | 70+30 | 60+35+5 | 50+40+10
    assert(loads(WarcIO.planReadTasks(files, 4, 1L << 30)).toSeq == Seq(110L, 100L, 100L, 100L))

    import graft.codec.Codecs
    val dir = new java.io.File(ScratchDir("graft-tasks"))
    (0 until 6).foreach(i =>
      writeWarc(new java.io.File(dir, s"w$i.warc.gz"), 2 + i, i.toLong, Codecs.GzipCompression))
    val par = spark.sparkContext.defaultParallelism
    assert(WarcIO.readRecords(spark, dir.getPath).rdd.getNumPartitions == math.min(6, par))
    val key = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "1k") // every file is over 1 KB: one task per file
    try assert(WarcIO.readRecords(spark, dir.getPath).rdd.getNumPartitions == 6)
    finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("read tasks open files through the session's Hadoop configuration") {
    import graft.codec.Codecs
    val dir = new java.io.File(ScratchDir("graft-scheme"))
    writeWarc(new java.io.File(dir, "a.warc.gz"), 7, 1L, Codecs.GzipCompression)
    writeWarc(new java.io.File(dir, "b.warc.zst"), 5, 2L, Codecs.ZstdCompression())
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.graftwarc.impl", classOf[WarcIOSpec.SchemeFs].getName)
    // uncached, so a task's FileSystem comes from the configuration it was
    // given, not from the instance the listing already made
    hc.setBoolean("fs.graftwarc.impl.disable.cache", true)
    try {
      val back = WarcIO.readRecords(spark, s"graftwarc://${dir.getPath}")
      val paths = back.select("path").distinct().as[String].collect()
      assert(paths.length == 2 && paths.forall(_.startsWith("graftwarc:")))
      assert(back.count() == 12L)
    } finally {
      hc.unset("fs.graftwarc.impl")
      hc.unset("fs.graftwarc.impl.disable.cache")
    }
  }
}

object WarcIOSpec {
  /** The local filesystem under a scheme only a configuration that names
    * this class can resolve. */
  class SchemeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
    override def getUri: java.net.URI = java.net.URI.create("graftwarc:///")
    override def getScheme: String = "graftwarc"
  }
}
