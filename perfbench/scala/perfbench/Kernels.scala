package perfbench

import graft.codec.{Codecs, HttpCodec, UrlNormalizer, WarcCodec}
import graft.functions.GraftFunctions._
import graft.sources.{PagesGen, WarcIO}
import graft.state.SeenStore
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

/** Layer kernels for the traced run, on inputs built from the run's seed:
  * single-thread codec kernels (MB/s or ns per item), and Catalyst
  * expressions as ns/row over a cached input minus the bare scan of it. */
object Kernels {

  /** Median of three windows, each repeating `body` until it has run for at
    * least `windowS` seconds; returns seconds per call. */
  def secondsPerCall(windowS: Double = 0.2)(body: => Unit): Double = {
    val warmEnd = System.nanoTime() + (windowS * 1e9).toLong
    while (System.nanoTime() < warmEnd) body
    def window(): Double = {
      val t0 = System.nanoTime()
      var n = 0
      while (n == 0 || System.nanoTime() - t0 < windowS * 1e9) { body; n += 1 }
      (System.nanoTime() - t0) / 1e9 / n
    }
    Seq(window(), window(), window()).sorted.apply(1)
  }

  def run(ctx: Main.Ctx): Map[String, Double] = codec(ctx) ++ functions(ctx)

  def codec(ctx: Main.Ctx): Map[String, Double] = {
    val seed = ctx.seed
    val pages = (0L until 400L).map(i => PagesGen.genPage(i, 400L, 100, seed))
    val recs = pages.map(p => WarcIO.pageToRecord(p.url, p.warc_ts, p.html))
    val recBytes = recs.map(r => WarcCodec.serialize(r).length.toLong).sum
    def members(c: Codecs.Compression, rs: Seq[graft.codec.WarcRecord]): Array[Byte] = {
      val bos = new ByteArrayOutputStream(1 << 20)
      val w = Codecs.memberWriter(bos, c)
      rs.foreach(r => w.writeMember(WarcCodec.serialize(r)))
      w.close()
      bos.toByteArray
    }
    val gz = members(Codecs.GzipCompression, recs)
    val parse = secondsPerCall() {
      val in = Codecs.sniffStream(new ByteArrayInputStream(gz))
      WarcCodec.readAll(in).foreach(r => require(r.computedBlockDigest == r.blockDigest))
    }
    val htmlBytes = pages.map(_.html.length.toLong).sum
    val decode = secondsPerCall()(pages.foreach(p => HttpCodec.decodedBody(p.html)))
    val gzip = secondsPerCall()(members(Codecs.GzipCompression, recs))
    val zstd = secondsPerCall()(members(Codecs.ZstdCompression(), recs))
    // payloads over Spool's 1 MB threshold, so the scan spills to disk
    val big = (0 until 3).map { i =>
      val body = (0L until 2000L).map(j => PagesGen.genText(i * 2000L + j, seed, 1000L)._1)
        .mkString("\n").getBytes("UTF-8")
      val html = HttpCodec.buildResponse(200, "OK",
        Seq("Content-Type" -> "text/html", "Content-Length" -> body.length.toString), body)
      WarcIO.pageToRecord(s"https://big$i.example/", pages.head.warc_ts, html)
    }
    val bigRaw = members(Codecs.NoCompression, big)
    val spoolDir = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(ctx.workDir, "spool"))
    val spool = secondsPerCall(0.3) {
      val in = new java.io.BufferedInputStream(new ByteArrayInputStream(bigRaw), 1 << 16)
      var r = WarcCodec.readRecordSpooled(in, spoolDir = Some(spoolDir))
      while (r.isDefined) {
        val rec = r.get
        require(!rec.payload.inMemory && rec.computedBlockDigest == rec.blockDigest)
        rec.payload.close()
        r = WarcCodec.readRecordSpooled(in, spoolDir = Some(spoolDir))
      }
    }
    val urls = (0L until 100000L).map(i => PagesGen.dirtyUrl(i, 1000, seed)).toArray
    val norm = secondsPerCall()(urls.foreach(UrlNormalizer.normalize))
    Map(
      "codec.warc_parse_digest_mb_per_s" -> recBytes / 1e6 / parse,
      "codec.http_decode_mb_per_s" -> htmlBytes / 1e6 / decode,
      "codec.spool_large_mb_per_s" -> bigRaw.length / 1e6 / spool,
      "codec.warc_serialize_gzip_mb_per_s" -> recBytes / 1e6 / gzip,
      "codec.warc_serialize_zstd_mb_per_s" -> recBytes / 1e6 / zstd,
      "codec.url_normalize_ns" -> norm / urls.length * 1e9)
  }

  def functions(ctx: Main.Ctx): Map[String, Double] = {
    import ctx._
    val parts = cores * 2
    val urls = PagesGen.urls(spark, 200000L, 1000, seed, partitions = parts)
      .select(col("url"), xxhash64(url_normalize(col("url"))).as("h"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = urls.count()
    val pages = PagesGen.pages(spark, 12000L, 100, seed, partitions = parts).toDF()
      .select(col("html"), col("text"), encode(col("text"), "UTF-8").as("payload"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val np = pages.count()
    val store = SeenStore(s"$workDir/kernel-seen", SeenStore.Config(parts = cores))
    store.append(urls.filter(pmod(col("h"), lit(10L)) < 3).select(col("h").as("url_hash")), 0L)
    val banks = store.probeBanks(store.committedIds)
    def nsPerRow(df: DataFrame, rows: Long, raw: String, fn: Column): Double = {
      val bare = secondsPerCall(0.5)(Main.evaluate(df.select(col(raw))))
      val full = secondsPerCall(0.5)(Main.evaluate(df.select(fn)))
      (full - bare) / rows * 1e9
    }
    val out = Map(
      "functions.url_normalize_ns_row" -> nsPerRow(urls, n, "url", url_normalize(col("url"))),
      "functions.seen_contains_ns_row" -> nsPerRow(urls, n, "h",
        SeenStore.seenContains(pmod(col("h"), lit(cores)).cast("int"), col("h"), banks, cores)),
      "functions.http_extract_text_ns_row" -> nsPerRow(pages, np, "html",
        http_extract_text(col("html"))),
      "functions.sha1_base32_ns_row" -> nsPerRow(pages, np, "payload", sha1_base32(col("payload"))),
      "functions.minhash_sig_ns_row" -> nsPerRow(pages, np, "text", minhash_sig(col("text"), 5, 64)))
    urls.unpersist(); pages.unpersist()
    out
  }
}
