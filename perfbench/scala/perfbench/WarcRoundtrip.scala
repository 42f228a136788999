package perfbench

import graft.codec.{Codecs, WarcCodec}
import graft.sources.{PagesGen, WarcIO}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** warc-roundtrip: seeded pages written as rotated WARC (gzip and zstd
  * members), then read back, block digests verified and text
  * re-extracted. The one workload where the codec and sources layers do
  * most of the work, with writes beside reads. */
object WarcRoundtrip {
  val Pages = 3000L
  val Hosts = 100
  val RecordsPerFile = 250
  val WarmSets = 8

  def run(ctx: Main.Ctx): Map[String, Any] = {
    import ctx._
    import spark.implicits._
    def prepare(): (DataFrame, Long, Long) = rec.setup("prepare") {
      val pages = PagesGen.pages(spark, Pages, Hosts, seed).toDF()
        .persist(StorageLevel.MEMORY_AND_DISK)
      // expected content: an order-free hash of every (url, text) pair and
      // the uncompressed bytes of the response records
      val expected = pages.agg(sum(xxhash64(col("url"), col("text")).cast("decimal(38,0)")))
        .head.getDecimal(0).toBigInteger.longValue
      val recordBytes = pages.select("url", "warc_ts", "html").as[(String, java.sql.Timestamp, Array[Byte])]
        .map { case (u, ts, html) => WarcCodec.serialize(WarcIO.pageToRecord(u, ts, html)).length.toLong }
        .agg(sum("value")).head.getLong(0)
      (pages, expected, recordBytes)
    }
    val prepared = (0 until 3).map(_ => prepare())
    prepared.init.foreach(_._1.unpersist())
    val (pages, expectedHash, recordBytes) = prepared.last

    var writeS, readS = 0.0
    var gzBytes, zsBytes = 0L
    def roundtrip(dir: String): (Long, Boolean, Long) = {
      val t0 = rec.nowMs
      val gzFiles = rec.span("sources.write_pages")(WarcIO.writePages(pages, dir, "GZ",
        RecordsPerFile, Codecs.GzipCompression))
      val zsFiles = rec.span("sources.write_pages")(WarcIO.writePages(pages, dir, "ZS",
        RecordsPerFile, Codecs.ZstdCompression()))
      val t1 = rec.nowMs
      val digests = rec.span("sources.read_records") {
        WarcIO.readRecords(spark, dir)
          .agg(count(lit(1)), sum(when(col("block_digest") === col("computed_digest"), 0L).otherwise(1L)))
          .head
      }
      val back = rec.span("sources.records_to_pages") {
        WarcIO.recordsToPages(WarcIO.readRecords(spark, dir))
          .agg(count(lit(1)), sum(xxhash64(col("url"), col("text")).cast("decimal(38,0)")),
            sum(length(col("lang"))))
          .head
      }
      val t2 = rec.nowMs
      writeS += (t1 - t0) / 1000.0
      readS += (t2 - t1) / 1000.0
      val files = gzFiles + zsFiles
      // every file leads with a warcinfo record; every page is one response
      val ok = digests.getLong(0) == 2 * Pages + files && digests.getLong(1) == 0L &&
        back.getLong(0) == 2 * Pages &&
        back.getDecimal(1).toBigInteger.longValue == 2 * expectedHash
      val listed = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      gzBytes += listed.filter(_.getName.endsWith(".warc.gz")).map(_.length).sum
      zsBytes += listed.filter(_.getName.endsWith(".warc.zst")).map(_.length).sum
      graft.LocalFiles.deleteRec(new java.io.File(dir))
      (files, ok, 2 * (2 * Pages + files))
    }
    // warm with the timed op itself until the JIT has settled
    rec.setup("warm")((0 until WarmSets).foreach(i => roundtrip(s"$workDir/warc-warm-$i")))
    writeS = 0.0; readS = 0.0; gzBytes = 0L; zsBytes = 0L
    var sets = 0
    rec.loop(seconds) { i =>
      rec.op("roundtrip") {
        val (files, ok, records) = roundtrip(s"$workDir/warc-$i")
        // a failure op is one WARC file written or read: each file is both
        Outcome(records, ok, attempted = 2 * files)
      }
      sets += 1
    }
    rec.facts ++= Map("pages" -> Pages, "records_per_file" -> RecordsPerFile,
      "record_bytes_per_set" -> recordBytes, "sets" -> sets,
      "write_s" -> writeS, "read_s" -> readS,
      "gzip_ratio" -> gzBytes.toDouble / (recordBytes * sets),
      "zstd_ratio" -> zsBytes.toDouble / (recordBytes * sets),
      "cached_pages_mb" -> spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6)
    pages.unpersist()
    Map.empty
  }
}
