package graft.sources

import graft.codec.{Codecs, Digests, HttpCodec, WarcCodec, WarcRecord}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.SerializableConfiguration
import org.apache.hadoop.fs.{FileStatus, FileSystem, GlobFilter, Path}
import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant

/** Distributed WARC read/write — the reference's core competency as Spark
  * source/sink.
  *
  * Write side mirrors the rotator semantics (/root/reference/warc.go:90-258):
  *  - one file per task+serial, named `<prefix>-<ts>-<serial>-<part>.warc.gz`
  *  - files are written as `.open` and atomically renamed on close
  *    (/root/reference/warc.go:233-251)
  *  - each record is its own gzip member (fresh gzip stream per record,
  *    /root/reference/warc.go:200-219) so readers can seek to members
  *  - every file starts with a warcinfo record carrying the filename
  *    (/root/reference/write.go:118-145)
  *  - rotation at `recordsPerFile` (the size-based rotation analog)
  *
  * Read side: multi-file parallel scan (files balanced over tasks by
  * bytes, see `readRecords`) + the byte-exact record parser (S1-S3).
  */
object WarcIO {

  /** Serialize one page as a response record with reference-default
    * headers; deterministic given the row. The payload digest is computed
    * over the *decoded* body (chunked-decode → gunzip), matching the
    * reference (/root/reference/dialer.go:482) and the digest used for
    * dedup/revisit records — so a revisit's identical-payload-digest claim
    * is consistent with its WARC-Refers-To response record. */
  def pageToRecord(url: String, ts: java.sql.Timestamp, html: Array[Byte]): WarcRecord = {
    val date = WarcCodec.formatRfc3339Nano(Instant.ofEpochMilli(ts.getTime))
    val base = WarcRecord("WARC/1.1", Map(
      "WARC-Type" -> "response",
      "WARC-Target-URI" -> url,
      "WARC-Date" -> date,
      "WARC-Record-ID" -> WarcCodec.recordIdFor(url, date),
      "Content-Type" -> "application/http; msgtype=response",
      "WARC-Payload-Digest" -> ("sha1:" + Digests.sha1Base32(
        try HttpCodec.decodedBody(html) catch { case _: Exception => html }))
    ), html)
    WarcCodec.withDefaults(base, Instant.ofEpochMilli(ts.getTime))
  }

  /** The request record of a fetch pair (J1): the exact bytes the crawler
    * sends (GET + Host + the forced Accept-Encoding: gzip of the
    * reference's transport, /root/reference/transport.go:16-35), typed
    * `request` and cross-linked to its response via WARC-Concurrent-To
    * (/root/reference/dialer.go:380-388). */
  def requestRecord(url: String, ts: java.sql.Timestamp, concurrentTo: String,
                    agent: String = "graftbot"): WarcRecord = {
    val date = WarcCodec.formatRfc3339Nano(Instant.ofEpochMilli(ts.getTime))
    val (host, target) = {
      val schemeEnd = url.indexOf("://")
      val pathStart = if (schemeEnd >= 0) url.indexOf('/', schemeEnd + 3) else -1
      if (pathStart < 0) (url.substring(math.max(0, schemeEnd + 3)), "/")
      else (url.substring(schemeEnd + 3, pathStart), url.substring(pathStart))
    }
    val bytes = (s"GET $target HTTP/1.1\r\nHost: $host\r\nUser-Agent: $agent\r\n" +
      "Accept-Encoding: gzip\r\n\r\n").getBytes(UTF_8)
    WarcCodec.withDefaults(WarcRecord("WARC/1.1", Map(
      "WARC-Type" -> "request",
      "WARC-Target-URI" -> url,
      "WARC-Date" -> date,
      "WARC-Record-ID" -> WarcCodec.recordIdFor("request|" + url, date),
      // the paired response/revisit record's id (dialer.go:380-388)
      "WARC-Concurrent-To" -> concurrentTo,
      "Content-Type" -> "application/http; msgtype=request"
    ), bytes), Instant.ofEpochMilli(ts.getTime))
  }

  private def warcinfo(filename: String, now: Instant): WarcRecord = {
    val body = ("software: graft/0.1\r\nformat: WARC File Format 1.1\r\n").getBytes(UTF_8)
    WarcCodec.withDefaults(WarcRecord("WARC/1.1", Map(
      "WARC-Type" -> "warcinfo",
      "WARC-Filename" -> filename,
      "Content-Type" -> "application/warc-fields",
      "WARC-Date" -> WarcCodec.formatRfc3339Nano(now)
    ), body), now)
  }

  /** Revisit record for a dup capture (J4,
    * /root/reference/dialer.go:516-623): content truncated to the HTTP
    * headers, refers-to pointers + identical-payload-digest profile. */
  def revisitRecord(url: String, ts: java.sql.Timestamp, html: Array[Byte],
                    payloadDigest: String, refersToUrl: String,
                    refersToTs: java.sql.Timestamp,
                    localHit: Boolean = true): WarcRecord = {
    val eoh = HttpCodec.endOfHeaders(html)
    val truncated = if (eoh > 0) java.util.Arrays.copyOf(html, eoh) else html
    val refersToDate = WarcCodec.formatRfc3339Nano(Instant.ofEpochMilli(refersToTs.getTime))
    // WARC-Refers-To (the referenced record's id) only exists for LOCAL
    // hits — a CDX hit references a record in someone else's archive
    // (/root/reference/dialer.go:520-523)
    val refersToId =
      if (localHit) Map("WARC-Refers-To" -> WarcCodec.recordIdFor(refersToUrl, refersToDate))
      else Map.empty[String, String]
    val date = WarcCodec.formatRfc3339Nano(Instant.ofEpochMilli(ts.getTime))
    WarcCodec.withDefaults(WarcRecord("WARC/1.1", refersToId ++ Map(
      "WARC-Type" -> "revisit",
      "WARC-Target-URI" -> url,
      "WARC-Date" -> date,
      "WARC-Record-ID" -> WarcCodec.recordIdFor("revisit|" + url, date),
      "WARC-Refers-To-Target-URI" -> refersToUrl,
      "WARC-Refers-To-Date" -> refersToDate,
      // the WARC 1.1 profile URI, /root/reference/dialer.go:525
      "WARC-Profile" -> "http://netpreserve.org/warc/1.1/revisit/identical-payload-digest",
      "WARC-Truncated" -> "length",
      "WARC-Payload-Digest" -> ("sha1:" + payloadDigest),
      "Content-Type" -> "application/http; msgtype=response"
    ), truncated), Instant.ofEpochMilli(ts.getTime))
  }

  /** Write a crawl round's fetched rows (Crawl.round output shape) as WARC:
    * non-revisits become response records, revisits become truncated
    * revisit records referencing the first capture. */
  def writeFetched(fetched: DataFrame, dir: String, prefix: String = "GRAFT",
                   recordsPerFile: Int = 1000,
                   compression: Codecs.Compression = Codecs.GzipCompression,
                   maxFileBytes: Long = DefaultMaxFileBytes,
                   writeRequests: Boolean = true): Long = {
    val sourceCol =
      if (fetched.columns.contains("dedupe_source")) col("dedupe_source")
      else when(col("is_revisit"), lit("local"))
    val projected = fetched.select(
      col("url_norm"), col("page_ts"), col("html"), col("is_revisit"),
      col("payload_digest"), col("refers_to_url"), col("refers_to_ts"),
      sourceCol.as("__source"))
    writeRecordFiles(projected, dir, prefix, recordsPerFile, compression, maxFileBytes) { row =>
      val main =
        if (row.getBoolean(3))
          revisitRecord(row.getString(0), row.getTimestamp(1), row.getAs[Array[Byte]](2),
            row.getString(4), row.getString(5), row.getTimestamp(6),
            localHit = row.getString(7) == "local")
        else pageToRecord(row.getString(0), row.getTimestamp(1), row.getAs[Array[Byte]](2))
      if (!writeRequests) Seq(main)
      else Seq(main, // response-before-request, /root/reference/dialer.go:352-354
        requestRecord(row.getString(0), row.getTimestamp(1),
          main.headers("WARC-Record-ID")))
    }
  }

  /** Write a pages DataFrame (url, warc_ts, html, …) as rotated WARC files
    * under `dir`. Returns the file count. One writer per partition — the
    * writer-pool parallelism model (repartition upstream to choose N). */
  def writePages(pages: DataFrame, dir: String, prefix: String = "GRAFT",
                 recordsPerFile: Int = 1000,
                 compression: Codecs.Compression = Codecs.GzipCompression,
                 maxFileBytes: Long = DefaultMaxFileBytes): Long =
    writeRecordFiles(pages.select(col("url"), col("warc_ts"), col("html")),
      dir, prefix, recordsPerFile, compression, maxFileBytes) { row =>
      Seq(pageToRecord(row.getString(0), row.getTimestamp(1), row.getAs[Array[Byte]](2)))
    }

  /** The reference rotates at WarcSize MB (default 1000 MB,
    * /root/reference/warc.go:148-196, /root/reference/file.go:60-70). */
  final val DefaultMaxFileBytes: Long = 1000L * 1024 * 1024

  /** Shared rotated-file writer: one writer per partition, `.open` rename
    * discipline, one compression member per record (reused codec context),
    * warcinfo per file, rotation at `maxFileBytes` compressed bytes (the
    * reference's size-based rotation) or `recordsPerFile` records,
    * whichever first. */
  private def writeRecordFiles(df: DataFrame, dir: String, prefix: String,
                               recordsPerFile: Int,
                               compression: Codecs.Compression,
                               maxFileBytes: Long)(
      rowToRecords: org.apache.spark.sql.Row => Seq[WarcRecord]): Long = {
    val spark = df.sparkSession
    new java.io.File(dir).mkdirs()
    val written = spark.sparkContext.longAccumulator("warc_files")
    val ext = compression.fileExt
    df.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        val part = org.apache.spark.TaskContext.getPartitionId()
        var serial = 0
        var count = 0
        var out: Codecs.CountingOutputStream = null
        var member: Codecs.MemberWriter = null
        var openPath: java.io.File = null
        var finalPath: java.io.File = null
        def openFile(firstTs: Instant): Unit = {
          val name = f"$prefix-${java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmss").withZone(java.time.ZoneOffset.UTC).format(firstTs)}-$serial%05d-$part%05d$ext"
          finalPath = new java.io.File(dir, name)
          openPath = new java.io.File(dir, name + ".open")
          out = new Codecs.CountingOutputStream(
            new BufferedOutputStream(new FileOutputStream(openPath), 1 << 16))
          member = Codecs.memberWriter(out, compression)
          member.writeMember(WarcCodec.serialize(warcinfo(name, firstTs)))
        }
        def closeFile(): Unit = if (out != null) {
          member.close()
          out.close()
          openPath.renameTo(finalPath)
          written.add(1L)
          out = null; member = null; serial += 1; count = 0
        }
        try {
          it.foreach { row =>
            val recs = rowToRecords(row)
            if (out == null) {
              val ts = recs.head.headers.get("WARC-Date")
                .map(d => Instant.parse(d))
                .getOrElse(Instant.ofEpochSecond(graft.sources.PagesGen.BaseEpochSec))
              openFile(ts)
            }
            // a row's records (a fetch pair) always land in ONE file
            // (/root/reference/warc.go:90: batches are never split)
            recs.foreach { rec =>
              member.writeMember(WarcCodec.serialize(rec))
              count += 1
            }
            if (count >= recordsPerFile ||
                (maxFileBytes > 0 && out.bytesWritten >= maxFileBytes)) closeFile()
          }
        } finally closeFile()
      }
    written.value
  }

  /** WARC archives → the engine's pages table (BASELINE.json input_hint
    * shape): response records become (url, warc_ts, html, text, lang) rows,
    * with `text` re-extracted through the byte-identical decode path and
    * `lang` inferred (the archive doesn't carry it). This closes the loop:
    * a reference user's existing .warc.gz/.warc.zst corpus feeds the
    * frontier, dedup and text-analysis operators directly. */
  def recordsToPages(records: DataFrame): DataFrame = {
    import graft.functions.GraftFunctions._
    records
      .filter(col("warc_type") === "response")
      .select(
        col("target_uri").as("url"),
        col("warc_date").cast("timestamp").as("warc_ts"),
        col("content").as("html"))
      .withColumn("text", http_extract_text(col("html")))
      .withColumn("lang", graft.operators.TextAnalysis.langId(col("text")))
  }

  /** Parallel WARC scan with a *streaming* parse: only file paths are
    * planned up front; each task opens its files as streams and
    * emits records incrementally, so a 1 GB WARC never materializes as
    * one on-heap array. Compression is sniffed from magic bytes, never the
    * filename (gzip/zstd/zstd+dict/bzip2/xz).
    *
    * Files are listed as the `binaryFile` source lists them with
    * `pathGlobFilter` `*.warc*`: the files directly in `dir`, skipping
    * names that start with `_` or `.`. The scan runs `max(defaultParallelism,
    * ceil(bytes / spark.sql.files.maxPartitionBytes))` tasks, at most one
    * per file, and hands out files largest first, each to the task with
    * the fewest bytes so far. Tasks open files through the session's
    * Hadoop configuration, shipped once per scan. An empty listing gives
    * an empty frame with the same schema. */
  def readRecords(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hadoopConf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val files = listWarcFiles(root.getFileSystem(hadoopConf), root)
      .map(st => (st.getPath.toString, st.getLen))
    val tasks = planReadTasks(files, spark.sparkContext.defaultParallelism,
      spark.sessionState.conf.filesMaxPartitionBytes)
    val conf = spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))
    spark.sparkContext.parallelize(tasks.toSeq, math.max(1, tasks.length)).mapPartitions { it =>
      it.flatMap(_.iterator).flatMap { path =>
        val p = new Path(path)
        val raw = p.getFileSystem(conf.value.value).open(p)
        val in = Codecs.sniffStream(new java.io.BufferedInputStream(raw, 1 << 16))
        // streaming record iterator: one record in memory at a time. The
        // stream must be released on EVERY exit path — clean exhaustion, a
        // downstream limit/take that abandons the iterator mid-file, or task
        // failure — so closing is tied to task completion, not iteration.
        val bin = new WarcCodec.RecordInput(in)
        var closed = false
        def closeOnce(): Unit = if (!closed) { closed = true; bin.close() }
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => closeOnce()))
        val first = WarcCodec.readRecord(bin)
        if (first.isEmpty) closeOnce() // zero-record file: release immediately
        new Iterator[WarcRecord] {
          private var nextRec = first
          def hasNext: Boolean = nextRec.isDefined
          def next(): WarcRecord = {
            val r = nextRec.get
            nextRec = WarcCodec.readRecord(bin)
            if (nextRec.isEmpty) closeOnce()
            r
          }
        }.map { r =>
          (path, r.version, r.warcType, r.targetUri,
            r.headers.getOrElse("WARC-Date", ""), r.contentLength,
            r.blockDigest, r.computedBlockDigest, r.headers, r.content)
        }
      }
    }.toDF("path", "version", "warc_type", "target_uri", "warc_date",
      "content_length", "block_digest", "computed_digest", "headers", "content")
  }

  /** The `*.warc*` files directly in `root` (or `root` itself, if it is
    * one such file), as the `binaryFile` source lists them with that
    * `pathGlobFilter`: hidden names — a leading `.`, a leading `_` without
    * `=` — and in-flight `._COPYING_` copies are skipped. Like
    * `binaryFile` on a directory without `k=v` partition subdirectories,
    * the listing does not descend into subdirectories. */
  private[sources] def listWarcFiles(fs: FileSystem, root: Path): Seq[FileStatus] = {
    val glob = new GlobFilter("*.warc*")
    fs.listStatus(root).toSeq.filter { st =>
      val name = st.getPath.getName
      val hidden = (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
        name.endsWith("._COPYING_")
      st.isFile && !hidden && glob.accept(st.getPath)
    }
  }

  /** Groups (path, bytes) files into read tasks: `max(minTasks,
    * ceil(total / maxPartitionBytes))` of them, capped at the file count,
    * filled largest file first, each file to the task with the fewest
    * bytes so far (ties to the lower task index). */
  private[sources] def planReadTasks(files: Seq[(String, Long)], minTasks: Int,
                                     maxPartitionBytes: Long): Array[Array[String]] = {
    if (files.isEmpty) return Array.empty
    val total = files.map(_._2).sum
    val n = math.min(files.length.toLong,
      math.max(minTasks.toLong, (total + maxPartitionBytes - 1) / maxPartitionBytes)).toInt
    val groups = Array.fill(n)(Array.newBuilder[String])
    // (bytes so far, task index), least loaded first
    val queue = new java.util.PriorityQueue[(Long, Int)](n, Ordering[(Long, Int)])
    (0 until n).foreach(t => queue.add((0L, t)))
    files.sortBy { case (path, len) => (-len, path) }.foreach { case (path, len) =>
      val (load, t) = queue.poll()
      groups(t) += path
      queue.add((load + len, t))
    }
    groups.map(_.result())
  }
}
