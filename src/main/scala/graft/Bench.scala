package graft

import graft.operators.{Crawl, Frontier}
import graft.sources.PagesGen
import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession

/** Per-round benchmark (driver contract: ONE JSON line on stdout).
  *
  * Two layers:
  *  1. every SparkEntry query timed on SPARK_GRAFT_SF_DIR (median-free
  *     single shot after one warmup — they are small at sf0.1);
  *  2. the headline frontier metrics (BASELINE.md authoritative targets):
  *     urls scheduled/sec through the full canonicalize → seen-filter →
  *     politeness-schedule pipeline, and byte-identical text-extraction
  *     MB/s, both over the deterministic synthetic pages table at a scale
  *     that actually exercises shuffles (HEADLINE_PAGES rows).
  */
object Bench {

  final case class Headline(urlsPerSec: Double, extractMBps: Double,
                            scheduleSec: Double, extractSec: Double, nPages: Long)

  /** One full-size frontier scheduling round (over a 20×-bigger urls-only
    * frontier — scheduling is a metadata problem) + one extraction sweep
    * (over full pages with html bytes). */
  def headline(spark: SparkSession, nPages: Long): Headline = {
    import graft.functions.GraftFunctions._
    val nUrls = nPages * 40
    val cfg = Frontier.Config(defaultBudget = 64, saltBuckets = 1)
    val parts = spark.sparkContext.defaultParallelism * 3
    val frontier = PagesGen.urls(spark, nUrls, 1000, 42L, partitions = parts)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    frontier.count()
    val pages = PagesGen.pages(spark, nPages, 100, 42L).toDF()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bytesTotal = pages.agg(sum(length(col("html")))).head.getLong(0) // materialize

    // seen set = ~30% of canonical url hashes (hash-sampled, deterministic),
    // committed to a partitioned SeenStore — the scale path: per-partition
    // sketches built+probed executor-side, exact anti-join fallback, driver
    // memory independent of |seen| (no global bloom anywhere)
    val canon = Frontier.canonicalize(frontier)
      .select(col("url_norm"), col("url_hash"), col("host"), col("warc_ts"), col("depth"))
    val seenDir = java.nio.file.Files.createTempDirectory("graft-bench-seen").toString
    val store = graft.state.SeenStore(seenDir,
      graft.state.SeenStore.Config(parts = spark.sparkContext.defaultParallelism))
    store.append(canon.filter(pmod(col("url_hash"), lit(10L)) < 3).select("url_hash"), 0L)

    // this VM's run-to-run variance is up to 3×: take the median of 3
    // timed passes per phase (first pass additionally pays JIT/codegen)
    def median3(body: => Unit): Double = {
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        body
        (System.nanoTime() - t0) / 1e9
      }
      times.sorted.apply(1)
    }
    // evaluate() (not count()) — the same honest basis as the per-query
    // timings: count() over the rank filter did evaluate the windows, but
    // the uniform basis evaluates the output columns too (r5 re-base)
    val schedSec = median3 {
      val filtered = store.filterUnseen(canon)
      evaluate(Frontier.schedule(filtered.result, None, cfg))
      filtered.release()
    }
    val extractSec = median3 {
      require(pages.select(http_extract_text(col("html")).as("et"))
        .agg(sum(length(col("et")))).head.getLong(0) > 0)
    }
    frontier.unpersist(); pages.unpersist()
    // scrub the throwaway store
    LocalFiles.deleteRec(new java.io.File(seenDir))
    // urls/sec = frontier candidates pushed through the full pipeline per
    // second (the politeness budget caps emissions, not work done)
    Headline(nUrls / schedSec, bytesTotal / 1e6 / extractSec, schedSec, extractSec, nPages)
  }

  /** Single-thread micro-benches mirroring the reference's defined bench
    * shapes (BASELINE.md): read = full-stream parse + per-record SHA-1
    * block-digest recheck of the golden fixture
    * (/root/reference/read_test.go:334-376); write = serialize + per-record
    * gzip member of the same records (/root/reference/client_test.go:1807+).
    * Returns (read MB/s, write MB/s) over the uncompressed record bytes. */
  def codecMicro(): (Double, Double) = {
    val gz = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/reference/testdata/test.warc.gz"))
    def parseOnce(): Vector[graft.codec.WarcRecord] = {
      val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(gz), 1 << 16)
      try graft.codec.WarcCodec.readAll(in) finally in.close()
    }
    val recs = parseOnce()
    val rawBytes = recs.map(_.content.length.toLong).sum
    // Methodology (r3 lesson: a 74 MB/s "regression" was an under-warmed
    // 70 ms window, not code — fresh-JVM passes 2-3 measure 92-105):
    // warm until JIT settles, then take the MEDIAN of 3 windows, each long
    // enough (n=1500 ≈ 0.4 s read) that scheduler jitter can't dominate.
    def medianOf3(window: () => Double): Double =
      Seq(window(), window(), window()).sorted.apply(1)
    // read = parse + per-record digest recheck, like the reference
    (1 to 200).foreach(_ => parseOnce().foreach(_.computedBlockDigest))
    val n = 1500
    val readSec = medianOf3 { () =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) {
        parseOnce().foreach(r => require(r.computedBlockDigest == r.blockDigest))
        i += 1
      }
      (System.nanoTime() - t0) / 1e9
    }
    // write = serialize + fresh gzip member per record
    def writeAll(): Unit = recs.foreach { r =>
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(graft.codec.WarcCodec.serialize(r)); g.close()
    }
    (1 to 100).foreach(_ => writeAll())
    val wn = 600
    val writeSec = medianOf3 { () =>
      val t1 = System.nanoTime()
      var i = 0
      while (i < wn) { writeAll(); i += 1 }
      (System.nanoTime() - t1) / 1e9
    }
    (rawBytes * n / 1e6 / readSec, rawBytes * wn / 1e6 / writeSec)
  }

  /** The reference's OTHER two defined write benches
    * (/root/reference/client_test.go:1868-1989): same records through a
    * ZSTD member writer, and a >2 MB payload (3,095,926 B, the reference's
    * jpg size — exceeds the 1 MB spool threshold) through gzip. Returns
    * (zstd small MB/s, gzip large MB/s). */
  def codecMicroExtra(): (Double, Double) = {
    val gz = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/reference/testdata/test.warc.gz"))
    val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(gz), 1 << 16)
    val recs = try graft.codec.WarcCodec.readAll(in) finally in.close()
    val rawBytes = recs.map(_.content.length.toLong).sum
    def medianOf3(window: () => Double): Double =
      Seq(window(), window(), window()).sorted.apply(1)
    def writeAllZstd(): Unit = {
      val bos = new java.io.ByteArrayOutputStream(64 << 10)
      val w = graft.codec.Codecs.memberWriter(bos, graft.codec.Codecs.ZstdCompression())
      recs.foreach(r => w.writeMember(graft.codec.WarcCodec.serialize(r)))
      w.close()
    }
    (1 to 100).foreach(_ => writeAllZstd())
    val zn = 600
    val zstdSec = medianOf3 { () =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < zn) { writeAllZstd(); i += 1 }
      (System.nanoTime() - t0) / 1e9
    }
    // >2 MB payload: deterministic bytes, moderate compressibility
    val big = new Array[Byte](3095926)
    var s = 42L
    var i = 0
    while (i < big.length) {
      s = s * 6364136223846793005L + 1442695040888963407L
      big(i) = if ((i & 7) < 5) 'a'.toByte else (s >>> 56).toByte
      i += 1
    }
    val base = recs.find(_.warcType == "response").get
    val bigRec = base.copy(content = big,
      headers = base.headers + ("Content-Length" -> big.length.toString))
    def writeBig(): Unit = {
      val bos = new java.io.ByteArrayOutputStream(1 << 20)
      val w = graft.codec.Codecs.memberWriter(bos, graft.codec.Codecs.GzipCompression)
      w.writeMember(graft.codec.WarcCodec.serialize(bigRec))
      w.close()
    }
    (1 to 10).foreach(_ => writeBig())
    val bn = 25
    val bigSec = medianOf3 { () =>
      val t0 = System.nanoTime()
      var j = 0
      while (j < bn) { writeBig(); j += 1 }
      (System.nanoTime() - t0) / 1e9
    }
    (rawBytes * zn / 1e6 / zstdSec, big.length.toLong * bn / 1e6 / bigSec)
  }

  /** Fixed-work CPU canary: Mops/s of a 64-bit xorshift step on one thread,
    * and the per-thread average with `cores` threads running the same work
    * concurrently. Pure integer register work, zero allocation — these
    * numbers move with the HOST's frequency/steal state and never with the
    * engine's code, so a board whose query times inflate while the canary
    * drops by the same factor is a machine-state change, not a regression
    * (this VM has measured 1.2-1.8× swings across reboots on identical
    * code and data — BASELINE.md "host state"; scripts/canary.sh is the
    * process-level analog for reading historical boards). Emitted in the
    * bench JSON so every board is self-documenting about the machine that
    * produced it. */
  def cpuCanary(cores: Int): (Double, Double) = {
    val N = 200L * 1000 * 1000
    def mix(iters: Long, seed: Long): Long = {
      var s = seed | 1L
      var i = 0L
      while (i < iters) {
        s ^= s << 13; s ^= s >>> 7; s ^= s << 17
        i += 1
      }
      s
    }
    // xorshift64 never reaches 0 from a nonzero seed: the require consumes
    // the result (no dead-code elimination) and never fires
    require(mix(N / 4, 42L) != 0L) // JIT warm
    // median of 3 windows per level: this VM's steal windows move even the
    // fixed-work canary by >50% between single 0.2 s windows (measured
    // 284 vs 440 Mops minutes apart), so one window reports a moment, not
    // the typical state of the run it rides with
    def median3(body: => Double): Double =
      Seq(body, body, body).sorted.apply(1)
    val single = median3 {
      val t0 = System.nanoTime()
      require(mix(N, 43L) != 0L)
      N / ((System.nanoTime() - t0) / 1e9) / 1e6
    }
    val allcore = median3 {
      val perThread = new Array[Double](cores)
      val threads = (0 until cores).map { i =>
        new Thread(() => {
          val t = System.nanoTime()
          require(mix(N, 100L + i) != 0L)
          perThread(i) = N / ((System.nanoTime() - t) / 1e9) / 1e6
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      perThread.sum / cores
    }
    (single, allcore)
  }

  /** Full evaluation of the query's own output columns. A bare count()
    * is NOT a faithful timing: the optimizer prunes the projections and
    * eliminates cardinality-preserving joins under it, so a narrow query
    * would be timed as little more than a row-count of its source scan
    * (measured: d07's real evaluation is ~100× its count() time). */
  def evaluate(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.toRdd.foreach(_ => ())

  /** One timed pass per query; a query that THROWS is recorded as an error
    * (class + message), never silently timed as ~0 s — a crashing query
    * must be visible in the bench JSON, not disguised as a fast one. */
  def timeQueries(spark: SparkSession, sfDir: String,
                  queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame])
      : Seq[(String, Double, Option[String])] =
    queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      val err = try { evaluate(fn(spark, sfDir)); None } catch {
        case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      (name, (System.nanoTime() - t0) / 1e9, err)
    }

  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `{"name":"msg",...}` for the failed queries — empty on a healthy run. */
  def errorsJson(results: Seq[(String, Double, Option[String])]): String =
    results.collect { case (k, _, Some(m)) => s"${jsonStr(k)}:${jsonStr(m)}" }
      .mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)
    val nPages = sys.env.getOrElse("SPARK_GRAFT_BENCH_PAGES", "150000").toLong
    // spot-bench: comma-separated query names; skips headline + codec
    // micros (their numbers would not be comparable to a full run anyway)
    val only: Set[String] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSet).getOrElse(Set.empty)
    // Profiling hook (like SPARK_GRAFT_EVENTLOG): SPARK_GRAFT_STACKDUMP_SEC=N
    // dumps every thread's stack to stderr every N seconds. local[*] runs
    // executors in THIS JVM, so this sees task threads directly — the
    // ground-truth lock finder on a box where jstack cannot attach.
    sys.env.get("SPARK_GRAFT_STACKDUMP_SEC").map(_.toInt).foreach { sec =>
      val t = new Thread(() => {
        while (true) {
          Thread.sleep(sec * 1000L)
          val all = Thread.getAllStackTraces
          System.err.println(s"==== stack dump @${System.currentTimeMillis()} ====")
          all.forEach { (th, st) =>
            if (th.getName.contains("Executor task launch")) {
              System.err.println(s"-- ${th.getName} state=${th.getState}")
              st.take(12).foreach(f => System.err.println(s"   at $f"))
            }
          }
        }
      })
      t.setDaemon(true)
      t.start()
    }
    val spark = GraftSession.local(cpus)

    if (only.nonEmpty) {
      // canary rides every spot board too: a spot re-run is only comparable
      // to the full board it is checked against modulo this host's shading
      val (spotCanSingle, spotCanAll) = cpuCanary(cpus)
      val qs = SparkEntry.queries.filter { case (k, _) => only(k) }
      qs.foreach { case (_, fn) =>
        try evaluate(fn(spark, "/root/testdata/sf0.001")) catch { case _: Throwable => }
      }
      val results = timeQueries(spark, sfDir, qs)
      val qj = results.map { case (k, v, _) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
      println(f"""{"metric":"graft_spot","queries":$qj,"errors":${errorsJson(results)},"sf":"$sfDir","cores":$cpus,"canary_single_mops":$spotCanSingle%.1f,"canary_allcore_mops":$spotCanAll%.1f}""")
      spark.stop()
      return
    }

    // host-state canary first, on a quiet JVM (before any Spark work):
    // fixed integer work, so it prices THIS machine, not the engine
    val (canSingle, canAll) = cpuCanary(cpus)

    // single-thread codec micro first: it must not time GC pauses left
    // behind by the multi-GB headline phase
    val (readMBps, writeMBps) = codecMicro()
    val (writeZstdMBps, writeLargeMBps) = codecMicroExtra()

    // warmup: touch every table + codegen paths once (failures surface in
    // the timed pass below, where they are recorded per query)
    SparkEntry.queries.foreach { case (_, fn) =>
      try evaluate(fn(spark, "/root/testdata/sf0.001")) catch { case _: Throwable => }
    }

    val results = timeQueries(spark, sfDir, SparkEntry.queries)
    val h = headline(spark, nPages)

    val qs = results.map { case (k, v, _) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    val errs = errorsJson(results)
    val total = results.map(_._2).sum + h.scheduleSec + h.extractSec
    println(
      f"""{"metric":"graft_round_total","value":$total%.3f,"unit":"sec","queries":$qs,"errors":$errs%s,"sf":"$sfDir","cores":$cpus,"frontier_urls_per_sec":${h.urlsPerSec}%.0f,"extract_mb_per_sec":${h.extractMBps}%.1f,"headline_pages":${h.nPages},"schedule_sec":${h.scheduleSec}%.3f,"extract_sec":${h.extractSec}%.3f,"warc_read_mb_per_sec":$readMBps%.1f,"warc_write_mb_per_sec":$writeMBps%.1f,"warc_write_zstd_mb_per_sec":$writeZstdMBps%.1f,"warc_write_large_mb_per_sec":$writeLargeMBps%.1f,"canary_single_mops":$canSingle%.1f,"canary_allcore_mops":$canAll%.1f,"canary_allcore_ratio":${canAll / canSingle}%.3f}""")
    spark.stop()
  }
}
