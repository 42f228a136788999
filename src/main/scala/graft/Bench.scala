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

  /** Wall seconds of one run of `body`: the one clock every timing the
    * program prints reads. */
  def seconds(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** The middle of an odd number of samples. This VM's run-to-run variance
    * is up to 3×, so every repeated timing the program prints is the median
    * of a fixed number of samples: never a best-of, never retried until it
    * looks right. */
  def median(samples: Seq[Double]): Double = {
    require(samples.size % 2 == 1, s"median needs an odd sample count, got ${samples.size}")
    samples.sorted.apply(samples.size / 2)
  }

  /** The median of `n` evaluations of `sample`; an even `n` is rejected
    * before any sample is drawn. */
  def median(n: Int)(sample: => Double): Double = {
    require(n % 2 == 1, s"median needs an odd sample count, got $n")
    median(Seq.fill(n)(sample))
  }

  /** The golden WARC fixture of the codec micro-bench, `w01_warc_fixture`
    * and the codec specs. */
  val FixtureWarc = "/root/reference/testdata/test.warc.gz"

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

    // median of 3 timed passes per phase (the first pass additionally pays
    // JIT/codegen). evaluate() (not count()) — the same honest basis as the
    // per-query timings: count() over the rank filter did evaluate the
    // windows, but the uniform basis evaluates the output columns too
    val schedSec = median(3)(seconds {
      evaluate(Frontier.schedule(store.filterUnseen(canon).result, None, cfg))
    })
    val extractSec = median(3)(seconds {
      require(pages.select(http_extract_text(col("html")).as("et"))
        .agg(sum(length(col("et")))).head.getLong(0) > 0)
    })
    frontier.unpersist(); pages.unpersist()
    // scrub the throwaway store
    LocalFiles.deleteRec(new java.io.File(seenDir))
    // urls/sec = frontier candidates pushed through the full pipeline per
    // second (the politeness budget caps emissions, not work done)
    Headline(nUrls / schedSec, bytesTotal / 1e6 / extractSec, schedSec, extractSec, nPages)
  }

  /** MB/s of the four single-thread WARC codec kernels. */
  final case class CodecRates(readMBps: Double, writeMBps: Double,
                              writeZstdMBps: Double, writeLargeMBps: Double)

  /** Single-thread micro-benches mirroring the reference's defined bench
    * shapes (BASELINE.md), over the records of one gzipped WARC file:
    *  - read = full-stream parse + per-record SHA-1 block-digest recheck
    *    (/root/reference/read_test.go:334-376);
    *  - write = serialize + per-record gzip member of the same records
    *    (/root/reference/client_test.go:1807+);
    *  - write zstd = the same records through a ZSTD member writer, and
    *    write large = a >2 MB payload (3,095,926 B, the reference's jpg
    *    size — exceeds the 1 MB spool threshold) through gzip
    *    (/root/reference/client_test.go:1868-1989).
    * Rates are over the uncompressed record bytes. The file needs a
    * `response` record (the large write's headers come from it). */
  def codecMicro(fixturePath: String): CodecRates = {
    import graft.codec.{Codecs, WarcCodec, WarcRecord}
    val gz = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(fixturePath))
    def parseOnce(): Vector[WarcRecord] = {
      val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(gz), 1 << 16)
      try WarcCodec.readAll(in) finally in.close()
    }
    val recs = parseOnce()
    val rawMB = recs.map(_.content.length.toLong).sum / 1e6
    // Methodology (r3 lesson: a 74 MB/s "regression" was an under-warmed
    // 70 ms window, not code — fresh-JVM passes 2-3 measure 92-105):
    // `warm` passes until JIT settles, then the MEDIAN of 3 windows of `n`
    // passes, each long enough (read: n=1500 ≈ 0.4 s) that scheduler
    // jitter can't dominate
    def mbPerSec(mbPerPass: Double, warm: Int, n: Int)(pass: => Unit): Double = {
      (1 to warm).foreach(_ => pass)
      mbPerPass * n / median(3)(seconds((1 to n).foreach(_ => pass)))
    }
    val read = mbPerSec(rawMB, 200, 1500) {
      parseOnce().foreach(r => require(r.computedBlockDigest == r.blockDigest))
    }
    // fresh gzip member per record
    val write = mbPerSec(rawMB, 100, 600) {
      recs.foreach { r =>
        val bos = new java.io.ByteArrayOutputStream()
        val g = new java.util.zip.GZIPOutputStream(bos)
        g.write(WarcCodec.serialize(r)); g.close()
      }
    }
    val writeZstd = mbPerSec(rawMB, 100, 600) {
      val w = Codecs.memberWriter(new java.io.ByteArrayOutputStream(64 << 10), Codecs.ZstdCompression())
      recs.foreach(r => w.writeMember(WarcCodec.serialize(r)))
      w.close()
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
    val writeLarge = mbPerSec(big.length / 1e6, 10, 25) {
      val w = Codecs.memberWriter(new java.io.ByteArrayOutputStream(1 << 20), Codecs.GzipCompression)
      w.writeMember(WarcCodec.serialize(bigRec))
      w.close()
    }
    CodecRates(read, write, writeZstd, writeLarge)
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
    def mops(seed: Long): Double = N / seconds(require(mix(N, seed) != 0L)) / 1e6
    val single = median(3)(mops(43L))
    val allcore = median(3) {
      val perThread = new Array[Double](cores)
      val threads = (0 until cores).map(i => new Thread(() => perThread(i) = mops(100L + i)))
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
      var err: Option[String] = None
      val sec = seconds {
        try evaluate(fn(spark, sfDir)) catch {
          case e: Throwable =>
            err = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        }
      }
      (name, sec, err)
    }

  /** A JSON string literal: backslash, quote and ALL control chars (<0x20)
    * escaped — a tab or CR in an error message or the oracle SQL would
    * otherwise make a reader's json.load fail. */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `{"name":seconds,...}` for every timed query. */
  private def queriesJson(results: Seq[(String, Double, Option[String])]): String =
    results.map { case (k, v, _) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")

  /** `{"name":"msg",...}` for the failed queries — empty on a healthy run. */
  def errorsJson(results: Seq[(String, Double, Option[String])]): String =
    results.collect { case (k, _, Some(m)) => s"${jsonStr(k)}:${jsonStr(m)}" }
      .mkString("{", ",", "}")

  /** One untimed pass of `queries` on the smallest tier (touches every
    * table and codegen path; failures surface in the timed pass, where they
    * are recorded per query), then the timed pass on `sfDir`. */
  private def warmThenTime(spark: SparkSession, sfDir: String,
                           queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame])
      : Seq[(String, Double, Option[String])] = {
    queries.foreach { case (_, fn) =>
      try evaluate(fn(spark, "/root/testdata/sf0.001")) catch { case _: Throwable => }
    }
    timeQueries(spark, sfDir, queries)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)
    val nPages = sys.env.getOrElse("SPARK_GRAFT_BENCH_PAGES", "150000").toLong
    // spot-bench: comma-separated query names; skips headline + codec
    // micros (their numbers would not be comparable to a full run anyway)
    val only: Set[String] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSet).getOrElse(Set.empty)
    val spark = GraftSession.local(cpus)

    // host-state canary first, on a quiet JVM (before any Spark work):
    // fixed integer work, so it prices THIS machine, not the engine. It
    // rides every spot board too: a spot re-run is only comparable to the
    // full board it is checked against modulo this host's shading
    val (canSingle, canAll) = cpuCanary(cpus)

    if (only.nonEmpty) {
      val results = warmThenTime(spark, sfDir, SparkEntry.queries.filter { case (k, _) => only(k) })
      println(f"""{"metric":"graft_spot","queries":${queriesJson(results)},"errors":${errorsJson(results)},"sf":"$sfDir","cores":$cpus,"canary_single_mops":$canSingle%.1f,"canary_allcore_mops":$canAll%.1f}""")
      spark.stop()
      return
    }

    // single-thread codec micro first: it must not time GC pauses left
    // behind by the multi-GB headline phase
    val c = codecMicro(FixtureWarc)
    val results = warmThenTime(spark, sfDir, SparkEntry.queries)
    val h = headline(spark, nPages)

    val total = results.map(_._2).sum + h.scheduleSec + h.extractSec
    println(
      f"""{"metric":"graft_round_total","value":$total%.3f,"unit":"sec","queries":${queriesJson(results)},"errors":${errorsJson(results)}%s,"sf":"$sfDir","cores":$cpus,"frontier_urls_per_sec":${h.urlsPerSec}%.0f,"extract_mb_per_sec":${h.extractMBps}%.1f,"headline_pages":${h.nPages},"schedule_sec":${h.scheduleSec}%.3f,"extract_sec":${h.extractSec}%.3f,"warc_read_mb_per_sec":${c.readMBps}%.1f,"warc_write_mb_per_sec":${c.writeMBps}%.1f,"warc_write_zstd_mb_per_sec":${c.writeZstdMBps}%.1f,"warc_write_large_mb_per_sec":${c.writeLargeMBps}%.1f,"canary_single_mops":$canSingle%.1f,"canary_allcore_mops":$canAll%.1f,"canary_allcore_ratio":${canAll / canSingle}%.3f}""")
    spark.stop()
  }
}
