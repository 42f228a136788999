package graft

import graft.operators.Frontier
import graft.sources.PagesGen
import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession

/** Diagnostic benchmarks SUPPLEMENTING the frozen graft.Bench (guide §1.4):
  * noop-sink / phase-isolated timings whose numbers are cited in
  * OPTIMIZATION_r06.md. Never a replacement for Bench — the driver's board
  * comes only from Bench's own JSON line.
  *
  * Modes (first arg):
  *   headline [nPages]  — the Bench.headline schedule phase, split into its
  *                        stages (canonicalize+probe vs full schedule), each
  *                        timed via the same toRdd.foreach evaluation, plus
  *                        the end-to-end phase exactly as Bench times it.
  *   queries q1,q2,...  — per-query noop-sink isolation: evaluate with the
  *                        noop writer (computes every column, discards — the
  *                        honest no-sink timing) 3×, report each pass.
  */
object BenchExtra {

  def evaluate(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.toRdd.foreach(_ => ())

  def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def time(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(cpus)
    args.headOption.getOrElse("headline") match {
      case "headline" =>
        val nPages = args.lift(1).map(_.toLong).getOrElse(150000L)
        // optional 3rd arg "routed" forces the pre-r6 probe shape (the
        // __seen_part exchange) for the A/B in OPTIMIZATION_r06.md
        if (args.lift(2).contains("routed"))
          spark.conf.set("spark.graft.seenstore.directProbeMaxBytes", "0")
        headline(spark, nPages)
      case "headlineab" =>
        // routed-vs-direct probe A/B in ONE JVM, interleaved (3 pairs):
        // strips boot/JIT/page-cache shading out of the comparison
        val nPages = args.lift(1).map(_.toLong).getOrElse(150000L)
        headlineAb(spark, nPages)
      case "bpetrain" =>
        // distributed BPE trainer throughput at sfDir: wall + merges/sec,
        // with per-phase marks every 256 merges (the delta-trainer claim:
        // per-merge wall flat after merge 1, not growing with merges)
        val nMerges = args.lift(1).map(_.toInt).getOrElse(1024)
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        val t0 = System.nanoTime()
        val merges = graft.codec.Bpe.trainDistributed(docs, nMerges)
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"BENCHX bpetrain nMerges=${merges.size} wall=$wall%.1f merges_per_sec=${merges.size / wall}%.2f")
      case "queries" =>
        val names = args(1).split(",").toSet
        val qs = SparkEntry.queries.filter { case (k, _) => names(k) }
        // warmup at the smallest tier
        qs.foreach { case (_, fn) =>
          try evaluate(fn(spark, "/root/testdata/sf0.001")) catch { case _: Throwable => }
        }
        qs.toSeq.sortBy(_._1).foreach { case (name, fn) =>
          spark.sparkContext.setJobDescription(s"bench-extra: $name")
          val ts = (1 to 3).map(_ => time(noop(fn(spark, sfDir))))
          println(f"BENCHX $name noop3 ${ts.map(t => f"$t%.3f").mkString(",")}")
        }
      case other => sys.error(s"unknown mode $other")
    }
    spark.stop()
  }

  def headlineAb(spark: SparkSession, nPages: Long): Unit = {
    val nUrls = nPages * 40
    val cfg = Frontier.Config(defaultBudget = 64, saltBuckets = 1)
    val parts = spark.sparkContext.defaultParallelism * 3
    val frontier = PagesGen.urls(spark, nUrls, 1000, 42L, partitions = parts)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    frontier.count()
    val canon = Frontier.canonicalize(frontier)
      .select(col("url_norm"), col("url_hash"), col("host"), col("warc_ts"), col("depth"))
    val seenDir = java.nio.file.Files.createTempDirectory("graft-benchx-seen").toString
    val store = graft.state.SeenStore(seenDir,
      graft.state.SeenStore.Config(parts = spark.sparkContext.defaultParallelism))
    store.append(canon.filter(pmod(col("url_hash"), lit(10L)) < 3).select("url_hash"), 0L)
    def phase(): Double = time {
      val f = store.filterUnseen(canon)
      evaluate(Frontier.schedule(f.result, None, cfg))
      f.release()
    }
    // one warm pass per shape, then 3 interleaved timed pairs
    val key = "spark.graft.seenstore.directProbeMaxBytes"
    spark.conf.set(key, "0"); phase()
    spark.conf.unset(key); phase()
    val pairs = (1 to 3).map { _ =>
      spark.conf.set(key, "0")
      val r = phase()
      spark.conf.unset(key)
      val d = phase()
      println(f"BENCHX ab routed=$r%.3f direct=$d%.3f")
      (r, d)
    }
    val rm = pairs.map(_._1).sorted.apply(1)
    val dm = pairs.map(_._2).sorted.apply(1)
    println(f"BENCHX ab-median routed=$rm%.3f direct=$dm%.3f urls_direct=${nUrls / dm}%.0f")
    frontier.unpersist()
    LocalFiles.deleteRec(new java.io.File(seenDir))
  }

  /** Bench.headline's schedule phase, stage-isolated. Mirrors Bench.headline
    * verbatim (same generator, same persist, same store, same cfg) — only
    * the timing cuts differ. */
  def headline(spark: SparkSession, nPages: Long): Unit = {
    val nUrls = nPages * 40
    val cfg = Frontier.Config(defaultBudget = 64, saltBuckets = 1)
    val parts = spark.sparkContext.defaultParallelism * 3
    val frontier = PagesGen.urls(spark, nUrls, 1000, 42L, partitions = parts)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    frontier.count()
    val canon = Frontier.canonicalize(frontier)
      .select(col("url_norm"), col("url_hash"), col("host"), col("warc_ts"), col("depth"))
    val seenDir = java.nio.file.Files.createTempDirectory("graft-benchx-seen").toString
    val store = graft.state.SeenStore(seenDir,
      graft.state.SeenStore.Config(parts = spark.sparkContext.defaultParallelism))
    store.append(canon.filter(pmod(col("url_hash"), lit(10L)) < 3).select("url_hash"), 0L)
    def median3(body: => Unit): Double = {
      val times = (1 to 3).map(_ => time(body))
      println(f"BENCHX   passes ${times.map(t => f"$t%.3f").mkString(",")}")
      times.sorted.apply(1)
    }
    spark.sparkContext.setJobDescription("benchx: canonicalize only")
    val tCanon = median3(evaluate(canon))
    spark.sparkContext.setJobDescription("benchx: canonicalize+probe")
    val tProbe = median3 {
      val f = store.filterUnseen(canon)
      evaluate(f.result)
      f.release()
    }
    spark.sparkContext.setJobDescription("benchx: full schedule phase")
    val tFull = median3 {
      val f = store.filterUnseen(canon)
      evaluate(Frontier.schedule(f.result, None, cfg))
      f.release()
    }
    println(f"BENCHX headline nUrls=$nUrls canonicalize=$tCanon%.3f probe=$tProbe%.3f full=$tFull%.3f urls_per_sec=${nUrls / tFull}%.0f")
    frontier.unpersist()
    LocalFiles.deleteRec(new java.io.File(seenDir))
  }
}
