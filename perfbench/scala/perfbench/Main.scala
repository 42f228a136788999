package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** The benchmark's JVM: runs one workload in one local Spark JVM and writes
  * every raw sample to a JSON file; `perfbench/run.py` turns the samples
  * into metrics and checks the board against DuckDB.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <cores> <workDir> <out.json> [tierDir]
  */
object Main {
  final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, cores: Int,
                       workDir: String, tierDir: Option[String], rec: Recorder)

  def main(args: Array[String]): Unit = {
    require(args.length >= 7, "usage: perfbench.Main <workload> <seed> <seconds> <trace> <cores> <workDir> <out.json> [tierDir]")
    val workload = args(0)
    val (seed, seconds, trace, cores) = (args(1).toLong, args(2).toInt, args(3) == "1", args(4).toInt)
    val (workDir, outPath) = (args(5), args(6))
    val rec = new Recorder(trace, s"$workload-$seed-${if (trace) "traced" else "plain"}")
    val spark = GraftSession.local(cores)
    spark.sparkContext.setLogLevel("ERROR")
    val readyMs = System.currentTimeMillis()
    if (trace) spark.sparkContext.addSparkListener(rec.jobs)
    val ctx = Ctx(spark, seed, seconds, cores, workDir, args.lift(7), rec)
    val canary = Canary.run(cores)
    val extra = workload match {
      case "frontier-burst" => FrontierBurst.run(ctx)
      case "crawl-rounds" => CrawlRounds.run(ctx)
      case "warc-roundtrip" => WarcRoundtrip.run(ctx)
      case "webtext-board" => WebtextBoard.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val kernels = if (trace) Kernels.run(ctx) else Map.empty[String, Double]
    org.apache.spark.perfbench.Drain(spark.sparkContext)
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cores" -> cores, "ready_ms" -> readyMs, "setups_s" -> rec.setups.toSeq,
      "ops" -> rec.ops.toSeq, "facts" -> rec.facts, "spans" -> rec.spans.toSeq,
      "jobs" -> (if (trace) rec.jobs.snapshot() else Seq.empty),
      "kernels" -> kernels, "canary" -> canary,
      "peak_rss_kb" -> Canary.peakRssKb()) ++ extra
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath), mapper.writeValueAsBytes(out))
    spark.stop()
  }

  /** Full evaluation of a plan's output columns — the same basis as the
    * program's own board (`graft.Bench.evaluate`) — returning the row count. */
  def evaluate(df: DataFrame): Long = df.queryExecution.toRdd.count()

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length
    else Option(f.listFiles()).map(_.map(c => dirBytes(c.getPath)).sum).getOrElse(0L)
  }
}

/** Run metadata: a fixed-work CPU canary sized to the host's cores, and the
  * process's peak resident set. The canary is `graft.Bench.cpuCanary`'s
  * method at a fifth of its work: that one takes about 3 s, which every run
  * would pay. */
object Canary {
  private def mix(iters: Long, seed: Long): Long = {
    var s = seed | 1L
    var i = 0L
    while (i < iters) { s ^= s << 13; s ^= s >>> 7; s ^= s << 17; i += 1 }
    s
  }

  /** Mops/s of xorshift steps on one thread, and per thread with `cores`
    * threads at once (median of 3 windows each). */
  def run(cores: Int): Map[String, Double] = {
    val n = 40L * 1000 * 1000
    require(mix(n / 4, 42L) != 0L)
    def timed(seed: Long): Double = {
      val t0 = System.nanoTime()
      require(mix(n, seed) != 0L)
      n / ((System.nanoTime() - t0) / 1e9) / 1e6
    }
    def median3(f: => Double): Double = Seq(f, f, f).sorted.apply(1)
    val single = median3(timed(43L))
    val all = median3 {
      val per = new Array[Double](cores)
      val ts = (0 until cores).map(i => new Thread(() => per(i) = timed(100L + i)))
      ts.foreach(_.start()); ts.foreach(_.join())
      per.sum / cores
    }
    Map("single_mops" -> single, "allcore_mops" -> all, "threads" -> cores.toDouble)
  }

  def peakRssKb(): Long = {
    val status = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/self/status")), "UTF-8")
    status.split("\n").find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
  }
}
