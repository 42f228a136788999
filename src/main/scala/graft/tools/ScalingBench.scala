package graft.tools

import graft.{Bench, GraftSession}

/** Scaling-efficiency evidence (BASELINE.json north_rule: throughput
  * scaling ≥0.8 from N to 4N executors; sandbox stand-in per driver
  * instruction: the same job at N and 4N local cores on the same input).
  *
  * Levels are the host's cores and every quarter below it down to 1
  * (4 cores: 1 and 4; 32 cores: 2, 8 and 32), one N→4N window per
  * adjacent pair. On a many-core VM the top window under-reports software
  * scalability: all-core frequency sits below few-core turbo (measured
  * 1.76× on a 32-core host with a zero-allocation multiply loop).
  *
  * Each sample runs in a FRESH forked JVM (levels sharing one JVM pollute
  * each other's measurements: heap growth, codegen caches and lingering
  * shuffle dirs from the earlier levels depressed a shared-JVM 32-core
  * run 6× below its standalone number): one warmup + an internally
  * medianed headline. Every level gets three samples, taken round-robin
  * over the levels so a slow host window spreads over all of them, and
  * reports their median. Both phases partition cleanly, so a higher level
  * whose median measures lower marks host interference, not the engine:
  * it is recorded under `inversions`, never retried away. Writes
  * BENCH_SCALING.json.
  */
object ScalingBench {

  private val Samples = 3

  def runAt(cores: Int, nPages: Long): (Double, Double) = {
    val spark = GraftSession.builder(s"local[$cores]", cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.registerAll(spark)
    try {
      Bench.headline(spark, math.min(nPages, 20000L)) // warmup
      // headline itself reports the median of 3 timed passes per phase
      val h = Bench.headline(spark, nPages)
      (h.urlsPerSec, h.extractMBps)
    } finally spark.stop()
  }

  /** One sample in a fresh JVM: (urls/s, extract MB/s). */
  private def forkLevel(cores: Int, nPages: Long): Seq[Double] = {
    import scala.jdk.CollectionConverters._
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(a =>
        a.startsWith("--add-opens") || a.startsWith("--add-exports") || a.startsWith("-Xmx"))
    val cmd = (Seq(javaBin) ++ jvmArgs ++ Seq(
      "-cp", System.getProperty("java.class.path"),
      "graft.tools.ScalingBench", nPages.toString, cores.toString)).asJava
    // stderr is merged into stdout (we only scan for the RESULT line): a
    // child that writes >64 KB of Spark WARN logs to an undrained stderr
    // pipe would block on write and deadlock the parent readAllBytes
    val p = new ProcessBuilder(cmd).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    p.waitFor()
    out.linesIterator.find(_.startsWith("RESULT ")) match {
      case Some(line) => line.split(" ").toSeq.drop(1).map(_.toDouble)
      case None => sys.error(s"level $cores produced no RESULT line:\n$out")
    }
  }

  /** `cores`, `cores / 4`, … down to 1, ascending. */
  private def levels(cores: Int): Seq[Int] = Iterator.iterate(cores)(_ / 4).takeWhile(_ >= 1).toSeq.reverse

  def main(args: Array[String]): Unit = args match {
    case Array(pages, cores) => // child mode: one level, fresh JVM
      val (u, e) = runAt(cores.toInt, pages.toLong)
      println(f"RESULT $u%.0f $e%.1f")

    case _ =>
      val nPages = args.lift(0).map(_.toLong).getOrElse(200000L)
      val cores = Runtime.getRuntime.availableProcessors
      val ls = levels(cores)
      val samples: Map[Int, Seq[Seq[Double]]] = (1 to Samples)
        .flatMap(_ => ls.map(c => c -> forkLevel(c, nPages)))
        .groupMap(_._1)(_._2)
      // the RESULT line's two figures, and their scaling_eff_* names
      val keys = Seq("urls_per_sec", "extract_mbps")
      val effKeys = Seq("urls", "extract")
      val med = samples.map { case (c, ss) => c -> keys.indices.map(i => Bench.median(ss.map(_(i)))) }
      val windows = ls.zip(ls.drop(1))
      def arr(xs: Seq[Any]): String = xs.mkString("[", ",", "]")
      val fields = Seq(s""""pages":$nPages""", s""""cores":$cores""", s""""levels":${arr(ls)}""",
        ls.map(c => s""""$c":""" + keys.indices.map(i => s""""${keys(i)}":${arr(samples(c).map(_(i)))}""")
          .mkString("{", ",", "}")).mkString(""""samples":{""", ",", "}")) ++
        (for (c <- ls; i <- keys.indices) yield f""""${keys(i)}_$c":${med(c)(i)}%.1f""") ++
        (for ((lo, hi) <- windows; i <- keys.indices) yield
          f""""scaling_eff_${effKeys(i)}_${lo}_$hi":${med(hi)(i) / med(lo)(i) / (hi.toDouble / lo)}%.3f""") :+
        (for ((lo, hi) <- windows; i <- keys.indices if med(hi)(i) < med(lo)(i)) yield
          s"""{"metric":"${keys(i)}","lo":$lo,"hi":$hi}""").mkString(""""inversions":[""", ",", "]")
      val json = fields.mkString("{", ",", "}")
      println(json)
      java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_SCALING.json"), json + "\n")
  }
}
