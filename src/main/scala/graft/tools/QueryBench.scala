package graft.tools

import graft.GraftSession

/** Time a subset of SparkEntry queries in isolation:
  * `runMain graft.tools.QueryBench <sfDir> <query>[,<query>...] [passes]`.
  * One warmup at sf0.001 per query, then `passes` timed passes at sfDir
  * (all reported; compare medians — this VM's run-to-run variance is
  * large). */
object QueryBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val passes = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)
    val spark = GraftSession.local(cpus)
    // GRAFT_NO_AQE=1: quantify AQE's per-stage replan overhead on a query
    // (diagnostic only — the engine default keeps AQE on)
    if (sys.env.contains("GRAFT_NO_AQE"))
      spark.conf.set("spark.sql.adaptive.enabled", "false")
    // GRAFT_JOB_LOG=1: per-job wall times on stderr (where does a slow
    // query's time actually go — scheduling, planning, or compute?)
    if (sys.env.contains("GRAFT_JOB_LOG")) {
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        private val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          starts.put(j.jobId, System.nanoTime())
        override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val t0 = starts.remove(j.jobId)
          System.err.println(f"JOB ${j.jobId} ${(System.nanoTime() - t0) / 1e9}%.3f s")
        }
      })
    }
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      // full evaluation of the query's own output — count() alone lets the
      // optimizer prune projections/joins and times almost nothing
      def evaluate(df: org.apache.spark.sql.DataFrame): Long = {
        val rows = spark.sparkContext.longAccumulator
        df.queryExecution.toRdd.foreach(_ => rows.add(1L))
        rows.value
      }
      // warmup failures are loud (the timed pass below propagates anyway)
      try evaluate(fn(spark, "/root/testdata/sf0.001")) catch {
        case e: Throwable => System.err.println(s"QUERY $name warmup failed: $e")
      }
      val times = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        val n = evaluate(fn(spark, sfDir))
        val s = (System.nanoTime() - t0) / 1e9
        (s, n)
      }
      val med = times.map(_._1).sorted.apply(times.length / 2)
      println(f"QUERY $name rows=${times.head._2} median=$med%.2f all=${times.map(t => f"${t._1}%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
