package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration: AQE on (for
  * runtime skew handling on the seen-join), shuffle partitions sized to
  * cores (not the 200 default), UTC timezone for oracle parity.
  */
object GraftSession {
  def builder(master: String, cores: Int): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Scan-split floor: maxSplitBytes = min(maxPartitionBytes,
      // max(openCostInBytes, totalBytes/minPartitionNum)). The 4 MB
      // default open cost dates from HDFS-era file-open latency; on
      // modern storage it only starves compute-bound scans of small-byte
      // inputs (a 56 MB corpus of heavy-kernel docs planned as 14 tasks
      // on 32 cores). 64 KB lets small inputs split to one partition per
      // core while LARGE inputs still cap at maxPartitionBytes — the
      // 100 TB plan shape is unchanged.
      .config("spark.sql.files.openCostInBytes", (64 * 1024).toString)
      // Plan descriptions are diagnostics, yet AQE rebuilds one on every
      // stage update and the SQL status store keeps it. A plan that reuses
      // cached frames prints each cached subtree at every reference, so
      // chaining Crawl.round three times without a checkpoint gives a
      // ~790M-char description (a multi-GB heap spike). Cap it at 8M
      // chars; Spark logs a warning whenever it truncates.
      .config("spark.sql.maxPlanStringLength", (8 * 1024 * 1024).toString)
      // The only round-robin repartition is the table loader's scan-width
      // floor, whose input is a file scan: its row order is deterministic,
      // so the unsorted round-robin is determinate and a retried map task
      // rebuilds the same partitions. The default pre-sort (SPARK-23207)
      // only buys that for inputs whose order is not fixed, and over a
      // one-row-group table it runs in a single task (see Queries.load).
      .config("spark.sql.execution.sortBeforeRepartition", "false")
    // Profiling hook: SPARK_GRAFT_EVENTLOG=<dir> writes the Spark event
    // log there (stage timings + callsites — the forked-run substitute for
    // a live UI in this sandbox). Off by default: it adds listener-bus
    // traffic to every job.
    sys.env.get("SPARK_GRAFT_EVENTLOG").fold(b) { dir =>
      new java.io.File(dir).mkdirs()
      b.config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", dir)
    }
  }

  def local(cores: Int): SparkSession = {
    val spark = builder(s"local[$cores]", cores).getOrCreate()
    spark.sparkContext.setLogLevel(sys.env.getOrElse("SPARK_GRAFT_LOGLEVEL", "WARN"))
    functions.GraftFunctions.registerAll(spark)
    spark
  }
}
