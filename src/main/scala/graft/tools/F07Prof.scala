package graft.tools

import graft.operators.{Crawl, Frontier}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Diagnostic: where does an f07 pass spend its wall time? Replays the
  * f07 harness loop phase by phase and prints per-step wall + the
  * QueryPlanningTracker phase breakdown of each round's one action.
  * `runMain graft.tools.F07Prof <sfDir> [passes]` — throwaway profiling
  * surface, not part of the query contract. */
object F07Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val passes = if (args.length > 1) args(1).toInt else 3
    val spark = graft.GraftSession.local(
      sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt))
    spark.sparkContext.setLogLevel("ERROR")
    // GRAFT_PROF_CONF="k=v,k=v": runtime conf overrides for A/B probes
    sys.env.get("GRAFT_PROF_CONF").foreach(_.split(",").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    })
    import spark.implicits._

    def pass(tag: String): Unit = {
      def ms(t0: Long) = (System.nanoTime() - t0) / 1e6
      var t0 = System.nanoTime()
      val web = Crawl.asWeb(graft.Queries.webLiteForProf(spark, sfDir)).localCheckpoint(true)
      println(f"$tag web_ck ${ms(t0)}%.0f ms")
      val politeness = (0 until 7).map(h => (s"host$h.example", 1 + h % 3))
        .toDF("host", "budget")
      val robots = (0 until 7).filter(_ % 2 == 0)
        .map(h => (s"host$h.example", "User-agent: *\nDisallow: /doc/1"))
        .toDF("host", "body")
      val seedUs = Seq(0, 2, 3, 5, 8, 11, 17, 21, 26, 30, 39, 44)
      val seeds = seedUs.map(u => s"HTTPS://host${u % 7}.example:443/doc/$u")
        .toDF("url")
        .withColumn("depth", lit(0))
        .withColumn("warc_ts", expr("TIMESTAMP '2022-03-20 03:55:45'"))
      val cfg = Frontier.Config(defaultBudget = 2, maxBudgetHint = 3)
      var frontier = seeds
      var seen: Option[DataFrame] = None
      var out: Option[DataFrame] = None
      for (r <- 1 to 3) {
        t0 = System.nanoTime()
        val o = Crawl.round(frontier, seen, web, Some(robots), Some(politeness),
          cfg, withCounters = false)
        val build = ms(t0)
        t0 = System.nanoTime()
        val ck0 = o.fetched.select(lit(0).as("__t"), lit(r).as("round"),
            col("url_norm"), col("depth"), col("batch_rank"),
            col("is_revisit"), col("refers_to_url"), col("text_ok"))
          .unionByName(o.newSeen.select(lit(1).as("__t"), col("url_hash"),
            col("url_norm")), allowMissingColumns = true)
          .unionByName(o.nextFrontier.select(lit(2).as("__t"), col("url"),
            col("depth"), col("warc_ts")), allowMissingColumns = true)
        val analyzeMs = ms(t0)
        ck0.queryExecution.assertAnalyzed()
        t0 = System.nanoTime()
        val ck = ck0.localCheckpoint(true)
        val ckMs = ms(t0)
        val phases = ck0.queryExecution.tracker.phases
          .map { case (k, v) => s"$k=${v.endTimeMs - v.startTimeMs}ms" }.mkString(" ")
        println(f"$tag r$r build=$build%.0f ms ck=$ckMs%.0f ms [$phases]")
        val tagged = ck.filter(col("__t") === 0).select("round", "url_norm",
          "depth", "batch_rank", "is_revisit", "refers_to_url", "text_ok")
        out = Some(out.map(_.unionByName(tagged)).getOrElse(tagged))
        val newSeen = ck.filter(col("__t") === 1).select("url_hash", "url_norm")
        seen = Some(seen.map(_.unionByName(newSeen)).getOrElse(newSeen))
        frontier = ck.filter(col("__t") === 2).select("url", "depth", "warc_ts")
        o.release()
      }
      t0 = System.nanoTime()
      val n = out.get.orderBy("round", "url_norm").count()
      println(f"$tag final_sort ${ms(t0)}%.0f ms rows=$n")
    }
    pass("warmup")
    (1 to passes).foreach { i =>
      val t0 = System.nanoTime()
      pass(s"pass$i")
      println(f"pass$i TOTAL ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
