package graft.tools

import graft.{Bench, GraftSession}
import graft.operators.{Crawl, Frontier}
import graft.sources.PagesGen

/** CLI: run a multi-round crawl over the deterministic synthetic web and
  * print per-round lineage counters — the end-to-end drive surface for the
  * frontier + fetch scheduler.
  *
  * Usage: CrawlTool [nPages] [rounds] [seeds] [cores] [stateDir]
  *        CrawlTool pipeline [nPages] [cores] [workDir]
  *
  * `pipeline` exercises the whole reference-user surface in one pass:
  * crawl (robots + politeness + dedup) → archive as zstd+dictionary WARC →
  * verify block+payload digests → extract payloads → re-ingest the archive
  * as a pages table and prove it drives the engine again.
  */
object CrawlTool {

  def pipeline(nPages: Long, cores: Int, workDir: String): Unit = {
    import graft.codec.{Codecs, WarcCodec}
    import graft.sources.WarcIO
    val spark = GraftSession.local(cores)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val nHosts = 50
    val dir = new java.io.File(workDir); dir.mkdirs()

    // 1. crawl two rounds with robots + crawl-delay-derived budgets
    val web = Crawl.asWeb(PagesGen.pages(spark, nPages, nHosts, 42L).toDF()).cache()
    val robots = (0 until nHosts).map(h =>
      (s"host$h.example", s"User-agent: *\nDisallow: /doc/1$$\nCrawl-delay: ${1 + h % 4}"))
      .toDF("host", "body")
    val cfg = Frontier.Config(defaultBudget = 8, saltBuckets = 8, sizeThreshold = 100)
    val politeness = Frontier.budgetsFromRobots(robots, windowSec = 30.0, cfg)
    // cross-round digest dedup through the persisted bucketed index: a
    // page whose payload matched an EARLIER round's capture becomes a
    // revisit referencing it (the reference's crawl-lifetime dedupe map)
    val didx = graft.state.DigestIndex.Ref("graft_pipeline_didx", s"$workDir/didx", nBuckets = cores)
    graft.state.DigestIndex.drop(spark, didx)
    val res = Crawl.crawl(spark, web, PagesGen.seeds(nPages, 200, nHosts, 42L), 2,
      robots = Some(robots), politeness = Some(politeness), cfg = cfg,
      digestIndex = Some(didx))
    res.rounds.zipWithIndex.foreach { case (c, i) =>
      println(s"round $i: " + c.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))
    }
    require(res.rounds.forall(_("text_mismatches") == 0L), "byte-identical extraction violated")

    // 2. archive as zstd + embedded dictionary
    val dict = ("<a href= https://host .example/doc/ HTTP/1.1 200 OK Content-Type: text/html" * 40)
      .getBytes("UTF-8")
    val warcDir = s"$workDir/warc"
    val nFiles = WarcIO.writeFetched(res.allFetched, warcDir, recordsPerFile = 500,
      compression = Codecs.ZstdCompression(Some(dict)))
    println(s"archived ${res.allFetched.count()} records to $nFiles .warc.zst files (dict ${dict.length} B)")

    // 3. verify every record's block digest via the distributed reader
    val back = WarcIO.readRecords(spark, warcDir).cache()
    val badBlocks = back.filter(col("block_digest") =!= col("computed_digest")).count()
    require(badBlocks == 0, s"$badBlocks block digest mismatches")
    // payload digests via the CLI verifier path on one file
    val oneFile = new java.io.File(warcDir).listFiles()
      .filter(_.getName.endsWith(".warc.zst")).head.getPath
    WarcTool.main(Array("verify", oneFile))

    // 4. extract payloads with filename fidelity
    WarcTool.main(Array("extract", oneFile, s"$workDir/extracted", "--hash-suffix"))

    // 5. re-ingest the archive as a pages table and drive the engine on it
    val pages2 = WarcIO.recordsToPages(back)
    val n2 = pages2.count()
    val canon = Frontier.canonicalize(pages2).count()
    println(s"re-ingested $n2 pages from the archive; $canon canonicalized frontier rows")
    require(n2 > 0 && canon == n2)
    println("pipeline OK")
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("pipeline")) {
      pipeline(
        args.lift(1).map(_.toLong).getOrElse(20000L),
        args.lift(2).map(_.toInt).getOrElse(8),
        args.lift(3).getOrElse(java.nio.file.Files.createTempDirectory("graft-pipeline").toString))
      return
    }
    val n = args.lift(0).map(_.toLong).getOrElse(20000L)
    val rounds = args.lift(1).map(_.toInt).getOrElse(3)
    val nSeeds = args.lift(2).map(_.toInt).getOrElse(100)
    val cores = args.lift(3).map(_.toInt).getOrElse(8)
    val stateDir = args.lift(4)
    val spark = GraftSession.local(cores)
    val nHosts = 100
    // lazy: built inside the timed block; materialized before the crawl is timed
    lazy val web = Crawl.asWeb(PagesGen.pages(spark, n, nHosts, 42L).toDF()).cache()
    val webSec = Bench.seconds(web.count())
    val politeness = {
      import spark.implicits._
      (0 until nHosts).map(h => (s"host$h.example", 1 + h % 8)).toDF("host", "budget")
    }
    // lazy, like `web`: it runs inside the timed block
    lazy val res = Crawl.crawl(spark, web, PagesGen.seeds(n, nSeeds, nHosts, 42L), rounds,
      robots = None, politeness = Some(politeness),
      cfg = Frontier.Config(defaultBudget = 4, saltBuckets = 16),
      stateDir = stateDir)
    val secs = Bench.seconds(res)
    res.rounds.zipWithIndex.foreach { case (c, i) =>
      println(s"round $i: " + c.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))
    }
    val scheduled = res.rounds.map(_.getOrElse("fetched", 0L)).sum
    println(f"web_build_sec=$webSec%.2f crawl_sec=$secs%.2f urls_fetched=$scheduled urls_per_sec=${scheduled / secs}%.0f")
    spark.stop()
  }
}
