package perfbench

import graft.operators.{Crawl, Frontier}
import graft.sources.PagesGen
import graft.state.{DigestIndex, SeenStore, TableIO}
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** crawl-rounds: whole `Crawl.crawl` calls with durable state (SeenStore,
  * TableIO snapshots, a DigestIndex), robots and politeness budgets. Small
  * batches and many jobs: per-round fixed cost, state growth, the fetch
  * join, extraction and digest dedup, with state writes beside probes. */
object CrawlRounds {
  val Pages = 4000L
  // PagesGen's outlinks address a 100-host web
  val Hosts = 100
  val Seeds = 200
  val Rounds = 3
  val WarmRounds = 1
  // compaction after every round: rounds 1 and 2 merge two banks each
  // (round 0 has one bank, which compact() leaves alone)
  def config(cores: Int): Frontier.Config = Frontier.Config(defaultBudget = 8,
    saltBuckets = 1, sizeThreshold = 100, seenParts = cores, seenCompactEvery = 1)

  def run(ctx: Main.Ctx): Map[String, Any] = {
    import ctx._
    import spark.implicits._
    val cfg = config(cores)
    def prepare(): DataFrame = rec.setup("prepare") {
      val web = Crawl.asWeb(PagesGen.pages(spark, Pages, Hosts, seed).toDF())
        .persist(StorageLevel.MEMORY_AND_DISK)
      web.count()
      web
    }
    val webs = (0 until 3).map(_ => prepare())
    webs.init.foreach(_.unpersist())
    val web = webs.last
    val robots = (0 until Hosts).map(h =>
      (s"host$h.example", s"User-agent: *\nDisallow: /doc/1$$\nCrawl-delay: ${1 + h % 4}"))
      .toDF("host", "body")
    val politeness = Frontier.budgetsFromRobots(robots, windowSec = 30.0, cfg)
      .persist(StorageLevel.MEMORY_AND_DISK)
    politeness.count()

    def crawl(tag: String, rounds: Int): Vector[Map[String, Long]] = {
      val stateDir = s"$workDir/crawl-$tag"
      val didx = DigestIndex.Ref(s"perfbench_didx_${tag.replace('-', '_')}", s"$stateDir/didx",
        nBuckets = cores)
      DigestIndex.drop(spark, didx)
      Crawl.crawl(spark, web, PagesGen.seeds(Pages, Seeds, Hosts, seed), rounds,
        robots = Some(robots), politeness = Some(politeness), cfg = cfg,
        stateDir = Some(stateDir), digestIndex = Some(didx)).rounds
    }
    def drop(tag: String): Unit = {
      DigestIndex.drop(spark, DigestIndex.Ref(s"perfbench_didx_${tag.replace('-', '_')}", ""))
      graft.LocalFiles.deleteRec(new java.io.File(s"$workDir/crawl-$tag"))
    }
    val warm = rec.setup("warm")(crawl("warm", WarmRounds))
    drop("warm")

    var previous: Option[Vector[Map[String, Long]]] = None
    rec.loop(seconds) { i =>
      val tag = s"run-$i"
      val stateDir = s"$workDir/crawl-$tag"
      val t0 = rec.nowMs
      val (counters, err) =
        try (rec.span("crawl")(crawl(tag, Rounds)), "")
        catch { case e: Exception => (Vector.empty, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val t1 = rec.nowMs
      val crawlSpan = rec.lastSpanId
      if (counters.isEmpty) rec.addOp("round", t0, t1, 0L, ok = false, err = err)
      // correctness: byte-identical extraction in every round, and the
      // per-round counters of a seed repeat exactly across crawls
      val repeats = counters.take(WarmRounds) == warm.take(counters.length) &&
        previous.forall(_ == counters)
      previous = Some(counters)
      val ft = s"$stateDir/frontier"
      val commits = TableIO.listSnapshots(ft).map(id => TableIO.readManifest(ft, id).committedAtMs.toDouble)
      val starts = t0 +: commits.dropRight(1)
      counters.indices.foreach { r =>
        val (s, e) = (starts(r), commits(r))
        rec.addOp("round", s, e, counters(r)("fetched"),
          ok = counters(r)("text_mismatches") == 0L && repeats,
          err = if (repeats) "" else "per-round counters differ between crawls of one seed")
        rec.derivedSpan("crawl.round", s, e, crawlSpan)
      }
      val store = SeenStore(s"$stateDir/seen")
      rec.facts ++= Map(
        "crawl_wall_s" -> (t1 - t0) / 1000.0,
        "fetched" -> counters.map(_("fetched")).sum,
        "revisits" -> counters.map(_("revisits")).sum,
        "payload_bytes" -> counters.map(_("payload_bytes")).sum,
        "round_counters" -> counters,
        "state_bytes" -> Main.dirBytes(stateDir),
        "seen_banks" -> store.probeBanks(store.committedIds).size,
        "seen_bank_bytes" -> store.probeBanks(store.committedIds).map(Main.dirBytes).sum)
      rec.facts("crawls") = i + 1
      drop(tag)
    }
    rec.facts ++= Map("pages" -> Pages, "hosts" -> Hosts, "seeds" -> Seeds, "rounds" -> Rounds,
      "frontier_config" -> cfg.toString,
      "cached_web_mb" -> spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6)
    web.unpersist(); politeness.unpersist()
    Map.empty
  }
}
