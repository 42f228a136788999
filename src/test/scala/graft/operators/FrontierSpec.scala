package graft.operators

import graft.GraftSession
import graft.codec.{Digests, Robots, UrlNormalizer}
import graft.sources.{Page, PagesGen}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

/** Single-threaded reference simulation of the crawl round semantics
  * (FIXTURES.md §2): the distributed pipeline must match its scheduled set,
  * ordering (batch ranks), and URL-seen membership exactly, round by round.
  */
object SequentialOracle {
  final case class Entry(url: String, depth: Int, ts: Long) // ts = millis
  final case class Sched(url: String, depth: Int, batchRank: Int, isRevisit: Boolean)

  def crawl(
      pages: IndexedSeq[Page],
      seeds: Seq[String],
      rounds: Int,
      budgets: Map[String, Int],
      defaultBudget: Int,
      robots: Map[String, String],
      threshold: Long): Vector[Vector[Sched]] = {

    // the web: first capture per canonical url by (page_ts, url) ascending
    val web: Map[String, Page] = pages
      .map(p => (UrlNormalizer.normalize(p.url), p))
      .filter { case (u, _) => UrlNormalizer.isValid(u) }
      .groupBy(_._1)
      .map { case (u, grp) =>
        u -> grp.map(_._2).minBy(p => (p.warc_ts.getTime, u))
      }

    val linkRe = "<a href=\"([^\"]+)\"".r
    var seen = Set.empty[String]
    var digestSeenOrder = Map.empty[String, (Long, String)] // digest -> (ts, url) first capture within round accumulation
    var frontier: Vector[Entry] =
      seeds.map(s => Entry(s, 0, PagesGen.BaseEpochSec * 1000L)).toVector
    var out = Vector.empty[Vector[Sched]]

    var r = 0
    while (r < rounds && frontier.nonEmpty) {
      // canonicalize + within-round first-wins by (depth asc, ts desc, url asc)
      val canon = frontier
        .map(e => e.copy(url = UrlNormalizer.normalize(e.url)))
        .filter(e => UrlNormalizer.isValid(e.url))
      val firstWins = canon
        .groupBy(_.url)
        .map { case (_, grp) => grp.minBy(e => (e.depth, -e.ts, e.url)) }
        .toVector
      // seen filter
      val unseen = firstWins.filterNot(e => seen.contains(e.url))
      // robots
      val allowed = unseen.filter { e =>
        val host = UrlNormalizer.host(e.url)
        robots.get(host) match {
          case None => true
          case Some(body) =>
            val path = {
              val i = e.url.indexOf('/', e.url.indexOf("://") + 3)
              if (i < 0) "/" else e.url.substring(i)
            }
            Robots.parse(body, "graftbot").allows(path)
        }
      }
      // per-host budget-bounded ranking by (depth asc, ts desc, url asc)
      val scheduled = allowed
        .groupBy(e => UrlNormalizer.host(e.url))
        .toVector
        .flatMap { case (host, grp) =>
          val budget = budgets.getOrElse(host, defaultBudget)
          grp.sortBy(e => (e.depth, -e.ts, e.url)).take(budget).zipWithIndex
            .map { case (e, i) => (e, i + 1) }
        }
      // politeness carryover: allowed-but-unscheduled candidates defer to
      // the next round (nothing is silently dropped)
      val scheduledUrls = scheduled.map(_._1.url).toSet
      val deferred = allowed.filterNot(e => scheduledUrls.contains(e.url))
      // fetch + digest dedup (within the full crawl history, first-wins by
      // (frontier ts asc, url asc) among eligible payloads)
      val fetched = scheduled.flatMap { case (e, rank) =>
        web.get(e.url).map(p => (e, rank, p))
      }
      val withDigest = fetched.map { case (e, rank, p) =>
        val bytes = p.text.getBytes(UTF_8)
        (e, rank, p, Digests.sha1Base32(bytes), bytes.length.toLong)
      }
      // eligibility mirrors Frontier.digestDedup (within-round window only)
      val eligible = withDigest.filter(_._5 >= threshold)
      val dupMarked: Map[String, Set[String]] = eligible
        .groupBy(_._4)
        .map { case (digest, grp) =>
          val ordered = grp.sortBy(t => (t._1.ts, t._1.url))
          digest -> ordered.drop(1).map(_._1.url).toSet
        }
      val schedOut = withDigest
        .map { case (e, rank, _, digest, len) =>
          val isRev = len >= threshold && dupMarked.get(digest).exists(_.contains(e.url))
          Sched(e.url, e.depth, rank, isRev)
        }
        .sortBy(s => (s.url))
      out :+= schedOut
      // seen-set union: everything scheduled (pre-fetch), like newSeen
      seen ++= scheduled.map(_._1.url)
      // links from non-revisit fetches, plus the deferred carryover
      val revUrls = schedOut.filter(_.isRevisit).map(_.url).toSet
      frontier = withDigest
        .filter { case (e, _, _, _, _) => !revUrls.contains(e.url) }
        .flatMap { case (e, _, p, _, _) =>
          linkRe.findAllMatchIn(p.text).map(m =>
            Entry(m.group(1), e.depth + 1, p.warc_ts.getTime)).toVector
        } ++ deferred
      r += 1
    }
    out
  }
}

class FrontierSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  val N = 3000L
  val nHosts = 20
  lazy val pagesLocal: IndexedSeq[Page] =
    (0L until N).map(id => PagesGen.genPage(id, N, nHosts, 42L))
  lazy val pagesDf = PagesGen.pages(spark, N, nHosts, 42L).toDF()
  lazy val web = Crawl.asWeb(pagesDf).cache()

  val budgets: Map[String, Int] =
    (0 until nHosts).map(h => s"host$h.example" -> (1 + h % 8)).toMap
  val robotsMap: Map[String, String] = Map(
    "host0.example" -> "User-agent: *\nDisallow: /doc/1\nAllow: /doc/1a\n",
    "host3.example" -> "User-agent: *\nDisallow: /\n")
  val cfg = Frontier.Config(defaultBudget = 4, saltBuckets = 8)
  lazy val politenessDf = budgets.toSeq.toDF("host", "budget")
  lazy val robotsDf = robotsMap.toSeq.toDF("host", "body")
  lazy val seeds = PagesGen.seeds(N, 60, nHosts, 42L)

  test("canonicalize recovers clean urls from dirty variants") {
    val canon = Frontier.canonicalize(pagesDf).select("url", "url_norm").collect()
    assert(canon.nonEmpty)
    val expected = (0L until N).map(id =>
      PagesGen.dirtyUrl(id, nHosts, 42L) -> PagesGen.cleanUrl(id, nHosts, 42L)).toMap
    canon.foreach { r =>
      assert(r.getString(1) == expected(r.getString(0)),
        s"normalize(${r.getString(0)})")
    }
  }

  test("one-pass canonicalize equals the normalize/validate/host composite, rows and schema") {
    import graft.functions.GraftFunctions.{url_host, url_is_valid, url_normalize}
    val edge = Seq(null, "", "http://./", "http://:5./", "HTTP://A.com:80/x/../y#f",
      "  http://a.com  ", "http://[::1]:8080/", "http://user@/x", "ftp://x/", "http://a #x")
    val dirty = spark.range(0, 100000, 1, 8)
      .map(id => (PagesGen.dirtyUrl(id, 1000, 7L), edge.length + id)).toDF("url", "i")
    val urls = edge.zipWithIndex.map { case (u, i) => (u, i.toLong) }.toDF("url", "i")
      .union(dirty)
    val composite = urls
      .withColumn("url_norm", url_normalize(col("url")))
      .filter(url_is_valid(col("url_norm")))
      .withColumn("host", url_host(col("url_norm")))
      .withColumn("url_hash", xxhash64(col("url_norm")))
    val onePass = Frontier.canonicalize(urls)
    assert(onePass.schema == composite.schema)
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("i").collect().toSeq
    val got = rows(onePass)
    assert(got == rows(composite))
    // the edge cases themselves: only these four survive, normalized
    assert(got.takeWhile(_.getLong(1) < edge.length).map(_.getString(2)) ==
      Seq("http://a.com/y", "http://a.com/", "http://[::1]:8080/", "http://a /"))
  }

  test("canonicalize drops a URL whose port exceeds 65535 and keeps the batch") {
    import spark.implicits._
    val urls = Seq("http://a.example/1", "http://h:99999999999/x", "HTTP://B.example:80/2",
      "http://h:65536/y", "https://c.example:8443/3").toDF("url")
    val got = Frontier.canonicalize(urls).select("url_norm", "host").as[(String, String)]
      .collect().toSeq
    assert(got == Seq("http://a.example/1" -> "a.example", "http://b.example/2" -> "b.example",
      "https://c.example:8443/3" -> "c.example"))
  }

  test("extracted text is byte-identical to the pages' text column") {
    import graft.functions.GraftFunctions._
    val bad = pagesDf
      .withColumn("et", http_extract_text(col("html")))
      .filter(col("et") =!= col("text"))
      .count()
    assert(bad == 0L, "every decode mode must reproduce text byte-identically")
  }

  test("SeenStore.filterUnseen equals exact anti-join (partitioned sketches, P>1)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-seen").toString
    val store = graft.state.SeenStore(dir, graft.state.SeenStore.Config(parts = 7))
    val canon = Frontier.canonicalize(pagesDf)
      .select("url_norm", "url_hash").limit(2000).cache()
    // two increments, like two crawl rounds
    val seenA = canon.sample(0.2, seed = 7).select("url_hash")
    val seenB = canon.sample(0.15, seed = 11).select("url_hash")
    store.append(seenA, 0L)
    store.append(seenB, 1L)
    val filtered = store.filterUnseen(canon)
    val got = filtered.result.select("url_hash").as[Long].collect().sorted
    val want = canon
      .join(seenA.unionByName(seenB), Seq("url_hash"), "left_anti")
      .select("url_hash").as[Long].collect().sorted
    assert(got.toSeq == want.toSeq)
    filtered.release()
  }

  test("schedule: salted and single-phase plans both equal plain per-host top-k") {
    val canon = Frontier.canonicalize(pagesDf)
      .withColumn("depth", abs(col("url_hash") % 3).cast("int"))
      .select("url_norm", "host", "url_hash", "depth", "warc_ts")
    // plain oracle
    val rows = canon.collect().map(r =>
      (r.getString(0), r.getString(1), r.getInt(3), r.getTimestamp(4).getTime))
    val want = rows.groupBy(_._2).toSeq.flatMap { case (host, grp) =>
      val budget = budgets.getOrElse(host, cfg.defaultBudget)
      grp.sortBy(t => (t._3, -t._4, t._1)).take(budget).zipWithIndex
        .map { case (t, i) => t._1 -> (i + 1) }
    }.toMap
    for (salt <- Seq(8, 1)) {
      val got = Frontier.schedule(canon, Some(politenessDf), cfg.copy(saltBuckets = salt))
        .select("url_norm", "batch_rank").as[(String, Int)].collect().toMap
      assert(got == want, s"saltBuckets=$salt")
    }
    // an adequate maxBudgetHint (≥ the dim's true max) is a pure driver-job
    // saving: identical output, the per-host __budget bound stays binding
    val maxB = budgets.values.max
    for (hint <- Seq(maxB, maxB + 5)) {
      val got = Frontier.schedule(canon, Some(politenessDf), cfg.copy(maxBudgetHint = hint))
        .select("url_norm", "batch_rank").as[(String, Int)].collect().toMap
      assert(got == want, s"maxBudgetHint=$hint")
    }
  }

  test("full crawl matches the sequential oracle for 3 rounds") {
    val oracle = SequentialOracle.crawl(
      pagesLocal, seeds, 3, budgets, cfg.defaultBudget, robotsMap, cfg.sizeThreshold)

    // the Spark crawl loop itself (a temp SeenStore that grows by one
    // increment per round); its captures carry their round number
    val res = Crawl.crawl(spark, web, seeds, 3, Some(robotsDf), Some(politenessDf), cfg)
    for (r <- 0 until 3) {
      val got = res.allFetched.filter(col("round") === r)
        .select("url_norm", "depth", "batch_rank", "is_revisit")
        .as[(String, Int, Int, Boolean)].collect()
        .sortBy(_._1)
        .map { case (u, d, b, rev) => SequentialOracle.Sched(u, d, b, rev) }
        .toVector
      assert(got == oracle(r), s"round $r mismatch: got ${got.size} vs oracle ${oracle(r).size}")
    }
  }

  /** Runs `body` over an empty SeenStore in a temp dir, deleted after. */
  private def withSeenStore(body: graft.state.SeenStore.Store => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-round-seen")
    try body(graft.state.SeenStore(dir.toString, graft.state.SeenStore.Config(cfg.seenParts)))
    finally graft.LocalFiles.deleteRec(dir.toFile)
  }

  test("budgetsFromRobots: Crawl-delay drives the per-host budget dim") {
    val robots = Seq(
      ("a.example", "User-agent: *\nCrawl-delay: 10\nDisallow: /private"),
      ("b.example", "User-agent: *\nCrawl-delay: 0.5"),
      ("c.example", "User-agent: *\nDisallow: /x"), // no delay → default
      ("d.example", "User-agent: *\nCrawl-delay: 3600")) // slower than window → 1
      .toDF("host", "body")
    val got = Frontier.budgetsFromRobots(robots, windowSec = 60.0,
      Frontier.Config(defaultBudget = 7))
      .as[(String, Int)].collect().toMap
    assert(got == Map("a.example" -> 6, "b.example" -> 120, "c.example" -> 7, "d.example" -> 1))
  }

  test("robots cache: hashCode-colliding bodies never share parsed rules") {
    // "Aa" and "BB" collide on String.hashCode; substituting one for the
    // other at the same position keeps the FULL body's hashCode equal, so
    // these two different robots files are a forced 32-bit collision — a
    // hash-keyed cache would serve one host the other host's rules.
    val bodyA = "User-agent: *\nDisallow: /Aa\n"
    val bodyB = "User-agent: *\nDisallow: /BB\n"
    assert(bodyA.hashCode == bodyB.hashCode && bodyA != bodyB)
    // probe twice each, interleaved, so the second probes hit the cache
    (1 to 2).foreach { _ =>
      val ra = Frontier.cachedRulesForTest(bodyA, "graftbot")
      val rb = Frontier.cachedRulesForTest(bodyB, "graftbot")
      assert(!ra.allows("/Aa") && ra.allows("/BB"))
      assert(rb.allows("/Aa") && !rb.allows("/BB"))
    }
    // end-to-end through the broadcast-dim gate
    val robots = Seq(("ca.example", bodyA), ("cb.example", bodyB)).toDF("host", "body")
    val cand = Seq(
      ("http://ca.example/Aa", "ca.example"), ("http://ca.example/BB", "ca.example"),
      ("http://cb.example/Aa", "cb.example"), ("http://cb.example/BB", "cb.example"))
      .toDF("url_norm", "host")
    val kept = Frontier.applyRobots(cand, robots, Frontier.Config())
      .select("url_norm").as[String].collect().toSet
    assert(kept == Set("http://ca.example/BB", "http://cb.example/Aa"))
  }

  test("politeness carryover: budget-pruned candidates defer, never drop") {
    // one host, budget 1, several seeds: every seed must eventually be
    // fetched, one per round, in priority order — not silently dropped
    val host0seeds = (0L until N).map(id => PagesGen.cleanUrl(id, nHosts, 42L))
      .filter(u => UrlNormalizer.host(u) == "host1.example").distinct.take(4)
    assert(host0seeds.size == 4, "fixture must provide 4 host1 urls")
    val politeness1 = Seq(("host1.example", 1)).toDF("host", "budget")
    var frontier = host0seeds.toDF("url")
      .withColumn("depth", lit(0))
      .withColumn("warc_ts", lit(new java.sql.Timestamp(PagesGen.BaseEpochSec * 1000L)))
    var fetchedUrls = Vector.empty[String]
    withSeenStore { store =>
      for (r <- 0 until 4) {
        // no link discovery interference: restrict the frontier to the seeds
        val out = Crawl.round(frontier, web, None, Some(politeness1),
          cfg.copy(defaultBudget = 1), seenStore = Some(store))
        val sched = out.newSeen.select("url_norm").as[String].collect()
        assert(sched.length <= 1, "budget 1 → at most one fetch per round")
        fetchedUrls ++= sched
        store.append(out.newSeen, r.toLong)
        // next round = deferred candidates only (no discovered links, to
        // isolate the carryover property)
        frontier = out.deferred.localCheckpoint(true)
        out.release()
      }
    }
    assert(fetchedUrls.distinct.size == 4,
      s"all 4 candidates must be fetched across rounds, got $fetchedUrls")
  }

  test("hostRank: integer fixed-point PageRank equals a sequential brute force") {
    // hub-and-spoke + chain: d is linked by everyone, e dangles
    val edges = Seq(
      ("a", "d"), ("b", "d"), ("c", "d"), ("d", "a"), ("a", "b"),
      ("b", "c"), ("c", "e"), ("e", "d"), ("a", "d"))
    val got = Frontier.hostRank(edges.toDF("src_host", "dst_host"), iterations = 4)
      .as[(String, Long)].collect().toMap
    // sequential replay of the exact integer recurrence
    val scale = 1000000000000L
    val hosts = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = hosts.length.toLong
    val outdeg = edges.groupBy(_._1).map { case (h, es) => h -> es.length.toLong }
    val base = (15L * (scale / n)) / 100L
    var rank = hosts.map(_ -> scale / n).toMap
    for (_ <- 1 to 4) {
      val contrib = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => rank(src) / outdeg(src) }.sum
      }
      rank = hosts.map(h => h -> (base + (85L * contrib.getOrElse(h, 0L)) / 100L)).toMap
    }
    assert(got == rank)
    // in-degree differentiates: the 4-in-edge hub out-ranks the 1-in-edge
    // tail of the chain, and determinism holds across layouts
    assert(rank("d") > rank("e"))
    assert(rank.values.forall(_ > 0))
    val got2 = Frontier.hostRank(
      edges.toDF("src_host", "dst_host").repartition(7), iterations = 4)
      .as[(String, Long)].collect().toMap
    assert(got2 == got, "integer ranks must be partition-layout independent")
  }

  test("hostRank durable resume: different edges fail loudly, same edges resume") {
    val dir = java.nio.file.Files.createTempDirectory("graft-hr-fp").toString
    val edges1 = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("src_host", "dst_host")
    val r1 = Frontier.hostRank(edges1, iterations = 2, stateDir = Some(dir))
      .as[(String, Long)].collect().toMap
    // same edges: resumes (and returns the committed iteration-2 ranks)
    val r2 = Frontier.hostRank(edges1, iterations = 2, stateDir = Some(dir))
      .as[(String, Long)].collect().toMap
    assert(r1 == r2)
    // DIFFERENT edges against the same dir: must refuse, not return stale ranks
    val edges2 = Seq(("x", "y"), ("y", "x")).toDF("src_host", "dst_host")
    val e = intercept[IllegalArgumentException] {
      Frontier.hostRank(edges2, iterations = 2, stateDir = Some(dir))
    }
    assert(e.getMessage.contains("DIFFERENT input"))
  }

  test("scheduleByAuthority: broadcast authority dim + TakeOrderedAndProject top-k") {
    import spark.implicits._
    val frontier = PagesGen.urls(spark, 3000, 50, 42L)
    val canon = Frontier.canonicalize(frontier)
      .select("url_norm", "host", "url_hash", "depth", "warc_ts")
    val authority = (0 until 50).map(h => (s"host$h.example", (1000 - h * 7).toLong))
      .toDF("host", "rank")
    val out = Frontier.scheduleByAuthority(canon, None, authority,
      waveSlots = 25, Frontier.Config(defaultBudget = 3))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"global wave cap must be a distributed partial top-k, got:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      "authority dim must broadcast")
    val rows = out.select("batch_rank", "authority", "host")
      .as[(Int, Long, String)].collect()
    assert(rows.length == 25)
    // priority order: wave-major, then authority descending within a wave
    assert(rows.toSeq == rows.sortBy { case (br, a, h) => (br, -a, h) }.toSeq,
      "rows must come out in (batch_rank, authority desc, host) order")
    // scarce slots go to high-authority hosts first within each wave
    val wave1 = rows.filter(_._1 == 1).map(_._2)
    assert(wave1.zip(wave1.tail).forall { case (a, b) => a >= b })
  }

  test("discard hook: typed reasons, exact counters, kept/rejected partition") {
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("status",
        when(col("id") % 7 === 0, 429)
          .when(col("id") % 7 === 1, 503)
          .otherwise(200))
    val d = Frontier.applyDiscard(df,
      when(col("status") === 429, lit("too-many-requests"))
        .when(col("status") >= 500, lit("server-error")))
    val rejected = d.rejected.select("id", "discard_reason")
      .as[(Long, String)].collect().sortBy(_._1)
    val kept = d.kept.select("id").as[Long].collect().sorted
    // closed form: 0..999, %7==0 → 143 rows (429), %7==1 → 143 rows (503)
    assert(rejected.length == 286)
    assert(kept.length == 714)
    assert((rejected.map(_._1) ++ kept).sorted.sameElements(0L until 1000L),
      "kept ∪ rejected must partition the input")
    rejected.foreach { case (id, reason) =>
      assert(reason == (if (id % 7 == 0) "too-many-requests" else "server-error"))
    }
    // rejected side keeps every original column (typed side output)
    assert(d.rejected.columns.toSet == Set("id", "status", "discard_reason"))
    // observable counters (the ErrChan accounting) — metrics populate on
    // the executed Dataset's own queryExecution
    d.kept.collect()
    d.rejected.collect()
    assert(d.kept.queryExecution.observedMetrics("discard_kept")
      .getAs[Long]("rows") == 714L)
    assert(d.rejected.queryExecution.observedMetrics("discard_rejected")
      .getAs[Long]("rows") == 286L)
  }

  test("crawl with durable state: flat cache profile + bounded seen-probe chain over 10 rounds") {
    val dir = java.nio.file.Files.createTempDirectory("graft-crawl-mem").toString
    val sc = spark.sparkContext
    web.count() // materialize the suite fixture's cache BEFORE the baseline
    val before = sc.getPersistentRDDs.keySet
    val res = Crawl.crawl(spark, web, seeds, 10, None, Some(politenessDf),
      cfg.copy(seenCompactEvery = 4), Some(dir))
    val rounds = res.rounds.length
    assert(rounds >= 10, s"web must sustain 10 rounds, got $rounds")
    // round caches (allowed/scheduled/fetched + SeenStore increments) must
    // all be released; unpersist is async, so poll until settled
    var leftover = Seq.empty[org.apache.spark.rdd.RDD[_]]
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var settled = false
    while (!settled && System.nanoTime() < deadline) {
      leftover = sc.getPersistentRDDs.toSeq.collect {
        case (id, rdd) if !before.contains(id) && !rdd.isCheckpointed => rdd
      }
      if (leftover.isEmpty) settled = true else { System.gc(); Thread.sleep(200) }
    }
    assert(leftover.isEmpty,
      s"round caches must be released after each round, leftover: ${leftover.map(_.name)}")
    // durable mode retains NOTHING in executor storage: per-round captures
    // are TableIO snapshots (one per round, parquet on disk), and the
    // returned accumulator is a union of file scans — a 50-round crawl
    // pins zero RDDs and survives executor loss
    val ckpts = sc.getPersistentRDDs.count {
      case (id, rdd) => !before.contains(id) && rdd.isCheckpointed
    }
    assert(ckpts == 0, s"durable crawl must pin no checkpoint RDDs, got $ckpts")
    assert(graft.state.TableIO.listSnapshots(dir + "/fetched") ==
      (0L until rounds.toLong), "one captures snapshot per round")
    // periodic compaction keeps the probe chain O(1) in rounds: at cadence
    // 4 at most 4 banks (1 compacted + ≤3 fresh) are ever probe-visible
    val store = graft.state.SeenStore(dir + "/seen")
    val banks = store.probeBanks(store.committedIds).length
    assert(banks <= 4, s"probe chain must stay bounded by the cadence, got $banks banks")
    assert(res.allFetched.count() > 0)
  }

  test("digest index crawl: distinct payloads give the index-free rounds, 0 revisits") {
    // a web whose payloads are all distinct: no capture may ever become a
    // revisit, so the cross-round digest index must not change a round.
    // 100 hosts, because PagesGen's outlinks address a 100-host web: the
    // rounds after the first are then mostly followed links
    val web100 = Crawl.asWeb(PagesGen.pages(spark, N, 100, 42L).toDF())
    val distinctWeb = web100.join(
      web100.groupBy("text").count().filter(col("count") === 1).select("text"), Seq("text"))
      .cache()
    val seeds100 = PagesGen.seeds(N, 60, 100, 42L)
    val didxCfg = cfg.copy(sizeThreshold = 100)
    for (stateDir <- Seq(false, true)) {
      def dir(tag: String) =
        if (stateDir) Some(java.nio.file.Files.createTempDirectory(s"graft-didx-$tag").toString)
        else None
      val plain = Crawl.crawl(spark, distinctWeb, seeds100, 4, None, None, didxCfg,
        stateDir = dir("plain"))
      val ref = graft.state.DigestIndex.Ref(s"graft_test_crawl_didx_$stateDir",
        java.nio.file.Files.createTempDirectory("graft-didx-table").toString + "/idx")
      graft.state.DigestIndex.drop(spark, ref)
      try {
        val indexed = Crawl.crawl(spark, distinctWeb, seeds100, 4, None, None, didxCfg,
          stateDir = dir("indexed"), digestIndex = Some(ref))
        assert(plain.rounds.length == 4, s"web must sustain 4 rounds (stateDir=$stateDir)")
        assert(plain.rounds.forall(_("revisits") == 0L))
        assert(indexed.rounds == plain.rounds, s"stateDir=$stateDir")
      } finally graft.state.DigestIndex.drop(spark, ref)
    }
    distinctWeb.unpersist()
  }

  /** Runs 3 durable rounds over a web of distinct payloads, then leaves
    * the state a crash between round 2's `DigestIndex.append` and its
    * frontier commit leaves (round 2's captures and index partition
    * written, its frontier and seen manifests not), and resumes for 1
    * round: the replayed round must equal the uninterrupted round 2. */
  private def assertCrashReplayExact(indexed: Boolean): Unit = {
    val web100 = Crawl.asWeb(PagesGen.pages(spark, N, 100, 42L).toDF())
    val distinctWeb = web100.join(
      web100.groupBy("text").count().filter(col("count") === 1).select("text"), Seq("text"))
      .cache()
    val seeds100 = PagesGen.seeds(N, 60, 100, 42L)
    val didxCfg = cfg.copy(sizeThreshold = 100)
    val dir = org.apache.spark.sql.graft.ScratchDir("graft-crash-replay")
    val ref = if (!indexed) None
      else Some(graft.state.DigestIndex.Ref("graft_test_crash_replay_didx", s"$dir/idx"))
    ref.foreach(graft.state.DigestIndex.drop(spark, _))
    def round2(res: Crawl.CrawlResult) = res.allFetched.filter(col("round") === 2)
      .orderBy("url_norm").collect().toSeq
    try {
      val full = Crawl.crawl(spark, distinctWeb, seeds100, 3, None, None, didxCfg,
        stateDir = Some(dir), digestIndex = ref)
      assert(full.rounds.length == 3, "web must sustain 3 rounds")
      assert(full.rounds(2)("fetched") > 0 && full.rounds(2)("revisits") == 0L)
      val fullRound2 = round2(full) // read before the replay rewrites the snapshot
      java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "frontier", "manifest", "snap-2.json"))
      java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "seen", "manifest", "inc-2.json"))
      val replay = Crawl.crawl(spark, distinctWeb, seeds100, 1, None, None, didxCfg,
        stateDir = Some(dir), digestIndex = ref)
      assert(replay.rounds == Vector(full.rounds(2)), s"indexed=$indexed")
      assert(round2(replay) == fullRound2, s"indexed=$indexed")
    } finally {
      ref.foreach(graft.state.DigestIndex.drop(spark, _))
      distinctWeb.unpersist()
    }
  }

  test("durable crawl with a digest index replays a round crashed before its frontier commit exactly") {
    assertCrashReplayExact(indexed = true)
  }

  test("durable crawl without a digest index replays a round crashed before its frontier commit exactly") {
    assertCrashReplayExact(indexed = false)
  }

  test("in-memory crawl: capture accumulator plan stays O(1) over 16 rounds") {
    // without periodic collapse, allFetched is a union of one checkpoint
    // leaf PER ROUND — O(rounds) analysis cost on every downstream use; the
    // cadence-8 collapse bounds the live plan at <8 leaves forever
    val res = Crawl.crawl(spark, web, seeds, 16, None, Some(politenessDf), cfg)
    assert(res.rounds.length >= 16, s"web must sustain 16 rounds, got ${res.rounds.length}")
    val leaves = res.allFetched.queryExecution.analyzed.collectLeaves().size
    assert(leaves < 8, s"capture accumulator must collapse periodically, got $leaves leaves")
    assert(res.allFetched.count() > 0)
  }

  test("in-memory crawl: temp seen store matches a compacting durable crawl, gone on return or throw") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def seenDirs = Option(tmp.list()).fold(Set.empty[String])(
      _.filter(_.startsWith("graft-crawl-seen")).toSet)
    val before = seenDirs
    def rows(res: Crawl.CrawlResult) = res.allFetched
      .select("url_norm", "depth", "batch_rank", "is_revisit")
      .as[(String, Int, Int, Boolean)].collect().sorted.toVector
    val compactCfg = cfg.copy(seenCompactEvery = 1)
    val mem = Crawl.crawl(spark, web, seeds, 5, Some(robotsDf), Some(politenessDf), compactCfg)
    assert(seenDirs == before, "a returning crawl must delete its temp seen store")
    val dir = java.nio.file.Files.createTempDirectory("graft-crawl-vs-mem").toString
    val durable = Crawl.crawl(spark, web, seeds, 5, Some(robotsDf), Some(politenessDf),
      compactCfg, Some(dir))
    assert(mem.rounds.length >= 4, s"web must sustain 4 rounds, got ${mem.rounds.length}")
    assert(graft.state.SeenStore(dir + "/seen").compactions.nonEmpty,
      "seenCompactEvery = 1 must compact the store")
    assert(mem.rounds == durable.rounds)
    assert(rows(mem) == rows(durable))
    graft.LocalFiles.deleteRec(new java.io.File(dir))
    // a round that fails in an executor still leaves no store behind
    val boom = udf((t: String) => { if (t != null) throw new IllegalStateException("boom"); t })
    intercept[Exception] {
      Crawl.crawl(spark, web.withColumn("text", boom(col("text"))), seeds, 2, None, None, cfg)
    }
    assert(seenDirs == before, "a failing crawl must delete its temp seen store")
  }

  test("crawl counters: revisits and byte sums are deterministic") {
    val res = Crawl.crawl(spark, web, seeds, 2,
      Some(robotsDf), Some(politenessDf), cfg)
    assert(res.rounds.length == 2)
    res.rounds.foreach { c =>
      assert(c("text_mismatches") == 0L, "byte-identical extraction violated")
      assert(c("fetched") > 0L)
    }
    // re-run must produce identical counters (determinism)
    val res2 = Crawl.crawl(spark, web, seeds, 2,
      Some(robotsDf), Some(politenessDf), cfg)
    assert(res.rounds == res2.rounds)
  }

  test("digestDedup: skew-safe (no digest window), semantics unchanged") {
    import spark.implicits._
    val base = 1647748545000L
    // two identical sub-threshold pages (shared digest), two null-digest
    // failures, and one eligible dup pair — at crawl scale the first two
    // classes are millions of rows sharing ONE (false, digest) group
    val rows = Seq(
      ("https://a.example/1", "digX", 10L),
      ("https://a.example/2", "digX", 10L),
      ("https://a.example/3", null.asInstanceOf[String], 0L),
      ("https://a.example/4", null.asInstanceOf[String], 0L),
      ("https://a.example/5", "digY", 3000L),
      ("https://a.example/6", "digY", 3000L))
      .zipWithIndex.map { case ((u, d, l), i) =>
        (u, d, l, new java.sql.Timestamp(base + i * 1000L)) }
      .toDF("url_norm", "payload_digest", "payload_len", "warc_ts")
    val out = Frontier.digestDedup(rows, Frontier.Config())
    val got = out.orderBy("url_norm")
      .select("url_norm", "is_revisit").as[(String, Boolean)].collect()
    assert(got.map(_._2).toSeq == Seq(false, false, false, false, false, true),
      s"exempt rows never dedup; eligible dup pair marks its second capture: ${got.toSeq}")
    // the skew ban (VERDICT r5 #1): first-wins must be a min-aggregate +
    // join back, never a rank window partitioned by the digest — a
    // boilerplate digest captured 10^7 times would pin one window task,
    // and AQE cannot split window groups (it CAN split a skewed join).
    // logical plan: the physical tree hides inside AdaptiveSparkPlanExec
    // until execution, which would make a WindowExec collect vacuously empty
    val wins = out.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.isEmpty,
      s"digestDedup must not contain any window (min-aggregate + join back):\n${out.queryExecution.optimizedPlan}")
    val aggs = out.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(aggs.nonEmpty, "digestDedup must compute firsts as an aggregate")
  }

  test("schedule: planted hot host (>50% of the round) — salted pre-rank engages, carryover defers without loss") {
    import spark.implicits._
    val base = 1647748545000L
    // 10^5-url round where ONE host owns ~61% of the candidates (the
    // skew shape the salted pre-rank exists for) + a seen store filtering
    // a third of them — the politeness/seen interaction VERDICT r5 #5 asks
    // to pin: the salted and unsalted plans must emit identical rows, and
    // allowed = scheduled ∪ deferred exactly (deferral, never loss)
    val urls = spark.range(100000).select(
      when(col("id") % 13 < 8, lit("https://hot.example/u"))
        .otherwise(concat(lit("https://h"), pmod(col("id"), lit(10)),
          lit(".example/u"))).as("stem"),
      col("id"))
      .select(concat(col("stem"), col("id")).as("url"),
        (col("id") % 3).cast("int").as("depth"),
        timestamp_millis(lit(base) + col("id") * 1000).as("warc_ts"))
    val canon = Frontier.canonicalize(urls)
      .select("url_norm", "host", "url_hash", "depth", "warc_ts")
    val seenDir = java.nio.file.Files.createTempDirectory("graft-hot-seen").toString
    val store = graft.state.SeenStore(seenDir, graft.state.SeenStore.Config(parts = 8))
    store.append(canon.filter(pmod(col("url_hash"), lit(3L)) === 0).select("url_hash"), 0L)
    val allowed = store.filterUnseen(canon).result
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val politeness = (Seq(("hot.example", 5)) ++
      (0 until 10).map(h => (s"h$h.example", 3))).toDF("host", "budget")
    val salted = Frontier.schedule(allowed, Some(politeness),
      Frontier.Config(defaultBudget = 2, saltBuckets = 8))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val unsalted = Frontier.schedule(allowed, Some(politeness),
      Frontier.Config(defaultBudget = 2, saltBuckets = 1))
    // the salted pre-rank actually engages: a (host, __salt) partial rank
    // exchange exists in the salted plan and not in the unsalted one
    val saltedPlan = salted.queryExecution.executedPlan.toString
    val unsaltedPlan = unsalted.queryExecution.executedPlan.toString
    assert(saltedPlan.contains("__salt"), "salted pre-rank missing from plan")
    assert(!unsaltedPlan.contains("__salt"), "unsalted plan must have no salt phase")
    // identical scheduled rows (the provable-equivalence claim in
    // schedule's scaladoc, here under real skew + a real seen store)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("url_norm", "batch_rank").as[(String, Int)].collect().toSet
    val sr = rows(salted)
    assert(sr == rows(unsalted), "salted and unsalted schedules must emit identical rows")
    // per-host budgets respected; the hot host fills its budget exactly
    val perHost = salted.groupBy("host").count().as[(String, Long)].collect().toMap
    assert(perHost("hot.example") == 5L)
    assert((0 until 10).forall(h => perHost(s"h$h.example") == 3L))
    // carryover: allowed = scheduled ∪ deferred with no loss and no overlap
    val deferred = allowed.join(salted.select("url_hash"), Seq("url_hash"), "left_anti")
    val nAllowed = allowed.count()
    assert(salted.count() + deferred.count() == nAllowed,
      "politeness deferral must partition the allowed set exactly")
    allowed.unpersist(); salted.unpersist()
    graft.LocalFiles.deleteRec(new java.io.File(seenDir))
  }

  test("digestDedup: planted mega-digest dedups without a digest window") {
    import spark.implicits._
    val base = 1647748545000L
    // one digest duplicated 20k times (the web-scale boilerplate shape the
    // min-aggregate form exists for) + a control pair
    val rows = spark.range(20000).select(
      concat(lit("https://flood.example/"), col("id")).as("url_norm"),
      lit("digFLOOD").as("payload_digest"),
      lit(4096L).as("payload_len"),
      (lit(base).cast("timestamp")).as("warc_ts"))
      .unionByName(Seq(
        ("https://b.example/1", "digB", 4096L),
        ("https://b.example/2", "digB", 4096L))
        .toDF("url_norm", "payload_digest", "payload_len")
        .withColumn("warc_ts", lit(base).cast("timestamp")))
    val out = Frontier.digestDedup(rows, Frontier.Config())
    val agg = out.groupBy(col("payload_digest"))
      .agg(org.apache.spark.sql.functions.sum(when(col("is_revisit"), 1L).otherwise(0L)).as("revisits"),
        org.apache.spark.sql.functions.count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    // ties on warc_ts break by url_norm: exactly one first per digest
    assert(agg("digFLOOD") == ((19999L, 20000L)), s"flood group: $agg")
    assert(agg("digB") == ((1L, 2L)), s"control group: $agg")
    val wins = out.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.isEmpty, "mega-digest path must not plan a window")
  }
}
