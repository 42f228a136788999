package graft.operators

import graft.functions.GraftFunctions._
import graft.state.{DigestIndex, Durable, SeenStore, TableIO}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Multi-round crawl driver: frontier → schedule → fetch (offline: join the
  * pages table, SURVEY.md S4) → byte-identical text extraction → digest
  * dedup → link discovery → seen-set increment, with per-round snapshot
  * commits and lineage counters (the reference's counters model, SURVEY.md
  * A3, as deterministic per-round sums instead of rate counters).
  *
  * `crawl` is the one crawl loop: `CrawlTool`, perfbench's `crawl-rounds`
  * and the oracle-checked query `f07_crawl_round` all run it, and `round`
  * is its single step (the reference wires its stages together once, in
  * its warc.go:58-90).
  *
  * Frontier rows: (url STRING, depth INT, warc_ts TIMESTAMP) where warc_ts
  * is the discovery recency used by the priority order (north_star:
  * depth asc, budget rank, warc_ts desc).
  *
  * Nothing is silently dropped (the reference never loses a record between
  * its channel stages, /root/reference/warc.go:58-90): candidates that pass
  * the seen+robots gates but lose the politeness budget race are *deferred*
  * — they re-enter the next round's frontier and compete again under the
  * priority order. Only robots-disallowed and already-seen urls leave the
  * pipeline for good.
  */
object Crawl {

  final case class RoundOutput(
      fetched: DataFrame,
      // the politeness carryover: allowed candidates that lost the budget race
      deferred: DataFrame,
      newSeen: DataFrame,
      release: () => Unit)

  /** `rounds(r)` holds round r's A3 counters; `allFetched` is every round's
    * captures, each tagged with its round number in `round`. */
  final case class CrawlResult(
      rounds: Vector[Map[String, Long]],
      allFetched: DataFrame)

  /** The pages table as "the web": keyed by canonical url (one page per
    * canonical url, first capture wins deterministically). First-wins as a
    * lexicographic min(struct) AGGREGATE, not a row_number window: the min
    * is partially aggregated map-side, so the exchange carries at most
    * |distinct urls| rows per task instead of every capture's full html —
    * at web scale (many captures per url) the window form ships the whole
    * corpus through one shuffle to immediately discard the non-first rows.
    * Order = (page_ts, html, text, lang) lexicographic: earliest capture
    * wins, payload bytes break exact-timestamp ties deterministically. */
  def asWeb(pages: DataFrame): DataFrame =
    Frontier.canonicalize(pages)
      .groupBy(col("url_norm"))
      .agg(min(struct(col("warc_ts").as("page_ts"), col("html"),
        col("text"), col("lang"))).as("w"))
      .select(col("url_norm"), col("w.page_ts").as("page_ts"),
        col("w.html").as("html"), col("w.text").as("text"), col("w.lang").as("lang"))

  /** A3 global counters over a round's captures, as expressions so
    * `crawl` rides them on the round's capture pin via `observe` — no
    * separate aggregation job per round. */
  private val counterAggs = Seq(
    count(lit(1)).as("fetched"),
    sum(when(col("is_revisit"), 1L).otherwise(0L)).as("revisits"),
    sum(when(col("text_ok"), 0L).otherwise(1L)).as("text_mismatches"),
    sum(col("payload_len")).as("payload_bytes"),
    sum(when(col("is_revisit"), col("payload_len")).otherwise(0L)).as("dedupe_saved_bytes"))

  private def countersFromObs(m: Map[String, Any]): Map[String, Long] =
    Seq("fetched", "revisits", "text_mismatches", "payload_bytes", "dedupe_saved_bytes")
      .map(k => k -> Option(m.getOrElse(k, null)).map(_.asInstanceOf[Long]).getOrElse(0L))
      .toMap

  /** One frontier round: admission (`Frontier.admit`), schedule, fetch,
    * extraction and digest dedup. `web` must be the asWeb() shape.
    * Seen-state is `seenStore` (`None`: nothing seen yet); its probe runs
    * in executors, so they must be able to read the store's directory. */
  def round(
      frontier: DataFrame,
      web: DataFrame,
      robots: Option[DataFrame],
      politeness: Option[DataFrame],
      cfg: Frontier.Config,
      seenStore: Option[SeenStore.Store] = None,
      cdx: Option[DataFrame] = None): RoundOutput = {

    val allowed = Frontier.admit(frontier, seenStore, robots, cfg)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val scheduled = Frontier.schedule(allowed, politeness, cfg)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // politeness carryover: allowed-but-unscheduled candidates re-enter the
    // next frontier (priority-queue semantics: deferral, not loss)
    val deferred = allowed.join(scheduled.select("url_hash"), Seq("url_hash"), "left_anti")
      .select(col("url_norm").as("url"), col("depth"), col("warc_ts"))

    // fetch = equi-join against the web on canonical url; unfetchable urls
    // (404s) drop out here
    val fetched0 = scheduled.join(web, Seq("url_norm"), "inner")
      .withColumn("extracted_text", http_extract_text(col("html")))
      .withColumn("text_ok", col("extracted_text") === col("text"))
      .withColumn("payload", encode(col("extracted_text"), "UTF-8"))
      .withColumn("payload_len", length(col("payload")).cast("long"))
      .withColumn("payload_digest", sha1_base32(col("payload")))
      .drop("payload")
    // refers_to_ts must be the first capture's *capture* time (page_ts) so a
    // revisit's WARC-Refers-To id matches the response record it references;
    // with a CDX index, local-then-remote precedence applies (J3)
    val fetched = (cdx match {
      case Some(c) => Frontier.digestDedupWithCdx(fetched0, c, cfg, captureTsCol = "page_ts")
      case None => Frontier.digestDedup(fetched0, cfg, captureTsCol = "page_ts")
    }).persist(StorageLevel.MEMORY_AND_DISK)

    val newSeen = scheduled.select(col("url_hash"), col("url_norm"))

    RoundOutput(fetched, deferred, newSeen,
      () => { allowed.unpersist(); scheduled.unpersist(); fetched.unpersist() })
  }

  /** Link discovery from a round's non-revisit fetches; discovery recency =
    * the linking page's capture time. */
  private def links(fetched: DataFrame): DataFrame =
    fetched
      .filter(!col("is_revisit"))
      .select(
        explode(expr("regexp_extract_all(extracted_text, '<a href=\"([^\"]+)\"', 1)")).as("url"),
        (col("depth") + 1).as("depth"),
        col("page_ts").as("warc_ts"))

  /** Run `maxRounds` rounds from a seed list (depth 0, discovered at
    * `PagesGen.BaseEpochSec`). The seen set grows by O(|new|) append-only
    * increments in one SeenStore: `stateDir + "/seen"`, or without
    * `stateDir` a fresh temp directory that is deleted when the crawl
    * returns or throws. The seen probe runs in executors, so they
    * must be able to read the temp store exactly as they would `stateDir`.
    * With `stateDir` the frontier is also snapshotted per round; both are
    * keyed by the round number, so resume picks the largest round committed
    * in BOTH tables — a crash between the two commits replays that round
    * exactly (north_rule exact resume), never against a stale frontier. */
  def crawl(
      spark: SparkSession,
      web: DataFrame,
      seeds: Seq[String],
      maxRounds: Int,
      robots: Option[DataFrame] = None,
      politeness: Option[DataFrame] = None,
      cfg: Frontier.Config = Frontier.Config(),
      stateDir: Option[String] = None,
      warcDir: Option[String] = None,
      cdx: Option[DataFrame] = None,
      digestIndex: Option[DigestIndex.Ref] = None): CrawlResult = {
    import spark.implicits._

    val seenDir = stateDir.fold(
      java.nio.file.Files.createTempDirectory("graft-crawl-seen").toString)(_ + "/seen")
    val store = SeenStore(seenDir, SeenStore.Config(cfg.seenParts))
    val frontierTable = stateDir.map(_ + "/frontier")
    val fetchedTable = stateDir.map(_ + "/fetched")
    try {
      // resume point: largest round present in BOTH the frontier snapshots
      // and the seen increments (ids are contiguous from 0)
      val resumedRound: Option[Long] = frontierTable.flatMap { ft =>
        val seenIds = store.committedIds.toSet
        TableIO.listSnapshots(ft).filter(seenIds.contains).lastOption
      }
      val startRound = resumedRound.map(_.toInt + 1).getOrElse(0)

      var frontier: DataFrame = resumedRound match {
        case Some(id) => TableIO.read(spark, frontierTable.get, Some(id)).get
        case None =>
          seeds.toDF("url")
            .withColumn("depth", lit(0))
            .withColumn("warc_ts", lit(new java.sql.Timestamp(PagesGenTs.base)))
      }

      var allCounters = Vector.empty[Map[String, Long]]
      // durable resume restores the already-captured rounds too (they are
      // TableIO snapshots keyed by round id), so CrawlResult.fetched is the
      // whole crawl's captures, not just the rounds after the restart
      var allFetched: Option[DataFrame] = (fetchedTable, resumedRound) match {
        case (Some(ft), Some(last)) =>
          TableIO.listSnapshots(ft).filter(_ <= last)
            .flatMap(id => TableIO.read(spark, ft, Some(id)))
            .reduceOption(_ unionByName _)
        case _ => None
      }

      // Frontier emptiness is TRACKED, not queried: seeds are driver-side, a
      // durable resume has the manifest's rowCount, and each round's next
      // frontier reports its count through its own pin — the old
      // `frontier.isEmpty` was a whole extra job per round
      var frontierCount: Long = resumedRound match {
        case Some(id) => TableIO.readManifest(frontierTable.get, id).rowCount
        case None => seeds.size.toLong
      }

      var r = startRound
      var done = false
      while (r < startRound + maxRounds && !done) {
        if (frontierCount == 0) done = true
        else {
          // cross-round digest dedup: the bucketed index accumulates every
          // prior round's first-captures (the reference's crawl-lifetime
          // dedupe map); a static CDX (a real remote archive) unions in
          // with an index configured, round 0 (nothing appended yet) still
          // runs the SAME dedup-with-cdx plan over an empty frame, so every
          // round's output schema is identical (the accumulator unions them).
          // Only rounds before r: a crash-replayed round must not find its
          // own earlier captures, which its append below has yet to wipe
          val idxCdx = digestIndex.map(ix =>
            DigestIndex.cdx(spark, ix, before = Some(r.toLong)).getOrElse(DigestIndex.emptyCdx(spark)))
          val roundCdx = (cdx, idxCdx) match {
            case (Some(c), Some(idx)) => Some(c.unionByName(idx))
            case (c, idx) => c.orElse(idx)
          }
          val out = round(frontier, web, robots, politeness, cfg,
            seenStore = Some(store), cdx = roundCdx)
          // Pin this round's rows BEFORE release() so the round cache can be
          // dropped below. Durable (stateDir set): TableIO snapshot keyed by
          // round — survives executor loss and feeds resume; committed FIRST
          // so a crash before the frontier/seen commits leaves only an
          // orphan that the replayed round idempotently overwrites.
          // In-memory: eager localCheckpoint (truncated lineage, one compact
          // RDD per round). Either way the accumulator is a shallow union of
          // leaf scans, never a chain of full per-round pipelines — and the
          // A3 counters ride this SAME materialization via observe (the old
          // separate aggregation job per round is gone).
          val obs = org.apache.spark.sql.Observation()
          val roundFetched = Durable.pin(out.fetched.withColumn("round", lit(r))
            .observe(obs, counterAggs.head, counterAggs.tail: _*), fetchedTable, r.toLong)
          val counters = countersFromObs(obs.get)
          allCounters :+= counters
          // the next frontier's links come from the PINNED captures: with a
          // digest index, out.fetched's plan reads the index table, and the
          // append below makes Spark re-cache it over an index that already
          // holds this round's own captures — every capture would turn into
          // a CDX revisit and its links would never be followed
          val nextFrontier = links(roundFetched).unionByName(out.deferred)
          // optional archival sink: the round's captures as rotated WARC
          // (responses + truncated revisit records, K3 semantics)
          warcDir.foreach(d =>
            graft.sources.WarcIO.writeFetched(roundFetched, s"$d/round-$r"))
          allFetched = allFetched match {
            case None => Some(roundFetched)
            case Some(prev) =>
              val merged = prev.unionByName(roundFetched)
              // the union of per-round checkpoint leaves is O(1) to extend
              // but O(rounds) to ANALYZE — collapse it periodically so a long
              // in-memory crawl plans O(1) per round. Durable mode keeps the
              // plain union: its leaves are parquet scans (fault-tolerant),
              // and a localCheckpoint here would silently trade that away for
              // executor-pinned RDDs.
              Some(
                if (fetchedTable.isEmpty && (r + 1) % 8 == 0) merged.localCheckpoint(true)
                else merged)
          }
          // O(|new|) index growth, like the seen increments; keyed by round so
          // a crash-replay of this round overwrites its own partition instead
          // of appending duplicates
          digestIndex.foreach(DigestIndex.append(roundFetched, _, r.toLong))
          // after an in-memory crawl's last round nothing reads the next
          // frontier or the seen store (deleted below); a durable crawl
          // commits both, because resume reads them
          if (stateDir.nonEmpty || r < startRound + maxRounds - 1) {
            // the next frontier is pinned like the captures (a snapshot that
            // resume reads, or a localCheckpoint that truncates the round's
            // lineage before release()); its row count rides the same job
            val nfObs = org.apache.spark.sql.Observation()
            frontier = Durable.pin(nextFrontier.observe(nfObs, count(lit(1)).as("rows")),
              frontierTable, r.toLong, Map("round" -> r.toLong))
            frontierCount = nfObs.get("rows").asInstanceOf[Long]
            store.append(out.newSeen, r.toLong, counters)
            // periodic log-structured compaction keeps the probe chain O(1)
            // in rounds (a 1,000-round crawl would otherwise pay 1,000
            // sketch checks per candidate)
            if (cfg.seenCompactEvery > 0 && (r + 1) % cfg.seenCompactEvery == 0) {
              store.compact(spark)
              store.gc() // drop the superseded generation's blobs
            }
          }
          // round caches (allowed/scheduled/fetched) are no longer referenced:
          // everything downstream reads pinned or durable state
          out.release()
          r += 1
        }
      }
      CrawlResult(allCounters, allFetched.getOrElse(spark.emptyDataFrame))
    } finally if (stateDir.isEmpty) graft.LocalFiles.deleteRec(new java.io.File(seenDir))
  }
}

/** Shared base timestamp (PagesGen.BaseEpochSec) without a main-source
  * dependency cycle. */
private object PagesGenTs {
  val base: Long = graft.sources.PagesGen.BaseEpochSec * 1000L
}
