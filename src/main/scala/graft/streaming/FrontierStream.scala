package graft.streaming

import graft.functions.GraftFunctions._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Streaming form of the frontier: the reference is a continuous-ingest
  * system (goroutine stages + channels, SURVEY.md §2.8); here the same
  * semantics ride Structured Streaming:
  *
  *  - URL-seen across micro-batches = keyed state (`flatMapGroupsWithState`)
  *    — the sync.Map first-wins registration (/root/reference/dialer.go:401-410)
  *    as distributed, checkpointable state;
  *  - per-host throughput counters = watermarked tumbling windows — the
  *    DataTotal/dedupe rate counters (/root/reference/warc.go:41-53) with
  *    event-time semantics;
  *  - TTL'd keyed state (the otter DNS cache, /root/reference/dialer.go:47-55)
  *    = ProcessingTimeTimeout on the same state primitive.
  */
object FrontierStream {

  final case class UrlEvent(url_hash: Long, url_norm: String, host: String,
                            warc_ts: java.sql.Timestamp)
  final case class SeenState(firstTs: Long)

  /** First-occurrence-wins across the whole stream lifetime: one output row
    * per distinct url_hash (the first arrival in micro-batch order; within
    * a batch, earliest warc_ts then url). State = one timestamp per seen
    * url (at 10^10 urls this state is RocksDB-backed and partitioned by
    * the groupBy key — the streaming twin of the seen-set table). */
  def dedupedUrls(spark: SparkSession, pages: DataFrame): Dataset[UrlEvent] = {
    import spark.implicits._
    val canonical = graft.operators.Frontier.canonicalize(pages)
      .select("url_hash", "url_norm", "host", "warc_ts")
      .as[UrlEvent]
    canonical
      .groupByKey(_.url_hash)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, rows: Iterator[UrlEvent], state: GroupState[SeenState]) => {
          if (state.exists) Iterator.empty
          else {
            val first = rows.minBy(e => (e.warc_ts.getTime, e.url_norm))
            state.update(SeenState(first.warc_ts.getTime))
            Iterator.single(first)
          }
        })
  }

  /** Streaming frontier over the PERSISTENT partitioned seen-state: each
    * micro-batch of candidate urls goes through the crawl round's own
    * admission (`Frontier.admit`: canonicalized, deduped in-batch,
    * filtered against the SeenStore — the same per-partition sketch +
    * exact sidecar state the batch crawler uses, NOT engine-private
    * streaming state — with no robots gate), is politeness-scheduled,
    * written as a fetch batch, and appended to the store.
    *
    * Why a store and not flatMapGroupsWithState for the seen set: the
    * accumulated 10^10-url membership belongs to the TABLE, shared by
    * batch rounds, streaming ingest, and resume — keyed streaming state
    * would trap it inside one query's checkpoint. Exactly-once: the store
    * increment id IS the micro-batch id (contiguous from 0), so a replayed
    * batch after a crash is recognized (id < committed count) and skipped;
    * the fetch-batch parquet write is idempotent per batch directory.
    *
    * Returns the writer; caller sets trigger/checkpoint and starts. */
  def scheduledBatches(
      urls: DataFrame,
      storeDir: String,
      outDir: String,
      politeness: Option[DataFrame],
      cfg: graft.operators.Frontier.Config): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    urls.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      val store = graft.state.SeenStore(storeDir, graft.state.SeenStore.Config(cfg.seenParts))
      val done = store.committedIds.length
      if (batchId < done) {
        // replayed after a crash between sink write and checkpoint commit:
        // the increment is already durable — skip (idempotent)
      } else {
        val unseen = graft.operators.Frontier.admit(batch.toDF(), Some(store), None, cfg)
        val sched = graft.operators.Frontier.schedule(unseen, politeness, cfg)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          sched.write.mode("overwrite").parquet(s"$outDir/batch-$batchId")
          store.append(sched.select(col("url_hash")), batchId)
        } finally sched.unpersist()
      }
    }
  }

  /** Watermarked per-host tumbling-window counters (fetches + bytes). */
  def hostWindowCounts(pages: DataFrame, watermark: String = "1 hour",
                       windowLen: String = "1 hour"): DataFrame =
    pages
      .withColumn("host", url_host(url_normalize(col("url"))))
      .withColumn("payload_bytes", length(col("html")).cast("long"))
      .withWatermark("warc_ts", watermark)
      .groupBy(window(col("warc_ts"), windowLen), col("host"))
      .agg(count(lit(1)).as("n_pages"), sum(col("payload_bytes")).as("bytes"))
      .select(col("window.start").as("window_start"), col("host"),
        col("n_pages"), col("bytes"))

  /** TTL'd keyed cache state (the DNS-cache analog): remembers a value per
    * key, expiring after `ttlMs` of processing-time inactivity. Emits
    * (key, value, fromCache) per input. */
  final case class CacheEvent(key: String, value: String)
  final case class CacheOut(key: String, value: String, fromCache: Boolean)

  def ttlCache(spark: SparkSession, events: Dataset[CacheEvent], ttlMs: Long): Dataset[CacheOut] = {
    import spark.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout)(
        (key: String, rows: Iterator[CacheEvent], state: GroupState[String]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val out = rows.map { e =>
              val cached = state.getOption
              val value = cached.getOrElse(e.value)
              if (cached.isEmpty) state.update(e.value)
              state.setTimeoutDuration(ttlMs)
              CacheOut(key, value, cached.nonEmpty)
            }.toVector
            out.iterator
          }
        })
  }
}
