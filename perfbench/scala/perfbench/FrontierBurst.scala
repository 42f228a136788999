package perfbench

import graft.operators.Frontier
import graft.sources.PagesGen
import graft.state.SeenStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** frontier-burst: repeated large URL-only batches through
  * canonicalize → seen probe → politeness schedule. Bulk URL normalization,
  * the probe and the schedule window; no extraction, no durable commits. */
object FrontierBurst {
  val Urls = 300000L
  val Hosts = 1000
  // ~30 % of the batch's canonical hashes are pre-loaded as seen
  val SeenModulus = 10L
  val SeenBelow = 3L
  val Cfg = Frontier.Config(defaultBudget = 64, saltBuckets = 1)
  val WarmBatches = 8

  private def canonical(urls: DataFrame): DataFrame =
    Frontier.canonicalize(urls)
      .select(col("url_norm"), col("url_hash"), col("host"), col("warc_ts"), col("depth"))

  def run(ctx: Main.Ctx): Map[String, Any] = {
    import ctx._
    val parts = cores * 3
    def prepare(i: Int): (DataFrame, SeenStore.Store) = rec.setup("prepare") {
      val urls = PagesGen.urls(spark, Urls, Hosts, seed, partitions = parts)
        .persist(StorageLevel.MEMORY_AND_DISK)
      urls.count()
      val store = SeenStore(s"$workDir/frontier-seen-$i", SeenStore.Config(parts = cores))
      store.append(canonical(urls)
        .filter(pmod(col("url_hash"), lit(SeenModulus)) < SeenBelow).select("url_hash"), 0L)
      (urls, store)
    }
    val prepared = (0 until 3).map(prepare)
    prepared.init.foreach(_._1.unpersist())
    val (urls, store) = prepared.last

    val cands = canonical(urls).persist(StorageLevel.MEMORY_AND_DISK)
    val valid = cands.count()
    val hostCounts = cands.groupBy("host").count()
    val hot = hostCounts.agg(max("count")).head.getLong(0)
    cands.unpersist()
    val banks = store.probeBanks(store.committedIds)
    rec.facts ++= Map(
      "urls_per_batch" -> Urls, "hosts" -> Hosts, "valid_urls" -> valid,
      "preloaded_seen_frac" -> SeenBelow.toDouble / SeenModulus,
      "hot_host_share" -> hot.toDouble / valid,
      "seen_bank_bytes" -> banks.map(Main.dirBytes).sum, "seen_banks" -> banks.size,
      "direct_probe_max_bytes" -> spark.conf
        .get("spark.graft.seenstore.directProbeMaxBytes", (1L << 30).toString).toLong,
      "frontier_config" -> Cfg.toString)

    // correctness: nothing scheduled is in the pre-loaded seen set, and no
    // host exceeds its budget. The batch is a pure function of the cached
    // input, so one checked batch stands for every timed batch.
    def checkedBatch(): Boolean = {
      val rows = Frontier.schedule(store.filterUnseen(canonical(urls)).result, None, Cfg)
        .select("url_hash", "host").collect()
      val seenHit = rows.count(r => java.lang.Math.floorMod(r.getLong(0), SeenModulus) < SeenBelow)
      val perHost = rows.groupBy(_.getString(1)).values.map(_.length).max
      rec.facts("scheduled_rows") = rows.length.toLong
      seenHit == 0 && perHost <= Cfg.defaultBudget
    }
    var inRows, unseenRows, scheduledRows = 0L
    def batch(): Unit =
      if (!rec.trace) {
        val filtered = store.filterUnseen(canonical(urls))
        Main.evaluate(Frontier.schedule(filtered.result, None, Cfg))
        filtered.release()
      } else rec.span("batch") {
        // staged: each module's output is materialized so its span holds
        // that module's work
        val c = rec.span("operators.canonicalize") {
          val c = canonical(urls).persist(StorageLevel.MEMORY_AND_DISK)
          inRows += c.count(); c
        }
        val f = rec.span("state.filter_unseen") {
          val f = store.filterUnseen(c).result.persist(StorageLevel.MEMORY_AND_DISK)
          unseenRows += f.count(); f
        }
        scheduledRows += rec.span("operators.schedule") {
          Main.evaluate(Frontier.schedule(f, None, Cfg))
        }
        f.unpersist(); c.unpersist()
      }
    // warm with the timed op itself until the JIT has settled: the first
    // batches of a fresh JVM run up to twice as long as later ones
    val correct = rec.setup("warm") {
      (0 until WarmBatches).foreach(_ => batch())
      checkedBatch()
    }
    inRows = 0L; unseenRows = 0L; scheduledRows = 0L
    rec.loop(seconds) { _ =>
      rec.op("batch") { batch(); Outcome(Urls, correct) }
    }
    if (rec.trace) rec.facts ++= Map("rows_in" -> inRows, "rows_unseen" -> unseenRows,
      "rows_scheduled" -> scheduledRows)
    urls.unpersist()
    Map.empty
  }
}
