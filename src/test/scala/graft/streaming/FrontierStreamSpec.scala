package graft.streaming

import graft.GraftSession
import graft.sources.{Page, PagesGen}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.graft.ScratchDir

class FrontierStreamSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private def pagesBatch(ids: Range): Seq[Page] =
    ids.map(i => PagesGen.genPage(i.toLong, 1000L, 10, 42L))

  test("streaming URL-seen suppresses duplicates across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Page]
    val out = FrontierStream.dedupedUrls(spark, input.toDF())
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData(pagesBatch(0 until 100))
      q.processAllAvailable()
      val batch1 = spark.table("dedup_out").count()
      // second batch: same 100 pages again + 50 new
      input.addData(pagesBatch(0 until 150))
      q.processAllAvailable()
      val total = spark.table("dedup_out").as[FrontierStream.UrlEvent].collect()
      // every url exactly once, across both batches
      assert(total.map(_.url_hash).distinct.length == total.length)
      assert(total.length >= batch1)
      // equals the batch-mode first-wins on the union of all input
      val allPages = (pagesBatch(0 until 100) ++ pagesBatch(0 until 150)).toDF()
      val batchDedup = graft.operators.Frontier.firstSeenWins(
        graft.operators.Frontier.canonicalize(allPages),
        col("url_hash"), Seq(col("warc_ts").asc, col("url_norm").asc))
      assert(total.map(_.url_norm).toSet ==
        batchDedup.select("url_norm").as[String].collect().toSet)
    } finally q.stop()
  }

  test("watermarked host window counts equal batch groupBy") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Page]
    val agg = FrontierStream.hostWindowCounts(input.toDF(), "10 seconds", "1 hour")
    val q = agg.writeStream.format("memory").queryName("host_counts")
      .outputMode("complete").start()
    try {
      input.addData(pagesBatch(0 until 300))
      q.processAllAvailable()
      val got = spark.table("host_counts")
        .select("window_start", "host", "n_pages", "bytes")
        .as[(java.sql.Timestamp, String, Long, Long)].collect().toSet
      val want = pagesBatch(0 until 300).toDF()
        .withColumn("host", graft.functions.GraftFunctions.url_host(
          graft.functions.GraftFunctions.url_normalize(col("url"))))
        .groupBy(window(col("warc_ts"), "1 hour"), col("host"))
        .agg(count(lit(1)).as("n"), sum(length(col("html")).cast("long")).as("b"))
        .select(col("window.start"), col("host"), col("n"), col("b"))
        .as[(java.sql.Timestamp, String, Long, Long)].collect().toSet
      assert(got == want)
    } finally q.stop()
  }

  test("streaming frontier over the persistent SeenStore: cross-batch dedupe, exactly-once increments, restart") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Int, java.sql.Timestamp)]
    val storeDir = ScratchDir("graft-sstream-store")
    val outDir = ScratchDir("graft-sstream-out")
    val ckpt = ScratchDir("graft-sstream-ckpt")
    val cfg = graft.operators.Frontier.Config(defaultBudget = 100, saltBuckets = 4, seenParts = 8)
    val ts = java.sql.Timestamp.valueOf("2022-03-20 03:55:45")
    def urls(r: Range) = r.map(i => (s"https://host${i % 5}.example/p/$i", 0, ts))
    def start() = FrontierStream.scheduledBatches(
      input.toDF().toDF("url", "depth", "warc_ts"), storeDir, outDir, None, cfg)
      .option("checkpointLocation", ckpt)
      .start()
    val q = start()
    try {
      input.addData(urls(0 until 40))
      q.processAllAvailable()
      input.addData(urls(20 until 60)) // 20 urls repeat batch 0
      q.processAllAvailable()
    } finally q.stop()
    val store = graft.state.SeenStore(storeDir)
    assert(store.committedIds == Seq(0L, 1L), "one store increment per micro-batch")
    def batch(i: Int): Set[String] =
      spark.read.parquet(s"$outDir/batch-$i").select("url_norm").as[String].collect().toSet
    assert(batch(0).size == 40)
    assert(batch(1).size == 20, "urls seen in batch 0 are filtered by the store")
    assert(batch(0).intersect(batch(1)).isEmpty)
    // restart from the same checkpoint: the seen state lives in the STORE,
    // not the query — new overlapping data is still deduped
    val q2 = start()
    try {
      input.addData(urls(50 until 70)) // 10 repeat batch 1
      q2.processAllAvailable()
    } finally q2.stop()
    assert(store.committedIds == Seq(0L, 1L, 2L))
    assert(batch(2).size == 10)
    assert(batch(2).intersect(batch(0) ++ batch(1)).isEmpty)
  }

  test("TTL cache state: hit within TTL across restarts") {
    // ProcessingTimeTimeout makes the engine re-trigger batches to evaluate
    // pending timeouts, so processAllAvailable never quiesces — drive the
    // query with Trigger.AvailableNow (bounded runs) over one checkpoint.
    implicit val sqlCtx = spark.sqlContext
    import FrontierStream._
    import org.apache.spark.sql.streaming.Trigger
    val input = MemoryStream[CacheEvent]
    val ckpt = ScratchDir("graft-ttl")
    val collected = new scala.collection.mutable.ArrayBuffer[CacheOut]()
    def runOnce(): Unit = {
      val q = ttlCache(spark, input.toDS(), ttlMs = 600000L)
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[CacheOut], _: Long) =>
          collected.synchronized { collected ++= batch.collect() }
          ()
        }
        .start()
      // a trailing timeout-evaluation batch can fail planning after the
      // data batches committed (AvailableNow + ProcessingTimeTimeout rough
      // edge); the assertions below on collected output are the contract
      try q.awaitTermination(120000L)
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => }
    }
    input.addData(Seq(CacheEvent("h1", "1.2.3.4")))
    runOnce()
    input.addData(Seq(CacheEvent("h1", "5.6.7.8"), CacheEvent("h2", "9.9.9.9")))
    runOnce()
    val rows = collected.toVector
    val h1 = rows.filter(_.key == "h1").sortBy(_.fromCache)
    assert(h1.length == 2)
    assert(!h1(0).fromCache && h1(0).value == "1.2.3.4")
    assert(h1(1).fromCache && h1(1).value == "1.2.3.4", "cached value served within TTL")
    assert(rows.count(_.key == "h2") == 1)
  }
}
