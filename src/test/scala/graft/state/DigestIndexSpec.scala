package graft.state

import graft.GraftSession
import graft.operators.Frontier
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ScratchDir
import org.scalatest.funsuite.AnyFunSuite

/** The cross-round digest index: bucketed persistence keeps the dedupe
  * join exchange-free on the index side across consecutive rounds, and the
  * revisit marking matches a brute-force cross-round oracle. */
class DigestIndexSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  // planted dup texts ≥ the 2048-byte threshold: docs sharing id % 7 share
  // a body; ids % 11 >= 3 get unique bodies
  private def pages(ids: Seq[Long]) = ids.map { id =>
    val text =
      if (id % 11 < 3) s"dup-block-${id % 7} " * 250
      else s"unique-body-$id " + ("pad " * 600)
    (id, s"https://h${id % 5}.example/doc/$id", new java.sql.Timestamp(1647748545000L + id * 1000), text)
  }.toDF("doc_id", "url_norm", "warc_ts", "text")
    .withColumn("payload_digest", sha2(col("text"), 256))
    .withColumn("payload_len", length(encode(col("text"), "UTF-8")).cast("long"))

  test("round 2 dedup joins the persisted index with zero exchange on the index side") {
    // AQE wraps plans in AdaptiveSparkPlanExec (childless until executed),
    // which would make every exchange count vacuously 0 — plan statically
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // broadcast off: a broadcast of the small test index would sidestep
    // the exchange question entirely; at scale the index is huge
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val ref = DigestIndex.Ref("graft_test_didx",
      ScratchDir("graft-didx"), nBuckets = 4)
    val cfg = Frontier.Config()
    try {
      val r1 = Frontier.digestDedup(pages(0L until 40L), cfg)
      DigestIndex.append(r1, ref, round = 0L, captureTsCol = "warc_ts")
      // crash-replay idempotency: re-appending the SAME round must leave
      // the index byte-identical (partition overwrite), never duplicated
      val rowsAfterFirst = DigestIndex.cdx(spark, ref).get.count()
      DigestIndex.append(r1, ref, round = 0L, captureTsCol = "warc_ts")
      assert(DigestIndex.cdx(spark, ref).get.count() == rowsAfterFirst,
        "replaying a round's append must not grow the index")

      val round2 = Frontier.digestDedupWithCdx(pages(40L until 80L),
        DigestIndex.cdx(spark, ref).get, cfg)
      val plan = round2.queryExecution.executedPlan
      val bucketedScans = plan.collect {
        case f: FileSourceScanExec if f.bucketedScan => f
      }
      assert(bucketedScans.nonEmpty, s"index scan must be bucketed:\n$plan")
      val overIndex = plan.collect {
        case e: ShuffleExchangeExec
          if e.collectFirst { case f: FileSourceScanExec if f.bucketedScan => f }.isDefined => e
      }
      assert(overIndex.isEmpty,
        s"no exchange may sit above the bucketed index scan:\n$plan")

      // append round 2's captures; round 3 must STILL read both appended
      // generations exchange-free (the append never rewrites old files)
      DigestIndex.append(round2, ref, round = 1L, captureTsCol = "warc_ts")
      val round3 = Frontier.digestDedupWithCdx(pages(80L until 120L),
        DigestIndex.cdx(spark, ref).get, cfg)
      val plan3 = round3.queryExecution.executedPlan
      assert(plan3.collect {
        case e: ShuffleExchangeExec
          if e.collectFirst { case f: FileSourceScanExec if f.bucketedScan => f }.isDefined => e
      }.isEmpty, s"round 3 must stay exchange-free on the index side:\n$plan3")

      // a read bounded to the rounds before 1 prunes round=1 and stays
      // exchange-free on the index side
      val bounded = DigestIndex.cdx(spark, ref, before = Some(1L)).get
      assert(bounded.count() == rowsAfterFirst, "before = 1 reads round 0 only")
      val plan3b = Frontier.digestDedupWithCdx(pages(80L until 120L), bounded, cfg)
        .queryExecution.executedPlan
      assert(plan3b.collect {
        case f: FileSourceScanExec if f.bucketedScan && f.partitionFilters.nonEmpty => f
      }.nonEmpty, s"the bounded index scan must stay bucketed and prune on round:\n$plan3b")
      assert(plan3b.collect {
        case e: ShuffleExchangeExec
          if e.collectFirst { case f: FileSourceScanExec if f.bucketedScan => f }.isDefined => e
      }.isEmpty, s"the bounded read must stay exchange-free on the index side:\n$plan3b")

      // cross-round correctness: every round-3 capture whose digest was
      // first seen in round 1 or 2 is a revisit referencing that capture
      val idxRows = DigestIndex.cdx(spark, ref).get
        .filter(col("record_type") =!= "warc/revisit")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val got = round3.select("doc_id", "is_revisit", "dedupe_source", "refers_to_url")
        .as[(Long, Boolean, String, String)].collect().sortBy(_._1)
      val r3pages = pages(80L until 120L)
        .select("doc_id", "url_norm", "warc_ts", "payload_digest", "payload_len")
        .as[(Long, String, java.sql.Timestamp, String, Long)].collect()
      // brute force: within-round first-wins, then index lookup
      val eligible = r3pages.filter(_._5 >= cfg.sizeThreshold)
      val localFirst = eligible.groupBy(_._4).map { case (dg, grp) =>
        dg -> grp.minBy(t => (t._3.getTime, t._2))._1
      }
      got.foreach { case (id, isRev, src, refUrl) =>
        val row = r3pages.find(_._1 == id).get
        if (row._5 < cfg.sizeThreshold) {
          assert(!isRev && src == null, s"doc $id exempt")
        } else if (localFirst(row._4) != id) {
          assert(isRev && src == "local", s"doc $id local dup")
        } else if (idxRows.contains(row._4)) {
          assert(isRev && src == "cdx" && refUrl == idxRows(row._4),
            s"doc $id cross-round dup must reference the indexed capture")
        } else assert(!isRev && src == null, s"doc $id fresh")
      }
      // the fixture exercises the cross-round branch
      assert(got.exists(_._3 == "cdx"), "fixture must contain cross-round dups")
      assert(got.exists(_._3 == "local"), "fixture must contain in-round dups")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
      DigestIndex.drop(spark, ref)
    }
  }

  test("replay wipe holds on a URI-schemed table path (external-table file cleanup)") {
    // DROP PARTITION on an EXTERNAL table removes only catalog metadata;
    // the replay wipe must delete the crashed round's files through Hadoop
    // FileSystem — a java.io.File("file:/...") probe silently no-ops and
    // the re-append would read both generations forever
    val ref = DigestIndex.Ref("graft_test_didx_uri",
      "file:" + ScratchDir("graft-didx-uri"), nBuckets = 2)
    try {
      val r1 = Frontier.digestDedup(pages(0L until 40L), Frontier.Config())
      DigestIndex.append(r1, ref, round = 0L, captureTsCol = "warc_ts")
      val n = DigestIndex.cdx(spark, ref).get.count()
      assert(n > 0)
      DigestIndex.append(r1, ref, round = 0L, captureTsCol = "warc_ts")
      assert(DigestIndex.cdx(spark, ref).get.count() == n,
        "replaying a round's append on a file:-schemed path must not grow the index")
    } finally DigestIndex.drop(spark, ref)
  }
}
