package graft.state

import graft.GraftSession
import graft.operators.{Crawl, Frontier}
import graft.sources.PagesGen
import org.apache.spark.sql.graft.ScratchDir
import org.scalatest.funsuite.AnyFunSuite

class TableIOSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  test("snapshot commit / read / time travel / counters") {
    val dir = ScratchDir("graft-tbl")
    val t = s"$dir/t"
    val s0 = TableIO.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t, Map("n" -> 2L))
    assert(s0.id == 0L && s0.rowCount == 2L)
    val s1 = TableIO.commit(Seq((3L, "c")).toDF("k", "v"), t, Map("n" -> 1L))
    assert(s1.id == 1L && s1.parentId.contains(0L))
    assert(TableIO.latestSnapshotId(t).contains(1L))
    assert(TableIO.read(spark, t, None).get.count() == 1L)
    assert(TableIO.read(spark, t, Some(0L)).get.count() == 2L) // time travel
    assert(TableIO.readManifest(t, 0L).counters == Map("n" -> 2L))
    // per-partition lineage: the manifest knows which files carry which
    // rows, and they sum to the snapshot's rowCount
    val m0 = TableIO.readManifest(t, 0L)
    assert(m0.files.nonEmpty && m0.files.keys.forall(_.endsWith(".parquet")))
    assert(m0.files.values.sum == m0.rowCount)
    assert(TableIO.readManifest(t, 1L).files.values.sum == 1L)
    assert(TableIO.read(spark, s"$dir/nope", None).isEmpty)
  }

  test("timestamp time travel: readAsOf resolves the newest snapshot ≤ ts") {
    val dir = ScratchDir("graft-asof")
    val t = s"$dir/t"
    val s0 = TableIO.commit(Seq((1L, "a")).toDF("k", "v"), t)
    Thread.sleep(5)
    val s1 = TableIO.commit(Seq((2L, "b"), (3L, "c")).toDF("k", "v"), t)
    assert(s1.committedAtMs >= s0.committedAtMs && s0.committedAtMs > 0L)
    assert(TableIO.snapshotAsOf(t, s0.committedAtMs - 1).isEmpty,
      "before the first commit there is nothing to read")
    assert(TableIO.snapshotAsOf(t, s0.committedAtMs).contains(0L))
    assert(TableIO.snapshotAsOf(t, s1.committedAtMs - 1).contains(0L))
    assert(TableIO.snapshotAsOf(t, System.currentTimeMillis() + 1000).contains(1L))
    assert(TableIO.readAsOf(spark, t, s0.committedAtMs).get.count() == 1L)
    assert(TableIO.readAsOf(spark, t, System.currentTimeMillis() + 1000).get.count() == 2L)
  }

  test("crawl resumes exactly from a committed snapshot") {
    val N = 1500L
    val pages = PagesGen.pages(spark, N, 10, 42L).toDF()
    val web = Crawl.asWeb(pages).cache()
    val seeds = PagesGen.seeds(N, 40, 10, 42L)
    val cfg = Frontier.Config(defaultBudget = 3, saltBuckets = 4)

    // uninterrupted 3 rounds
    val full = Crawl.crawl(spark, web, seeds, 3, None, None, cfg)

    // 2 rounds, then resume 1 round from the snapshot state
    val dir = ScratchDir("graft-crawl")
    val part1 = Crawl.crawl(spark, web, seeds, 2, None, None, cfg, Some(dir))
    assert(part1.rounds.length == 2)
    val part2 = Crawl.crawl(spark, web, seeds, 1, None, None, cfg, Some(dir))
    assert(part2.rounds.length == 1)
    assert(part1.rounds ++ part2.rounds == full.rounds,
      "resumed counters must equal the uninterrupted run")
    // captures are durable too: the resumed run returns EVERY round's
    // fetched rows (restored from the round-keyed snapshots), equal to the
    // uninterrupted crawl's
    def urls(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("url_norm").as[String].collect().sorted.toSeq
    assert(urls(part2.allFetched) == urls(full.allFetched),
      "resumed crawl must return all rounds' captures, not only post-restart ones")
    assert(part2.allFetched.select("round").distinct().as[Int].collect().sorted.toSeq ==
      Seq(0, 1, 2), "each capture keeps the round that fetched it across the resume")
    assert(TableIO.listSnapshots(s"$dir/fetched") == Seq(0L, 1L, 2L))
  }

  test("hostRank durable state: iterations are snapshots, rerun resumes not restarts") {
    import graft.operators.Frontier
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a"))
      .toDF("src_host", "dst_host")
    val expect = Frontier.hostRank(edges, iterations = 4)
      .as[(String, Long)].collect().toMap
    val dir = ScratchDir("graft-hr")
    Frontier.hostRank(edges, iterations = 2, stateDir = Some(dir)).collect()
    assert(TableIO.listSnapshots(s"$dir/hostrank") == Seq(0L, 1L, 2L))
    // rerun with a larger budget: picks up at iteration 2, adds only 3..4
    val resumed = Frontier.hostRank(edges, iterations = 4, stateDir = Some(dir))
      .as[(String, Long)].collect().toMap
    assert(resumed == expect, "durable-resumed ranks must equal the in-memory run")
    assert(TableIO.listSnapshots(s"$dir/hostrank") == Seq(0L, 1L, 2L, 3L, 4L))
  }
}
