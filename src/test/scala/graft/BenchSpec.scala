package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.ScratchDir
import org.scalatest.funsuite.AnyFunSuite

/** Bench-harness integrity: a query that crashes at bench time must be
  * RECORDED in the bench JSON, never silently timed as a healthy ~0 s run
  * (the correctness gate only sees wrong answers, not bench-only crashes —
  * OOM at scale, a bad path — so the bench must self-report). */
class BenchSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local(2)

  val ok: (SparkSession, String) => DataFrame =
    (s, _) => s.range(10).select(col("id"))
  val boom: (SparkSession, String) => DataFrame =
    (_, _) => throw new IllegalStateException("synthetic bench failure")
  test("timeQueries records plan-time and run-time failures per query") {
    val results = Bench.timeQueries(spark, "/unused",
      Map("a_ok" -> ok, "b_boom" -> boom))
    assert(results.map(_._1) == Seq("a_ok", "b_boom"))
    assert(results.find(_._1 == "a_ok").get._3.isEmpty)
    val err = results.find(_._1 == "b_boom").get._3
    assert(err.isDefined && err.get.contains("IllegalStateException"))
  }

  test("errorsJson is empty on a healthy run, populated and escaped on failure") {
    val healthy = Bench.timeQueries(spark, "/unused", Map("a_ok" -> ok))
    assert(Bench.errorsJson(healthy) == "{}")
    val quoteBoom: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("he said \"no\"\nand left")
    val failed = Bench.timeQueries(spark, "/unused", Map("q" -> quoteBoom))
    val json = Bench.errorsJson(failed)
    assert(json.startsWith("{\"q\":"))
    assert(json.contains("\\\"no\\\""), "quotes must be escaped")
    assert(json.contains("\\n"), "newlines must be escaped")
    // and the whole thing parses as JSON (jackson is on the Spark classpath)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(json)
    assert(node.get("q").asText.contains("he said \"no\""))
  }

  test("table loader floor: single-row-group tables spread across cores, pushdown survives") {
    val dir = ScratchDir("graft-bench-floor")
    // one coalesced file >= floorMinBytes: the layout that serializes scans
    spark.range(0, 400000).select(col("id").as("doc_id"),
      concat(lit("x" * 64), col("id")).as("text"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val df = Queries.t(spark, dir, "documents")
    assert(df.rdd.getNumPartitions == spark.sparkContext.defaultParallelism,
      "big single-file table must be floored to defaultParallelism")
    // filter pushdown and column pruning must pass THROUGH the floor's
    // Repartition down to the scan — the floor must not cost plan quality
    val plan = df.filter(col("doc_id") > 100).select("doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id,100)]"), plan)
    assert(plan.contains("ReadSchema: struct<doc_id:bigint>"), plan)
    // the floor's round-robin runs without Spark's pre-sort; its input is a
    // file scan, so every evaluation must build the same partitions
    def partitions() = df.rdd.mapPartitionsWithIndex((i, rows) =>
      Iterator(i -> rows.map(_.getLong(0)).toVector)).collect().toSeq
    val first = partitions()
    assert(first.map(_._2.size).sum == 400000 && first.forall(_._2.nonEmpty))
    assert(partitions() == first, "a floored frame must rebuild identical partitions")
    // small tables (dims, gate-tier corpora) are left alone: no exchange
    spark.range(0, 100).select(col("id").as("r_id"))
      .coalesce(1).write.parquet(s"$dir/region.parquet")
    val small = Queries.t(spark, dir, "region")
    assert(!small.queryExecution.executedPlan.toString.contains("Exchange"),
      "sub-threshold table must not be floored")
  }

  private def floored(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("RoundRobinPartitioning")

  test("table loader re-measures a table rewritten at the same path") {
    val dir = ScratchDir("graft-bench-rewrite")
    val rows = spark.range(0, 400000).select(col("id").as("doc_id"),
      concat(lit("x" * 64), col("id")).as("text"))
    rows.coalesce(1).write.parquet(s"$dir/documents.parquet")
    assert(floored(Queries.t(spark, dir, "documents")),
      "one-file table >= floorMinBytes must be floored")
    val width = spark.sparkContext.defaultParallelism
    rows.repartition(width, col("doc_id"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(new java.io.File(s"$dir/documents.parquet").list()
      .count(_.endsWith(".parquet")) >= width)
    assert(!floored(Queries.t(spark, dir, "documents")),
      "a table rewritten as >= defaultParallelism files must not stay floored")
  }

  test("table loader infers a schema once per table version") {
    val dir = ScratchDir("graft-bench-schema")
    val path = s"$dir/orders.parquet"
    spark.range(0, 100).select(col("id").as("o_id")).coalesce(1).write.parquet(path)
    assert(Queries.tExch(spark, dir, "orders").columns.toSeq == Seq("o_id"))
    val again = org.apache.spark.graft.JobTally(spark.sparkContext) {
      Queries.tExch(spark, dir, "orders"); ()
    }
    assert(again.jobs == 0, s"an unchanged table must load without a job: $again")
    spark.range(0, 100).select(col("id").as("o_id"), (col("id") * 2).as("o_total"))
      .coalesce(1).write.mode("overwrite").parquet(path)
    val rewritten = Queries.t(spark, dir, "orders")
    assert(rewritten.columns.toSeq == Seq("o_id", "o_total"),
      "a table rewritten with a new column must be read with the new schema")
    assert(rewritten.agg(sum("o_total")).head.getLong(0) == 9900L)
  }

  test("table loader parses maxPartitionBytes in the documented unit syntax") {
    // "64MB"-style values are legal conf syntax (spark-defaults, a user
    // override) — the loader's width probe must not
    // require the internal "134217728b" rendering
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "64MB")
      val dir = ScratchDir("graft-bench-units")
      spark.range(0, 1000).select(col("id").as("doc_id")).coalesce(1)
        .write.parquet(s"$dir/documents.parquet")
      assert(Queries.t(spark, dir, "documents").count() == 1000)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("median evaluates its sample exactly n times and returns the middle value") {
    val draws = Iterator(5.0, 1.0, 4.0, 2.0, 3.0)
    var calls = 0
    assert(Bench.median(5) { calls += 1; draws.next() } == 3.0)
    assert(calls == 5)
    assert(Bench.median(1)(7.0) == 7.0)
    assert(Bench.median(Seq(9.0, 8.0, 1.0)) == 8.0)
  }

  test("median rejects an even sample count") {
    var calls = 0
    intercept[IllegalArgumentException](Bench.median(4) { calls += 1; 1.0 })
    intercept[IllegalArgumentException](Bench.median(Seq.empty[Double]))
    assert(calls == 0, "an even count must be rejected before any sample is drawn")
  }

  test("codecMicro times the four WARC codec kernels over a written WARC") {
    val dir = ScratchDir("graft-bench-codec")
    graft.sources.WarcIO.writePages(graft.sources.PagesGen.pages(spark, 20, 4, 42L).toDF().coalesce(1), dir)
    val warc = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".warc.gz"))
    assert(warc.length == 1)
    val r = Bench.codecMicro(warc.head.getPath)
    for ((k, v) <- Seq("read" -> r.readMBps, "write" -> r.writeMBps,
        "write_zstd" -> r.writeZstdMBps, "write_large" -> r.writeLargeMBps))
      assert(v > 0 && !v.isInfinite, s"$k: $v MB/s")
  }
}
