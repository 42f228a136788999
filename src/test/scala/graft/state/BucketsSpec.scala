package graft.state

import graft.GraftSession
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.graft.ScratchDir

class BucketsSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private def exchanges(p: SparkPlan): Int =
    p.collect { case e: ShuffleExchangeExec => e }.size

  test("joins and aggregations on the bucket key run exchange-free") {
    // AQE wraps plans in AdaptiveSparkPlanExec (childless until executed),
    // which would make every exchange count vacuously 0 — plan statically
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val dir = ScratchDir("graft-buckets")
    val docs = (0L until 500L).map(i => (i, s"digest-${i % 97}", s"text-$i"))
      .toDF("doc_id", "digest", "text")
    val cdx = (0L until 97L).map(i => (s"digest-$i", i * 10L))
      .toDF("digest", "first_seen")
    Buckets.save(docs, "b_docs", s"$dir/docs", "digest", nBuckets = 8)
    Buckets.save(cdx, "b_cdx", s"$dir/cdx", "digest", nBuckets = 8)
    try {
      val joined = Buckets.table(spark, "b_docs")
        .join(Buckets.table(spark, "b_cdx"), "digest")
      assert(exchanges(joined.queryExecution.executedPlan) == 0,
        "bucketed equi-join must not exchange either side:\n" +
          joined.queryExecution.executedPlan)
      // result identity vs the plain (shuffling) join
      val plain = docs.join(cdx, "digest")
      assert(joined.count() == plain.count())
      assert(joined.select("doc_id", "first_seen").except(
        plain.select("doc_id", "first_seen")).isEmpty)

      val agg = Buckets.table(spark, "b_docs")
        .groupBy("digest").agg(count(lit(1)).as("n"))
      assert(exchanges(agg.queryExecution.executedPlan) == 0,
        "aggregation on the bucket key must not exchange")
      assert(agg.agg(sum("n")).head.getLong(0) == 500L)

      // a join on a NON-bucket key must still shuffle (sanity: the assert
      // above is meaningful, not vacuous); broadcast disabled so the
      // planner can't sidestep the exchange
      val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val off = Buckets.table(spark, "b_docs").select(col("doc_id").as("k"))
          .join(Buckets.table(spark, "b_docs").select(col("doc_id").as("k"), col("text")), "k")
        assert(exchanges(off.queryExecution.executedPlan) > 0)
        val on = Buckets.table(spark, "b_docs")
          .join(Buckets.table(spark, "b_cdx"), "digest")
        assert(exchanges(on.queryExecution.executedPlan) == 0,
          "bucket-key join stays exchange-free even without broadcast")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      Buckets.drop(spark, "b_docs")
      Buckets.drop(spark, "b_cdx")
    }
  }
}
