package graft.tools

import graft.{Bench, GraftSession}
import org.apache.spark.sql.functions._

/** Probe-cost-vs-crawl-rounds evidence for SeenStore compaction: two
  * stores receive identical increment streams; store A never compacts
  * (probe = chain of per-increment banks, cost grows with rounds), store
  * B compacts after each batch of appends (probe = one bank, flat). Both
  * filter the same candidate set — the log-structured-compaction claim in
  * BASELINE.md. Usage: `runMain graft.tools.SeenProbeBench [urlsPerInc]
  * [nCandidates]`. */
object SeenProbeBench {
  def main(args: Array[String]): Unit = {
    val urlsPerInc = args.headOption.map(_.toLong).getOrElse(200000L)
    val nCand = if (args.length > 1) args(1).toLong else 2000000L
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)
    val spark = GraftSession.local(cpus)

    val dirA = java.nio.file.Files.createTempDirectory("graft-probe-chain").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft-probe-flat").toString
    val storeA = graft.state.SeenStore(dirA, graft.state.SeenStore.Config(parts = cpus))
    val storeB = graft.state.SeenStore(dirB, graft.state.SeenStore.Config(parts = cpus))
    val cand = spark.range(0, nCand).select(xxhash64(col("id")).as("url_hash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cand.count()

    def timeProbe(store: graft.state.SeenStore.Store, label: String): Double = {
      val times = Seq.fill(3)(Bench.seconds(store.filterUnseen(cand).result.count()))
      val med = Bench.median(times)
      val banks = store.probeBanks(store.committedIds).length
      println(f"PROBE $label banks=$banks median=$med%.2f s (${nCand / med / 1000}%.0f k urls/s) all=${times.map(t => f"$t%.2f").mkString(",")}")
      med
    }

    val checkpoints = Seq(4, 8, 16, 24)
    var inc = 0L
    val results = checkpoints.map { k =>
      while (inc < k) {
        val newSeen = spark.range(inc * urlsPerInc, (inc + 1) * urlsPerInc)
          .select(xxhash64(col("id") * 31 + 7).as("url_hash"))
        storeA.append(newSeen, inc)
        storeB.append(newSeen, inc)
        inc += 1
      }
      storeB.compact(spark)
      val chained = timeProbe(storeA, s"chain@$k")
      val flat = timeProbe(storeB, s"flat@$k")
      (k, chained, flat)
    }
    println("SUMMARY rounds,chain_probe_s,compacted_probe_s")
    results.foreach { case (k, c, f) => println(f"SUMMARY $k,$c%.2f,$f%.2f") }
    spark.stop()
  }
}
