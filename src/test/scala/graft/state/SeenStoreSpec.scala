package graft.state

import graft.GraftSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class SeenStoreSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  /** Every hash in a bank's sidecars, part by part. */
  private def sidecarHashes(incDir: String): Seq[Long] =
    new java.io.File(s"$incDir/sketch").listFiles().toSeq.map(_.getName)
      .filter(_.endsWith(".hashes")).sorted
      .flatMap(n => SketchBank.loadHashes(s"$incDir/sketch/$n").toSeq)

  private def rowCount(dir: String, id: Long): Long =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$dir/manifest/inc-$id.json")).get("rowCount").asLong()

  test("append is O(|increment|): committing round N leaves earlier increments untouched") {
    val dir = Files.createTempDirectory("graft-seen-inc").toString
    val store = SeenStore(dir, SeenStore.Config(parts = 4))
    store.append(spark.range(0, 1000).select(xxhash64(col("id")).as("url_hash")), 0L)
    def mtimes(inc: Long): Map[String, Long] = {
      val d = new java.io.File(s"$dir/inc-$inc")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(d).map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = mtimes(0L)
    store.append(spark.range(1000, 1200).select(xxhash64(col("id")).as("url_hash")), 1L)
    assert(mtimes(0L) == before, "increment 0 files must not be rewritten by increment 1")
    // and increment 1 is small: its sidecars hold only the new hashes
    assert(sidecarHashes(s"$dir/inc-1").length == 200)
    assert(rowCount(dir, 1L) == 200L)
    assert(store.committedIds == Seq(0L, 1L))
  }

  test("append writes sorted distinct sidecars once: repeated hashes count once") {
    val dir = Files.createTempDirectory("graft-seen-dups").toString
    val store = SeenStore(dir, SeenStore.Config(parts = 4))
    // 0..299 three times over, in 7 input partitions
    val inc = spark.range(0, 900, 1, 7).select(xxhash64(col("id") % 300).as("url_hash"))
    store.append(inc, 0L)
    assert(new java.io.File(s"$dir/inc-0").list().toSeq == Seq("sketch"),
      "an increment is its sketch directory only")
    (0 until 4).foreach { p =>
      val hs = SketchBank.loadHashes(s"$dir/inc-0/sketch/p-$p.hashes")
      assert(hs.nonEmpty && hs.sliding(2).forall(w => w(0) < w(1)),
        s"part $p sidecar must be strictly increasing")
      assert(hs.forall(h => java.lang.Math.floorMod(h, 4L) == p), s"part $p holds only its hashes")
    }
    val distinct = spark.range(0, 300).select(xxhash64(col("id"))).as[Long].collect().toSet
    assert(sidecarHashes(s"$dir/inc-0").toSet == distinct)
    assert(sidecarHashes(s"$dir/inc-0").length == 300)
    assert(rowCount(dir, 0L) == 300L)
  }

  test("append runs one job with one shuffle") {
    val dir = Files.createTempDirectory("graft-seen-jobs").toString
    val store = SeenStore(dir, SeenStore.Config(parts = 4))
    val inc = spark.range(0, 5000, 1, 6).select(xxhash64(col("id")).as("url_hash"))
    val tally = org.apache.spark.graft.JobTally(spark.sparkContext)(store.append(inc, 0L))
    assert(tally == org.apache.spark.graft.JobTally.Tally(jobs = 1, shuffles = 1))
    assert(rowCount(dir, 0L) == 5000L)
  }

  test("orphaned increment (crash before manifest) is invisible and replayable") {
    val dir = Files.createTempDirectory("graft-seen-orphan").toString
    val store = SeenStore(dir, SeenStore.Config(parts = 4))
    store.append(spark.range(0, 500).select(xxhash64(col("id")).as("url_hash")), 0L)
    // simulate a crash: data + sketch written for inc-1, no manifest
    val orphan = spark.range(500, 700).select(xxhash64(col("id")).as("url_hash"))
    store.append(orphan, 1L)
    Files.delete(java.nio.file.Paths.get(dir, "manifest", "inc-1.json"))
    assert(store.committedIds == Seq(0L), "uncommitted increment must be invisible")
    // replay commits it cleanly over the orphan files
    store.append(orphan, 1L)
    assert(store.committedIds == Seq(0L, 1L))
    val f = store.filterUnseen(spark.range(0, 1000).select(xxhash64(col("id")).as("url_hash")))
    assert(f.result.count() == 300L) // 700..999 unseen
    f.release()
  }

  test("replaying an orphaned increment with different rows leaves none of the orphan's parts") {
    val dir = Files.createTempDirectory("graft-seen-orphan-diff").toString
    val store = SeenStore(dir, SeenStore.Config(parts = 4))
    val orphan = spark.range(0, 400).select(xxhash64(col("id")).as("url_hash"))
    store.append(orphan, 0L)
    Files.delete(java.nio.file.Paths.get(dir, "manifest", "inc-0.json"))
    // the replay holds one hash, so it writes one part of the four
    store.append(spark.range(0, 1).select(xxhash64(col("id")).as("url_hash")), 0L)
    assert(store.filterUnseen(orphan).result.count() == 399L)
  }

  test("compact: 20 increments merge to one probe bank, filterUnseen unchanged") {
    val dir = Files.createTempDirectory("graft-seen-compact").toString
    val store = SeenStore(dir, SeenStore.Config(parts = 4))
    // 20 rounds of 150 urls each, with deliberate overlap between rounds
    (0 until 20).foreach { i =>
      store.append(
        spark.range(i * 100, i * 100 + 150).select(xxhash64(col("id")).as("url_hash")), i)
    }
    val cand = spark.range(0, 4000).select(xxhash64(col("id")).as("url_hash"))
    val before = store.filterUnseen(cand).result.as[Long].collect().sorted
    assert(store.probeBanks(store.committedIds).length == 20)

    store.compact(spark)
    // probe-visible bank count is O(1) regardless of round count
    assert(store.probeBanks(store.committedIds).length == 1,
      "compaction must collapse the probe chain to one bank")
    val after = store.filterUnseen(cand).result.as[Long].collect().sorted
    assert(after.sameElements(before), "compaction must not change filter results")
    // seen = 0..2049 (last round covers 1900..2049) → 4000-2050 unseen
    assert(after.length == 4000 - 2050)

    // appends after compaction stack on top of the compacted bank
    store.append(spark.range(5000, 5100).select(xxhash64(col("id")).as("url_hash")), 20L)
    assert(store.probeBanks(store.committedIds).length == 2)
    val cand2 = spark.range(4990, 5010).select(xxhash64(col("id")).as("url_hash"))
    assert(store.filterUnseen(cand2).result.count() == 10L)

    // maxId time travel to a pre-compaction state still resolves
    // (per-increment banks are retained)
    val tt = store.filterUnseen(
      spark.range(0, 300).select(xxhash64(col("id")).as("url_hash")), maxId = Some(0L))
    assert(tt.result.count() == 150L, "maxId=0 must see only increment 0")

    // a second compaction folds the new increment in
    store.compact(spark)
    assert(store.probeBanks(store.committedIds).length == 1)
    assert(store.filterUnseen(cand2).result.count() == 10L)
  }

  test("gc drops superseded generations; probes and time travel survive") {
    val dir = Files.createTempDirectory("graft-seen-gc").toString
    val store = SeenStore(dir, SeenStore.Config(parts = 4))
    (0 until 4).foreach { i =>
      store.append(spark.range(i * 100, i * 100 + 100)
        .select(xxhash64(col("id")).as("url_hash")), i)
    }
    store.compact(spark) // gen 0 covers 0..3
    (4 until 6).foreach { i =>
      store.append(spark.range(i * 100, i * 100 + 100)
        .select(xxhash64(col("id")).as("url_hash")), i)
    }
    store.compact(spark) // gen 1 covers 0..5
    assert(store.compactions.map(_._1) == Seq(0L, 1L))
    store.gc()
    assert(store.compactions.map(_._1) == Seq(1L), "only the newest generation survives")
    assert(!new java.io.File(s"$dir/compact-0").exists(), "superseded blobs deleted")
    val cand = spark.range(0, 800).select(xxhash64(col("id")).as("url_hash"))
    assert(store.filterUnseen(cand).result.count() == 200L) // 600..799 unseen
    // time travel below the surviving generation's coverage: falls back to
    // the retained per-increment banks
    val tt = store.filterUnseen(cand, maxId = Some(1L))
    assert(store.probeBanks(store.committedIds.filter(_ <= 1L)).length == 2)
    assert(tt.result.count() == 600L) // only 0..199 seen at inc ≤ 1
  }

  test("compact crash before marker is invisible; replay commits cleanly") {
    val dir = Files.createTempDirectory("graft-seen-compact-crash").toString
    val store = SeenStore(dir, SeenStore.Config(parts = 4))
    (0 until 3).foreach { i =>
      store.append(spark.range(i * 100, i * 100 + 100)
        .select(xxhash64(col("id")).as("url_hash")), i)
    }
    store.compact(spark)
    // simulate a crash: delete the marker, leaving the orphan generation dir
    Files.delete(java.nio.file.Paths.get(dir, "manifest", "compact-0.json"))
    assert(store.compactions.isEmpty, "uncommitted compaction must be invisible")
    assert(store.probeBanks(store.committedIds).length == 3)
    // replay writes a fresh generation over/past the orphan
    store.compact(spark)
    assert(store.probeBanks(store.committedIds).length == 1)
    val cand = spark.range(0, 600).select(xxhash64(col("id")).as("url_hash"))
    assert(store.filterUnseen(cand).result.count() == 300L)
  }

  test("probe plan: sketch probe is codegen'd, no bloom bytes cross the driver") {
    val dir = Files.createTempDirectory("graft-seen-plan").toString
    val store = SeenStore(dir, SeenStore.Config(parts = 4))
    store.append(spark.range(0, 2000).select(xxhash64(col("id")).as("url_hash")), 0L)
    val cand = spark.range(0, 4000).select(xxhash64(col("id")).as("url_hash"))
    val f = store.filterUnseen(cand)
    val plan = f.result.queryExecution.executedPlan.toString
    assert(plan.contains("seen_contains"), "probe expression missing from plan")
    assert(!plan.contains("bloomFilter"), "no driver-side bloom subquery expected")
    assert(f.result.count() == 2000L)
    f.release()
  }

  test("a deserialized resolver is the JVM's shared instance") {
    val r = SketchResolver.forBanks(Seq("/nonexistent/bank-a", "/nonexistent/bank-b"), 4)
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bos)
    out.writeObject(r)
    out.close()
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray)).readObject()
    assert(back eq r)
  }

  test("resolver cache evicts the least recently used bank list, not all of them") {
    def key(i: Int) = Seq(s"/nonexistent/lru-$i")
    val first = SketchResolver.forBanks(key(0), 2)
    (1 until 64).foreach(i => SketchResolver.forBanks(key(i), 2))
    assert(SketchResolver.forBanks(key(0), 2) eq first) // now most recently used
    SketchResolver.forBanks(key(64), 2) // 65th list
    assert(SketchResolver.forBanks(key(0), 2) eq first)
  }

  test("codegen probe loads banks once per JVM: rows survive deleting the bank files") {
    val dir = Files.createTempDirectory("graft-seen-once").toString
    val store = SeenStore(dir, SeenStore.Config(parts = 4))
    store.append(spark.range(0, 3000).select(xxhash64(col("id")).as("url_hash")), 0L)
    val cand = spark.range(0, 6000, 1, 8).select(xxhash64(col("id")).as("url_hash"))
    def probe() = store.filterUnseen(cand).result.collect().map(_.getLong(0)).sorted.toSeq
    val before = probe()
    assert(before.length == 3000)
    graft.LocalFiles.deleteRec(new java.io.File(s"$dir/inc-0/sketch"))
    assert(probe() == before, "tasks must reuse the executor's loaded banks")
  }

  test("bank lists that share a bank share its loaded state") {
    val dir = Files.createTempDirectory("graft-seen-shared").toString
    val store = SeenStore(dir, SeenStore.Config(parts = 4))
    store.append(spark.range(0, 3000).select(xxhash64(col("id")).as("url_hash")), 0L)
    store.append(spark.range(3000, 4000).select(xxhash64(col("id")).as("url_hash")), 1L)
    val cand = spark.range(0, 6000, 1, 8).select(xxhash64(col("id")).as("url_hash"))
    assert(store.filterUnseen(cand, maxId = Some(0L)).result.count() == 3000)
    graft.LocalFiles.deleteRec(new java.io.File(s"$dir/inc-0/sketch"))
    // a new list (inc-0, inc-1): inc-0 answers from the state the first
    // probe loaded, only inc-1 loads
    assert(store.filterUnseen(cand).result.count() == 2000)
  }

  test("directProbeMaxBytes takes byte strings: 1g probes directly, 1k routes, identical rows") {
    val dir = Files.createTempDirectory("graft-seen-bytestr").toString
    val store = SeenStore(dir, SeenStore.Config(parts = 4))
    store.append(spark.range(0, 3000).select(xxhash64(col("id")).as("url_hash")), 0L)
    val cand = spark.range(0, 6000).select(xxhash64(col("id")).as("url_hash"))
    val confKey = "spark.graft.seenstore.directProbeMaxBytes"
    def run(gate: String): (Boolean, Seq[Long]) = {
      spark.conf.set(confKey, gate)
      try {
        val df = store.filterUnseen(cand).result
        (df.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning(__seen_part"),
          df.collect().map(_.getLong(0)).sorted.toSeq)
      } finally spark.conf.unset(confKey)
    }
    val (directRouted, directRows) = run("1g")
    val (smallRouted, smallRows) = run("1k")
    assert(!directRouted, "1g gate: the state fits, probe directly")
    assert(smallRouted, "1k gate: the state does not fit, route on __seen_part")
    assert(smallRows == directRows)
  }

  test("probe routing is size-adaptive: direct (no exchange) under the gate, routed over it, identical rows") {
    val dir = Files.createTempDirectory("graft-seen-route").toString
    val store = SeenStore(dir, SeenStore.Config(parts = 4))
    store.append(spark.range(0, 3000).select(xxhash64(col("id")).as("url_hash")), 0L)
    def candidates = spark.range(0, 6000).select(xxhash64(col("id")).as("url_hash"))
    val confKey = "spark.graft.seenstore.directProbeMaxBytes"
    // small state (default 1 GiB gate): DIRECT — zero probe exchange,
    // probe fused over the candidates' existing partitioning
    val direct = store.filterUnseen(candidates).result
    assert(!direct.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning(__seen_part"),
      "small state must probe directly (no __seen_part exchange)")
    val directRows = direct.orderBy("url_hash").collect().map(_.getLong(0)).toSeq
    // force the routed path (gate at 0 bytes): ONE exchange on __seen_part
    spark.conf.set(confKey, "0")
    try {
      val routed = store.filterUnseen(candidates).result
      assert(routed.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning(__seen_part"),
        "state past the gate must route candidates to their seen partition")
      val routedRows = routed.orderBy("url_hash").collect().map(_.getLong(0)).toSeq
      assert(routedRows == directRows, "probe routing must never change the result")
    } finally spark.conf.unset(confKey)
  }

  /** A copy of the checked-in store written by the previous layout:
    * store.json with fpp and "sketch":"bloom", parquet increments under
    * inc-<id>/data next to the sidecars and sketches. Increment 0 holds
    * xxhash64 of ids 0..299, increment 1 ids 250..449, parts = 4. */
  private def parentFormatStore(): String = {
    val src = java.nio.file.Paths.get(getClass.getResource("/seenstore-parent-format").toURI)
    val dst = Files.createTempDirectory("graft-seen-parent")
    import scala.jdk.CollectionConverters._
    Files.walk(src).iterator().asScala.toSeq.foreach { f =>
      val to = dst.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(to) else Files.copy(f, to)
    }
    dst.toString
  }

  test("a store written with parquet increments and fpp/sketch config still probes, appends and compacts") {
    val dir = parentFormatStore()
    assert(new java.io.File(s"$dir/inc-0/data").isDirectory, "fixture keeps its parquet increments")
    val store = SeenStore(dir)
    assert(store.config == SeenStore.Config(parts = 4))
    assert(store.committedIds == Seq(0L, 1L))
    def ids(r: Range) = spark.range(r.start, r.end).select(xxhash64(col("id")).as("url_hash"))
    def hashes(r: Range) = ids(r).as[Long].collect().sorted.toSeq
    def unseen(cand: Range) = store.filterUnseen(ids(cand)).result.as[Long].collect().sorted.toSeq
    // the rows the previous layout's filterUnseen returned: ids 450..599
    assert(unseen(0 until 600) == hashes(450 until 600))
    store.append(ids(450 until 500), 2L)
    assert(unseen(0 until 600) == hashes(500 until 600))
    store.compact(spark)
    assert(store.probeBanks(store.committedIds).length == 1)
    assert(unseen(0 until 600) == hashes(500 until 600))
  }

  test("a store naming a sketch other than bloom fails loudly") {
    val dir = parentFormatStore()
    Files.write(java.nio.file.Paths.get(dir, "store.json"),
      """{"parts":4,"fpp":0.01,"sketch":"cuckoo"}""".getBytes("UTF-8"))
    val store = SeenStore(dir)
    val cand = spark.range(0, 600).select(xxhash64(col("id")).as("url_hash"))
    val probe = intercept[IllegalStateException](store.filterUnseen(cand))
    assert(probe.getMessage.contains("'cuckoo'"), probe.getMessage)
    intercept[IllegalStateException](store.append(cand, 2L))
    intercept[IllegalStateException](store.compact(spark))
  }
}
