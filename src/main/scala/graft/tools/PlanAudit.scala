package graft.tools

import graft.Queries
import graft.operators.{Crawl, Frontier}
import graft.sources.PagesGen
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The physical-plan contract of the judged-expensive queries: each audit
  * names the property the plan must exhibit (pushdown reached the scan,
  * WindowGroupLimit partial top-k fired, broadcasts chosen, the seen probe
  * is a narrow codegen filter, no row blow-ups) AND encodes it as an
  * executable check over the `executedPlan` string.
  *
  * Two consumers:
  *  - `main` regenerates docs/PLAN_AUDIT_r*.txt for human diffing
  *    (`runMain graft.tools.PlanAudit <outFile>`), failing loudly if any
  *    check regresses;
  *  - `PlanAuditSpec` runs every check under `sbt test`, so a plan
  *    regression (a lost broadcast, a new shuffle, a window that stopped
  *    pruning map-side) fails CI instead of needing a human diff.
  */
object PlanAudit {

  final case class Audit(
      name: String,
      expectation: String,
      build: (SparkSession, String) => DataFrame,
      check: String => Seq[String])

  // ---------------------------------------------------------------- checks

  private def count(hay: String, needle: String): Int = {
    var i = 0; var n = 0
    while ({ i = hay.indexOf(needle, i); i >= 0 }) { n += 1; i += needle.length }
    n
  }

  private def eq(plan: String, needle: String, want: Int): Seq[String] = {
    val got = count(plan, needle)
    if (got == want) Nil else Seq(s"expected $want x '$needle', got $got")
  }
  private def atLeast(plan: String, needle: String, want: Int): Seq[String] = {
    val got = count(plan, needle)
    if (got >= want) Nil else Seq(s"expected >=$want x '$needle', got $got")
  }
  private def atMost(plan: String, needle: String, want: Int): Seq[String] = {
    val got = count(plan, needle)
    if (got <= want) Nil else Seq(s"expected <=$want x '$needle', got $got")
  }
  private def has(plan: String, needle: String): Seq[String] =
    if (plan.contains(needle)) Nil else Seq(s"missing '$needle'")
  private def hasNo(plan: String, needle: String): Seq[String] =
    if (!plan.contains(needle)) Nil else Seq(s"forbidden '$needle' present")

  /** Exchanges must carry only scheduling/key columns — a payload column
    * (html bytes, document text) crossing a shuffle is the classic
    * accidental 100x-wire-bytes regression. */
  private def exchangesCarryNoPayload(plan: String): Seq[String] =
    plan.linesIterator
      .filter(l => l.contains("Exchange ") &&
        (l.contains("html#") || l.contains("text#") || l.contains("payload#")))
      .map(l => s"payload column crosses an exchange: ${l.trim.take(140)}")
      .toSeq

  /** Node depth of a plan-tree line: the column of its "+- "/":- " marker
    * (-1 for the root line). */
  private def indent(l: String): Int = {
    val a = l.indexOf("+- "); val b = l.indexOf(":- ")
    if (a < 0) b else if (b < 0) a else math.min(a, b)
  }

  /** "NO exchange above the bucketed index scan": walk the plan-tree
    * string from the `Bucketed: true` scan line up through its ancestors
    * (nearest line above with strictly smaller node indentation) and
    * require no shuffle exchange before the first Join ancestor. Encodes
    * the bucketing win positionally, so it holds whether the planner picks
    * the broadcast-dim or the bucket-aligned sort-merge variant. */
  private def noShuffleAboveBucketedScan(plan: String): Seq[String] = {
    val lines = plan.linesIterator.toArray
    val scanIdx = lines.indexWhere(_.contains("Bucketed: true"))
    if (scanIdx < 0) return Seq("no bucketed scan in plan")
    var cur = indent(lines(scanIdx))
    var j = scanIdx - 1
    while (j >= 0 && cur > 0) {
      val pj = indent(lines(j))
      if (pj >= 0 && pj < cur) { // ancestor
        if (lines(j).contains("Join")) return Nil
        if (lines(j).contains("Exchange hashpartitioning") ||
            lines(j).contains("Exchange rangepartitioning"))
          return Seq(s"shuffle above the bucketed scan: ${lines(j).trim.take(120)}")
        cur = pj
      }
      j -= 1
    }
    Nil
  }

  /** Every audited plan, regardless of query: no cartesian blow-up, no
    * single-partition exchange (a global Window.orderBy / global sort in
    * the middle of a pipeline), no Python eval, no round-robin exchange
    * over another exchange.
    *
    * One SinglePartition shape is exempt: the cap-truncation SENTINEL of
    * Dedup.observedTruncation — a keys=[] global sum over the bucket
    * aggregate's per-bucket `__n` counts. Its exchange input is one
    * partial-sum row per task (bytes, not data), and it is the mechanism
    * that makes capped runs observable, so it is allowed — but ONLY when
    * the exchange's immediate child is exactly that partial_sum over
    * `__n#`. Any other single-partition exchange (a global sort/agg on
    * the data path) still fails the audit. */
  private def noDataPathSinglePartition(plan: String): Seq[String] = {
    val lines = plan.linesIterator.toArray
    lines.zipWithIndex.collect {
      case (l, i) if l.contains("Exchange SinglePartition") &&
        !(i + 1 < lines.length && lines(i + 1).contains("partial_sum") &&
          lines(i + 1).contains("__n#")) =>
        s"forbidden 'Exchange SinglePartition' on the data path: ${l.trim.take(120)}"
    }.toSeq
  }

  /** Round-robin exchanges read only a deterministic input: no exchange
    * anywhere in the subtree below one. The table loader's scan-width floor
    * repartitions without Spark's pre-sort, which is safe only because its
    * input is a file scan (a retried map task then rebuilds the same
    * partitions); a round-robin over a shuffle would be indeterminate. The
    * subtree of the line at depth d is every following line deeper than d. */
  private[tools] def roundRobinOverScanOnly(plan: String): Seq[String] = {
    val lines = plan.linesIterator.toArray
    lines.indices.filter(i => lines(i).contains("RoundRobinPartitioning")).flatMap { i =>
      val d = indent(lines(i))
      lines.iterator.drop(i + 1).takeWhile(indent(_) > d)
        .find(_.contains("Exchange"))
        .map(l => s"round-robin exchange over an exchange: ${l.trim.take(120)}")
    }
  }

  private def common(plan: String): Seq[String] =
    hasNo(plan, "CartesianProduct") ++
      noDataPathSinglePartition(plan) ++
      hasNo(plan, "BatchEvalPython") ++
      roundRobinOverScanOnly(plan)

  // ---------------------------------------------------------------- audits

  /** The full audit list. Builders are pure (SparkSession, sfDir) =>
    * DataFrame so the ScalaTest suite can register one test per name
    * without planning anything at registration time. */
  val audits: Seq[Audit] = Seq(
    Audit("f04_politeness_schedule",
      "WindowGroupLimit Partial before both rank exchanges; only scheduling columns in exchanges (no payload text)",
      (s, sf) => Queries.queries("f04_politeness_schedule")(s, sf),
      p => common(p) ++ eq(p, ", Partial", 4) ++ eq(p, "BroadcastHashJoin", 1) ++
        atMost(p, "Exchange hashpartitioning", 5) ++ exchangesCarryNoPayload(p)),

    Audit("f01_canonicalize",
      "each url normalized ONCE: one url_canon kernel expanded by Generate inline — no url_normalize copied into a pushed-down Filter, no url_is_valid re-parse",
      (s, sf) => Queries.queries("f01_canonicalize")(s, sf),
      p => common(p) ++ eq(p, "url_canon(", 1) ++ has(p, "Generate inline(url_canon(") ++
        atMost(p, "url_normalize(", 1) ++ hasNo(p, "url_is_valid")),

    Audit("f08_seen_partitioned",
      "DIRECT seen probe (state under the size gate): seen_contains fused as a narrow codegen filter with ZERO probe exchange — the only hash exchange is the first-wins window's; NO bloom subquery, NO join, NO driver-side sketch (probe runs over the COMPACTED single bank)",
      (s, sf) => Queries.queries("f08_seen_partitioned")(s, sf),
      p => common(p) ++ has(p, "seen_contains") ++
        hasNo(p, "Exchange hashpartitioning(__seen_part") ++
        eq(p, "Exchange hashpartitioning", 1) ++ eq(p, "Join", 0) ++
        hasNo(p, "bloom")),

    Audit("f13_cross_round_index",
      "the cross-round digest index side is a BUCKETED scan: last-capture aggregate + dedup join with NO exchange above the index scan (candidates side exchanges once on payload_digest)",
      (s, sf) => Queries.queries("f13_cross_round_index")(s, sf),
      p => common(p) ++ has(p, "Bucketed: true") ++ has(p, "SelectedBucketsCount") ++
        has(p, "Exchange hashpartitioning(payload_digest") ++
        atMost(p, "Exchange hashpartitioning", 2) ++ atLeast(p, "Join", 1) ++
        hasNo(p, "windowspecdefinition") ++ has(p, "partial_min") ++
        noShuffleAboveBucketedScan(p)),

    Audit("f03_digest_dedup",
      "skew-safe digest first-wins: min-aggregate (map-side partial_min) + join back; NO window anywhere — a digest-partitioned window funnels a boilerplate digest into one task",
      (s, sf) => Queries.queries("f03_digest_dedup")(s, sf),
      p => common(p) ++ hasNo(p, "windowspecdefinition") ++
        has(p, "partial_min") ++ has(p, "LeftOuter")),

    Audit("d01_exact_dedup",
      "skew-safe exact dedup: min-aggregate keeper (map-side partial_min) + null-safe join back; NO window anywhere",
      (s, sf) => Queries.queries("d01_exact_dedup")(s, sf),
      p => common(p) ++ hasNo(p, "windowspecdefinition") ++
        has(p, "partial_min")),

    Audit("f09_cdx_dedup",
      "skew-safe local first-wins: min-aggregate firsts dim (NO digest window) joined back + ONE left join against the aggregated CDX last-capture dim; exemptions as codegen filters",
      (s, sf) => Queries.queries("f09_cdx_dedup")(s, sf),
      p => common(p) ++ eq(p, "BroadcastHashJoin", 2) ++ eq(p, "SortMergeJoin", 0) ++
        eq(p, "Exchange hashpartitioning", 2) ++ has(p, "LeftOuter") ++
        hasNo(p, "windowspecdefinition") ++ has(p, "partial_min")),

    Audit("s01_ann_brute",
      "broadcast of the SMALL query side (BroadcastNestedLoopJoin), corpus scanned once, WindowGroupLimit partial top-k",
      (s, sf) => Queries.queries("s01_ann_brute")(s, sf),
      p => common(p) ++ has(p, "BroadcastNestedLoopJoin BuildRight") ++
        eq(p, "FileScan", 2) ++ atLeast(p, ", Partial", 1) ++
        eq(p, "Exchange hashpartitioning", 1)),

    Audit("s02_ann_ivf",
      "narrow argmax_cell projection for assignment (NO exchange between scan and cell id), broadcast centroids, probed-cells join",
      (s, sf) => Queries.queries("s02_ann_ivf")(s, sf),
      p => common(p) ++ has(p, "argmax_cell") ++ atLeast(p, "BroadcastExchange", 1) ++
        atLeast(p, ", Partial", 2)),

    Audit("s03_ann_quantized",
      "same shape as s01 (broadcast query side, one corpus scan, WindowGroupLimit partial top-k) with the narrow quantize projection fused into the scan",
      (s, sf) => Queries.queries("s03_ann_quantized")(s, sf),
      p => common(p) ++ has(p, "quantize_i8") ++ has(p, "BroadcastNestedLoopJoin") ++
        eq(p, "FileScan", 2) ++ atLeast(p, ", Partial", 1)),

    Audit("d02_minhash_pairs",
      "one-pass minhash_sig kernel, band-bucket groupBy (never all-pairs), capped collect_list buckets; verify joins ship per-doc DISTINCT shingle SETS",
      (s, sf) => Queries.queries("d02_minhash_pairs")(s, sf),
      p => common(p) ++ has(p, "minhash_sig") ++ has(p, "collect_list") ++
        eq(p, "BroadcastNestedLoopJoin", 0) ++ atLeast(p, "partial_", 1)),

    Audit("d10_minhash_distinct",
      "two-lane flood-proof minhash: exact-dup lane block-decomposes the 128-bit content-key (md5) self-join so a mirror cluster's C(n,2) pairs expand at cluster parallelism, LSH lane computes minhash_sig over ONE representative per distinct text (map-side min_by partials); capped collect_list buckets, never all-pairs",
      (s, sf) => Queries.queries("d10_minhash_distinct")(s, sf),
      // minhash_sig itself collapses into the reps aggregate's result
      // projection (invisible in the plan string); the observable
      // signature is the band-bucket xxhash64 explode over the min_by
      // representative rows, with map-side partial_min_by combine
      p => common(p) ++ has(p, "xxhash64(concat_ws") ++ has(p, "md5(") ++
        has(p, "collect_list") ++ eq(p, "BroadcastNestedLoopJoin", 0) ++
        atLeast(p, "partial_min_by", 1)),

    Audit("f17_host_rank",
      "integer fixed-point PageRank: per-iteration groupBy(dst)+join over checkpointed leaf inputs; no float aggregation anywhere (order-independent by construction)",
      (s, sf) => Queries.queries("f17_host_rank")(s, sf),
      p => common(p) ++ has(p, "Scan ExistingRDD") ++ eq(p, "Join", 0) ++
        eq(p, "Exchange hashpartitioning", 0)),

    Audit("d04_embedding_neardup",
      "banded hyperplane_sigs kernel, (table,sig) bucket groupBy, exact cosine verify; planted deltas are pure arithmetic (no hash calls)",
      (s, sf) => Queries.queries("d04_embedding_neardup")(s, sf),
      p => common(p) ++ has(p, "hyperplane_sigs") ++ has(p, "collect_list") ++
        eq(p, "BroadcastNestedLoopJoin", 0)),

    Audit("t03_langid",
      "single narrow lang_id kernel projection (was 4 interpreted HOF passes)",
      (s, sf) => Queries.queries("t03_langid")(s, sf),
      p => common(p) ++ has(p, "lang_id(") ++ eq(p, "FileScan", 1) ++
        eq(p, "Exchange hashpartitioning", 0) ++ hasNo(p, "lambdafunction")),

    Audit("m02_media_transform",
      "per-partition batch mapPartitions (decoder amortized), no shuffle before the transform",
      (s, sf) => Queries.queries("m02_media_transform")(s, sf),
      p => common(p) ++ eq(p, "MapPartitions", 1) ++ eq(p, "FileScan", 1) ++
        eq(p, "Exchange hashpartitioning", 0)),

    Audit("d06_line_dedup",
      "narrow chunking projection; first-wins as partial_min aggregate on the line (map-side combine collapses mega-lines; NO Window); keeper join back on the UNIQUE (doc,idx) key; per-doc re-aggregate",
      (s, sf) => Queries.queries("d06_line_dedup")(s, sf),
      p => common(p) ++ hasNo(p, "windowspecdefinition") ++ has(p, "partial_min") ++
        eq(p, "BroadcastHashJoin", 1)),

    Audit("d07_decontam",
      "within-document work stays within the row: one gram_hit_count kernel pass against the broadcast eval-gram dim — no gram explode, no join, no hash exchange (only the presentation sort)",
      (s, sf) => Queries.queries("d07_decontam")(s, sf),
      p => common(p) ++ has(p, "gram_hit_count") ++ eq(p, "SortMergeJoin", 0) ++
        eq(p, "BroadcastHashJoin", 0) ++ eq(p, "Exchange hashpartitioning", 0) ++
        hasNo(p, "Generate explode")),

    Audit("t07_repetition",
      "within-document work stays within the row: one narrow gram_counts kernel pass over the documents scan — no explode, no gram shuffle, no hash exchange at all (only the final presentation sort)",
      (s, sf) => Queries.queries("t07_repetition")(s, sf),
      p => common(p) ++ has(p, "gram_counts") ++ eq(p, "FileScan", 1) ++
        eq(p, "Exchange hashpartitioning", 0) ++ hasNo(p, "Generate explode")),

    Audit("t08_seq_pack",
      "two-phase distributed prefix sum: range partition + narrow per-partition running sum (RDD scan), NO single-task Window.orderBy; final rank bounded per sequence",
      (s, sf) => Queries.queries("t08_seq_pack")(s, sf),
      p => common(p) ++ has(p, "Scan ExistingRDD") ++ eq(p, "windowspecdefinition", 1)),

    Audit("t11_bpe_tokens",
      "single narrow bpe_count kernel projection over the documents scan (codegen, no HOFs, no shuffle before the sort)",
      (s, sf) => Queries.queries("t11_bpe_tokens")(s, sf),
      p => common(p) ++ has(p, "bpe_count") ++ eq(p, "FileScan", 1) ++
        eq(p, "Exchange hashpartitioning", 0) ++ hasNo(p, "lambdafunction")),

    Audit("m03_byte_packing",
      "deterministic id-domain prefix groups: ONE hash exchange on __g + within-partition sort, identity partitioner to byte-bounded buckets (never sampled range boundaries, never keyed on physical partition ids)",
      (s, sf) => Queries.queries("m03_byte_packing")(s, sf),
      p => common(p) ++ has(p, "Scan ExistingRDD") ++
        eq(p, "Exchange hashpartitioning", 1) ++
        eq(p, "Exchange rangepartitioning", 1)),

    Audit("f18_authority_schedule",
      "politeness schedule (WindowGroupLimit partials) + BROADCAST authority dim + TakeOrderedAndProject global wave cap (map-side K-row heaps, never a single-task Window)",
      (s, sf) => Queries.queries("f18_authority_schedule")(s, sf),
      p => common(p) ++ has(p, "TakeOrderedAndProject") ++
        atLeast(p, "BroadcastHashJoin", 1) ++ atLeast(p, ", Partial", 2) ++
        eq(p, "Exchange rangepartitioning", 0)),

    Audit("m04_audio_decode",
      "per-partition batch mapPartitions audio parse (no shuffle before the sort); features in exact integer sums",
      (s, sf) => Queries.queries("m04_audio_decode")(s, sf),
      p => common(p) ++ eq(p, "MapPartitions", 1) ++
        eq(p, "Exchange hashpartitioning", 0)),

    Audit("f07_round_core",
      "broadcast robots/politeness dims; WindowGroupLimit on every rank; fetch join keeps html out of the rank exchanges; digest window after the join",
      (s, _) => f07RoundCore(s),
      p => common(p) ++ atLeast(p, "BroadcastHashJoin", 2) ++
        atLeast(p, ", Partial", 3) ++
        // digest dedup: first capture per digest is a min-aggregate + join
        // back — a rank window partitioned by the digest is BANNED (one
        // boilerplate digest would pin one window task; AQE cannot split
        // window groups, it can split the join this shape uses instead)
        (p.linesIterator
          .filter(l => l.contains("windowspecdefinition") && l.contains("payload_digest"))
          .map(l => s"forbidden digest-partitioned window: ${l.trim.take(120)}")
          .toSeq) ++
        has(p, "partial_min") ++
        exchangesCarryNoPayload(p)),

    Audit("bench_headline_schedule",
      "the BENCH frontier path: DIRECT seen_contains probe (zero probe exchange — state under the size gate) + single host exchange with WindowGroupLimit Partial map-side prune (salted pre-rank off)",
      (s, _) => benchHeadlineSchedule(s),
      p => common(p) ++ has(p, "seen_contains") ++
        hasNo(p, "Exchange hashpartitioning(__seen_part") ++
        eq(p, "Exchange hashpartitioning", 1) ++ atLeast(p, ", Partial", 1)),
  )

  // the integrated crawl-round core (f07's per-round plan, unpersisted):
  // canonicalize -> in-batch first-wins -> robots broadcast gate ->
  // two-phase schedule -> fetch join -> digest-dedup window
  private def f07RoundCore(spark: SparkSession): DataFrame = {
    import graft.functions.GraftFunctions
    import spark.implicits._
    val web = Crawl.asWeb(PagesGen.pages(spark, 2000, 20, 42L).toDF())
    val politeness =
      (0 until 7).map(h => (s"host$h.example", 1 + h % 3)).toDF("host", "budget")
    val frontier = PagesGen.seeds(2000, 60, 20, 42L)
      .toDF("url")
      .withColumn("depth", lit(0))
      .withColumn("warc_ts", lit(new java.sql.Timestamp(PagesGen.BaseEpochSec * 1000L)))
    val canonical = Frontier.canonicalize(frontier)
      .select(col("url_norm"), col("host"), col("url_hash"), col("depth"), col("warc_ts"))
    val deduped = Frontier.firstSeenWins(canonical, col("url_hash"),
      Seq(col("depth").asc, col("warc_ts").desc, col("url_norm").asc))
    val scheduled = Frontier.schedule(deduped, Some(politeness),
      Frontier.Config(defaultBudget = 4, saltBuckets = 8))
    Frontier.digestDedup(
      scheduled.join(web, Seq("url_norm"), "inner")
        .withColumn("extracted_text", GraftFunctions.http_extract_text(col("html")))
        .withColumn("payload", encode(col("extracted_text"), "UTF-8"))
        .withColumn("payload_len", length(col("payload")).cast("long"))
        .withColumn("payload_digest", GraftFunctions.sha1_base32(col("payload")))
        .drop("payload"),
      Frontier.Config(), captureTsCol = "page_ts")
  }

  // the BENCH frontier path over a real SeenStore (small here; the plan
  // shape is what matters: probe exchange + codegen filter + pruned ranks)
  private def benchHeadlineSchedule(spark: SparkSession): DataFrame = {
    val cfg = Frontier.Config(defaultBudget = 64, saltBuckets = 1)
    val frontier = PagesGen.urls(spark, 20000, 100, 42L, partitions = 8)
    val canon = Frontier.canonicalize(frontier)
      .select(col("url_norm"), col("url_hash"), col("host"), col("warc_ts"), col("depth"))
    val seenDir = java.nio.file.Files.createTempDirectory("graft-audit-seen").toString
    val store = graft.state.SeenStore(seenDir, graft.state.SeenStore.Config(parts = 8))
    store.append(canon.filter(pmod(col("url_hash"), lit(10L)) < 3).select("url_hash"), 0L)
    Frontier.schedule(store.filterUnseen(canon).result, None, cfg)
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("docs/PLAN_AUDIT_r5.txt")
    val sf = "/root/testdata/sf0.01"
    val spark = graft.GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    var failures = 0

    audits.foreach { a =>
      val plan = a.build(spark, sf).queryExecution.executedPlan.toString
      sb.append(s"===== ${a.name} =====\n")
      sb.append(s"-- expect: ${a.expectation}\n")
      val errs = a.check(plan)
      errs.foreach { e => sb.append(s"-- REGRESSION: $e\n"); failures += 1 }
      sb.append(plan)
      sb.append("\n\n")
      println(s"${if (errs.isEmpty) "ok  " else "FAIL"} ${a.name}" +
        (if (errs.isEmpty) "" else errs.mkString(" [", "; ", "]")))
    }

    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      sb.toString.getBytes("UTF-8"))
    println(s"wrote $out (${sb.length} chars), $failures check failure(s)")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
