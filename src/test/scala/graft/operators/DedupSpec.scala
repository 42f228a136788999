package graft.operators

import graft.GraftSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private def jaccard(a: String, b: String, k: Int): Double = {
    def sh(s: String) = s.toLowerCase.split("\\s+").sliding(k).map(_.mkString(" ")).toSet
    val (sa, sb) = (sh(a), sh(b))
    if (sa.isEmpty && sb.isEmpty) 0.0
    else sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble
  }

  val base = "the quick brown fox jumps over the lazy dog while the cat watches from the warm windowsill every single afternoon in summer"
  lazy val docs = Seq(
    (0L, base),
    (1L, base), // exact dup of 0
    (2L, base.replace("summer", "winter")), // near dup of 0
    (3L, "completely different text about database engines and distributed query processing at large scale with many executors"),
    (4L, base.replace("quick", "slow").replace("lazy", "sleepy")), // near-ish
    (5L, "another unrelated document mentioning bloom filters cuckoo hashing and politeness budgets for web crawling frontiers")
  ).toDF("doc_id", "text")

  test("exact dedup marks later copies, keeps first") {
    val out = Dedup.exact(docs).select("doc_id", "is_dup", "keeper")
      .as[(Long, Boolean, Long)].collect().sortBy(_._1)
    assert(out(0) == ((0L, false, 0L)))
    assert(out(1) == ((1L, true, 0L)))
    assert(out.drop(2).forall(!_._2))
  }

  test("exact dedup with null ids: a null id is a dup beside a non-null keeper, kept when all ids are null") {
    val withNulls = Seq[(Option[Long], String)](
      (Some(7L), "alpha"), (None, "alpha"), (Some(9L), "alpha"), // keeper 7
      (None, "beta"), (None, "beta"), // every id null: keeper null
      (Some(3L), "gamma")
    ).toDF("doc_id", "text")
    val got = Dedup.exact(withNulls).select("text", "doc_id", "is_dup", "keeper")
    val expected = Seq[(String, Option[Long], Boolean, Option[Long])](
      ("alpha", Some(7L), false, Some(7L)),
      ("alpha", None, true, Some(7L)),
      ("alpha", Some(9L), true, Some(7L)),
      ("beta", None, false, None),
      ("beta", None, false, None),
      ("gamma", Some(3L), false, Some(3L))
    ).toDF("text", "doc_id", "is_dup", "keeper")
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      got.collect().mkString("\n"))
    // the dedup consumer keeps every row whose is_dup is false, nulls included
    assert(got.filter(!col("is_dup")).count() == 4)
  }

  test("minhash LSH finds high-jaccard pairs, verified exactly") {
    val got = Dedup.minhashPairs(docs, k = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => ((a, b), j) }.toMap
    // brute-force oracle over all pairs
    val local = docs.as[(Long, String)].collect()
    val truePairs = (for {
      (ia, ta) <- local; (ib, tb) <- local if ia < ib
      j = jaccard(ta, tb, 3) if j >= 0.5
    } yield ((ia, ib), j)).toMap
    // every reported pair is truly above threshold with the exact jaccard
    got.foreach { case (p, j) =>
      assert(truePairs.contains(p), s"false positive $p")
      assert(math.abs(truePairs(p) - j) < 1e-9)
    }
    // pairs with very high jaccard must be recalled (LSH p ≈ 1 at j ≥ 0.9)
    truePairs.filter(_._2 >= 0.9).keys.foreach(p => assert(got.contains(p), s"missed $p"))
    assert(got.contains((0L, 1L)), "exact dup must be found")
    assert(got.contains((0L, 2L)), "near dup must be found")
  }

  test("simhash pairs: hamming distances verified against brute force") {
    // blocks=8 > maxHamming=7 keeps the pigeonhole recall guarantee at a
    // wider distance than the default (4, 3) configuration allows
    val got = Dedup.simhashPairs(docs, k = 3, maxHamming = 7, blocks = 8)
      .as[(Long, Long, Long)].collect().map { case (a, b, h) => ((a, b), h) }.toMap
    assert(got.contains((0L, 1L)) && got((0L, 1L)) == 0L, "identical docs → hamming 0")
    // verify each reported distance against a driver-side kernel recompute
    val local = docs.as[(Long, String)].collect()
      .map { case (id, t) => id -> graft.codec.Hashing.simhash64(t, 3) }.toMap
    got.foreach { case ((a, b), h) =>
      assert(java.lang.Long.bitCount(local(a) ^ local(b)).toLong == h)
    }
    // EXACT recall at the guarantee: every true pair within maxHamming is
    // reported (pigeonhole over C(8,1) byte blocks)
    val ids = local.keys.toSeq.sorted
    for (a <- ids; b <- ids if a < b) {
      val d = java.lang.Long.bitCount(local(a) ^ local(b)).toLong
      if (d <= 7L) assert(got.get((a, b)).contains(d), s"missed true pair ($a,$b) at hamming $d")
      else assert(!got.contains((a, b)), s"false positive ($a,$b) past maxHamming")
    }
  }

  test("simhash blocking: wider Manku keys (blocks=8) agree with the quarter scheme") {
    // same guarantee region (d<=3): blocks=4 (quarters) and blocks=8
    // (C(8,5)=56 packed 40-bit keys — the >10^9-distinct-hash config) must
    // produce EXACTLY the same pair set
    def run(blocks: Int) = Dedup.simhashPairs(docs, k = 3, maxHamming = 3, blocks = blocks)
      .as[(Long, Long, Long)].collect().toSet
    assert(run(8) == run(4))
    // invalid configs fail loudly, never silently lose recall
    intercept[IllegalArgumentException](Dedup.simhashPairs(docs, maxHamming = 4, blocks = 4))
    intercept[IllegalArgumentException](Dedup.simhashPairs(docs, blocks = 5))
  }

  test("minhash distinct-text lane: agrees with single-pass form, immune to exact-dup floods") {
    // equivalence on the standard fixture (no cap pressure): same pairs,
    // same exact jaccard values
    def asMap(df: org.apache.spark.sql.DataFrame) = df
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => ((a, b), j) }.toMap
    val single = asMap(Dedup.minhashPairs(docs, k = 3, threshold = 0.5))
    val twoLane = asMap(Dedup.minhashPairsDistinct(docs, k = 3, threshold = 0.5))
    assert(twoLane.keySet == single.keySet)
    twoLane.foreach { case (p, j) => assert(math.abs(single(p) - j) < 1e-9) }

    // a 300-member identical-text flood + one planted near-dup pair, cap 8:
    // the single-pass form truncates (and loses flood pairs); the
    // distinct-text form reports ALL C(300,2) flood pairs at jaccard 1.0,
    // still finds the near-dup pair, and never trips the cap counter
    val flood = ((0L until 300L).map(id => (id, base)) ++
      Seq((1000L, base.replace("summer", "winter")),
          (1001L, base.replace("summer", "winter").replace("dog", "dog and")))).toDF("doc_id", "text")
    val exact = Dedup.minhashPairsDistinct(flood, k = 3, threshold = 0.5, maxBucket = 8)
    val rows = asMap(exact)
    exact.collect() // populate observed metrics
    assert(exact.queryExecution.observedMetrics("minhash_buckets")
      .getAs[Long]("truncated_buckets") == 0L,
      "identical-text floods must not trip the distinct-text cap")
    val floodPairs = rows.filter { case ((a, b), _) => a < 300L && b < 300L }
    assert(floodPairs.size == 300 * 299 / 2, "every flood pair, uncapped")
    assert(floodPairs.values.forall(_ == 1.0))
    assert(rows.contains((1000L, 1001L)), "near-dup across distinct texts still found")
    // the single-pass form drops flood pairs under the same cap
    val capped = asMap(Dedup.minhashPairs(flood, k = 3, threshold = 0.5, maxBucket = 8))
    assert(capped.count { case ((a, b), _) => a < 300L && b < 300L } < 300 * 299 / 2)
  }

  test("selfPairsWithinGroups: block-decomposed pairs == naive self-join, at any block count") {
    // groups sized to force 1, 2, and 5+ blocks at blockSize=64, plus a
    // singleton (no pairs) — exactness must hold across the diagonal
    // (triangular) and off-diagonal (cross) expansions and their union
    val members = (
      (0L until 150L).map(i => ("big", i * 7 + 1)) ++      // 3 blocks
      (0L until 300L).map(i => ("huge", 10000L + i)) ++    // 5 blocks
      (0L until 70L).map(i => ("two", 20000L + i * 3)) ++  // 2 blocks
      (0L until 40L).map(i => ("one", 30000L + i)) ++      // 1 block
      Seq(("solo", 99999L))
    ).toDF("g", "id")
    val got = Dedup.selfPairsWithinGroups(members, "g", "id", blockSize = 64)
      .select("g", "id_a", "id_b").as[(String, Long, Long)].collect().toSet
    val naive = members.as("a")
      .join(members.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .select(col("a.g"), col("a.id"), col("b.id"))
      .as[(String, Long, Long)].collect().toSet
    assert(naive.nonEmpty && got == naive)
    assert(got.forall { case (_, a, b) => a < b })
    // default blockSize covers the single-block degenerate path
    val one = Dedup.selfPairsWithinGroups(members, "g", "id")
      .select("g", "id_a", "id_b").as[(String, Long, Long)].collect().toSet
    assert(one == naive)
  }

  test("crossPairsBetweenGroups: block-decomposed cross expansion == naive double join") {
    // group sizes forcing 1, 2, and 3+ blocks at blockSize=64; key pairs
    // carry a scalar that must ride through the expansion unchanged
    val members = (
      (0L until 150L).map(i => ("ga", i * 7 + 1)) ++
      (0L until 90L).map(i => ("gb", 10000L + i)) ++
      (0L until 40L).map(i => ("gc", 20000L + i * 3)) ++
      Seq(("gd", 99999L))
    ).toDF("g", "id")
    val keyPairs = Seq(("ga", "gb", 0.91), ("gc", "gd", 0.75)).toDF("ck_a", "ck_b", "jaccard")
    val got = Dedup.crossPairsBetweenGroups(keyPairs, members, "ck_a", "ck_b", "g", "id", blockSize = 64)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val naive = keyPairs
      .join(members.select(col("g").as("ck_a"), col("id").as("ia")), "ck_a")
      .join(members.select(col("g").as("ck_b"), col("id").as("ib")), "ck_b")
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("jaccard"))
      .as[(Long, Long, Double)].collect().toSet
    assert(naive.size == 150 * 90 + 40 && got == naive)
    // default (single-block) degenerate path
    val one = Dedup.crossPairsBetweenGroups(keyPairs, members, "ck_a", "ck_b", "g", "id")
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(one == naive)
  }

  test("ngram jaccard column matches scala oracle") {
    def grams(s: String, n: Int) = (0 to s.length - n).map(i => s.substring(i, i + n)).toSet
    val pairs = Seq(("abcdefgh", "abcdefgx"), ("hello world", "hello there"), ("aaa", "bbb"))
      .toDF("a", "b")
    val got = pairs.select(Dedup.ngramJaccard(col("a"), col("b"), 3).as("j"))
      .as[Double].collect()
    val want = Seq(("abcdefgh", "abcdefgx"), ("hello world", "hello there"), ("aaa", "bbb"))
      .map { case (a, b) =>
        val (ga, gb) = (grams(a, 3), grams(b, 3))
        ga.intersect(gb).size.toDouble / ga.union(gb).size.toDouble
      }
    got.zip(want).foreach { case (g, w) => assert(math.abs(g - w) < 1e-9) }
  }

  test("duplicate clusters: pointer-jumping components converge on chains, cliques, singleton-free") {
    import spark.implicits._
    // a 12-node CHAIN (diameter 11 — needs jumping, 1 round of neighbor-min
    // would not finish), a 4-clique, and an isolated pair
    val chain = (1 until 12).map(i => (i.toLong, (i + 1).toLong))
    val clique = for (a <- 20 to 23; b <- (a + 1) to 23) yield (a.toLong, b.toLong)
    val pair = Seq((40L, 41L))
    val pairs = (chain ++ clique ++ pair).toDF("id_a", "id_b")
    val comp = Dedup.duplicateClusters(pairs).as[(Long, Long)].collect().toMap
    assert((1L to 12L).forall(comp(_) == 1L), "chain collapses to its min id")
    assert((20L to 23L).forall(comp(_) == 20L))
    assert(comp(40L) == 40L && comp(41L) == 40L)
    assert(comp.size == 18, "only ids that appear in pairs are assigned")
  }

  test("hostRank, duplicateClusters and refineCentroids release every frame they persist") {
    val cache = spark.sharedState.cacheManager
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("d", "a")).toDF("src_host", "dst_host")
    val chain = (1 until 12).map(i => (i.toLong, (i + 1).toLong)).toDF("id_a", "id_b")
    val corpus = (0 until 40).map(i => (i.toLong, Array(i % 5, i / 5, 1).map(_.toFloat)))
      .toDF("vec_id", "embedding")
    val runs = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "hostRank" -> (() => Frontier.hostRank(edges, iterations = 3)),
      "duplicateClusters" -> (() => Dedup.duplicateClusters(chain)),
      "refineCentroids" -> (() => Similarity.refineCentroids(corpus,
        Similarity.initCentroids(corpus, nCells = 4, "vec_id", "embedding"), iterations = 2)))
    for ((name, run) <- runs) {
      spark.catalog.clearCache()
      assert(run().collect().nonEmpty, name)
      assert(cache.isEmpty, s"$name left a cached frame behind")
    }
  }

  test("embedding near-dup via banded hyperplane LSH: recall ≥ 0.9 on noisy pairs") {
    // planted near-dups are NOISE-perturbed (direction changes!), not
    // scalar multiples — a single-signature LSH only recalls ~28% of these
    val rng = new scala.util.Random(7)
    val dim = 16
    val nPlanted = 40
    val baseVecs = (0 until 120).map(_ => Array.fill(dim)(rng.nextGaussian().toFloat))
    val rows = baseVecs.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      baseVecs.zipWithIndex.take(nPlanted).map { case (v, i) =>
        ((i + 1000).toLong, v.map(x => x + 0.12f * rng.nextGaussian().toFloat))
      }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }
    // brute-force truth: every pair with cosine ≥ threshold
    val threshold = 0.95
    val truth = (for {
      i <- rows.indices; j <- (i + 1) until rows.size
      if cos(rows(i)._2, rows(j)._2) >= threshold
    } yield {
      val (a, b) = (rows(i)._1, rows(j)._1)
      (math.min(a, b), math.max(a, b))
    }).toSet
    assert(truth.size >= nPlanted / 2, s"fixture too weak: only ${truth.size} true pairs")

    val embs = rows.toDF("vec_id", "embedding")
    val got = Dedup.embeddingPairs(embs, threshold = threshold)
      .as[(Long, Long, Double)].collect()
    val byId = rows.toMap
    got.foreach { case (a, b, c) =>
      assert(math.abs(cos(byId(a), byId(b)) - c) < 1e-9)
      assert(c >= threshold, "precision must be exact (cosine-verified)")
    }
    val found = got.map { case (a, b, _) => (math.min(a, b), math.max(a, b)) }.toSet
    val recall = truth.intersect(found).size.toDouble / truth.size
    assert(recall >= 0.9, f"banded LSH recall $recall%.2f < 0.9 (${found.size} found, ${truth.size} true)")
  }

  test("line dedup: corpus-wide first-wins over word-window lines, brute-force-verified") {
    val W = 3
    val ds = Seq(
      (0L, "a b c d e f g h i"),           // lines: [a b c][d e f][g h i]
      (1L, "a b c d e f x y z"),           // first two lines dup doc 0
      (2L, "g h i a b c new words here"),  // two dups (cross-order) + one fresh
      (3L, "   "),                         // no tokens: no output row
      (4L, "d e f"),                       // single line, dup of doc 0's 2nd
      (5L, "tail line of four")            // 4 words → [tail line of][four]
    )
    // brute-force truth: global first occurrence by (doc_id, line_idx)
    val all = ds.flatMap { case (id, text) =>
      text.trim.split("\\s+").filter(_.nonEmpty).grouped(W).zipWithIndex
        .map { case (ws, i) => (id, i, ws.mkString(" ")) }
    }
    val firstOf = all.groupBy(_._3).map { case (l, occ) => l -> occ.minBy(o => (o._1, o._2)) }
    val expect = all.groupBy(_._1).map { case (id, ls) =>
      val kept = ls.sortBy(_._2).filter(o => firstOf(o._3) == o)
      id -> (ls.size, ls.size - kept.size, kept.map(_._3).mkString(" "))
    }
    val got = Dedup.lineDedup(ds.toDF("doc_id", "text"), wordsPerLine = W)
      .as[(Long, Int, Int, String)].collect()
      .map { case (id, n, d, t) => id -> (n, d, t) }.toMap
    assert(got.keySet == expect.keySet.filter(id => expect(id)._1 > 0))
    expect.filter(_._2._1 > 0).foreach { case (id, e) =>
      assert(got(id) == e, s"doc $id: got ${got(id)} expected $e")
    }
    assert(got(1L)._2 == 2 && got(2L)._2 == 2 && got(4L)._2 == 1)
  }

  test("line dedup plan: mega-line first-wins is a partial min-aggregate, not a window") {
    // one boilerplate line duplicated across EVERY doc — the skew trap: a
    // window over partitionBy(line) would pin all copies to one task
    val banner = "accept all cookies now"
    val ds = (0L until 200L).map(id => (id, s"$banner unique tail $id words"))
      .toDF("doc_id", "text")
    val out = Dedup.lineDedup(ds, wordsPerLine = 4)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("partial_min"),
      "first-wins must map-side combine (partial_min) before the exchange")
    assert(!plan.contains("Window"),
      "no window operator: window groups cannot be skew-split")
    // and the mega-line still dedups correctly: only doc 0 keeps it
    val kept = out.filter(col("text_dedup").contains(banner)).select("doc_id")
      .as[Long].collect()
    assert(kept.toSeq == Seq(0L))
    assert(out.filter(col("n_dup_lines") > 0).count() == 199L)
  }

  test("no silent caps: truncated buckets are observable") {
    // 40 identical docs with maxBucket=8 → every band bucket truncates
    val ds = (0L until 40L).map(id => (id, base)).toDF("doc_id", "text")
    val out = Dedup.minhashPairs(ds, maxBucket = 8)
    out.collect()
    val m = out.queryExecution.observedMetrics
    assert(m.contains("minhash_buckets"), s"metrics: ${m.keySet}")
    assert(m("minhash_buckets").getAs[Long]("truncated_buckets") > 0L,
      "over-cap buckets must be counted, never silently dropped")
    // an under-cap run reports zero truncation
    val small = Dedup.minhashPairs(docs, maxBucket = 64)
    small.collect()
    assert(small.queryExecution.observedMetrics("minhash_buckets")
      .getAs[Long]("truncated_buckets") == 0L)
    // simhash gets the same counter — but its cap applies to DISTINCT
    // hashes per quarter bucket, so identical docs can't trip it...
    val shSame = Dedup.simhashPairs(ds, maxBucket = 8)
    shSame.collect()
    assert(shSame.queryExecution.observedMetrics("simhash_buckets")
      .getAs[Long]("truncated_buckets") == 0L,
      "identical-hash floods must NOT truncate (paired exactly by the equi-join lane)")
    // ...and the 40×-identical cluster is paired in FULL despite the cap
    assert(shSame.count() == 40L * 39L / 2L,
      "exact-dup cluster pairs must never be capped")
    // distinct hashes DO trip it: find texts whose simhashes collide on a
    // quarter (deterministic — kernel recomputed driver-side), cap at 1
    val texts = (0 until 400).map(i => (i.toLong, s"variant $i of ${base.take(40)}"))
    val quarters = texts.map { case (_, t) => graft.codec.Hashing.simhash64(t, 3) }
      .flatMap(h => (0 until 4).map(q => (q, (h >>> (q * 16)) & 0xffffL)))
    assert(quarters.size != quarters.distinct.size,
      "fixture must contain at least one quarter-key collision between distinct hashes")
    val shDistinct = Dedup.simhashPairs(texts.toDF("doc_id", "text"),
      maxBucket = 1)
    shDistinct.collect()
    assert(shDistinct.queryExecution.observedMetrics("simhash_buckets")
      .getAs[Long]("truncated_buckets") > 0L,
      "over-cap distinct-hash buckets must be counted, never silently dropped")
  }

  test("decontaminate: flags docs sharing an n-gram with the eval set, exact hit counts") {
    val n = 5
    val evalTexts = Seq(
      base.split("\\s+").take(10).mkString(" "),       // prefix of base
      "bloom filters cuckoo hashing and politeness budgets" // 7 words from doc 5
    )
    def grams(s: String): Set[String] = {
      val ws = s.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
      if (ws.length < n) Set.empty[String] else ws.sliding(n).map(_.mkString(" ")).toSet
    }
    val evalGrams = evalTexts.flatMap(grams).toSet
    val expect = docs.as[(Long, String)].collect()
      .map { case (id, t) => id -> grams(t).intersect(evalGrams).size }.toMap
    val got = Dedup.decontaminate(docs, evalTexts.toDF("text"), n = n)
      .as[(Long, Int, Boolean)].collect()
    assert(got.length == expect.size)
    got.foreach { case (id, hits, contaminated) =>
      assert(hits == expect(id), s"doc $id: $hits hits, expected ${expect(id)}")
      assert(contaminated == (hits > 0))
    }
    // the fixture must actually exercise both outcomes:
    // docs 0/1 share base's prefix; doc 5 is hit via the second eval text
    assert(expect(0L) > 0 && expect(1L) > 0 && expect(5L) > 0 && expect(3L) == 0)
  }

  test("gram_hit_count kernel: byte verification beats hash collisions, distinct within doc") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def arr(s: String) = new GenericArrayData(s.split(" ").map(UTF8String.fromString(_)))
    def bank(grams: String*): (Array[Long], Array[Array[Byte]]) = {
      val dim = grams.toArray
        .map { g => val b = g.getBytes("UTF-8"); (graft.codec.Hashing.xxh64(b, 42L), b) }
        .sortBy(_._1)
      (dim.map(_._1), dim.map(_._2))
    }
    val ws = arr("a b c a b c x y")
    // "a b c" occurs twice (windows 0 and 3) -> distinct counts ONCE
    assert(graft.functions.Kernels.gramHitCount(ws, 3, bank("a b c")) == 1)
    // two distinct matched grams -> 2
    assert(graft.functions.Kernels.gramHitCount(ws, 3, bank("a b c", "c x y")) == 2)
    // non-matching and empty banks -> 0
    assert(graft.functions.Kernels.gramHitCount(ws, 3, bank("q q q")) == 0)
    assert(graft.functions.Kernels.gramHitCount(
      ws, 3, (Array.emptyLongArray, Array.empty[Array[Byte]])) == 0)
    // COLLISION INJECTION: a bank slot whose hash equals a real doc gram's
    // hash but whose BYTES differ must not count (the byte compare is the
    // truth, the hash only routes the lookup)
    val h = graft.codec.Hashing.xxh64("a b c".getBytes("UTF-8"), 42L)
    val forged = (Array(h), Array("not the gram".getBytes("UTF-8")))
    assert(graft.functions.Kernels.gramHitCount(ws, 3, forged) == 0)
    // ...and an equal-hash RUN with the real gram behind the forged one
    // still finds it (leftmost-scan across the run)
    val run = (Array(h, h), Array("not the gram".getBytes("UTF-8"), "a b c".getBytes("UTF-8")))
    assert(graft.functions.Kernels.gramHitCount(ws, 3, run) == 1)
    // fewer than n words -> 0
    assert(graft.functions.Kernels.gramHitCount(arr("a b"), 3, bank("a b c")) == 0)
  }

  test("decontaminate: disjoint eval set yields all-zero hits") {
    val got = Dedup.decontaminate(docs, Seq("zz yy xx ww vv uu").toDF("text"), n = 5)
      .as[(Long, Int, Boolean)].collect()
    assert(got.nonEmpty && got.forall { case (_, h, c) => h == 0 && !c })
  }
}
