package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Document-level deduplication for training-data pipelines, from exact to
  * near-dup. All operators are shuffle-minimal: candidate generation always
  * goes through a bucket key (digest / band / simhash block) so the only
  * wide exchange is a groupBy on that key — never an all-pairs join.
  */
object Dedup {

  /** All unordered member pairs (id_a < id_b) WITHIN groups, generated at
    * cluster parallelism even when one group holds tens of thousands of
    * members — the distributed form of
    * `m.as("a").join(m.as("b"), a.g === b.g && a.id < b.id)`.
    *
    * Why the plain self-equi-join cannot scale on real web corpora: a
    * boilerplate/mirror cluster of n identical keys produces C(n, 2)
    * output rows under ONE join key, i.e. in ONE task — and AQE's skew
    * join cannot rescue it, because skew splitting keys off map-output
    * *input* sizes, and the input partition here is tiny (n rows); only
    * the *output* is quadratic. Observed: at a 19,500-member cluster the
    * single task runs for tens of minutes while 31 cores idle.
    *
    * Block decomposition (the classic triangular self-join split):
    *  1. count members per group; groups of ≤ blockSize members get ONE
    *     block (the common case — the plan then degenerates to the plain
    *     collect-and-explode, same work as the equi-join), larger groups
    *     get nb = ceil(n / blockSize) blocks by a pure hash of the id;
    *  2. members collect into per-(group, block) sorted arrays;
    *  3. the nb·(nb+1)/2 block-pair KEYS (tiny rows) are exploded from
    *     the size table, joined to their two member arrays, and
    *     repartitioned with an EXPLICIT partition count just before the
    *     expansion — explicit-count repartitions are exempt from AQE
    *     partition coalescing, which would otherwise see a few MB of
    *     array rows, collapse them to one or two partitions, and
    *     serialize the (AQE-invisible) quadratic explode right back onto
    *     a couple of cores;
    *  4. pairs expand by a double explode (member x of block A, then the
    *     members of block B) — never materializing a blockSize²-struct
    *     array per row: diagonal pairs (ba == bb) take y > x over the
    *     same array (exact triangle), off-diagonal pairs take all of B
    *     (blocks are disjoint, each unordered pair appears exactly
    *     once); least/greatest restores id ordering.
    *
    * Communication is O(n·nb) = O(n²/blockSize) member copies — always
    * `blockSize`× smaller than the output it distributes. Determinism:
    * block assignment is a pure function of the id, arrays are sorted.
    * Output columns: (groupCol, id_a, id_b). */
  def selfPairsWithinGroups(
      members: DataFrame,
      groupCol: String,
      idCol: String,
      blockSize: Int = 1024): DataFrame = {
    require(blockSize > 1, s"blockSize must be > 1, got $blockSize")
    val m = members.select(col(groupCol).as("__spg_g"), col(idCol).as("__spg_id"))
    val sizes = m.groupBy(col("__spg_g"))
      .agg(count(lit(1)).as("__spg_n"))
      .filter(col("__spg_n") > 1)
      .withColumn("__spg_nb",
        ceil(col("__spg_n").cast("double") / blockSize).cast("int"))
    val blocks = m
      .join(sizes.select(col("__spg_g"), col("__spg_nb")), Seq("__spg_g"))
      .withColumn("__spg_b",
        pmod(xxhash64(col("__spg_id")), col("__spg_nb").cast("long")).cast("int"))
      .groupBy(col("__spg_g"), col("__spg_b"))
      .agg(sort_array(collect_list(col("__spg_id"))).as("__spg_ids"))
    val keys = sizes
      .select(col("__spg_g"), explode(expr(
        """flatten(transform(sequence(0, __spg_nb - 1),
          |  a -> transform(sequence(a, __spg_nb - 1),
          |    b -> struct(a as ba, b as bb))))""".stripMargin)).as("bp"))
      .select(col("__spg_g"), col("bp.ba").as("__spg_ba"), col("bp.bb").as("__spg_bb"))
    val shufflePartitions =
      members.sparkSession.sessionState.conf.numShufflePartitions
    keys
      .join(blocks.select(col("__spg_g"), col("__spg_b").as("__spg_ba"),
        col("__spg_ids").as("__spg_as")), Seq("__spg_g", "__spg_ba"))
      .join(blocks.select(col("__spg_g"), col("__spg_b").as("__spg_bb"),
        col("__spg_ids").as("__spg_bs")), Seq("__spg_g", "__spg_bb"))
      // explicit count => REPARTITION_BY_NUM: AQE may not coalesce this
      // exchange (by bytes the input is a few MB of arrays; the quadratic
      // work lives in the explodes below, which AQE cannot see)
      .repartition(shufflePartitions,
        col("__spg_g"), col("__spg_ba"), col("__spg_bb"))
      // ONE streaming Generate (graft's pair_expand, a deliberate
      // CodegenFallback generator) replaces the former two-explode form.
      // Fully-codegen alternatives (slice() off posexplode's index, double
      // posexplode + j > i) fuse into a whole-stage loop that does not
      // honor stop-checks under a shuffle map task and buffer the task's
      // ENTIRE quadratic expansion in BufferedRowIterator's LinkedList —
      // measured at sf10: OOM at 8g, 2.6× GC slowdown at 24g. The
      // two-explode form streamed, but copied the 8 KB member array into
      // every intermediate row and ran its diagonal filter as an
      // interpreted per-element lambda. pair_expand streams the exact
      // triangle (diagonal) / cross product (off-diagonal) with two field
      // writes per pair and zero array copies.
      .select(col("__spg_g"),
        graft.functions.GraftFunctions.pair_expand(col("__spg_as"),
          col("__spg_bs"), col("__spg_ba") === col("__spg_bb"))
          .as(Seq("__spg_x", "__spg_y")))
      .select(col("__spg_g").as(groupCol),
        least(col("__spg_x"), col("__spg_y")).as("id_a"),
        greatest(col("__spg_x"), col("__spg_y")).as("id_b"))
  }

  /** All member id pairs ACROSS verified group-key pairs (the cross
    * product A×B per key pair), generated at cluster parallelism — the
    * distributed form of `keyPairs ⋈ members ⋈ members`, whose second
    * equi-join would otherwise funnel every |A|·|B| expansion through the
    * single task owning that key pair (two verified near-identical mirror
    * clusters of 20k docs each = 400M pairs out of one core).
    *
    * Same block decomposition as [[selfPairsWithinGroups]]: members block
    * by a pure id hash into ceil(n/blockSize) blocks per group, the
    * nbA·nbB block-pair KEYS explode from the carried size columns, each
    * key joins its two sorted member arrays, and an explicit-count
    * repartition (AQE-coalesce-exempt — the quadratic work lives in the
    * explodes AQE cannot see) spreads the expansion before the double
    * explode. Groups are distinct keys, so every (a, b) appears exactly
    * once; no diagonal case exists. Carried columns of `keyPairs` (e.g. a
    * verified jaccard) ride through unchanged.
    *
    * Communication is O(Σ n·nb) member copies — `blockSize`× smaller than
    * the output it distributes. Output: keyPairs' columns + (`id_a`,
    * `id_b`) with id_a < id_b (the two groups' members come from disjoint
    * key spaces only if the caller guarantees it; ordering is restored by
    * least/greatest as in the self form). */
  def crossPairsBetweenGroups(
      keyPairs: DataFrame,
      members: DataFrame,
      gACol: String,
      gBCol: String,
      groupCol: String,
      idCol: String,
      blockSize: Int = 1024): DataFrame = {
    require(blockSize > 1, s"blockSize must be > 1, got $blockSize")
    val carried = keyPairs.columns.toSeq
    // Prune members to keys that appear in SOME key pair before any
    // aggregation: the candidate key set is output-bounded (≤ 2·|keyPairs|)
    // while members is corpus-sized — without this semi join the size and
    // block aggregates below run a corpus-wide collect_list over millions
    // of (mostly singleton, mostly irrelevant) groups. Profiled at sf10
    // simhash: 50M hash groups, a handful in verified pairs — the unpruned
    // form cost more than the funnel it replaced. Pruning cannot change
    // the result: a member whose key joins no pair emits no pair.
    val candKeys = keyPairs
      .select(explode(array(col(gACol), col(gBCol))).as("__cpg_g"))
      .distinct()
    val m = members
      .select(col(groupCol).as("__cpg_g"), col(idCol).as("__cpg_id"))
      .join(candKeys, Seq("__cpg_g"), "left_semi")
    val sizes = m.groupBy(col("__cpg_g"))
      .agg(count(lit(1)).as("__cpg_n"))
      .withColumn("__cpg_nb",
        ceil(col("__cpg_n").cast("double") / blockSize).cast("int"))
      .select(col("__cpg_g"), col("__cpg_nb"))
    val blocks = m
      .join(sizes, Seq("__cpg_g"))
      .withColumn("__cpg_b",
        pmod(xxhash64(col("__cpg_id")), col("__cpg_nb").cast("long")).cast("int"))
      .groupBy(col("__cpg_g"), col("__cpg_b"))
      .agg(sort_array(collect_list(col("__cpg_id"))).as("__cpg_ids"))
    val keys = keyPairs
      .join(sizes.select(col("__cpg_g").as(gACol), col("__cpg_nb").as("__cpg_nba")), Seq(gACol))
      .join(sizes.select(col("__cpg_g").as(gBCol), col("__cpg_nb").as("__cpg_nbb")), Seq(gBCol))
      .withColumn("__cpg_bp", explode(expr(
        """flatten(transform(sequence(0, __cpg_nba - 1),
          |  a -> transform(sequence(0, __cpg_nbb - 1),
          |    b -> struct(a as ba, b as bb))))""".stripMargin)))
      .withColumn("__cpg_ba", col("__cpg_bp.ba"))
      .withColumn("__cpg_bb", col("__cpg_bp.bb"))
      .drop("__cpg_bp", "__cpg_nba", "__cpg_nbb")
    val shufflePartitions =
      members.sparkSession.sessionState.conf.numShufflePartitions
    keys
      .join(blocks.select(col("__cpg_g").as(gACol), col("__cpg_b").as("__cpg_ba"),
        col("__cpg_ids").as("__cpg_as")), Seq(gACol, "__cpg_ba"))
      .join(blocks.select(col("__cpg_g").as(gBCol), col("__cpg_b").as("__cpg_bb"),
        col("__cpg_ids").as("__cpg_bs")), Seq(gBCol, "__cpg_bb"))
      .repartition(shufflePartitions,
        col(gACol), col(gBCol), col("__cpg_ba"), col("__cpg_bb"))
      // one streaming Generate for the A×B cross product — see
      // selfPairsWithinGroups for why pair_expand (CodegenFallback) beats
      // both the chained-explode and any fully-codegen formulation here
      .select((carried.map(col) :+
        graft.functions.GraftFunctions.pair_expand(col("__cpg_as"),
          col("__cpg_bs"), lit(false)).as(Seq("__cpg_x", "__cpg_y"))): _*)
      .select(carried.map(col) :+
        least(col("__cpg_x"), col("__cpg_y")).as("id_a") :+
        greatest(col("__cpg_x"), col("__cpg_y")).as("id_b"): _*)
  }

  /** "No silent caps" observability that survives AQE empty-relation
    * pruning. Attaching `.observe(...)` directly to the bucket aggregate
    * is NOT enough: if every downstream stage of that branch materializes
    * empty (no candidate survives the verify filter — precisely the runs
    * where a silent cap would be most misleading), adaptive execution
    * replaces the whole branch with an empty LocalTableScan and the
    * CollectMetrics node vanishes from the final plan, taking the metric
    * with it. Instead the truncated-bucket count rides the DATA as a
    * 1-row sentinel branch (a global aggregate always materializes
    * exactly one row, so AQE can never empty-prune it), the observe sits
    * at the TOP of the final union (the result stage, which always
    * executes and is never replaced), and the sentinel is filtered back
    * out just above it. The sentinel branch reuses the bucket groupBy's
    * exchange (ReusedExchange), so its cost is one extra tiny reduce —
    * never a rescan of the corpus.
    *
    * `bucketAgg` must expose one row per bucket with its pre-cap row
    * count in `nCol`. */
  private def observedTruncation(
      out: DataFrame,
      bucketAgg: DataFrame,
      nCol: String,
      maxBucket: Int,
      metricName: String): DataFrame = {
    // The sentinel must REUSE the bucket groupBy's exchange, not replan
    // it: left alone, column pruning specializes this branch's partial
    // aggregate to count-only (no collect_list buffer), giving it a
    // DIFFERENT canonical exchange than the out lane's — AQE then re-runs
    // the whole upstream pipeline (profiled at sf10: a second corpus-wide
    // signature scan, ~40% of d02). Referencing every bucketAgg column
    // with a zero-cost count(col)*0 pins this branch to the same partial
    // aggregate, so the second traversal is one tiny reduce over a
    // ReusedExchange. Callers keep their out-lane filter on nCol (not
    // size(arr)) for the same alignment reason.
    // the pin must survive the optimizer: count(non-nullable col) would
    // simplify to count(*) and prune the column right back out, so pin
    // the (always-array) payload columns via max(size(col)) — size of a
    // collect_list result is never constant-foldable
    val pins = bucketAgg.schema.fields.toSeq
      .filter(f => f.name != nCol &&
        f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
      .map(f => coalesce(max(size(col(f.name))), lit(0)).cast("long") * lit(0L))
    val truncSum =
      coalesce(sum(when(col(nCol) > maxBucket, 1L).otherwise(0L)), lit(0L))
    val sentinel = bucketAgg
      .agg(pins.foldLeft(truncSum)(_ + _).as("__trunc"))
      .select(out.schema.fields.toSeq.map(f =>
        lit(null).cast(f.dataType).as(f.name)) :+ col("__trunc"): _*)
    out.withColumn("__trunc", lit(null).cast("long"))
      .unionByName(sentinel)
      .observe(metricName, max(col("__trunc")).as("truncated_buckets"))
      .filter(col("__trunc").isNull)
      .drop("__trunc")
  }

  /** Exact dedup: group by content digest, keep the first (min key) row.
    * Equivalent to the reference's payload-digest first-wins (J2) on whole
    * documents.
    *
    * Skew-safe shape (lineDedup's): the keeper per digest is a MIN
    * AGGREGATE + join back, not a rank window partitioned by the digest —
    * map-side partial_min collapses a boilerplate digest duplicated 10^7
    * times to one row per map task before the wire, and the join back is
    * a JOIN, which AQE's skew handling can split (it can never split a
    * window group). Identical output to the former window form whenever
    * `idCol` is unique (ties on (digest, id) all become keepers —
    * deterministic, unlike row_number's arbitrary pick). The keeper join
    * is null-safe on the digest so null-text rows dedupe among themselves
    * exactly as the window form grouped them.
    *
    * Null ids: `is_dup` is never null. The keeper is the group's least
    * non-null id, and a row is a dup unless its id equals the keeper
    * null-safely. So a null-id row in a group with a non-null keeper is a
    * dup, and in a group whose ids are all null (keeper null) every row
    * is kept. */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val d = docs.withColumn("digest", sha2(col(textCol), 256))
    val keepers = d.groupBy(col("digest").as("__kd"))
      .agg(min(col(idCol)).as("keeper"))
    d.join(keepers, col("digest") <=> col("__kd"))
      .withColumn("is_dup", !(col(idCol) <=> col("keeper")))
      .select(docs.columns.map(col) ++
        Seq(col("digest"), col("is_dup"), col("keeper")): _*)
  }

  // --- MinHash + LSH ------------------------------------------------------

  /** Word k-shingles from an ALREADY-TOKENIZED words column (see
    * wordNgramsFrom for why the tokens must be a bound column, not an
    * inline expression). Sliding window of k words joined by space; docs
    * shorter than k yield one partial shingle (the Hashing kernel's
    * semantics). */
  def shinglesFrom(words: Column, k: Int): Column =
    filter(
      transform(sequence(lit(0), greatest(size(words) - k, lit(0))),
        i => concat_ws(" ", slice(words, i + 1, lit(k)))),
      s => length(s) > 0)

  /** LSH banding: split the signature into `bands` bands of `rowsPerBand`
    * and hash each band → (band_id, bucket) candidate keys. */
  def lshBands(sigCol: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.as("band"),
        xxhash64(concat_ws(",",
          transform(slice(sigCol, b * rowsPerBand + 1, lit(rowsPerBand)),
            h => h.cast("string"))), b).as("bucket")))

  /** MinHash-LSH near-dup candidate pairs with exact-jaccard verification.
    *
    * Plan shape (scale-first): shingle → signature (narrow, codegen) →
    * explode bands (×bands) → groupBy (band,bucket) with collect_list →
    * within-bucket pairing (bucket sizes are bounded by capping
    * collect_list) → exact jaccard on the pair (join back the shingle
    * sets) → threshold. The only shuffles are the bucket groupBy and the
    * two joins to fetch shingle sets for surviving candidates.
    */
  def minhashPairs(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 5,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      maxBucket: Int = 64): DataFrame = {
    import graft.functions.GraftFunctions.minhash_sig
    val rowsPerBand = numHashes / bands
    // deliberately NOT cached: at corpus scale (id, text) is the corpus —
    // the verify joins below re-scan the source for the surviving
    // candidates instead (callers with a cheap small input can cache
    // upstream)
    val base = docs
      .select(col(idCol).as("id"), trim(col(textCol)).as("t"))
      .filter(length(col("t")) > 0)
    val withSig = base.withColumn("sig", minhash_sig(col("t"), k, numHashes))

    // no silent caps: buckets past maxBucket are truncated, and the count
    // of truncated buckets is observable (queryExecution.observedMetrics
    // after any action) so a capped run never reads as exhaustive —
    // attached AQE-pruning-proof via observedTruncation at the end
    val bucketAgg = withSig
      .select(col("id"), explode(lshBands(col("sig"), bands, rowsPerBand)).as("bk"))
      .groupBy(col("bk"))
      .agg(slice(sort_array(collect_list(col("id"))), 1, maxBucket).as("ids"),
        count(lit(1)).as("__n"))
    val buckets = bucketAgg
      .filter(col("__n") > 1) // on __n, not size(ids): keeps the partial agg identical to the sentinel branch's
      .drop("__n")

    // within-bucket ordered pairs (a < b), dedup across bands — one
    // streaming Generate (pair_expand, see selfPairsWithinGroups) instead
    // of an interpreted per-element lambda building a pair-struct array
    // per bucket row
    val pairs = buckets
      .select(graft.functions.GraftFunctions.pair_expand(
        col("ids"), col("ids"), lit(true)).as(Seq("id_a", "id_b")))
      .distinct()

    // exact jaccard verification, computed ONLY for docs that appear in a
    // candidate pair: the candidate id set is cap-bounded (≤ 2·|pairs|),
    // so it semi-join-prunes the corpus re-scan down to a cheap (id, text)
    // projection BEFORE the shingling projection runs — without the semi
    // join the shingle+array_distinct kernel runs corpus-wide on BOTH join
    // sides and discards almost all of it at the probe (profiled at sf10:
    // 2 of the 4 dominant stages). Each surviving doc's DISTINCT shingle
    // set is still computed once per side and shipped to its pairs — never
    // a re-shingling per pair, never the raw text through the join. The
    // `pairs` subtree feeds three consumers but ends in a distinct()
    // exchange, which AQE reuses instead of re-running the LSH pipeline.
    val candIds = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .distinct()
    val candShingles = base
      .join(candIds, Seq("id"), "left_semi")
      // token array materialized BELOW the shingle transform: inlined, the
      // interpreted HOF re-evaluates split() once per shingle (measured
      // 6x at sf0.1); two projections don't collapse because __ws is
      // referenced more than once by a non-trivial expression
      .select(col("id"), split(trim(lower(col("t"))), "\\s+").as("__ws"))
      .select(col("id"), array_distinct(shinglesFrom(col("__ws"), k)).as("sh"))
    def shingleSet(side: String) = candShingles
      .select(col("id").as(s"id_$side"), col("sh").as(s"sh_$side"))
    val verified = pairs
      .join(shingleSet("a"), "id_a")
      .join(shingleSet("b"), "id_b")
      .withColumn("jaccard",
        when(size(col("sh_a")) === 0 && size(col("sh_b")) === 0, lit(0.0))
          .otherwise(
            size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
              size(array_union(col("sh_a"), col("sh_b"))).cast("double")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    observedTruncation(verified, bucketAgg, "__n", maxBucket, "minhash_buckets")
  }

  /** Flood-proof MinHash-LSH near-dup pairs: same contract as
    * [[minhashPairs]] (same (id_a, id_b, jaccard) output, same threshold
    * semantics), restructured as the two-lane design of [[simhashPairs]]
    * so the bucket cap can never drop a true pair at web scale:
    *
    *  - identical texts (in web corpora the dominant duplicate shape:
    *    boilerplate/mirror clusters with thousands of members) are paired
    *    on a 128-bit content key (`md5` of the normalized text; collision
    *    odds ~1e-19 at 10^10 docs). Their jaccard is exactly 1.0 — a
    *    nonempty trimmed text always has a nonempty shingle set
    *    ([[shinglesFrom]] emits a partial shingle for short docs), and
    *    identical texts share it. Output-size-bound, no cap, and
    *    block-decomposed ([[selfPairsWithinGroups]]) so one giant
    *    cluster's quadratic pair set expands across the cluster instead
    *    of inside the single task that owns its key.
    *  - near-dups BETWEEN distinct texts run the usual band-bucket LSH,
    *    but over ONE representative per distinct text, so an N-thousand
    *    member duplicate cluster occupies one bucket slot instead of
    *    flooding `maxBucket` (in [[minhashPairs]] a cluster past the cap
    *    silently caps AWAY unrelated near-dup candidates sharing its
    *    buckets). Verified jaccard on representative shingle sets, then
    *    expanded to id pairs by two output-sized joins.
    *
    * The lanes are disjoint on pair identity (same content key vs
    * different), so the union needs no final distinct. Prefer this form
    * for corpora with heavy exact duplication; [[minhashPairs]] remains
    * the single-pass form whose bucket slice is SQL-replayable.
    *
    * Both quadratic expansions are block-decomposed: identical-text
    * cliques via [[selfPairsWithinGroups]], and the near lane's A·B
    * cross expansion (two near-identical clusters verifying as one ck
    * pair) via [[crossPairsBetweenGroups]] — neither ever funnels a
    * giant cluster's pairs through the single task owning its key. */
  def minhashPairsDistinct(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 5,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      maxBucket: Int = 64): DataFrame = {
    import graft.functions.GraftFunctions.minhash_sig
    val rowsPerBand = numHashes / bands
    val base = docs
      .select(col(idCol).as("id"), trim(col(textCol)).as("t"))
      .filter(length(col("t")) > 0)
    val keyed = base.select(col("id"), col("t"), md5(col("t")).as("ck"))
    // (ck, id) is consumed by SIX downstream subtrees (the self-pair lane's
    // size/block aggregates, the cross-pair lane's size/block aggregates
    // and semi-prune) — left as lineage, each reference re-scans the corpus
    // and re-hashes every text (measured: 90+ scan nodes in the d10 plan).
    // The simhash treatment applies verbatim: materialize the NARROW
    // projection once behind an eager localCheckpoint (24 bytes/doc — the
    // same 10^10-doc budget simhash's (id, h) already accepts), keyed on ck
    // so every downstream ck-keyed aggregate/join reuses the partitioning
    // instead of exchanging again. The text column is deliberately NOT
    // checkpointed: (id, t) is the corpus.
    val members = keyed.select(col("ck"), col("id"))
      .repartition(col("ck"))
      .localCheckpoint()

    // lane 1: identical texts → jaccard exactly 1.0, exact at any scale.
    // Block-decomposed (selfPairsWithinGroups), NOT a plain self-equi-join:
    // a 19.5k-member mirror cluster is one join key, and its C(n,2) pairs
    // would otherwise all be emitted by a single task.
    val same = selfPairsWithinGroups(members, "ck", "id")
      .select(col("id_a"), col("id_b"), lit(1.0).as("jaccard"))

    // lane 2: LSH over one representative per distinct text. sig and
    // shingle set are pure functions of the text, so representative
    // results hold for every member. Distinct texts with identical
    // shingle SETS legitimately verify at 1.0 — they stay in this lane
    // (different ck), keeping the lanes disjoint on pair identity.
    val reps = keyed.groupBy(col("ck"))
      .agg(min_by(col("t"), col("id")).as("t"))
    val withSig = reps.withColumn("sig", minhash_sig(col("t"), k, numHashes))
    val bucketAgg = withSig
      .select(col("ck"), explode(lshBands(col("sig"), bands, rowsPerBand)).as("bk"))
      .groupBy(col("bk"))
      .agg(slice(sort_array(collect_list(col("ck"))), 1, maxBucket).as("cks"),
        count(lit(1)).as("__n"))
    val candPairs = bucketAgg
      .filter(col("__n") > 1)
      .drop("__n")
      .select(graft.functions.GraftFunctions.pair_expand(
        col("cks"), col("cks"), lit(true)).as(Seq("ck_a", "ck_b")))
      .distinct() // a ck pair can collide in several bands
    // shingle only the representatives that appear in a candidate ck pair
    // (cap-bounded): same semi-join pruning as [[minhashPairs]] — at web
    // scale distinct texts ≈ the corpus, so an unpruned side would shingle
    // corpus-wide twice
    val candCks = candPairs
      .select(explode(array(col("ck_a"), col("ck_b"))).as("ck"))
      .distinct()
    // prune BEFORE the aggregate, not after: `reps` is a corpus-wide min_by
    // — semi-joining its OUTPUT to candCks still paid the full aggregate a
    // second time just to shingle a cap-bounded candidate set. Filtering
    // `keyed` first (groupBy commutes with a semi-join on the group key)
    // reduces the re-aggregate to candidate rows only; the candidate set is
    // broadcast-sized by the cap, so the filter is a broadcast semi join
    // over one narrow corpus scan.
    val candShingles = keyed
      .join(candCks, Seq("ck"), "left_semi")
      .groupBy(col("ck"))
      .agg(min_by(col("t"), col("id")).as("t"))
      // __ws materialized below the transform — see minhashPairs: inlined,
      // the interpreted HOF re-splits the text once per shingle
      .select(col("ck"), split(trim(lower(col("t"))), "\\s+").as("__ws"))
      .select(col("ck"), array_distinct(shinglesFrom(col("__ws"), k)).as("sh"))
    def shingleSet(side: String) = candShingles
      .select(col("ck").as(s"ck_$side"), col("sh").as(s"sh_$side"))
    val nearCk = candPairs
      .join(shingleSet("a"), "ck_a")
      .join(shingleSet("b"), "ck_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("ck_a", "ck_b", "jaccard")
    // id expansion is output-sized but keyed per ck pair: two verified
    // near-identical clusters of size A and B put A·B pairs under ONE key,
    // so expand block-decomposed (crossPairsBetweenGroups), never by two
    // plain equi-joins that funnel the expansion through that key's task
    val near = crossPairsBetweenGroups(nearCk, members, "ck_a", "ck_b", "ck", "id")
      .select(col("id_a"), col("id_b"), col("jaccard"))

    observedTruncation(same.unionByName(near), bucketAgg, "__n", maxBucket,
      "minhash_buckets")
  }

  // --- SimHash ------------------------------------------------------------

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: block on combinations of hash blocks (by
    * pigeonhole, a pair within hamming distance ≤ maxHamming of a 64-bit
    * hash must agree on at least one key — with the default blocks=4,
    * d=3 that is the classic "one 16-bit quarter matches" scheme), then
    * verify exact hamming distance.
    *
    * Two-lane design, split on hash identity, so the result is EXACT at
    * any corpus scale (no row cap can drop a true pair):
    *
    *  - identical-hash pairs (hamming 0 — in web corpora by far the
    *    heaviest case: boilerplate/mirror clusters with thousands of
    *    members) come from [[selfPairsWithinGroups]], the block-decomposed
    *    triangular self-join: the quadratic output is the ANSWER size so
    *    no cap belongs here, but it must be EMITTED at cluster
    *    parallelism — a plain equi-join funnels a cluster's C(n,2) pairs
    *    through the one task owning its hash.
    *  - distinct-hash near-dups (hamming 1..maxHamming) go through the
    *    quarter blocking, but over DISTINCT hash values only, so an
    *    N-thousand-member duplicate cluster occupies ONE slot per bucket
    *    instead of flooding it. `maxBucket` caps distinct hashes per
    *    16-bit bucket (random quarter collisions; observable, never
    *    silent), surviving hash pairs are deduped across the 4 quarters
    *    while still hash-typed (tiny), then expanded to id pairs by two
    *    joins back to the corpus — expansion is again output-sized.
    *
    * The lanes are disjoint (hamming 0 vs ≥ 1), so the union needs no
    * final output-wide `distinct()` — the only dedup shuffle left is on
    * the small distinct-hash pair set. */
  def simhashPairs(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 3,
      maxHamming: Int = 3,
      maxBucket: Int = 64,
      blocks: Int = 4): DataFrame = {
    require(64 % blocks == 0, s"blocks must divide 64, got $blocks")
    require(blocks > maxHamming,
      s"need blocks > maxHamming for the pigeonhole guarantee (got $blocks <= $maxHamming)")
    // ONE simhash pass, shared by every lane through a reused exchange:
    // .cache() here is a trap — the lanes materialize as concurrent AQE
    // stages, each finds the cache unpopulated, and each recomputes the
    // corpus-wide simhash kernel (profiled at sf10: SEVEN identical 17.5 s
    // scan stages racing to fill the cache). A bare repartition exchange
    // is ALSO a trap: the lanes prune different column sets out of it
    // (h-only bucket keys vs (id, h) members), giving each a DIFFERENT
    // canonical exchange — profiled at sf10 as three concurrent identical
    // corpus scans. An eager localCheckpoint after the repartition is the
    // only form that provably runs the kernel once: the (id, h) projection
    // (16 bytes/doc — 160 GB cluster-wide even at 10^10 docs) materializes
    // synchronously to executor blocks, lineage is truncated so no
    // consumer can replan past it, and LogicalRDD keeps the hash(h)
    // partitioning so the h-keyed groupBys/joins downstream still skip
    // their exchanges.
    val withHash = docs
      .select(col(idCol).as("id"), trim(col(textCol)).as("t"))
      .filter(length(col("t")) > 0)
      .withColumn("h", graft.functions.GraftFunctions.simhash64(col("t"), k))
      .select("id", "h")
      .repartition(col("h"))
      .localCheckpoint()

    // lane 1: identical hashes → hamming 0, exact, output-size-bound.
    // Block-decomposed (selfPairsWithinGroups) so a mirror cluster's
    // quadratic pair set expands at cluster parallelism, not in the one
    // task that owns its join key.
    val same = selfPairsWithinGroups(withHash, "h", "id")
      .select(col("id_a"), col("id_b"), lit(0).cast("int").as("hamming"))

    // lane 2: distinct hashes through block-combination keys (Manku/Jain/
    // Das Sarma, WWW'07 construction): split the 64 bits into `blocks`
    // equal blocks; a pair within hamming ≤ d leaves ≥ blocks-d blocks
    // untouched, so keying on EVERY (blocks-d)-subset of blocks guarantees
    // the pair shares at least one key. blocks=4, d=3 degenerates to the
    // classic 16-bit-quarter scheme (4 single-block keys); at 10^9+
    // distinct hashes those 65,536-slot buckets saturate (~15k hashes per
    // bucket, all capped away), so scale callers set blocks=8 → C(8,5)=56
    // keys of 40 bits each, which stay sparse past 2^40 distinct hashes.
    // Each key's selected blocks are packed into ONE long ((blocks-d)·w
    // < 64 bits), so the exchange stays (int, long) regardless of blocks.
    // The truncation counter (attached at the end via observedTruncation)
    // counts buckets with more DISTINCT hashes than the cap —
    // identical-hash floods can't trip it.
    val w = 64 / blocks
    val mask = if (w == 64) -1L else (1L << w) - 1
    val keyCols: Seq[Column] = (0 until blocks).combinations(blocks - maxHamming)
      .toSeq.zipWithIndex.map { case (ss, idx) =>
        val packed = ss.zipWithIndex.map { case (j, pos) =>
          shiftleft(shiftrightunsigned(col("h"), j * w).bitwiseAND(lit(mask)), pos * w)
        }.reduce(_.bitwiseOR(_))
        struct(lit(idx).as("q"), packed.as("key"))
      }
    val reps = withHash.select(col("h")).distinct()
    val bucketAgg = reps
      .select(col("h"), explode(array(keyCols: _*)).as("blk"))
      .groupBy(col("blk"))
      .agg(slice(sort_array(collect_list(col("h"))), 1, maxBucket).as("hs"),
        count(lit(1)).as("__n"))
    val blocked = bucketAgg
      .filter(col("__n") > 1)
      .drop("__n")
    val hashPairs = blocked
      .select(graft.functions.GraftFunctions.pair_expand(
        col("hs"), col("hs"), lit(true)).as(Seq("h_a", "h_b")))
      .withColumn("hamming", hamming64(col("h_a"), col("h_b")))
      .filter(col("hamming") >= 1 && col("hamming") <= maxHamming)
      .distinct() // a hash pair can agree on several block-combination keys
    // id expansion at cluster parallelism: two near-identical hash
    // clusters of size A and B put A·B id pairs under one (h_a, h_b) key —
    // block-decomposed like the minhash near lane, never two plain
    // equi-joins funneling the expansion through that key's task
    val near = crossPairsBetweenGroups(hashPairs, withHash, "h_a", "h_b", "h", "id")
      .select(col("id_a"), col("id_b"), col("hamming"))

    observedTruncation(same.unionByName(near), bucketAgg, "__n", maxBucket,
      "simhash_buckets")
  }

  /** Character n-gram Jaccard similarity between candidate pairs — exact
    * verification primitive for near-dup pipelines. */
  def ngramJaccard(a: Column, b: Column, n: Int): Column = {
    val ga = array_distinct(transform(sequence(lit(1), greatest(length(a) - (n - 1), lit(0))),
      i => a.substr(i, lit(n))))
    val gb = array_distinct(transform(sequence(lit(1), greatest(length(b) - (n - 1), lit(0))),
      i => b.substr(i, lit(n))))
    size(array_intersect(ga, gb)).cast("double") /
      size(array_union(ga, gb)).cast("double")
  }

  // --- Duplicate clusters (connected components over near-dup pairs) -------

  /** Connected components over a near-dup pair list → (id, cluster_rep):
    * the step between pairwise candidates and "keep one doc per duplicate
    * cluster" in a training-data pipeline. Distributed min-label
    * propagation with pointer jumping (rep := rep(rep) each round), so
    * convergence is O(log diameter) joins, not O(diameter): a 10^6-doc
    * duplicate CHAIN converges in ~20 rounds, while the common case
    * (near-clique clusters from LSH pairs) converges in 1-2. Each round is
    * two shuffles on bounded keys and ONE driver action: the convergence
    * flag rides the jumped rows (`changed = rep != old_rep`) and is read
    * off the just-materialized result — no separate re-join-and-count job.
    * Both the edge set (eagerly) and each round's result (lazily, its
    * convergence count materializes it) are locally checkpointed, not
    * merely persisted: persist caches DATA but leaves the LOGICAL plan
    * intact, so every iteration would re-analyze the full upstream
    * candidate-generation tree (the LSH pipeline) plus a lineage that
    * triples per round — checkpointing replaces both with leaf scans,
    * keeping per-round driver planning O(1).
    */
  def duplicateClusters(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // the symmetric-edge union references `pairs` twice; materialize the
    // (small) pair list once so an expensive candidate-generation plan
    // (LSH + verify joins) is never evaluated per branch
    val p0 = pairs.select(col("id_a"), col("id_b")).persist(lvl)
    p0.count()
    val edges = p0.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(p0.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
      .localCheckpoint(true)
    p0.unpersist()
    // lazy: iteration 1's convergence count is the immediate single
    // consumer (edges above stays EAGER — it must materialize while the
    // pair list is still persisted, or the union's two branches would
    // re-run the LSH plan)
    var comp = edges.select(col("src").as("id")).distinct().withColumn("rep", col("id"))
      .localCheckpoint(false)
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // neighbor-min: the smallest rep among self and direct neighbors
      val nbrMin = edges.join(comp, edges("src") === comp("id"))
        .groupBy(col("dst").as("nid")).agg(min(col("rep")).as("nbr_rep"))
      // cached: stepped feeds BOTH sides of the jump self-join below —
      // uncached it would evaluate its join+agg twice per iteration
      val stepped = comp.join(nbrMin, comp("id") === nbrMin("nid"), "left")
        .select(col("id"), col("rep").as("old_rep"),
          least(col("rep"), coalesce(col("nbr_rep"), col("rep"))).as("rep"))
        .persist(lvl)
      // pointer jump: rep := rep(rep) — halves remaining path lengths; the
      // convergence flag is computed in the SAME pass. Lazy checkpoint: the
      // convergence count below is the immediate single consumer and
      // materializes every partition — one fewer job per round than an
      // eager pin
      val parents = stepped.select(col("id").as("pid"), col("rep").as("prep"))
      val jumped = stepped.join(parents, stepped("rep") === parents("pid"), "left")
        .select(stepped("id"),
          coalesce(col("prep"), stepped("rep")).as("rep"),
          (coalesce(col("prep"), stepped("rep")) =!= col("old_rep")).as("changed"))
        .localCheckpoint(false)
      // the one action of the round: fully materializes the checkpoint
      // (count scans every partition — isEmpty would stop at the first hit
      // and leave it partial) AND answers "did anything move?"
      converged = jumped.filter(col("changed")).count() == 0L
      stepped.unpersist()
      comp = jumped.drop("changed")
      i += 1
    }
    comp.select(col("id"), col("rep").as("cluster_rep"))
  }

  // --- Line-level dedup (corpus-wide first-wins, C4-style) -----------------

  /** Whitespace tokens of a document (lowercased off — line identity is
    * case-sensitive like C4's), empties filtered so a trailing blank never
    * makes a phantom line. */
  private def wsTokens(c: Column): Column =
    filter(split(trim(c), "\\s+"), w => length(w) > 0)

  /** Corpus-wide line deduplication — the C4 pipeline's "drop any line
    * already seen elsewhere in the corpus" step, generalized to fixed
    * `wordsPerLine`-word lines because web-extracted text often arrives
    * newline-less. Splits each document into consecutive word windows,
    * keeps only the globally FIRST occurrence of every distinct line
    * (order = (doc id, line index) — deterministic, matches the
    * reference's first-capture-wins discipline, dedupe.go:47-81 analog at
    * line granularity), and reassembles the surviving lines in order.
    *
    * Returns (idCol, n_lines, n_dup_lines, text_dedup).
    *
    * Plan shape at scale: one narrow chunking projection, then first-wins
    * as a MIN-AGGREGATE on the line text — map-side partial_min collapses
    * every occurrence of a line within a map task to one row before the
    * wire, so a cookie-banner line duplicated 10^8 times costs each task
    * one row, not one reducer the whole group. (A window over
    * partitionBy(line) would pin that mega-group to a single task: AQE
    * skew handling splits JOIN partitions, not window groups.) The keeper
    * (id, idx) pairs then join back on the UNIQUE (id, idx) key —
    * uniformly distributed, skew-free by construction — and the final
    * per-doc groupBy reassembles. Never all-pairs, never a driver-side
    * set.
    */
  def lineDedup(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      wordsPerLine: Int = 10): DataFrame = {
    val W = wordsPerLine
    // token array materialized BELOW the line transform: inline, the
    // per-line lambda would re-tokenize the document once per line
    // (interpreted HOF semantics — see wordNgramsFrom)
    val words = col("__ws")
    val nLines = ceil(size(words).cast("double") / W).cast("int")
    // guard: Spark's sequence(1, 0) DESCENDS instead of returning empty
    val lines = when(size(words) > 0,
      transform(sequence(lit(1), nLines),
        i => concat_ws(" ", slice(words, (i - lit(1)) * W + 1, lit(W)))))
      .otherwise(array().cast("array<string>"))
    val exploded = docs
      .select(col(idCol), wsTokens(col(textCol)).as("__ws"))
      .select(col(idCol), posexplode(lines).as(Seq("idx", "line")))
    // globally-first occurrence per distinct line: min(struct) orders by
    // (id asc, idx asc) — the same total order the window form used
    val keepers = exploded
      .groupBy(col("line"))
      .agg(min(struct(col(idCol), col("idx"))).as("f"))
      .select(col("f").getField(idCol).as(idCol), col("f").getField("idx").as("idx"))
      .withColumn("__keep", lit(true))
    exploded
      .join(keepers, Seq(idCol, "idx"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast("int").as("n_lines"),
        sum(when(col("__keep").isNull, 1).otherwise(0)).cast("int").as("n_dup_lines"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("__keep"), struct(col("idx"), col("line"))))),
          s => s.getField("line"))).as("text_dedup"))
  }

  // --- Benchmark decontamination -------------------------------------------

  /** Word n-grams from an ALREADY-TOKENIZED words column, DISTINCT within
    * the doc. Empty array below n words — no partial tail gram (a 12-word
    * doc shares no 13-gram with anything).
    *
    * The words argument should be a bound COLUMN, not an inline
    * tokenization expression: higher-order functions evaluate interpreted,
    * and an expression inside the per-gram lambda is re-evaluated PER
    * ELEMENT — an inline `split(...)` there re-tokenizes the whole
    * document once per gram, turning an O(tokens) projection into
    * O(tokens × grams) (measured 17× on the decontamination path). */
  def wordNgramsFrom(words: Column, n: Int): Column =
    array_distinct(
      when(size(words) >= n,
        transform(sequence(lit(1), size(words) - (n - 1)),
          i => concat_ws(" ", slice(words, i, lit(n)))))
        .otherwise(array().cast("array<string>")))

  /** The tokenization used by the n-gram builders, exposed so callers can
    * materialize it once per row. */
  def ngramTokens(c: Column): Column = wsTokens(lower(c))

  /** Benchmark decontamination: flag every training document that shares
    * at least one word n-gram with an evaluation corpus (n = 13 is the
    * de-facto contamination window in published LLM training reports).
    * Returns one row per training doc: (idCol, n_hits = distinct shared
    * n-grams, contaminated).
    *
    * Plan shape at scale: the eval side (benchmark suites — thousands of
    * docs, not billions) collapses to a DISTINCT n-gram set that is
    * BROADCAST as a sorted-hash + gram-bytes bank; the training side is
    * then ONE codegen kernel call per document — no corpus-side gram
    * explode, no join, no shuffle at all on the 100 TB side. The eval
    * side being bounded is the same assumption a broadcast join would
    * make; an eval set too large to broadcast should go through the
    * explode+join form instead (wordNgramsFrom + inner join on gram). */
  def decontaminate(
      train: DataFrame,
      eval: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      n: Int = 13,
      evalTextCol: String = "text"): DataFrame = {
    // The eval side is small by construction (a benchmark suite — the
    // boundedness a broadcast join would rely on anyway), so its distinct
    // grams collect once and broadcast as a (sorted hashes, aligned gram
    // bytes) dim. The corpus side is then ONE `gram_hit_count` kernel call
    // per document — per window: reused-scratch hash, binary search, byte
    // compare (string equality decides every hit, so the count is exact
    // under any hash collision). No corpus-wide gram explode, no join, no
    // gram strings: the r5 explode+broadcast-join form spent its time
    // interpreted-building every gram string of every document
    // (A/B-isolated at sf10, same window: 18.5-19.3 s -> 5.6-6.9 s).
    // Token arrays still materialize in a projection BELOW the kernel —
    // see wordNgramsFrom's scaladoc for the interpreted-HOF inlining trap.
    val evalGramStrings: Array[String] = eval
      .select(ngramTokens(col(evalTextCol)).as("__ws"))
      .select(explode(wordNgramsFrom(col("__ws"), n)).as("g"))
      .distinct()
      .collect().map(_.getString(0))
    val dim = evalGramStrings
      .map { g =>
        val b = g.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        (graft.codec.Hashing.xxh64(b, 42L), b)
      }
      .sortBy(_._1)
    val bankBc = train.sparkSession.sparkContext
      .broadcast((dim.map(_._1), dim.map(_._2)))
    train
      .select(col(idCol), ngramTokens(col(textCol)).as("__ws"))
      .select(col(idCol),
        coalesce(
          graft.functions.GraftFunctions.gram_hit_count(col("__ws"), n, bankBc),
          lit(0)).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  // --- Embedding near-dup ---------------------------------------------------

  /** Cosine similarity of two float-array columns, accumulated in double —
    * a native codegen'd expression (graft.functions.CosineSim). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosine_sim(a, b)

  /** Embedding near-dup pairs via *banded* random-hyperplane LSH:
    * `nTables` independent tables of `bandBits` signed projections each; a
    * pair is a candidate if it collides in ANY table, then exact cosine
    * verifies. Recall at cos≥0.95 with the defaults is ≈0.97 vs ≈0.28 for
    * a single 12-bit signature (p_table = (1-θ/π)^bandBits,
    * recall = 1-(1-p)^T). Signatures are one codegen kernel call per row;
    * the only shuffles are the (table, sig) bucket groupBy and the final
    * pair distinct — never all-pairs. */
  def embeddingPairs(
      embs: DataFrame,
      vecCol: String = "embedding",
      idCol: String = "vec_id",
      nTables: Int = 8,
      bandBits: Int = 10,
      threshold: Double = 0.95,
      seed: Int = 42,
      maxBucket: Int = 256): DataFrame = {
    import graft.functions.GraftFunctions.hyperplane_sigs
    val withSig = embs.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("sigs", hyperplane_sigs(col("v"), nTables, bandBits, seed))
    val bucketAgg = withSig
      .select(col("id"), col("v"), posexplode(col("sigs")).as(Seq("t", "sig")))
      .groupBy(col("t"), col("sig"))
      .agg(slice(sort_array(collect_list(struct(col("id"), col("v")))), 1, maxBucket).as("rows"),
        count(lit(1)).as("__n"))
    val verified = bucketAgg
      .filter(col("__n") > 1)
      .drop("__n")
      .select(graft.functions.GraftFunctions.pair_expand(
        col("rows"), col("rows"), lit(true)).as(Seq("pa", "pb")))
      .select(col("pa.id").as("id_a"), col("pb.id").as("id_b"),
        cosine(col("pa.v"), col("pb.v")).as("cos"))
      .filter(col("cos") >= threshold)
      .distinct()
    // no silent caps (see minhashPairs / observedTruncation)
    observedTruncation(verified, bucketAgg, "__n", maxBucket, "embedding_buckets")
  }
}
