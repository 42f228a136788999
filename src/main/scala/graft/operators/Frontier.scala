package graft.operators

import graft.codec.Robots
import graft.functions.GraftFunctions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** The Spark-native URL frontier + fetch scheduler (BASELINE.json
  * north_star). Every stage is a declarative DataFrame → DataFrame function
  * so Catalyst owns pushdown/pruning/reorder; shuffles happen exactly where
  * keyed state forces them (the routed seen probe on url_hash, politeness
  * rank on host); the politeness window is skew-safe via Catalyst's map-side
  * WindowGroupLimit partial top-k (plus an optional salted pre-rank for
  * extreme budget×cluster-width products — see schedule's scaladoc).
  *
  * Reference semantics grafted in (SURVEY.md §2.4):
  *  - URL-seen is first-occurrence-wins (the sync.Map registration in
  *    /root/reference/dialer.go:401-410) → a ranking window within a batch
  *    (`firstSeenWins`) and, across batches, the exact probe of one
  *    append-only `graft.state.SeenStore`.
  *  - Payload-digest dedup honors the 2048-byte size threshold
  *    (/root/reference/client.go:110-112) and the empty-payload exemption
  *    (/root/reference/dialer.go:402,516).
  *  - Dup responses become `revisit` rows referencing the first capture
  *    (/root/reference/dialer.go:516-623).
  */
object Frontier {

  final case class Config(
      agent: String = "graftbot",
      defaultBudget: Int = 8,
      // >1 enables the salted pre-rank in schedule(); the default
      // single-phase plan is one exchange and skew-safe via map-side
      // WindowGroupLimit (see schedule's scaladoc for when salting pays)
      saltBuckets: Int = 1,
      sizeThreshold: Long = 2048L,
      seenParts: Int = 64,
      // SeenStore.compact() cadence in crawl rounds: every k-th round the
      // probe chain collapses back to one bank, keeping the per-candidate
      // seen probe O(1) in crawl rounds (≤ k banks ever visible). 0 = never.
      seenCompactEvery: Int = 8,
      // schedule()'s literal rank bound (what lets Catalyst plant the
      // map-side WindowGroupLimit). 0 = derive it per call with a tiny
      // driver aggregate over the politeness dim; a caller that KNOWS the
      // dim's max budget (a crawl loop reusing one dim across rounds) sets
      // it once and saves that per-round driver action. MUST be ≥ the
      // dim's true max budget — the per-host `__budget` bound stays the
      // binding filter whenever it is (identical output), while an
      // undersized hint would silently cap hot hosts (asserted against in
      // FrontierSpec).
      maxBudgetHint: Int = 0)

  /** Stage 1 — canonicalize: dirty url → RFC-3986 normal form, host,
    * xxhash64 identity; rows whose normal form is not a valid http(s) url
    * are dropped, among them urls with a port over 65535. Same rows and
    * schema as `withColumn(url_norm = url_normalize(url))
    * .filter(url_is_valid(url_norm)).withColumn(host = url_host(url_norm))
    * .withColumn(url_hash = …)`, but that form normalizes every url TWICE
    * (PushPredicateThroughNonJoin inlines `url_normalize` into the
    * pushed-down Filter and the Project computes it again) and parses the
    * result twice more. Here the `url_canon` kernel makes one pass over the
    * url's UTF-8 bytes ([[graft.codec.UrlNormalizer.Canon]]) that writes
    * the normal form and finds its host and validity on the way; the host
    * is a view of the normal form's bytes. `inline` expands its
    * zero-or-one-element array in a `Generate`, which pushdown cannot
    * duplicate and which still runs in whole-stage codegen. Validity is
    * that of the NORMAL form, not of the raw url (they differ, e.g. on
    * `http://./`). */
  def canonicalize(pages: DataFrame): DataFrame =
    pages.select(col("*"), inline(url_canon(col("url"))))
      .withColumn("url_hash", xxhash64(col("url_norm")))

  /** First-occurrence-wins within a batch: one row per key, ordered by
    * (orderCols); ties broken deterministically by the caller's last
    * order column. */
  def firstSeenWins(df: DataFrame, key: Column, order: Seq[Column]): DataFrame =
    df.withColumn("__rn", row_number().over(Window.partitionBy(key).orderBy(order: _*)))
      .filter(col("__rn") === 1)
      .drop("__rn")

  /** The north_star priority order of frontier candidates: shallower first,
    * then the most recently discovered, then url_norm as the deterministic
    * tiebreak. It picks the in-batch first discovery ([[admit]]) and each
    * host's fetch waves ([[schedule]]). */
  val priority: Seq[Column] = Seq(col("depth").asc, col("warc_ts").desc, col("url_norm").asc)

  /** Stages 1–2 and 4 — admission of a frontier batch (url, depth,
    * warc_ts): canonicalize → one row per url_hash by [[priority]] → drop
    * urls `seen` already holds → `robots` gate. Output
    * (url_norm, host, url_hash, depth, warc_ts), ready for [[schedule]]. */
  def admit(frontier: DataFrame, seen: Option[graft.state.SeenStore.Store],
            robots: Option[DataFrame], cfg: Config): DataFrame = {
    val canonical = canonicalize(frontier)
      .select(col("url_norm"), col("host"), col("url_hash"), col("depth"), col("warc_ts"))
    val deduped = firstSeenWins(canonical, col("url_hash"), priority)
    val unseen = seen.fold(deduped)(_.filterUnseen(deduped).result)
    robots.fold(unseen)(applyRobots(unseen, _, cfg))
  }

  /** Stage 3 — payload-digest dedup (J2+J4): first capture per digest wins;
    * later captures are flagged `is_revisit` and reference the first
    * (WARC-Refers-To semantics). Exemptions: payloads under the size
    * threshold and the empty payload are never deduped. Expects columns
    * (payload_digest, payload_len, url_norm, warc_ts). */
  def digestDedup(df: DataFrame, cfg: Config, captureTsCol: String = "warc_ts"): DataFrame = {
    val eligible = coalesce(
      col("payload_len") >= cfg.sizeThreshold &&
        col("payload_len") > 0 && col("payload_digest").isNotNull,
      lit(false))
    // First capture per digest as a MIN-AGGREGATE + join back — lineDedup's
    // skew-safe shape, replacing the former rank window partitioned by the
    // digest. The window form was semantically right but web-scale wrong:
    // for eligible rows the window partition IS the digest group, so a
    // boilerplate payload captured 10^7 times (an identical ≥2048-byte
    // error page) pinned ONE task sorting the whole group while the
    // cluster idled — and AQE cannot split window groups. Here the
    // aggregate's map-side partial_min collapses every in-task occurrence
    // of a digest to one row before the wire (a mega-digest costs each map
    // task one row), and the join back is a JOIN, which AQE's skew
    // handling CAN split. Exempt rows (sub-threshold / empty / null
    // digest) never enter the aggregate and never match it, so they keep
    // their rows untouched with is_revisit = false — no salt machinery
    // needed, because no window partition exists to funnel them.
    //
    // The aggregate branch references `df` a second time, pruned to
    // (payload_digest, payload_len, warc_ts, url_norm, captureTs) — the
    // narrow first-capture decision columns, never the payload. That is
    // the worked-example discipline (optimization guide §8): decide on
    // lightweight proxies, move heavy rows once.
    //
    // First-capture order is (warc_ts, url_norm, captureTs): identical to
    // the former window order (warc_ts, url_norm) whenever that pair is
    // unique within a digest group; on full ties every tied row is the
    // first capture (deterministic, unlike row_number's arbitrary pick).
    val ord = struct(col("warc_ts").as("ts"), col("url_norm").as("u"),
      col(captureTsCol).as("cts"))
    val marked = df.withColumn("__el", eligible).withColumn("__ord", ord)
    val firsts = marked
      .filter(col("__el"))
      .groupBy(col("payload_digest"))
      .agg(min(col("__ord")).as("__f"))
    val dup = col("__el") && !(col("__ord") <=> col("__f"))
    marked.join(firsts, Seq("payload_digest"), "left")
      .withColumn("is_revisit", dup)
      .withColumn("refers_to_url", when(dup, col("__f.u")))
      .withColumn("refers_to_ts", when(dup, col("__f.cts")).cast("timestamp"))
      .select(df.columns.map(col) ++
        Seq(col("is_revisit"), col("refers_to_url"), col("refers_to_ts")): _*)
  }

  /** Stage 3b — local-then-remote dedup (J3): rows that are local firsts
    * consult a CDX-style remote index; a local hit always wins
    * (`coalesce(local, remote)`, /root/reference/dialer.go:510-513). The
    * index models the reference's CDX reply (/root/reference/dedupe.go:47-81):
    * `(payload_digest, target_uri, capture_ts, record_type)` rows; entries
    * typed `warc/revisit` are ignored and the *last* capture per digest is
    * used (the `limit=-1` semantics). Adds `dedupe_source`
    * (null | 'local' | 'cdx'); size-threshold and empty-payload exemptions
    * apply to the remote probe exactly as to the local one
    * (/root/reference/dialer.go:502-516). */
  def digestDedupWithCdx(df: DataFrame, cdx: DataFrame, cfg: Config,
                         captureTsCol: String = "warc_ts"): DataFrame = {
    val local = digestDedup(df, cfg, captureTsCol)
    val lastCapture = cdx
      .filter(col("record_type") =!= "warc/revisit")
      .groupBy(col("payload_digest"))
      .agg(max(struct(col("capture_ts"), col("target_uri"))).as("c"))
      .select(col("payload_digest"),
        col("c.target_uri").as("__cdx_url"), col("c.capture_ts").as("__cdx_ts"))
    val eligible = coalesce(
      col("payload_len") >= cfg.sizeThreshold &&
        col("payload_len") > 0 && col("payload_digest").isNotNull,
      lit(false))
    local.join(lastCapture, Seq("payload_digest"), "left")
      .withColumn("dedupe_source",
        when(col("is_revisit"), lit("local"))
          .when(eligible && col("__cdx_url").isNotNull, lit("cdx")))
      .withColumn("refers_to_url",
        coalesce(col("refers_to_url"), when(eligible, col("__cdx_url"))))
      .withColumn("refers_to_ts",
        coalesce(col("refers_to_ts"), when(eligible, col("__cdx_ts"))))
      .withColumn("is_revisit", col("dedupe_source").isNotNull)
      .drop("__cdx_url", "__cdx_ts")
  }

  // Per-executor robots parse cache: robots bodies repeat per host, so
  // parse each (body, agent) once per JVM rather than once per url. Keyed
  // on the BODY ITSELF, never a 32-bit hash: at north_star host counts
  // (10^7-10^8 distinct robots bodies) a `String.hashCode` birthday
  // collision (~50% at just 77k bodies) would silently serve one host the
  // other host's allow/deny rules. ConcurrentHashMap probes pay one
  // hashCode + an equals memcmp on hit — the same O(|body|) the old key
  // already paid computing hashCode on each row's fresh String instance.
  @transient private lazy val robotsCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), graft.codec.RobotsRules]()
  private def cachedRules(body: String, agent: String): graft.codec.RobotsRules = {
    val key = (if (body == null) "" else body, agent)
    var r = robotsCache.get(key)
    if (r == null) {
      r = Robots.parse(key._1, agent)
      if (robotsCache.size < 65536) robotsCache.put(key, r)
    }
    r
  }
  /** Test hook (forced-collision coverage): rules the cache would serve for
    * (body, agent) — must depend on the full body, not any 32-bit hash. */
  private[operators] def cachedRulesForTest(body: String, agent: String): graft.codec.RobotsRules =
    cachedRules(body, agent)

  /** Stage 4 — robots.txt gate: broadcast-join the per-host robots dim
    * (small: one row per host) and keep urls the host's rules allow.
    * Hosts absent from the dim are allow-all (RFC 9309 §2.3.1). */
  def applyRobots(df: DataFrame, robots: DataFrame, cfg: Config): DataFrame = {
    val agent = cfg.agent
    val allowed = udf { (body: String, url: String) =>
      val path = {
        val i = url.indexOf('/', url.indexOf("://") + 3)
        if (i < 0) "/" else url.substring(i)
      }
      cachedRules(body, agent).allows(path)
    }
    df.join(broadcast(robots.withColumnRenamed("body", "__robots_body")), Seq("host"), "left")
      .filter(col("__robots_body").isNull || allowed(col("__robots_body"), col("url_norm")))
      .drop("__robots_body")
  }

  final case class Discarded(kept: DataFrame, rejected: DataFrame)

  /** Stage 4b — pluggable discard hook (P6): `reason` is any user
    * expression over the row evaluating to a STRING — null keeps the row,
    * non-null discards it with that reason
    * (/root/reference/discard_hook.go:22-27, applied
    * /root/reference/dialer.go:466-479). Rejected rows flow to a TYPED
    * side output carrying every original column plus `discard_reason` —
    * the DiscardHookError{URL, Reason} error-channel analog (e2e shape:
    * the drop-429s test, /root/reference/client_test.go:1029-1110) — and
    * both sides expose observable row counters
    * (`queryExecution.observedMetrics` after any action), the ErrChan
    * accounting. The predicate stays a Catalyst expression, so pushdown /
    * codegen apply to the hook exactly as to built-in filters.
    *
    * Kept and rejected are two plans over the same input, which therefore
    * evaluates twice: the split is exact for a deterministic upstream
    * (every source in this repo), not for a sampling or re-fetching one. */
  def applyDiscard(df: DataFrame, reason: Column): Discarded = {
    val marked = df.withColumn("__reason", reason)
    Discarded(
      kept = marked.filter(col("__reason").isNull).drop("__reason")
        .observe("discard_kept", count(lit(1)).as("rows")),
      rejected = marked.filter(col("__reason").isNotNull)
        .withColumnRenamed("__reason", "discard_reason")
        .observe("discard_rejected", count(lit(1)).as("rows")))
  }

  /** Host-authority ranking over the crawl's link graph — the classic
    * frontier-prioritization signal (crawl high-authority hosts first).
    * PageRank in FIXED-POINT integer arithmetic: ranks are BIGINTs scaled
    * by `scale`, every step uses integer division (`div`), and sums are
    * over integers — so the result is a pure, order-independent function
    * of the graph that a SQL oracle replays bitwise (float PageRank is
    * neither: double addition is order-dependent across partitions).
    *
    * rank₀ = scale div N;
    * rankₜ₊₁(v) = (15·(scale div N)) div 100
    *            + (85·Σ_{u→v} (rankₜ(u) div outdeg(u))) div 100.
    * Dangling mass is dropped (the standard simplification).
    *
    * Scale shape: per-iteration = one groupBy on the destination host +
    * one broadcast-size join back to the host list; the host dim is
    * small relative to urls (10^7-10^8 hosts for 10^10 urls). Each
    * iteration's result is locally checkpointed so the plan stays
    * leaf-sized (iterative-persist lesson: persist caches data, not
    * plans). Returns (host, rank) with rank summing to ≈ scale. */
  def hostRank(edges: DataFrame, iterations: Int = 3,
               scale: Long = 1000000000000L): DataFrame = {
    val e = edges.select(col("src_host"), col("dst_host"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // lazy checkpoints: plan truncation is identical, but materialization
    // folds into the next consumer's job (hosts: the count right below;
    // outdeg/iterations: the final consumer's single job) instead of one
    // blocking driver job per pin — at bench scale each saved job is
    // ~0.1-0.3 s of fixed orchestration, at cluster scale each is a
    // cluster-wide barrier removed (guide §2.6: keep the scheduler fed)
    val hosts = e.select(col("src_host").as("host"))
      .unionByName(e.select(col("dst_host").as("host")))
      .distinct()
      .localCheckpoint(false)
    val n = hosts.count()
    if (n == 0) { e.unpersist(); return hosts.withColumn("rank", lit(0L)) }
    val outdeg = e.groupBy(col("src_host")).agg(count(lit(1)).as("od"))
      .localCheckpoint(false)
    val base = (15L * (scale / n)) / 100L
    var rank = hosts.withColumn("rank", lit(scale / n)).localCheckpoint(false)
    for (i <- 0 until iterations) {
      val contrib = e
        .join(rank.withColumnRenamed("host", "src_host"), "src_host")
        .join(outdeg, "src_host")
        .select(col("dst_host").as("host"), expr("rank div od").as("c"))
        .groupBy("host").agg(sum(col("c")).as("in_sum"))
      // intermediate iterations pin lazily (the next iteration's plan is
      // the materializing consumer); the LAST iteration pins EAGERLY so
      // the whole chain materializes while `e` is still persisted — a lazy
      // final pin would let the e.unpersist() below force every deferred
      // iteration to re-derive the edge frame from its source
      rank = hosts
        .join(contrib, Seq("host"), "left")
        .select(col("host"),
          (lit(base) + expr(s"(85 * coalesce(in_sum, 0L)) div 100")).as("rank"))
        .localCheckpoint(eager = i + 1 == iterations)
    }
    e.unpersist()
    rank
  }

  /** Derive a politeness-budget dim from robots.txt Crawl-delay: a host
    * declaring `Crawl-delay: d` gets `floor(windowSec / d)` fetches per
    * scheduling wave (min 1); hosts without a delay keep the caller's
    * default. Output shape matches `schedule`'s politeness dim
    * (host, budget) — one row per known host, broadcast-sized. */
  def budgetsFromRobots(robots: DataFrame, windowSec: Double, cfg: Config): DataFrame = {
    val agent = cfg.agent
    val default = cfg.defaultBudget
    val budgetOf = udf { (body: String) =>
      cachedRules(body, agent).crawlDelay match {
        case Some(d) if d > 0 => math.max(1, math.floor(windowSec / d).toInt)
        case _ => default
      }
    }
    robots.select(col("host"), budgetOf(col("body")).as("budget"))
  }

  /** Sitemap-derived seeds: every `Sitemap:` URL a host's robots.txt
    * declares becomes a depth-0 frontier row (url, depth, warc_ts), ready
    * to union into the seed frontier. The robots dim is broadcast-sized
    * (one row per host), so this is a narrow flatMap over a tiny table —
    * a UDF is fine here (the robots grammar is not expressible in
    * built-ins, and this runs once per host, not per url). */
  def sitemapSeeds(robots: DataFrame, ts: java.sql.Timestamp): DataFrame = {
    val ex = udf { (body: String) => Robots.sitemaps(body) }
    robots
      .select(explode(ex(col("body"))).as("url"))
      .withColumn("depth", lit(0))
      .withColumn("warc_ts", lit(ts))
  }

  /** Sitemap CONTENT → frontier seeds: parse fetched sitemap.xml bodies
    * (real JDK XML via codec.Sitemap — urlset entries with W3C-datetime
    * lastmod; sitemapindex children expand one level through the same
    * parse on a later fetch), canonicalize each loc like any frontier
    * candidate, and optionally keep only entries at/after `since`
    * (incremental recrawl from lastmod — entries WITHOUT a lastmod are
    * conservatively kept). Sitemaps are per-host side inputs (one row per
    * sitemap document, ≤50k urls each per the spec), so the per-row XML
    * UDF is the same justified pattern as the robots parse — never a
    * per-url cost. Input: (xml STRING); output
    * (url_norm, host, lastmod TIMESTAMP, depth=0). */
  def sitemapUrlSeeds(sitemaps: DataFrame, since: Option[java.sql.Timestamp] = None,
                      xmlCol: String = "xml"): DataFrame = {
    val parse = udf { (xml: String) =>
      graft.codec.Sitemap.parse(Option(xml).getOrElse(""))
        .map(e => (e.loc, e.lastmod.orNull))
    }
    val entries = sitemaps
      .select(explode(parse(col(xmlCol))).as("e"))
      .select(col("e._1").as("url"), col("e._2").as("lastmod"))
      .filter(graft.functions.GraftFunctions.url_is_valid(col("url")))
      .select(
        graft.functions.GraftFunctions.url_normalize(col("url")).as("url_norm"),
        graft.functions.GraftFunctions.url_host(
          graft.functions.GraftFunctions.url_normalize(col("url"))).as("host"),
        col("lastmod"))
      .withColumn("depth", lit(0))
    since match {
      case Some(ts) => entries.filter(col("lastmod").isNull || col("lastmod") >= lit(ts))
      case None => entries
    }
  }

  /** Stage 5 — politeness scheduling: per-host top-`budget` by
    * [[priority]] (the north_star priority queue).
    *
    * Default plan (saltBuckets ≤ 1): ONE exchange. The rank filter carries
    * a literal maxBudget bound, so Catalyst's InferWindowGroupLimit inserts
    * a map-side partial top-k before the host exchange: every map task
    * forwards ≤ maxBudget rows per host, bounding both the wire volume and
    * any reducer's per-host group at tasks×budget rows — skew-safe for
    * every realistic politeness budget without a pre-exchange.
    *
    * Salted plan (saltBuckets = S > 1) adds a phase A rank within
    * (host, salt = pmod(url_hash, S)) before the per-host rank, capping the
    * hot-host group at S×budget INDEPENDENT of cluster width. Only worth
    * its extra full-frontier exchange when tasks×budget per host threatens
    * a reducer (≈ tens of millions: e.g. 100k tasks × budget 10^3). The
    * two plans provably emit identical rows: any row in a host's true
    * top-budget is within its salt bucket's top-budget (asserted in
    * FrontierSpec).
    *
    * `batch_rank` (1..budget) is the fetch wave: one request per host per
    * wave. Expects (host, url_norm, url_hash, depth, warc_ts) + politeness
    * dim (host, budget). */
  def schedule(df: DataFrame, politeness: Option[DataFrame], cfg: Config): DataFrame = {
    // contract to the scheduling columns: the bounded-heap pass and both
    // ranking exchanges must not carry payload-sized columns (e.g. text)
    // through row ser/de — output is exactly these + batch_rank
    val pruned0 = df.select(col("host"), col("url_norm"), col("url_hash"),
      col("depth"), col("warc_ts"))
    val withBudget = politeness match {
      case Some(p) =>
        pruned0.join(broadcast(p.select(col("host"), col("budget").cast("int").as("__budget"))),
          Seq("host"), "left")
          .withColumn("__budget", coalesce(col("__budget"), lit(cfg.defaultBudget)))
      case None => pruned0.withColumn("__budget", lit(cfg.defaultBudget))
    }
    // the largest any host's budget can be — a LITERAL, so Catalyst's
    // InferWindowGroupLimit inserts a map-side partial top-k
    // (WindowGroupLimit, whole-stage codegen) before BOTH exchanges: each
    // map task forwards at most maxBudget rows per (host, salt) group, no
    // matter how hot the host. This replaces a hand-rolled Row-encoder
    // heap prune that paid object ser/de for every frontier row. The
    // politeness dim is small (one row per known host): the max() is a
    // driver-side scalar over a broadcast-sized table, computed once.
    val maxBudget =
      if (cfg.maxBudgetHint > 0) math.max(cfg.defaultBudget, cfg.maxBudgetHint)
      else politeness
        .map(p => math.max(cfg.defaultBudget,
          p.agg(coalesce(max(col("budget").cast("int")), lit(0))).head.getInt(0)))
        .getOrElse(cfg.defaultBudget)
    val phaseA =
      if (cfg.saltBuckets <= 1) withBudget
      else {
        val salted = withBudget.withColumn("__salt", pmod(col("url_hash"), lit(cfg.saltBuckets)))
        val wA = Window.partitionBy(col("host"), col("__salt")).orderBy(priority: _*)
        salted
          .withColumn("__rnA", row_number().over(wA))
          .filter(col("__rnA") <= lit(maxBudget) && col("__rnA") <= col("__budget"))
          .drop("__rnA", "__salt")
      }
    val wB = Window.partitionBy(col("host")).orderBy(priority: _*)
    phaseA
      .withColumn("batch_rank", row_number().over(wB))
      .filter(col("batch_rank") <= lit(maxBudget) && col("batch_rank") <= col("__budget"))
      .drop("__budget")
  }

  /** Authority-prioritized fetch waves: the north_star priority queue
    * (depth, host budget, warc_ts recency) extended with the hostRank
    * signal — after the per-host politeness rank, a global per-wave
    * capacity keeps the `waveSlots` highest-priority rows in
    * (batch_rank asc, authority desc, host, url_norm) order, so scarce
    * fetch slots go to high-authority hosts first.
    *
    * Scale shape: the global selection is orderBy + limit, which Spark
    * executes as TakeOrderedAndProject — a map-side K-row heap per
    * partition and one driver merge of partials, never a single-task
    * global Window. The authority dim is host-cardinality (small), so the
    * join is an explicit broadcast. */
  def scheduleByAuthority(df: DataFrame, politeness: Option[DataFrame],
                          authority: DataFrame, waveSlots: Int,
                          cfg: Config): DataFrame = {
    require(waveSlots > 0, "waveSlots must be positive")
    val auth = broadcast(authority
      .select(col("host"), col("rank").cast("long").as("authority")))
    schedule(df, politeness, cfg)
      .join(auth, Seq("host"), "left")
      .withColumn("authority", coalesce(col("authority"), lit(0L)))
      .orderBy(col("batch_rank").asc, col("authority").desc,
        col("host").asc, col("url_norm").asc)
      .limit(waveSlots)
  }
}
