package graft

import graft.functions.GraftFunctions._
import graft.operators._
import graft.sources.PagesGen
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ScratchDir
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The driver-harness query surface: every operator family from SURVEY.md
  * §2 (+ the training-data ops) exposed as a (SparkSession, sfDir) =>
  * DataFrame, with a DuckDB-equivalent oracle where the op is
  * SQL-expressible. Column names and row order match the oracles exactly.
  *
  * Float discipline: aggregate sums go through DECIMAL(38,x) (exact,
  * order-independent) and are cast to DOUBLE at the end; cosine scores are
  * sequential double folds, which DuckDB's list_sum/list_transform
  * reproduces bitwise (verified empirically).
  */
object Queries {

  /** Table loader: one listing, one schema inference per table version,
    * and a small-input parallelism floor.
    *
    * Per-table work is done once. `load` lists the table path once and
    * takes the byte count, the scan width and the cache key from that
    * listing. `s.read.parquet(path)` without a schema starts a 1-task
    * schema-inference job on every call: 67-94 ms median per load over
    * the sf0.1 lineitem, documents and orders at `local[4]`, against
    * 5-9 ms with a supplied schema. So the schema is inferred once per
    * table version, and later loads read with
    * `s.read.schema(cached).parquet(path)`, which starts no job. A table
    * version is the path plus every listed data file's (name, length,
    * mtime): a table rewritten at the same path lists differently, so it
    * is inferred and measured again. The cache keeps one entry per path,
    * the latest version, so it stays bounded by the number of tables.
    * Row-group counts (the width probe below) are read from the footers
    * in the same miss and kept in the same entry.
    *
    * The floor. The harness tiers ship each table as ONE parquet file
    * with ONE row group. A row group is the atomic parquet split, so
    * however many byte-range tasks the planner schedules, exactly one
    * task (the one holding the group's start offset) decodes every row —
    * profiled at sf1: 31 of 32 cores idle under every corpus scan, and
    * every kernel-bound query pays wall-clock = single-core time. The
    * floor restores scan-side parallelism: when the file layout caps the
    * scan below the cluster's parallelism AND the table is big enough
    * for the shuffle to pay for itself, round-robin the rows across
    * defaultParallelism once, right above the scan (the scan task then
    * only decodes+forwards bytes; the expensive kernels run post-exchange
    * at full width). Explicit numPartitions keeps AQE from coalescing it
    * back down.
    *
    * The round-robin runs without Spark's pre-sort
    * (`spark.sql.execution.sortBeforeRepartition=false` in
    * [[GraftSession]]): over a one-row-group table that sort runs in the
    * single scan task. q01 over the 600k-row sf0.1 lineitem took 1.37 s
    * median with the sort and 0.75 s without it (`local[4]`, 8 runs
    * each, alternating). Precondition, which makes this safe: the
    * floor's input is a file scan, whose row order is deterministic, so
    * Spark marks the unsorted round-robin determinate and a retried map
    * task rebuilds the same partitions. (Over a shuffle, Spark would mark
    * it indeterminate and rerun the whole stage.) `PlanAudit` checks that
    * no round-robin exchange has an exchange below it.
    *
    * At 100 TB this never fires: a real table has thousands of
    * well-sized files (fileCount >= cores), and shuffling the corpus
    * would be exactly wrong — the gate is the point. Filter pushdown and
    * column pruning both pass through a Repartition node, so plan
    * contracts on PushedFilters/ReadSchema are unchanged.
    *
    * Threshold: 256 KB compressed (~8 KB/core at 32) — measured at
    * sf0.1, flooring the 0.6 MB documents table cuts every kernel-bound
    * query 2-4x (m02 1.9 -> 0.5 s, t07 1.1 -> 0.4 s) at the cost of
    * ~0.3 s of extra exchange on a few metadata-only frontier queries;
    * below ~256 KB the exchange overhead is the larger term.
    *
    * Two consumer classes, two rules (A/B-isolated at sf0.1/sf1/sf10):
    *
    *  - kernel-first (`t`): expensive per-row compute (hashing, decode,
    *    tokenize) runs BETWEEN the scan and the first exchange, so scan
    *    width caps the whole query — floor whenever the layout's
    *    effective width is below the cluster's.
    *  - exchange-first (`tExch`): the first thing above the scan is a
    *    partial aggregate or a key shuffle. The floor's round-robin
    *    exchange moves the ENTIRE table to buy width the consumer's own
    *    exchange (or map-side partial agg) already provides: at sf10,
    *    skipping it halved every lineitem/events aggregate (q01 12.4 ->
    *    7.6 s, q06 19.9 -> 9.8 s, q07 9.5 -> 4.5 s — even at 2 row
    *    groups). The one case it still pays is a FULLY serial scan
    *    (effective width 1): fusing the partial aggregate into a
    *    single-task scan serializes real per-row agg work (q06 at sf0.1:
    *    0.88 s floored vs 1.13 s not), so `tExch` floors only then.
    *
    * Width is the number of parquet ROW GROUPS (capped by the planner's
    * byte-range split count), not the file count: a row group is the
    * atomic split, so a 1.5 GB 12-group file scans 12-wide no matter how
    * many byte ranges the planner cuts. The split count is recomputed on
    * every load from the session's `spark.sql.files.maxPartitionBytes`,
    * so a session that changes it gets the width for its own split size
    * (ADVICE r5 #3). */
  private[graft] val floorMinBytes = 256L << 10

  /** One version of a table as `load` last saw it: the listing's
    * (name, length, mtime) per data file, the inferred schema, and the
    * row-group count of each file in listing order. */
  private final case class TableVersion(
      files: Seq[(String, Long, Long)], schema: StructType, rowGroups: Seq[Int])
  private val tables = new java.util.concurrent.ConcurrentHashMap[String, TableVersion]()

  private def load(s: SparkSession, dir: String, name: String,
                   floorBelow: SparkSession => Int): DataFrame = {
    val pathStr = s"$dir/$name.parquet"
    val path = new org.apache.hadoop.fs.Path(pathStr)
    val conf = s.sparkContext.hadoopConfiguration
    val listed = path.getFileSystem(conf).listStatus(path)
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_")).toSeq
    val files = listed.map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
    val (df, version) = Option(tables.get(pathStr)).filter(_.files == files) match {
      case Some(v) => (s.read.schema(v.schema).parquet(pathStr), v)
      case None =>
        val df = s.read.parquet(pathStr)
        val v = TableVersion(files, df.schema, listed.map(rowGroups(conf, _)))
        tables.put(pathStr, v)
        (df, v)
    }
    // byteStringAsBytes, not a bare toLong: the conf's documented unit
    // syntax ("128MB", "64m") is valid here — set via spark-defaults or
    // a user override — and only the internal "134217728b" rendering
    // would survive a stripSuffix parse.
    val maxSplit = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      s.conf.get("spark.sql.files.maxPartitionBytes", "134217728")) max 1L
    // effective scan width: min(row groups, byte-range splits) per file
    val width = files.zip(version.rowGroups).map { case ((_, len, _), groups) =>
      math.min(groups, math.ceil(len.toDouble / maxSplit).toInt max 1)
    }.sum
    if (width < floorBelow(s) && files.map(_._2).sum >= floorMinBytes)
      df.repartition(s.sparkContext.defaultParallelism)
    else df
  }
  /** Row groups in one parquet file's footer (1 if it cannot be read). */
  private def rowGroups(conf: org.apache.hadoop.conf.Configuration,
                        f: org.apache.hadoop.fs.FileStatus): Int =
    try {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
      try r.getRowGroups.size max 1 finally r.close()
    } catch { case _: Exception => 1 }
  /** Kernel-first consumers: floor when the scan is narrower than the cluster. */
  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    load(s, dir, name, _.sparkContext.defaultParallelism)
  /** Exchange-first consumers: floor only a fully serial scan.
    *
    * Join/window consumers (q03-q05, q08, q09) measured parity between the
    * two rules at sf10 (the extra round-robin's map-side write runs at scan
    * width either way, and this box's shuffle spill lands in page cache);
    * they still use this rule because at 100 TB an extra full-corpus
    * exchange is never the right default when the consumer's own key
    * exchange provides the width. */
  private[graft] def tExch(s: SparkSession, dir: String, name: String): DataFrame =
    load(s, dir, name, _ => 2)

  // ---------------------------------------------------------------------
  // pages-lite: the Common-Crawl-style frontier input derived
  // deterministically from the documents table, with dirty-URL variants.
  // The oracle CTE `p` below mirrors these expressions 1:1.
  // ---------------------------------------------------------------------
  private def pagesLite(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").selectExpr(
      "doc_id",
      "doc_id % 89 AS path_id",
      "(doc_id % 89) % 7 AS host_id",
      "CAST(doc_id % 3 AS INT) AS depth",
      "TIMESTAMP '2022-03-20 03:55:45' + make_interval(0, 0, 0, 0, 0, 0, (doc_id * 7) % 100000) AS warc_ts",
      """CASE CAST(doc_id % 4 AS INT)
           WHEN 0 THEN concat('HTTPS://HOST', CAST((doc_id % 89) % 7 AS STRING), '.EXAMPLE/doc/', CAST(doc_id % 89 AS STRING))
           WHEN 1 THEN concat('https://host', CAST((doc_id % 89) % 7 AS STRING), '.example:443/doc/', CAST(doc_id % 89 AS STRING))
           WHEN 2 THEN concat('https://host', CAST((doc_id % 89) % 7 AS STRING), '.example/./doc/', CAST(doc_id % 89 AS STRING))
           ELSE concat('https://host', CAST((doc_id % 89) % 7 AS STRING), '.example/doc/', CAST(doc_id % 89 AS STRING), '#s')
         END AS url""",
      "text")

  private val pSql: String =
    """SELECT doc_id,
      |  doc_id % 89 AS path_id,
      |  (doc_id % 89) % 7 AS host_id,
      |  CAST(doc_id % 3 AS INT) AS depth,
      |  TIMESTAMP '2022-03-20 03:55:45' + INTERVAL ((doc_id * 7) % 100000) SECOND AS warc_ts,
      |  'https://host' || CAST((doc_id % 89) % 7 AS VARCHAR) || '.example/doc/' || CAST(doc_id % 89 AS VARCHAR) AS url_norm,
      |  'host' || CAST((doc_id % 89) % 7 AS VARCHAR) || '.example' AS host,
      |  text
      |FROM documents""".stripMargin

  /** Planted duplicate clusters (docs texts are all-distinct and short, so
    * dup detection needs seeded dups ≥ the 2048-byte threshold). */
  private val text2Spark =
    "CASE WHEN doc_id % 11 < 3 THEN repeat(concat('dup-block-', CAST(doc_id % 7 AS STRING), ' '), 250) ELSE text END"
  private val text2Duck =
    "CASE WHEN doc_id % 11 < 3 THEN repeat('dup-block-' || CAST(doc_id % 7 AS VARCHAR) || ' ', 250) ELSE text END"

  private def fw(s: SparkSession, dir: String): DataFrame = {
    val canon = Frontier.canonicalize(pagesLite(s, dir))
    Frontier.firstSeenWins(canon, col("url_norm"),
      Seq(col("warc_ts").asc, col("doc_id").asc))
  }

  /** Shared by f09/f10: pagesLite with planted dup bodies + per-doc urls,
    * deduped against a synthetic CDX index (docs with doc_id%5==0 are
    * "remotely archived"; doc_id%10==0 adds a warc/revisit entry that must
    * be ignored per /root/reference/dedupe.go:59). */
  private def cdxDeduped(s: SparkSession, dir: String): DataFrame = {
    val p = pagesLite(s, dir)
      .withColumn("text2", expr(text2Spark))
      .withColumn("url_norm", concat(url_normalize(col("url")), lit("?d="), col("doc_id")))
      .withColumn("payload_digest", sha2(col("text2"), 256))
      .withColumn("payload_len", length(encode(col("text2"), "UTF-8")).cast("long"))
    val archived = p.filter(col("doc_id") % 5 === 0).select(
      col("payload_digest"),
      concat(lit("https://archive.example/doc/"), col("doc_id")).as("target_uri"),
      expr("TIMESTAMP '2022-01-01 00:00:00' + make_interval(0,0,0,0,0,0,doc_id)").as("capture_ts"),
      lit("text/html").as("record_type"))
    val revisitNoise = p.filter(col("doc_id") % 10 === 0).select(
      col("payload_digest"),
      concat(lit("https://bogus.example/doc/"), col("doc_id")).as("target_uri"),
      expr("TIMESTAMP '2023-01-01 00:00:00' + make_interval(0,0,0,0,0,0,doc_id)").as("capture_ts"),
      lit("warc/revisit").as("record_type"))
    operators.Frontier.digestDedupWithCdx(p, archived.unionByName(revisitNoise),
      operators.Frontier.Config())
  }

  /** Deterministic closed-form web for the oracle-checked crawl (f07):
    * 89 urls over 7 hosts; each url's body (an identity-transfer HTTP/1.1
    * response) and outlinks derive only from `g = url_id % 13`, so urls
    * sharing `g` have byte-identical payloads (digest-dedup revisits) and
    * DuckDB can regenerate links arithmetically instead of regexping HTML.
    * Bodies exceed the 2048-byte dedup threshold by construction. */
  private def webLite(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .selectExpr(
        "doc_id % 89 AS u",
        "(doc_id % 89) % 7 AS h",
        "(doc_id % 89) % 13 AS g",
        "TIMESTAMP '2022-03-20 03:55:45' + make_interval(0, 0, 0, 0, 0, 0, (doc_id * 7) % 100000) AS warc_ts")
      // bodies are a pure function of g, so captures of the same u are
      // byte-identical: fold the capture set to first-capture-per-url
      // BEFORE synthesizing the multi-KB bodies (exactly the oracle's
      // `min(ts) GROUP BY u, h, g` web CTE) — building 5000 bodies to
      // have asWeb's dedup discard 98% of them was pure scaffolding cost
      .groupBy("u", "h", "g").agg(min(col("warc_ts")).as("warc_ts"))
      .withColumn("body", concat(
        lit("<a href=\""), lit("https://host"),
        expr("CAST(((g*2+1) % 89) % 7 AS STRING)"), lit(".example/doc/"),
        expr("CAST((g*2+1) % 89 AS STRING)"), lit("\">a</a> "),
        lit("<a href=\""), lit("https://host"),
        expr("CAST(((g*5+3) % 89) % 7 AS STRING)"), lit(".example/doc/"),
        expr("CAST((g*5+3) % 89 AS STRING)"), lit("\">b</a> "),
        expr("repeat(concat('pad-', CAST(g AS STRING), ' '), 400)")))
      .select(
        concat(lit("https://host"), col("h").cast("string"),
          lit(".example/doc/"), col("u").cast("string")).as("url"),
        col("warc_ts"),
        concat(lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nContent-Length: "),
          length(encode(col("body"), "UTF-8")).cast("string"),
          lit("\r\n\r\n"), col("body")).cast("binary").as("html"),
        col("body").as("text"),
        lit("en").as("lang"))

  /** One unrolled crawl round for the f07 DuckDB oracle. Mirrors
    * Crawl.round exactly: in-batch first-wins (depth asc, ts desc), seen
    * anti-join, robots gate, per-host politeness rank (budget 1+h%3),
    * fetch join, digest-group revisit marking (ordered by discovery ts
    * then url), link fan-out from non-revisits, and deferral of
    * budget-losers. */
  private def f07Round(k: Int, frontierCte: String, seenCte: Option[String]): String = {
    val seenFilter = seenCte.map(sc => s"WHERE u NOT IN (SELECT u FROM $sc)").getOrElse("")
    s"""r${k}_d AS (
       |  SELECT u, depth, wts FROM (
       |    SELECT u, depth, wts, row_number() OVER (PARTITION BY u ORDER BY depth, wts DESC) AS rn
       |    FROM $frontierCte) WHERE rn = 1),
       |r${k}_n AS (SELECT * FROM r${k}_d $seenFilter),
       |r${k}_a AS (
       |  SELECT u, depth, wts, u % 7 AS h,
       |    'https://host' || CAST(u % 7 AS VARCHAR) || '.example/doc/' || CAST(u AS VARCHAR) AS url_norm
       |  FROM r${k}_n
       |  WHERE NOT (u % 7 % 2 = 0 AND CAST(u AS VARCHAR) LIKE '1%')),
       |r${k}_s AS (
       |  SELECT u, depth, wts, h, url_norm, batch_rank FROM (
       |    SELECT *, CAST(row_number() OVER (PARTITION BY h ORDER BY depth, wts DESC, url_norm) AS INT) AS batch_rank,
       |      1 + h % 3 AS budget
       |    FROM r${k}_a)
       |  WHERE batch_rank <= budget),
       |r${k}_def AS (SELECT u, depth, wts FROM r${k}_a WHERE u NOT IN (SELECT u FROM r${k}_s)),
       |r${k}_f AS (
       |  SELECT s.u, s.depth, s.wts, s.h, s.url_norm, s.batch_rank, w.g, w.page_ts
       |  FROM r${k}_s s JOIN web w USING (u)),
       |r${k}_o AS (
       |  SELECT u, h, depth, wts, url_norm, batch_rank, g, page_ts,
       |    row_number() OVER wd > 1 AS is_revisit,
       |    first_value(url_norm) OVER wd AS first_url
       |  FROM r${k}_f
       |  WINDOW wd AS (PARTITION BY g ORDER BY wts, url_norm)),
       |r${k}_l AS (
       |  SELECT unnest([(g*2+1) % 89, (g*5+3) % 89]) AS u, depth + 1 AS depth, page_ts AS wts
       |  FROM r${k}_o WHERE NOT is_revisit)""".stripMargin
  }

  private val f07Sql: String = {
    val webCte =
      """web AS (
        |  SELECT u, h, g, min(ts) AS page_ts FROM (
        |    SELECT doc_id % 89 AS u, (doc_id % 89) % 7 AS h, (doc_id % 89) % 13 AS g,
        |      TIMESTAMP '2022-03-20 03:55:45' + INTERVAL ((doc_id*7) % 100000) SECOND AS ts
        |    FROM documents) GROUP BY u, h, g)""".stripMargin
    val seedsCte =
      """seeds AS (
        |  SELECT CAST(s.u AS BIGINT) AS u, 0 AS depth, TIMESTAMP '2022-03-20 03:55:45' AS wts
        |  FROM (VALUES (0),(2),(3),(5),(8),(11),(17),(21),(26),(30),(39),(44)) AS s(u))""".stripMargin
    val r1 = f07Round(1, "seeds", None)
    val f2 = """f2 AS (SELECT * FROM r1_l UNION ALL SELECT * FROM r1_def),
               |seen1 AS (SELECT u FROM r1_s)""".stripMargin
    val r2 = f07Round(2, "f2", Some("seen1"))
    val f3 = """f3 AS (SELECT * FROM r2_l UNION ALL SELECT * FROM r2_def),
               |seen2 AS (SELECT u FROM seen1 UNION SELECT u FROM r2_s)""".stripMargin
    val r3 = f07Round(3, "f3", Some("seen2"))
    s"""WITH $webCte,
       |$seedsCte,
       |$r1,
       |$f2,
       |$r2,
       |$f3,
       |$r3
       |SELECT * FROM (
       |  SELECT 1 AS round, url_norm, CAST(depth AS INT) AS depth, batch_rank, is_revisit,
       |    CASE WHEN is_revisit THEN first_url END AS refers_to_url, true AS text_ok FROM r1_o
       |  UNION ALL
       |  SELECT 2, url_norm, CAST(depth AS INT), batch_rank, is_revisit,
       |    CASE WHEN is_revisit THEN first_url END, true FROM r2_o
       |  UNION ALL
       |  SELECT 3, url_norm, CAST(depth AS INT), batch_rank, is_revisit,
       |    CASE WHEN is_revisit THEN first_url END, true FROM r3_o)
       |ORDER BY round, url_norm""".stripMargin
  }

  private val fwSql: String =
    s"""p AS ($pSql),
       |fw AS (
       |  SELECT doc_id, path_id, host_id, depth, warc_ts, url_norm, host FROM (
       |    SELECT p.*, row_number() OVER (PARTITION BY url_norm ORDER BY warc_ts, doc_id) AS __rn FROM p)
       |  WHERE __rn = 1)""".stripMargin

  /** Fixed-point host-authority PageRank over the closed-form link graph,
    * 3 iterations unrolled bitwise — shared by the f17 and f18 oracles;
    * ends with relation r3(h, r). */
  private val hostRankCteSql: String =
    """us AS (SELECT DISTINCT doc_id % 89 AS u FROM documents),
      |e AS (
      | SELECT CAST(u % 7 AS BIGINT) AS s, CAST((((u % 13)*2+1) % 89) % 7 AS BIGINT) AS t FROM us
      | UNION ALL
      | SELECT CAST(u % 7 AS BIGINT) AS s, CAST((((u % 13)*5+3) % 89) % 7 AS BIGINT) AS t FROM us),
      |hosts AS (SELECT DISTINCT h FROM (SELECT s AS h FROM e UNION ALL SELECT t AS h FROM e)),
      |outd AS (SELECT s, count(*) AS od FROM e GROUP BY s),
      |r0 AS (SELECT h, 1000000000000 // 7 AS r FROM hosts),
      |c1 AS (SELECT e.t AS h, CAST(sum(r0.r // outd.od) AS BIGINT) AS isum
      |       FROM e JOIN r0 ON e.s = r0.h JOIN outd ON e.s = outd.s GROUP BY e.t),
      |r1 AS (SELECT hosts.h, (15 * (1000000000000 // 7)) // 100 + (85 * coalesce(c1.isum, 0)) // 100 AS r
      |       FROM hosts LEFT JOIN c1 ON hosts.h = c1.h),
      |c2 AS (SELECT e.t AS h, CAST(sum(r1.r // outd.od) AS BIGINT) AS isum
      |       FROM e JOIN r1 ON e.s = r1.h JOIN outd ON e.s = outd.s GROUP BY e.t),
      |r2 AS (SELECT hosts.h, (15 * (1000000000000 // 7)) // 100 + (85 * coalesce(c2.isum, 0)) // 100 AS r
      |       FROM hosts LEFT JOIN c2 ON hosts.h = c2.h),
      |c3 AS (SELECT e.t AS h, CAST(sum(r2.r // outd.od) AS BIGINT) AS isum
      |       FROM e JOIN r2 ON e.s = r2.h JOIN outd ON e.s = outd.s GROUP BY e.t),
      |r3 AS (SELECT hosts.h, (15 * (1000000000000 // 7)) // 100 + (85 * coalesce(c3.isum, 0)) // 100 AS r
      |       FROM hosts LEFT JOIN c3 ON hosts.h = c3.h)""".stripMargin

  // ---------------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- relational core (scan/filter/agg/join/window/sort, SURVEY §2) ---
    "q01_pricing_summary" -> ((s, dir) =>
      tExch(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(38,4)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(38,4)")).cast("double").as("sum_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")),

    "q02_filter_agg" -> ((s, dir) =>
      tExch(s, dir, "lineitem")
        .filter(col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(38,4)")).cast("double").as("revenue"))
        .orderBy("l_returnflag")),

    "q03_region_revenue" -> ((s, dir) => {
      val orders = tExch(s, dir, "orders")
      val customer = tExch(s, dir, "customer")
      val nation = broadcast(t(s, dir, "nation"))
      val region = broadcast(t(s, dir, "region"))
      orders
        .join(customer, col("o_custkey") === col("c_custkey"))
        .join(nation, col("c_nationkey") === col("n_nationkey"))
        .join(region, col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(38,4)")).cast("double").as("revenue"))
        .orderBy("r_name")
    }),

    "q04_topk_orders" -> ((s, dir) =>
      tExch(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)),

    "q05_window_top_orders" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").asc)
      tExch(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
        .orderBy("o_custkey", "rn")
    }),

    "q06_distinct_counts" -> ((s, dir) =>
      tExch(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))
        .orderBy("l_returnflag")),

    "q07_events_hourly" -> ((s, dir) =>
      tExch(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(38,6)")).cast("double").as("total"))
        .select(col("w.start").as("hour"), col("event_type"), col("n"), col("total"))
        .orderBy("hour", "event_type")),

    "q08_semi_join" -> ((s, dir) => {
      val bigOrders = tExch(s, dir, "orders").filter(col("o_totalprice") > 100000)
        .select(col("o_custkey").as("c_custkey"))
      tExch(s, dir, "customer")
        .join(bigOrders, Seq("c_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    }),

    "q09_anti_join" -> ((s, dir) => {
      // customers with no large order (threshold near p99 so the anti side
      // is non-trivial at every scale factor)
      val orderCust = tExch(s, dir, "orders").filter(col("o_totalprice") > 450000)
        .select(col("o_custkey").as("c_custkey"))
      tExch(s, dir, "customer")
        .join(orderCust, Seq("c_custkey"), "left_anti")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name").agg(count(lit(1)).as("n"))
        .orderBy("n_name")
    }),

    // --- frontier (north_star ops over pages-lite) -----------------------
    "f01_canonicalize" -> ((s, dir) =>
      Frontier.canonicalize(pagesLite(s, dir))
        .select("doc_id", "url_norm", "host")
        .orderBy("doc_id")),

    "f02_urlseen_first_wins" -> ((s, dir) =>
      fw(s, dir)
        .select(col("url_norm"), col("doc_id").as("first_doc"))
        .orderBy("url_norm")),

    "f03_digest_dedup" -> ((s, dir) => {
      val p = pagesLite(s, dir)
        .withColumn("text2", expr(text2Spark))
        .withColumn("url_norm", concat(url_normalize(col("url")), lit("?d="), col("doc_id")))
        .withColumn("payload_digest", sha2(col("text2"), 256))
        .withColumn("payload_len", length(encode(col("text2"), "UTF-8")).cast("long"))
      Frontier.digestDedup(p, Frontier.Config())
        .select("doc_id", "is_revisit", "refers_to_url")
        .orderBy("doc_id")
    }),

    "f04_politeness_schedule" -> ((s, dir) => {
      val politeness = fw(s, dir).select("host", "host_id").distinct()
        .withColumn("budget", lit(1) + col("host_id") % 8)
        .select("host", "budget")
      Frontier.schedule(fw(s, dir), Some(politeness),
        Frontier.Config(defaultBudget = 4, saltBuckets = 8))
        .select("url_norm", "host", "batch_rank")
        .orderBy("host", "batch_rank")
    }),

    "f05_robots_filter" -> ((s, dir) => {
      import s.implicits._
      val robots = (0 until 7).filter(_ % 2 == 0)
        .map(h => (s"host$h.example", "User-agent: *\nDisallow: /doc/1"))
        .toDF("host", "body")
      Frontier.applyRobots(fw(s, dir), robots, Frontier.Config())
        .select("url_norm")
        .orderBy("url_norm")
    }),

    "f06_host_stats" -> ((s, dir) =>
      Frontier.canonicalize(pagesLite(s, dir))
        .groupBy("host")
        .agg(count(lit(1)).as("n_candidates"),
          countDistinct(col("url_norm")).as("n_unique"),
          min(col("doc_id")).as("first_doc"))
        .orderBy("host")),

    "f07_crawl_round" -> ((s, dir) => {
      // The integrated multi-round crawl, oracle-checked end to end: three
      // rounds of Crawl.crawl — the loop CrawlTool runs — over a
      // deterministic closed-form web (urls, bodies, links, and robots all
      // derive from doc_id arithmetic) that DuckDB replays — canonicalize
      // → in-batch first-wins → seen filter → robots → politeness schedule
      // → fetch → digest dedup (revisits) → link discovery from the pinned
      // captures → budget-loser deferral — in unrolled CTEs. The
      // PagesGen-web conformance (all 4 HTTP transfer modes, sequential
      // reference simulation) stays in FrontierSpec.
      import s.implicits._
      // reducer count sized to the round, not the session: a 3-round
      // 89-url frontier never fills 32 reducers, and at this cardinality
      // the bottleneck is per-stage orchestration, so ONE reducer and AQE
      // off (AQE turns each of the round's ~5 exchanges into a separate
      // query-stage job submission — pure fixed cost when every stage is
      // one task; measured -20% wall in an A/B of this loop). Restored after the
      // crawl: the returned plan and every other query keep the session
      // defaults, and a real (10^9-url-round) crawl would too — there AQE's
      // runtime re-plan earns its overhead back on skew.
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      val prevAqe = s.conf.get("spark.sql.adaptive.enabled")
      s.conf.set("spark.sql.shuffle.partitions", "1")
      s.conf.set("spark.sql.adaptive.enabled", "false")
      try {
      // the web is joined in EVERY round's job: checkpoint it once so each
      // round plans and scans a leaf, not the full derivation
      val web = Crawl.asWeb(Queries.webLite(s, dir)).localCheckpoint(true)
      val politeness = (0 until 7).map(h => (s"host$h.example", 1 + h % 3))
        .toDF("host", "budget")
      val robots = (0 until 7).filter(_ % 2 == 0)
        .map(h => (s"host$h.example", "User-agent: *\nDisallow: /doc/1"))
        .toDF("host", "body")
      // seeded at PagesGen.BaseEpochSec, the oracle's 2022-03-20 03:55:45 UTC
      val seeds = Seq(0, 2, 3, 5, 8, 11, 17, 21, 26, 30, 39, 44)
        .map(u => s"HTTPS://host${u % 7}.example:443/doc/$u")
      // budgets are 1 + h % 3 ∈ {1,2,3}: hint the literal rank bound so no
      // round pays the per-call max(budget) driver aggregate. Single-phase
      // schedule (the salted pre-rank would add a full-frontier exchange
      // per round for nothing at this cluster width — f04 keeps the salted
      // plan under oracle + plan-assert coverage; both emit identical rows)
      val cfg = Frontier.Config(defaultBudget = 2, maxBudgetHint = 3, seenParts = 1)
      Crawl.crawl(s, web, seeds, 3, Some(robots), Some(politeness), cfg).allFetched
        .select((col("round") + 1).as("round"), col("url_norm"), col("depth"),
          col("batch_rank"), col("is_revisit"), col("refers_to_url"), col("text_ok"))
        // 19 output rows: one partition sorts them without a range-partition
        // sampling pass (global order still holds — single partition)
        .coalesce(1).sortWithinPartitions("round", "url_norm")
      } finally {
        s.conf.set("spark.sql.shuffle.partitions", prevParts)
        s.conf.set("spark.sql.adaptive.enabled", prevAqe)
      }
    }),

    "f09_cdx_dedup" -> ((s, dir) => {
      // local-then-remote dedupe precedence (J3): local first-wins beats the
      // CDX index; remote hits mark local firsts as cdx revisits
      Queries.cdxDeduped(s, dir)
        .select("doc_id", "is_revisit", "dedupe_source", "refers_to_url")
        .orderBy("doc_id")
    }),

    "f10_dedupe_savings" -> ((s, dir) =>
      // the reference's LocalDedupeTotal / RemoteDedupeTotal counter
      // semantics (bytes saved per dedupe source, client_test.go:863,950)
      Queries.cdxDeduped(s, dir)
        .filter(col("dedupe_source").isNotNull)
        .groupBy("dedupe_source")
        .agg(count(lit(1)).as("n_revisits"),
          sum(col("payload_len")).as("saved_bytes"))
        .orderBy("dedupe_source")),

    "f11_sitemap_seeds" -> ((s, dir) => {
      // Sitemap: lines from robots.txt become depth-0 seeds (sitemaps.org
      // extension, group-independent, case-insensitive key, comments
      // stripped, relative URLs ignored), canonicalized like any frontier
      // candidate (uppercase scheme + default port exercised)
      import s.implicits._
      val robots = (0 until 7).map { h =>
        val body =
          if (h % 2 == 0)
            s"User-agent: *\nDisallow: /tmp\nSitemap: HTTPS://host$h.example:443/sitemap-a.xml  # primary\nsitemap: https://host$h.example/sitemap-b.xml\nSitemap: /relative-ignored.xml"
          else "User-agent: *\nDisallow:"
        (s"host$h.example", body)
      }.toDF("host", "body")
      Frontier.canonicalize(Frontier.sitemapSeeds(robots,
          java.sql.Timestamp.valueOf("2022-03-20 03:55:45")))
        .select("url_norm", "host", "depth")
        .orderBy("url_norm")
    }),

    "f08_seen_partitioned" -> ((s, dir) => {
      // partitioned URL-seen filter (SeenStore): per-partition sketches
      // probed executor-side + exact anti-join fallback ≡ exact anti-join.
      // Two increments + a compaction put the merged-bank probe path
      // under the oracle gate, not just the per-increment chain. The
      // returned frame probes the store lazily, so it lives until JVM exit.
      val seenDir = ScratchDir("graft-f08-seen")
      val store = graft.state.SeenStore(seenDir, graft.state.SeenStore.Config(parts = 8))
      val all = fw(s, dir)
      store.append(all.filter(col("doc_id") % 6 === 0).select("url_hash"), 0L)
      store.append(all.filter(col("doc_id") % 6 === 3).select("url_hash"), 1L)
      store.compact(s)
      store.filterUnseen(all).result
        .select("url_norm", "doc_id")
        .orderBy("url_norm")
    }),

    "f12_stream_schedule" -> ((s, dir) => {
      // streaming ≡ batch: the store-backed streaming frontier
      // (FrontierStream.scheduledBatches) over two deterministic
      // micro-batches equals the batch seen/schedule semantics, which the
      // oracle replays in unrolled CTEs. Only SCHEDULED urls enter the
      // seen store, so a batch-0 budget loser may still schedule in
      // batch 1 — the deferral semantics, cross-checked here through the
      // streaming surface.
      import s.implicits._
      val tmp = ScratchDir("graft-f12")
      val p = pagesLite(s, dir).select(col("url"), col("depth"), col("warc_ts"), col("doc_id"))
      p.filter(col("doc_id") % 2 === 0).drop("doc_id")
        .coalesce(1).write.parquet(s"$tmp/in/b0")
      p.filter(col("doc_id") % 2 === 1).drop("doc_id")
        .coalesce(1).write.parquet(s"$tmp/in/b1")
      // file-source ordering is (mtime, path): pin mtimes so b0 is batch 0
      for ((sub, ts) <- Seq(("b0", 1000000000000L), ("b1", 1000000600000L)))
        new java.io.File(s"$tmp/in/$sub").listFiles()
          .filter(_.getName.endsWith(".parquet")).foreach(_.setLastModified(ts))
      val politeness = (0 until 7).map(h => (s"host$h.example", 1 + h % 3))
        .toDF("host", "budget")
      val stream = s.readStream
        .schema(p.drop("doc_id").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$tmp/in/b*")
      val q = graft.streaming.FrontierStream.scheduledBatches(
          stream, s"$tmp/seen", s"$tmp/out", Some(politeness),
          Frontier.Config(defaultBudget = 2, seenParts = 8))
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }
      val batchDirs = new java.io.File(s"$tmp/out").listFiles()
        .filter(_.getName.startsWith("batch-")).sortBy(_.getName)
      batchDirs.map { b =>
        s.read.parquet(b.getPath)
          .withColumn("batch", lit(b.getName.stripPrefix("batch-").toInt))
      }.reduce(_ unionByName _)
        .select("batch", "url_norm", "host", "depth", "batch_rank")
        .orderBy("batch", "url_norm")
    }),

    "f13_cross_round_index" -> ((s, dir) => {
      // cross-round digest dedup through the persisted BUCKETED index
      // (state.DigestIndex): round 1's first-captures are written bucketed
      // on payload_digest; round 2 joins them exchange-free on the index
      // side and marks matching captures as revisits referencing round 1 —
      // the reference's crawl-lifetime dedupe map as durable state.
      val p = pagesLite(s, dir)
        .withColumn("text2", expr(text2Spark))
        .withColumn("url_norm", concat(url_normalize(col("url")), lit("?d="), col("doc_id")))
        .withColumn("payload_digest", sha2(col("text2"), 256))
        .withColumn("payload_len", length(encode(col("text2"), "UTF-8")).cast("long"))
      val cfg = Frontier.Config()
      val ref = graft.state.DigestIndex.Ref("graft_f13_digest_idx",
        ScratchDir("graft-f13-idx"), nBuckets = 8)
      graft.state.DigestIndex.drop(s, ref) // fresh run: drop a stale catalog entry
      val r1 = Frontier.digestDedup(p.filter(col("doc_id") % 2 === 0), cfg)
      graft.state.DigestIndex.append(r1, ref, captureTsCol = "warc_ts")
      val r2 = Frontier.digestDedupWithCdx(p.filter(col("doc_id") % 2 === 1),
        graft.state.DigestIndex.cdx(s, ref, before = Some(1L)).get, cfg)
      r2.select("doc_id", "is_revisit", "dedupe_source", "refers_to_url")
        .orderBy("doc_id")
    }),

    "f15_recrawl_asof" -> ((s, dir) => {
      // staleness-driven recrawl scheduling: for each url the latest
      // capture at-or-before the probe time via the distributed AS-OF
      // join (union + tag + ONE ordered window — no join expansion), then
      // stale = never captured or captured before probe - maxAge. DuckDB
      // replays it with its native ASOF LEFT JOIN.
      val canon = Frontier.canonicalize(pagesLite(s, dir))
      val captures = canon.select(col("url_norm"),
        col("warc_ts").as("capture_ts"), col("doc_id").as("last_doc"))
      val probes = canon.select("url_norm").distinct()
        .withColumn("probe_ts", expr("TIMESTAMP '2022-03-20 17:00:00'"))
      AsOf.recrawlCandidates(probes, captures, maxAgeSec = 8 * 3600)
        .select(col("url_norm"), col("last_doc"),
          col("asof_capture_ts").as("last_ts"), col("stale"))
        .orderBy("url_norm")
    }),

    "f16_url_surt" -> ((s, dir) =>
      // SURT keys (the real-CDX sort order): host labels reversed so one
      // host — and one domain subtree — is a contiguous key range
      pagesLite(s, dir)
        .select(col("doc_id"), url_surt(col("url")).as("surt"))
        .orderBy("doc_id")),

    "d09_curation" -> ((s, dir) => {
      // the full curation funnel over one corpus: quality gate (≥30
      // tokens) → exact dedup on planted dup bodies → 13-gram
      // decontamination vs an eval set seeded from every 25th doc →
      // per-language mixing — each stage an engine operator, the whole
      // chain replayed in one DuckDB query
      val d = t(s, dir, "documents").withColumn("text2", expr(text2Spark))
      val evalSet = d.filter(col("doc_id") % 25 === 0)
        .select(concat_ws(" ",
          slice(filter(split(trim(col("text2")), "\\s+"), w => length(w) > 0),
            1, 20)).as("text2"))
      TrainingData.curate(d, Some(evalSet),
        TrainingData.CurationConfig(minTokens = 30,
          langRates = Map("en" -> 0.5, "zh" -> 1.0, "es" -> 0.25, "de" -> 0.125, "fr" -> 0.0),
          salt = "mix1"),
        textCol = "text2")
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    "d10_minhash_distinct" -> ((s, dir) =>
      // flood-proof two-lane MinHash near-dup pairs: identical texts pair
      // by an exact 128-bit content-key equi-join (jaccard exactly 1.0,
      // output-size-bound, uncapped); near-dups between DISTINCT texts
      // run LSH over one representative per text, so a thousand-member
      // boilerplate cluster occupies ONE bucket slot instead of flooding
      // the cap. Unlike d02 the oracle needs no cap replay: the output is
      // the TRUE jaccard-≥0.8 pair set at every swept SF.
      Dedup.minhashPairsDistinct(
        t(s, dir, "documents").withColumn("text2", expr(text2Spark)),
        textCol = "text2", k = 3, numHashes = 64, bands = 16, threshold = 0.8)
        .select("id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")),

    "d08_stratified_sample" -> ((s, dir) =>
      // deterministic per-language mixing: keep-rate by stratum, survival
      // decided by a pure (id, salt) hash — reproducible across engines,
      // partitionings and runs (DataFrame.sample is none of those)
      Mixing.stratifiedSample(
        t(s, dir, "documents"), "lang",
        Map("en" -> 0.5, "zh" -> 1.0, "es" -> 0.25, "de" -> 0.125, "fr" -> 0.0),
        idCol = "doc_id", salt = "mix1")
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    "f17_host_rank" -> ((s, dir) => {
      // host-authority PageRank over the crawl's REAL link-extraction
      // path (edges regexp'd from fetched text, hosts canonicalized);
      // fixed-point integer arithmetic makes the 3 iterations a pure
      // order-independent function of the graph, replayed bitwise by
      // the oracle's unrolled CTEs over the closed-form link arithmetic
      val web = Crawl.asWeb(Queries.webLite(s, dir))
      val edges = web.select(
          url_host(col("url_norm")).as("src_host"),
          explode(expr("regexp_extract_all(text, '<a href=\"([^\"]+)\"', 1)")).as("link"))
        .select(col("src_host"), url_host(url_normalize(col("link"))).as("dst_host"))
      Frontier.hostRank(edges, iterations = 3)
        .orderBy("host")
    }),

    "f18_authority_schedule" -> ((s, dir) => {
      // authority-prioritized fetch waves: politeness schedule + hostRank
      // signal + global per-wave capacity (TakeOrderedAndProject top-k);
      // the oracle replays the f04 ranking, the f17 fixed-point PageRank,
      // and the priority-ordered LIMIT in one SQL query
      val web = Crawl.asWeb(Queries.webLite(s, dir))
      val edges = web.select(
          url_host(col("url_norm")).as("src_host"),
          explode(expr("regexp_extract_all(text, '<a href=\"([^\"]+)\"', 1)")).as("link"))
        .select(col("src_host"), url_host(url_normalize(col("link"))).as("dst_host"))
      val authority = Frontier.hostRank(edges, iterations = 3)
      val politeness = fw(s, dir).select("host", "host_id").distinct()
        .withColumn("budget", lit(1) + col("host_id") % 8)
        .select("host", "budget")
      Frontier.scheduleByAuthority(fw(s, dir), Some(politeness), authority,
          waveSlots = 15, Frontier.Config(defaultBudget = 4, saltBuckets = 8))
        .select("url_norm", "host", "batch_rank", "authority")
    }),

    "f19_sitemap_entries" -> ((s, dir) => {
      // sitemap.xml CONTENT → seeds (f11 finds the pointers in robots.txt;
      // this parses the documents): real JDK XML parse of closed-form
      // urlsets — dirty locs canonicalized, W3C lastmod in both date-only
      // and offset-datetime forms, incremental `since` cutoff keeping
      // lastmod-free entries conservatively
      import s.implicits._
      val sitemaps = (0 until 7).map { h =>
        val n = 3 + h % 3
        val urls = (0 until n).map { u =>
          val lastmod = (u % 3) match {
            case 0 => ""
            case 1 => s"<lastmod>2022-03-${10 + u}</lastmod>"
            case _ => f"<lastmod>2022-03-15T0$u%d:30:00+02:00</lastmod>"
          }
          s"<url><loc>HTTPS://host$h.example:443/page/$u</loc>$lastmod</url>"
        }.mkString
        (h, "<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
          "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
          urls + "</urlset>")
      }.toDF("h", "xml")
      Frontier.sitemapUrlSeeds(sitemaps,
          since = Some(java.sql.Timestamp.from(
            java.time.Instant.parse("2022-03-12T00:00:00Z"))))
        // null-free output: absent lastmod rides as (epoch, has_lastmod =
        // false) so every comparator hashes rows identically
        .select(col("url_norm"), col("host"),
          coalesce(col("lastmod"),
            lit(java.sql.Timestamp.from(java.time.Instant.EPOCH))).as("lastmod"),
          col("lastmod").isNotNull.as("has_lastmod"),
          col("depth"))
        .orderBy("url_norm")
    }),

    "f14_discard_hook" -> ((s, dir) => {
      // pluggable discard hook (P6): predicate-driven rejection with a
      // typed reason side output (the drop-429s e2e shape,
      // /root/reference/client_test.go:1029-1110)
      val p = pagesLite(s, dir).withColumn("status",
        when(col("doc_id") % 7 === 0, 429)
          .when(col("doc_id") % 7 === 1, 503)
          .otherwise(200))
      val d = Frontier.applyDiscard(p,
        when(col("status") === 429, lit("too-many-requests"))
          .when(col("status") >= 500, lit("server-error")))
      d.rejected.select("doc_id", "discard_reason").orderBy("doc_id")
    }),

    // --- dedup (training-data ops) ---------------------------------------
    "d01_exact_dedup" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents").withColumn("text2", expr(text2Spark)), "text2")
        .select("doc_id", "is_dup", "keeper")
        .orderBy("doc_id")),

    "d02_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashPairs(
        t(s, dir, "documents").withColumn("text2", expr(text2Spark)),
        textCol = "text2", k = 3, numHashes = 64, bands = 16, threshold = 0.8)
        .select("id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")),

    "d03_simhash_pairs" -> ((s, dir) =>
      // simhash blocking runs over ALL docs; the harness projects to the
      // planted-duplicate pairs, whose expected set is closed-form in SQL
      // (every within-cluster pair, hamming 0 — identical texts — and no
      // cross-cluster pair survives ≤3 of 64 bits). The full output incl.
      // natural near-dups is brute-force-verified in TextSimilaritySpec.
      // Identical-hash clusters are paired EXACTLY by the operator's
      // equi-join lane at any scale (the sf1 planted clusters have ~1,950
      // members — under the r4 row-capped design that silently truncated;
      // now maxBucket caps only DISTINCT hashes per 16-bit bucket, which
      // planted clusters never flood), so the default cap of 64 holds
      // from sf0.01 through sf10+; observability tested in DedupSpec
      Dedup.simhashPairs(
        t(s, dir, "documents").withColumn("text2", expr(text2Spark)),
        textCol = "text2", k = 3, maxHamming = 3)
        .filter(col("id_a") % 11 < 3 && col("id_b") % 11 < 3)
        .orderBy("id_a", "id_b")),

    "d04_embedding_neardup" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      // plant near-dups: NOISE-perturbed copies (direction changes) of the
      // first 10 vectors — the case single-signature LSH mostly misses.
      // δ_i = ((vec_id*1009 + i*31) % 1024 - 512) / 2^14 ∈ ±0.03125 is
      // exact in binary32/binary64, so the DuckDB oracle regenerates the
      // planted vectors bit-identically and brute-forces all pairs.
      val planted = embs.filter(col("vec_id") < 10)
        // stage the source id under a distinct name: Spark's lateral column
        // alias resolution would otherwise bind vec_id inside the transform
        // to the (vec_id + 100000) alias on its left
        .select(col("vec_id").as("vid0"), col("embedding"))
        .select((col("vid0") + 100000).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            (x + (pmod(col("vid0") * 1009 + i * 31, lit(1024)) - 512).cast("double")
              / lit(16384.0)).cast("float")).as("embedding"))
      Dedup.embeddingPairs(embs.select("vec_id", "embedding").unionByName(planted),
        threshold = 0.95)
        .orderBy("id_a", "id_b")
    }),

    "d05_dup_clusters" -> ((s, dir) => {
      // near-dup pairs → connected components → one representative per
      // duplicate cluster (the "keep one" step). Planted clusters form
      // cliques, so the expected components are closed-form in SQL; chain
      // convergence (beyond what LSH cliques exercise) is in DedupSpec.
      // The planted-docs restriction is pushed BELOW the LSH pipeline
      // (Catalyst can't push a filter through bucketing + pair explode):
      // pairs where both ends are planted are exactly the pairs among
      // planted docs, so signatures are only computed for them — d02
      // covers the full-corpus pair generation.
      val pairs = Dedup.minhashPairs(
        t(s, dir, "documents").withColumn("text2", expr(text2Spark))
          .filter(col("doc_id") % 11 < 3),
        textCol = "text2", k = 3, numHashes = 64, bands = 16, threshold = 0.8)
      Dedup.duplicateClusters(pairs)
        .select(col("id").as("doc_id"), col("cluster_rep"))
        .orderBy("doc_id")
    }),

    "d06_line_dedup" -> ((s, dir) =>
      // corpus-wide first-wins line dedup over 10-word lines; the planted
      // dup-block docs collapse to their cluster head's lines
      Dedup.lineDedup(
        t(s, dir, "documents").withColumn("text2", expr(text2Spark)),
        textCol = "text2", wordsPerLine = 10)
        .select("doc_id", "n_lines", "n_dup_lines", "text_dedup")
        .orderBy("doc_id")),

    "d07_decontam" -> ((s, dir) => {
      // benchmark decontamination: eval set = first 20 words of every 25th
      // doc; any training doc sharing a 13-gram with it is flagged (the
      // source docs themselves + every doc in a planted dup cluster whose
      // head seeded the eval set)
      val d = t(s, dir, "documents").withColumn("text2", expr(text2Spark))
      val evalSet = d.filter(col("doc_id") % 25 === 0)
        .select(concat_ws(" ",
          slice(filter(split(trim(col("text2")), "\\s+"), w => length(w) > 0),
            1, 20)).as("text"))
      Dedup.decontaminate(d, evalSet, textCol = "text2", idCol = "doc_id", n = 13)
        .orderBy("doc_id")
    }),

    // --- text analysis ----------------------------------------------------
    "t01_quality" -> ((s, dir) =>
      TextAnalysis.qualityMetrics(t(s, dir, "documents"))
        .select("doc_id", "n_chars_m", "alpha_chars", "digit_chars", "punct_chars", "n_tokens")
        .orderBy("doc_id")),

    "t10_gopher_rules" -> ((s, dir) =>
      // word-level Gopher rules (mean word length, alpha-word fraction,
      // symbol-to-word ratio); symbols planted deterministically since the
      // synthetic corpus has none of its own
      TextAnalysis.gopherRules(
        t(s, dir, "documents").withColumn("text3",
          expr("concat(text, CASE WHEN doc_id % 4 = 0 THEN ' ### x... y...' WHEN doc_id % 4 = 1 THEN ' #t #u' ELSE '' END)")),
        textCol = "text3")
        .orderBy("doc_id")),

    "t02_lang_tokens" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
        .groupBy("lang")
        .agg(count(lit(1)).as("docs"), sum(col("n_tokens")).as("total_tokens"))
        .orderBy("lang")),

    "t03_langid" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")),

    "t05_stopword_ratio" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.stopwordRatio(col("text")).as("stop_ratio"))
        .orderBy("doc_id")),

    "t04_fingerprint" -> ((s, dir) => {
      // fingerprint robustness conformance: for every doc, how many of the
      // k=4 min-hash sketch values survive a small tail edit. Runs over a
      // FIXED 500-doc deterministic corpus (PagesGen pure text, seed 7),
      // so the distribution is a function of the KERNEL alone — identical
      // at every scale factor; the pinned VALUES oracle is a fixture
      // (w01-style), not an sf0.01 accident. Raw determinism/collision
      // properties are covered in TextAnalysisSpec.
      import s.implicits._
      val docs = s.range(500).as[Long]
        .map(id => (id, graft.sources.PagesGen.genText(id, 7L, 500L)._1))
        .toDF("doc_id", "text")
      docs
        .select(size(array_intersect(
          split(TextAnalysis.fingerprint(col("text")), ","),
          split(TextAnalysis.fingerprint(concat(col("text"), lit(" zq9tail"))), ",")))
          .as("n_shared"))
        .groupBy("n_shared").agg(count(lit(1)).as("n_docs"))
        .orderBy("n_shared")
    }),

    "t08_seq_pack" -> ((s, dir) =>
      // pretraining sequence packing: docs → ≤512-token sequences in
      // doc_id order (distributed prefix sum, docs atomic)
      TextAnalysis.packSequences(t(s, dir, "documents"), maxTokensPerSeq = 512)
        .select("doc_id", "n_tokens", "seq_id", "seq_pos")
        .orderBy("doc_id")),

    "t09_seq_chunks" -> ((s, dir) =>
      // GPT-style packing: the concatenated token stream cut into exact
      // 512-token sequences; each doc reports its span(s) per sequence
      TextAnalysis.chunkSequences(t(s, dir, "documents"), maxTokensPerSeq = 512)
        .orderBy("doc_id", "seq_id")),

    "s03_ann_quantized" -> ((s, dir) => {
      // int8-quantized brute-force ANN: same plan as s01, corpus holds
      // 8-bit-range values (the 4x memory cut at 10^10 embeddings)
      val embs = t(s, dir, "embeddings")
      Similarity.quantizedTopK(embs.filter(col("vec_id") < 5), embs, k = 10)
        .orderBy("query_id", "rank")
    }),

    "t07_repetition" -> ((s, dir) =>
      // Gopher-style repetition quality rules; the planted dup-block docs
      // saturate both signals (top2_frac → 1.0), natural texts spread
      TextAnalysis.repetitionSignals(
        t(s, dir, "documents").withColumn("text2", expr(text2Spark)),
        textCol = "text2")
        .orderBy("doc_id")),

    // --- similarity search ------------------------------------------------
    "s01_ann_brute" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(embs.filter(col("vec_id") < 5), embs, k = 10)
        .orderBy("query_id", "rank")
    }),

    "s02_ann_ivf" -> ((s, dir) => {
      // IVF over a deterministically CLUSTERED corpus (its design case —
      // on uniform random vectors cell-pruning has no structure to
      // exploit): 16 tight clusters around the first 16 base embeddings,
      // noise δ_i = ((vec_id*787 + i*37) % 512 - 256)/2^14 exact in
      // binary32/64 so DuckDB rebuilds the corpus bit-identically. The
      // oracle is the exhaustive brute-force SQL: probing 4 of 16 cells
      // must recover the exact top-10.
      val embs = t(s, dir, "embeddings")
      val bases = embs.filter(col("vec_id") < 16)
        .select(col("vec_id").as("c"), col("embedding").as("base"))
      val corpus = embs.select(col("vec_id"), (col("vec_id") % 16).as("c"))
        .join(broadcast(bases), "c")
        .select(col("vec_id"),
          transform(col("base"), (x, i) =>
            (x + (pmod(col("vec_id") * 787 + i * 37, lit(512)) - 256).cast("double")
              / lit(16384.0)).cast("float")).as("embedding"))
      // 3 deterministic fixed-point Lloyd iterations on top of the hash-min
      // init: the codebook the scale path would actually serve
      val cents = Similarity.refineCentroids(corpus,
        Similarity.initCentroids(corpus, nCells = 16, "vec_id", "embedding"),
        iterations = 3)
      val indexed = Similarity.ivfAssign(corpus, cents)
      Similarity.ivfTopK(corpus.filter(col("vec_id") < 5), indexed, cents, k = 10, nProbe = 4)
        .orderBy("query_id", "rank")
    }),

    // --- multimodal plumbing ----------------------------------------------
    "m01_media_meta" -> ((s, dir) => {
      // real image decode (ImageIO): synthetic PNGs whose dimensions derive
      // from doc_id, so the decoded metadata has a closed-form oracle
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map(id => (id, Multimodal.syntheticPng(
          (10 + id % 30).toInt, (10 + (id * 7) % 20).toInt, id)))
        .toDF("doc_id", "media")
      Multimodal.decode(s, media).toDF()
        .select(col("doc_id"), col("meta.format").as("format"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.valid").as("valid"))
        .orderBy("doc_id")
    }),

    "m02_media_transform" -> ((s, dir) => {
      // real resize (ImageIO/Graphics2D, longest side → 12 px via integer
      // math) + feature extraction, over solid-color PNGs: output dims have
      // a closed form, and ANY resize kernel preserves a solid color
      // exactly, so mean-RGB is DuckDB-checkable to the integer
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map(id => (id, Multimodal.syntheticSolidPng(
          (10 + id % 30).toInt, (10 + (id * 7) % 20).toInt,
          (((id * 37) % 256).toInt << 16) | (((id * 59) % 256).toInt << 8)
            | ((id * 83) % 256).toInt)))
        .toDF("doc_id", "media")
      Multimodal.transform(s, media, maxDim = 12).toDF()
        .orderBy("doc_id")
    }),

    "m03_byte_packing" -> ((s, dir) => {
      // byte bin-packing end-to-end: deterministic payload lengths (closed
      // form in doc_id) → repartitionByBytes → per-bucket row/byte totals.
      // spark_partition_id() IS the bucket here because the identity
      // partitioner places bucket b in partition b. The oracle replays the
      // exclusive prefix sum over doc_id order in SQL.
      val media = t(s, dir, "documents")
        .select(col("doc_id"),
          expr("CAST(repeat('x', CAST(100 + (doc_id * 13) % 900 AS INT)) AS BINARY)")
            .as("media"))
      Multimodal.repartitionByBytes(media, targetBytesPerPartition = 20000L)
        .select(spark_partition_id().as("bucket"),
          length(col("media")).cast("long").as("len"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"), sum("len").as("bytes"))
        .orderBy("bucket")
    }),

    "t11_bpe_tokens" -> ((s, dir) =>
      // real byte-level BPE token counts (committed 300-merge table); the
      // oracle independently replays pretokenize → byte-map → rank-order
      // merge sweep in pure SQL, sharing only the merge TABLE
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.bpeCount(col("text")).as("n_bpe"))
        .orderBy("doc_id")),

    "m04_audio_decode" -> ((s, dir) => {
      // REAL audio decode (JDK javax.sound, WAV PCM): synthetic square
      // waves whose header fields AND sample statistics have closed forms
      // in doc_id — RMS == peak == amplitude exactly for a ±A wave
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map(id => (id, Multimodal.syntheticWav(
          nFrames = (200 + id % 300).toInt,
          sampleRate = (8000 + (id % 5) * 1000).toInt,
          amplitude = (500 + (id * 13) % 2000).toInt,
          channels = (1 + id % 2).toInt)))
        .toDF("doc_id", "media")
      // sort the CHEAP synthesized input, not the decode output: a final
      // orderBy makes the RangePartitioner's sampling pass evaluate its
      // whole child once more — with the sort below it, the extra pass
      // re-synthesizes headers instead of decoding every payload twice.
      // Explicit-count range partitioning, not orderBy: the shuffled bytes
      // are small so AQE would coalesce the exchange to ~2 partitions and
      // serialize the decode it cannot see. decodeAudio is a 1:1 in-order
      // mapPartitions, so the range-sorted physical order survives to the
      // output (the same layout guarantee m03/t08 already rely on).
      Multimodal.decodeAudio(s, media
        .repartitionByRange(s.sparkContext.defaultParallelism, col("doc_id"))
        .sortWithinPartitions("doc_id"))
    }),

    "m05_video_container" -> ((s, dir) => {
      // REAL ISO-BMFF/MP4 container parse (pure byte-level box walking,
      // ISO 14496-12 public layout): synthetic-but-structurally-real MP4s
      // whose every field has a closed form in doc_id
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map(id => (id, Multimodal.syntheticMp4(
          timescale = (1000 + (id % 5) * 200).toInt,
          duration = 30000 + (id * 37) % 90000,
          w = (320 + (id % 8) * 16).toInt,
          h = (240 + (id % 6) * 16).toInt,
          nTracks = (1 + id % 3).toInt,
          payloadLen = (100 + id % 400).toInt,
          seed = id)))
        .toDF("doc_id", "media")
      Multimodal.decodeVideo(s, media).orderBy("doc_id")
    }),

    "t14_lm_quality" -> ((s, dir) =>
      // CCNet-style LM quality: mean log2 char-bigram probability under
      // the committed 1444-row model; sums are exact scaled-integer
      // log-probs, so the oracle replays them bitwise via a VALUES join
      TextAnalysis.lmScore(t(s, dir, "documents"))
        .orderBy("doc_id")),

    "t13_bpe_ids" -> ((s, dir) =>
      // tokenizer-to-ids: each doc's full BPE vocab-id sequence (byte
      // symbols 0..255, merge k → 256+k), comma-joined — the per-row step
      // of a training-shard exporter. The oracle replays the ENTIRE
      // pipeline: ordered pretokens, the merge sweep, and the vocab-id
      // join, all from the committed table
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.GraftFunctions.bpe_ids(col("text")).as("ids"))
        .orderBy("doc_id")),

    "t12_bpe_pack" -> ((s, dir) =>
      // sequence packing on the tokenizer-faithful basis: same distributed
      // prefix sum as t08, but the per-doc counts are real BPE tokens
      TextAnalysis.packSequences(t(s, dir, "documents"), maxTokensPerSeq = 512,
          counter = TextAnalysis.bpeCount)
        .select("doc_id", "n_tokens", "seq_id", "seq_pos")
        .orderBy("doc_id")),

    "t06_subword_count" -> ((s, dir) =>
      // BPE-ish subword proxy: maximal alphanumeric runs + each non-space
      // non-alnum char as its own piece (the word-piece split upper bound)
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.subwordCount(col("text")).as("n_subwords"))
        .orderBy("doc_id")),

    // --- WARC codec + byte-identical extraction ---------------------------
    "w01_warc_fixture" -> ((s, dir) => {
      import s.implicits._
      val in = new java.util.zip.GZIPInputStream(new java.io.FileInputStream(Bench.FixtureWarc))
      val recs = try graft.codec.WarcCodec.readAll(in) finally in.close()
      recs.map(r => (r.warcType, r.contentLength,
          r.blockDigest == r.computedBlockDigest))
        .toDF("warc_type", "content_length", "digest_ok")
        .orderBy("warc_type")
    }),

    "x01_extract_conformance" -> ((s, dir) => {
      val pages = PagesGen.pages(s, 2000, 20, 42L).toDF()
      pages
        .withColumn("et", http_extract_text(col("html")))
        .agg(count(lit(1)).as("n_pages"),
          sum(when(col("et") === col("text"), 1L).otherwise(0L)).as("n_match"),
          sum(when(col("et") =!= col("text"), 1L).otherwise(0L)).as("n_mismatch"))
    })
  )

  // ---------------------------------------------------------------------

  val oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price,
        | count(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q02_filter_agg" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS revenue
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q03_region_revenue" ->
      """SELECT r_name, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q04_topk_orders" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100",

    "q05_window_top_orders" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
        | SELECT o_custkey, o_orderkey,
        |  CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey) AS INT) AS rn
        | FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q06_distinct_counts" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q07_events_hourly" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS hour, event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q08_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q09_anti_join" ->
      """SELECT n_name, count(*) AS n FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 450000)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "f01_canonicalize" ->
      s"WITH p AS ($pSql)\nSELECT doc_id, url_norm, host FROM p ORDER BY doc_id",

    "f02_urlseen_first_wins" ->
      s"""WITH $fwSql
         |SELECT url_norm, doc_id AS first_doc FROM fw ORDER BY url_norm""".stripMargin,

    "f03_digest_dedup" ->
      s"""WITH p AS (
         | SELECT doc_id,
         |  'https://host' || CAST((doc_id % 89) % 7 AS VARCHAR) || '.example/doc/' || CAST(doc_id % 89 AS VARCHAR) || '?d=' || CAST(doc_id AS VARCHAR) AS u,
         |  TIMESTAMP '2022-03-20 03:55:45' + INTERVAL ((doc_id * 7) % 100000) SECOND AS warc_ts,
         |  $text2Duck AS text2
         | FROM documents),
         |e AS (
         | SELECT doc_id, u,
         |  row_number() OVER (PARTITION BY dg ORDER BY warc_ts, u) AS rn,
         |  first_value(u) OVER (PARTITION BY dg ORDER BY warc_ts, u) AS fu
         | FROM (SELECT doc_id, u, warc_ts, sha256(text2) AS dg,
         |        octet_length(encode(text2)) AS len FROM p)
         | WHERE len >= 2048 AND len > 0)
         |SELECT p.doc_id, coalesce(e.rn > 1, false) AS is_revisit,
         | CASE WHEN e.rn > 1 THEN e.fu END AS refers_to_url
         |FROM p LEFT JOIN e ON p.doc_id = e.doc_id ORDER BY p.doc_id""".stripMargin,

    "f04_politeness_schedule" ->
      s"""WITH $fwSql
         |SELECT url_norm, host, batch_rank FROM (
         | SELECT url_norm, host,
         |  CAST(row_number() OVER (PARTITION BY host ORDER BY depth, warc_ts DESC, url_norm) AS INT) AS batch_rank,
         |  1 + host_id % 8 AS budget
         | FROM fw)
         |WHERE batch_rank <= budget ORDER BY host, batch_rank""".stripMargin,

    "f05_robots_filter" ->
      s"""WITH $fwSql
         |SELECT url_norm FROM fw
         |WHERE NOT (host_id % 2 = 0 AND CAST(path_id AS VARCHAR) LIKE '1%')
         |ORDER BY url_norm""".stripMargin,

    "f09_cdx_dedup" ->
      s"""WITH p AS (
         | SELECT doc_id,
         |  'https://host' || CAST((doc_id % 89) % 7 AS VARCHAR) || '.example/doc/' || CAST(doc_id % 89 AS VARCHAR) || '?d=' || CAST(doc_id AS VARCHAR) AS u,
         |  TIMESTAMP '2022-03-20 03:55:45' + INTERVAL ((doc_id * 7) % 100000) SECOND AS warc_ts,
         |  $text2Duck AS text2
         | FROM documents),
         |h AS (SELECT doc_id, u, warc_ts, sha256(text2) AS dg,
         |       octet_length(encode(text2)) AS len FROM p),
         |e AS (
         | SELECT doc_id, dg,
         |  row_number() OVER w AS rn,
         |  first_value(u) OVER w AS fu
         | FROM h
         | WHERE len >= 2048 AND len > 0
         | WINDOW w AS (PARTITION BY dg ORDER BY warc_ts, u)),
         |cdx AS (
         | SELECT dg, uri FROM (
         |  SELECT sha256(text2) AS dg,
         |   'https://archive.example/doc/' || CAST(doc_id AS VARCHAR) AS uri,
         |   row_number() OVER (PARTITION BY sha256(text2)
         |     ORDER BY TIMESTAMP '2022-01-01 00:00:00' + INTERVAL (doc_id) SECOND DESC,
         |              'https://archive.example/doc/' || CAST(doc_id AS VARCHAR) DESC) AS rn
         |  FROM p WHERE doc_id % 5 = 0)
         | WHERE rn = 1)
         |SELECT h.doc_id,
         | CASE WHEN e.rn > 1 OR (e.rn = 1 AND cdx.dg IS NOT NULL) THEN true ELSE false END AS is_revisit,
         | CASE WHEN e.rn > 1 THEN 'local' WHEN e.rn = 1 AND cdx.dg IS NOT NULL THEN 'cdx' END AS dedupe_source,
         | CASE WHEN e.rn > 1 THEN e.fu WHEN e.rn = 1 AND cdx.dg IS NOT NULL THEN cdx.uri END AS refers_to_url
         |FROM h LEFT JOIN e ON h.doc_id = e.doc_id LEFT JOIN cdx ON e.dg = cdx.dg
         |ORDER BY h.doc_id""".stripMargin,

    "f10_dedupe_savings" ->
      s"""WITH p AS (
         | SELECT doc_id,
         |  'https://host' || CAST((doc_id % 89) % 7 AS VARCHAR) || '.example/doc/' || CAST(doc_id % 89 AS VARCHAR) || '?d=' || CAST(doc_id AS VARCHAR) AS u,
         |  TIMESTAMP '2022-03-20 03:55:45' + INTERVAL ((doc_id * 7) % 100000) SECOND AS warc_ts,
         |  $text2Duck AS text2
         | FROM documents),
         |h AS (SELECT doc_id, u, warc_ts, sha256(text2) AS dg,
         |       octet_length(encode(text2)) AS len FROM p),
         |e AS (
         | SELECT doc_id, dg, row_number() OVER w AS rn
         | FROM h WHERE len >= 2048 AND len > 0
         | WINDOW w AS (PARTITION BY dg ORDER BY warc_ts, u)),
         |cdx AS (SELECT DISTINCT sha256(text2) AS dg FROM p WHERE doc_id % 5 = 0),
         |r AS (
         | SELECT h.doc_id, h.len,
         |  CASE WHEN e.rn > 1 THEN 'local'
         |       WHEN e.rn = 1 AND cdx.dg IS NOT NULL THEN 'cdx' END AS dedupe_source
         | FROM h LEFT JOIN e ON h.doc_id = e.doc_id LEFT JOIN cdx ON e.dg = cdx.dg)
         |SELECT dedupe_source, count(*) AS n_revisits, CAST(sum(len) AS BIGINT) AS saved_bytes
         |FROM r WHERE dedupe_source IS NOT NULL
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "f11_sitemap_seeds" ->
      """SELECT 'https://host' || CAST(h AS VARCHAR) || '.example/sitemap-' || s || '.xml' AS url_norm,
        |  'host' || CAST(h AS VARCHAR) || '.example' AS host, CAST(0 AS INT) AS depth
        |FROM (SELECT unnest([0, 2, 4, 6]) AS h) a, (SELECT unnest(['a', 'b']) AS s) b
        |ORDER BY url_norm""".stripMargin,

    "f19_sitemap_entries" ->
      """WITH g AS (
        |  SELECT h, u FROM (SELECT unnest([0,1,2,3,4,5,6]) AS h) a,
        |       (SELECT unnest([0,1,2,3,4]) AS u) b
        |  WHERE u < 3 + h % 3),
        |e AS (
        |  SELECT 'https://host' || CAST(h AS VARCHAR) || '.example/page/' || CAST(u AS VARCHAR) AS url_norm,
        |         'host' || CAST(h AS VARCHAR) || '.example' AS host,
        |         CASE WHEN u % 3 = 0 THEN NULL
        |              WHEN u % 3 = 1 THEN TIMESTAMP '2022-03-10 00:00:00' + INTERVAL (u) DAY
        |              ELSE TIMESTAMP '2022-03-15 00:30:00' + INTERVAL (u - 2) HOUR
        |         END AS lastmod,
        |         CAST(0 AS INT) AS depth
        |  FROM g)
        |SELECT url_norm, host,
        |       coalesce(lastmod, TIMESTAMP '1970-01-01 00:00:00') AS lastmod,
        |       lastmod IS NOT NULL AS has_lastmod, depth
        |FROM e
        |WHERE lastmod IS NULL OR lastmod >= TIMESTAMP '2022-03-12 00:00:00'
        |ORDER BY url_norm""".stripMargin,

    "f08_seen_partitioned" ->
      s"""WITH $fwSql
         |SELECT url_norm, doc_id FROM fw WHERE doc_id % 3 <> 0 ORDER BY url_norm""".stripMargin,

    "f12_stream_schedule" ->
      """WITH p AS (
        | SELECT doc_id, doc_id % 2 AS par,
        |  CAST(doc_id % 3 AS INT) AS depth,
        |  TIMESTAMP '2022-03-20 03:55:45' + INTERVAL ((doc_id * 7) % 100000) SECOND AS warc_ts,
        |  'https://host' || CAST((doc_id % 89) % 7 AS VARCHAR) || '.example/doc/' || CAST(doc_id % 89 AS VARCHAR) AS url_norm,
        |  'host' || CAST((doc_id % 89) % 7 AS VARCHAR) || '.example' AS host,
        |  (doc_id % 89) % 7 AS host_id
        | FROM documents),
        |d0 AS (
        | SELECT * FROM (
        |  SELECT p.*, row_number() OVER (PARTITION BY url_norm ORDER BY depth, warc_ts DESC, url_norm) AS rn
        |  FROM p WHERE par = 0) WHERE rn = 1),
        |s0 AS (
        | SELECT * FROM (
        |  SELECT url_norm, host, depth, warc_ts,
        |   CAST(row_number() OVER (PARTITION BY host ORDER BY depth, warc_ts DESC, url_norm) AS INT) AS batch_rank,
        |   1 + host_id % 3 AS budget
        |  FROM d0) WHERE batch_rank <= budget),
        |d1 AS (
        | SELECT * FROM (
        |  SELECT p.*, row_number() OVER (PARTITION BY url_norm ORDER BY depth, warc_ts DESC, url_norm) AS rn
        |  FROM p WHERE par = 1) WHERE rn = 1),
        |u1 AS (
        | SELECT d1.* FROM d1 LEFT JOIN s0 ON d1.url_norm = s0.url_norm
        | WHERE s0.url_norm IS NULL),
        |s1 AS (
        | SELECT * FROM (
        |  SELECT url_norm, host, depth, warc_ts,
        |   CAST(row_number() OVER (PARTITION BY host ORDER BY depth, warc_ts DESC, url_norm) AS INT) AS batch_rank,
        |   1 + host_id % 3 AS budget
        |  FROM u1) WHERE batch_rank <= budget)
        |SELECT CAST(0 AS INT) AS batch, url_norm, host, depth, batch_rank FROM s0
        |UNION ALL
        |SELECT CAST(1 AS INT) AS batch, url_norm, host, depth, batch_rank FROM s1
        |ORDER BY batch, url_norm""".stripMargin,

    "f13_cross_round_index" ->
      s"""WITH p AS (
         | SELECT doc_id,
         |  'https://host' || CAST((doc_id % 89) % 7 AS VARCHAR) || '.example/doc/' || CAST(doc_id % 89 AS VARCHAR) || '?d=' || CAST(doc_id AS VARCHAR) AS u,
         |  TIMESTAMP '2022-03-20 03:55:45' + INTERVAL ((doc_id * 7) % 100000) SECOND AS warc_ts,
         |  $text2Duck AS text2
         | FROM documents),
         |h AS (SELECT doc_id, u, warc_ts, sha256(text2) AS dg,
         |       octet_length(encode(text2)) AS len FROM p),
         |r1 AS (
         | SELECT doc_id, u, warc_ts, dg, row_number() OVER w AS rn
         | FROM h WHERE doc_id % 2 = 0 AND len >= 2048 AND len > 0
         | WINDOW w AS (PARTITION BY dg ORDER BY warc_ts, u)),
         |idx AS (SELECT dg, u AS uri FROM r1 WHERE rn = 1),
         |e2 AS (
         | SELECT doc_id, dg,
         |  row_number() OVER w AS rn,
         |  first_value(u) OVER w AS fu
         | FROM h
         | WHERE doc_id % 2 = 1 AND len >= 2048 AND len > 0
         | WINDOW w AS (PARTITION BY dg ORDER BY warc_ts, u)),
         |h2 AS (SELECT * FROM h WHERE doc_id % 2 = 1)
         |SELECT h2.doc_id,
         | CASE WHEN e2.rn > 1 OR (e2.rn = 1 AND idx.dg IS NOT NULL) THEN true ELSE false END AS is_revisit,
         | CASE WHEN e2.rn > 1 THEN 'local' WHEN e2.rn = 1 AND idx.dg IS NOT NULL THEN 'cdx' END AS dedupe_source,
         | CASE WHEN e2.rn > 1 THEN e2.fu WHEN e2.rn = 1 AND idx.dg IS NOT NULL THEN idx.uri END AS refers_to_url
         |FROM h2 LEFT JOIN e2 ON h2.doc_id = e2.doc_id LEFT JOIN idx ON e2.dg = idx.dg
         |ORDER BY h2.doc_id""".stripMargin,

    "f17_host_rank" ->
      s"""WITH $hostRankCteSql
         |SELECT 'host' || CAST(h AS VARCHAR) || '.example' AS host, CAST(r AS BIGINT) AS rank
         |FROM r3 ORDER BY host""".stripMargin,

    "f18_authority_schedule" ->
      s"""WITH $fwSql,
         |$hostRankCteSql,
         |auth AS (SELECT 'host' || CAST(h AS VARCHAR) || '.example' AS host,
         |                CAST(r AS BIGINT) AS authority FROM r3),
         |sched AS (
         | SELECT url_norm, host, batch_rank FROM (
         |  SELECT url_norm, host,
         |   CAST(row_number() OVER (PARTITION BY host ORDER BY depth, warc_ts DESC, url_norm) AS INT) AS batch_rank,
         |   1 + host_id % 8 AS budget
         |  FROM fw)
         | WHERE batch_rank <= budget)
         |SELECT url_norm, host, batch_rank,
         |       CAST(coalesce(authority, 0) AS BIGINT) AS authority
         |FROM sched LEFT JOIN auth USING (host)
         |ORDER BY batch_rank, authority DESC, host, url_norm LIMIT 15""".stripMargin,

    "f14_discard_hook" ->
      """SELECT doc_id,
        | CASE WHEN doc_id % 7 = 0 THEN 'too-many-requests'
        |      WHEN doc_id % 7 = 1 THEN 'server-error' END AS discard_reason
        |FROM documents WHERE doc_id % 7 IN (0, 1) ORDER BY doc_id""".stripMargin,

    "f15_recrawl_asof" ->
      """WITH p AS (
        | SELECT doc_id,
        |  'https://host' || CAST((doc_id % 89) % 7 AS VARCHAR) || '.example/doc/' || CAST(doc_id % 89 AS VARCHAR) AS url_norm,
        |  TIMESTAMP '2022-03-20 03:55:45' + INTERVAL ((doc_id * 7) % 100000) SECOND AS warc_ts
        | FROM documents),
        |probes AS (SELECT DISTINCT url_norm, TIMESTAMP '2022-03-20 17:00:00' AS probe_ts FROM p)
        |SELECT pr.url_norm, c.doc_id AS last_doc, c.warc_ts AS last_ts,
        | (c.doc_id IS NULL OR c.warc_ts < TIMESTAMP '2022-03-20 09:00:00') AS stale
        |FROM probes pr ASOF LEFT JOIN p c
        | ON pr.url_norm = c.url_norm AND pr.probe_ts >= c.warc_ts
        |ORDER BY pr.url_norm""".stripMargin,

    "f16_url_surt" ->
      """SELECT doc_id,
        | 'example,host' || CAST((doc_id % 89) % 7 AS VARCHAR) || ')/doc/' || CAST(doc_id % 89 AS VARCHAR) AS surt
        |FROM documents ORDER BY doc_id""".stripMargin,

    "d09_curation" ->
      s"""WITH p AS (SELECT doc_id, lang, $text2Duck AS text2 FROM documents),
         |q AS (SELECT * FROM p
         | WHERE len(list_filter(regexp_split_to_array(trim(text2), '\\s+'), x -> len(x) > 0)) >= 30),
         |d AS (SELECT doc_id, lang, text2 FROM (
         | SELECT q.*, row_number() OVER (PARTITION BY sha256(text2) ORDER BY doc_id) AS rn FROM q)
         | WHERE rn = 1),
         |wv AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text2)), '\\s+'), x -> len(x) > 0) AS ws FROM d),
         |eg AS (SELECT DISTINCT unnest(list_distinct(CASE WHEN len(ews) >= 13
         |  THEN list_transform(range(1, len(ews) - 11),
         |    i -> array_to_string(list_slice(ews, i, i + 12), ' '))
         |  ELSE [] END)) AS g
         | FROM (SELECT list_slice(list_filter(regexp_split_to_array(lower(trim(text2)), '\\s+'), x -> len(x) > 0), 1, 20) AS ews
         |       FROM p WHERE doc_id % 25 = 0)),
         |contam AS (SELECT DISTINCT doc_id FROM (
         | SELECT doc_id, unnest(list_distinct(CASE WHEN len(ws) >= 13
         |  THEN list_transform(range(1, len(ws) - 11),
         |    i -> array_to_string(list_slice(ws, i, i + 12), ' '))
         |  ELSE [] END)) AS g FROM wv) dg
         | JOIN eg USING (g)),
         |c AS (SELECT d.* FROM d WHERE d.doc_id NOT IN (SELECT doc_id FROM contam))
         |SELECT doc_id, lang FROM c
         |WHERE ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || ':mix1'), 1, 8))::UBIGINT <
         | CASE lang WHEN 'en' THEN 2147483648 WHEN 'zh' THEN 4294967296
         |           WHEN 'es' THEN 1073741824 WHEN 'de' THEN 536870912 ELSE 0 END
         |ORDER BY doc_id""".stripMargin,

    "d10_minhash_distinct" ->
      // two lanes replayed semantically: lane 1 = identical trimmed texts
      // (jaccard exactly 1.0, a plain self-equi-join); lane 2 = TRUE
      // jaccard ≥ 0.8 between DISTINCT texts via the same prefix-filter
      // bound as d02's oracle (recall 1 at the threshold is a theorem,
      // Bayardo et al. WWW'07), computed once per distinct text and
      // expanded to members. No cap replay: dup floods collapse to one
      // representative, so the operator's bucket cap never truncates here.
      s"""WITH p AS (SELECT doc_id, $text2Duck AS text2 FROM documents),
         |base AS (SELECT doc_id AS id, trim(text2) AS t FROM p WHERE len(trim(text2)) > 0),
         |same AS (
         | SELECT a.id AS id_a, b.id AS id_b, CAST(1.0 AS DOUBLE) AS jaccard
         | FROM base a JOIN base b ON a.t = b.t AND a.id < b.id),
         |reps AS (SELECT t, min(id) AS rid FROM base GROUP BY t),
         |tok AS (SELECT rid,
         |  list_filter(regexp_split_to_array(lower(t), '\\s+'), x -> len(x) > 0) AS ts
         | FROM reps),
         |sh AS (SELECT rid, list_distinct(list_transform(range(1, greatest(len(ts) - 2, 1) + 1),
         |   i -> array_to_string(list_slice(ts, i, i + 2), ' '))) AS ss
         | FROM tok WHERE len(ts) > 0),
         |pre AS (SELECT rid,
         |  list_slice(list_sort(ss), 1, len(ss) - CAST(ceil(0.8 * len(ss)) AS BIGINT) + 1) AS ps
         | FROM sh),
         |cand AS (SELECT DISTINCT a.rid AS ra, b.rid AS rb
         | FROM (SELECT rid, unnest(ps) AS s FROM pre) a
         | JOIN (SELECT rid, unnest(ps) AS s FROM pre) b ON a.s = b.s AND a.rid < b.rid),
         |near AS (
         | SELECT ra, rb,
         |  CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE) /
         |  CAST(len(list_distinct(sa.ss || sb.ss)) AS DOUBLE) AS jaccard
         | FROM cand JOIN sh sa ON sa.rid = ra JOIN sh sb ON sb.rid = rb),
         |exp AS (
         | SELECT least(ba.id, bb.id) AS id_a, greatest(ba.id, bb.id) AS id_b, n.jaccard
         | FROM (SELECT * FROM near WHERE jaccard >= 0.8) n
         | JOIN reps ta ON ta.rid = n.ra
         | JOIN reps tb ON tb.rid = n.rb
         | JOIN base ba ON ba.t = ta.t
         | JOIN base bb ON bb.t = tb.t)
         |SELECT id_a, id_b, jaccard FROM same
         |UNION ALL SELECT id_a, id_b, jaccard FROM exp
         |ORDER BY id_a, id_b""".stripMargin,

    "d08_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || ':mix1'), 1, 8))::UBIGINT <
        | CASE lang WHEN 'en' THEN 2147483648 WHEN 'zh' THEN 4294967296
        |           WHEN 'es' THEN 1073741824 WHEN 'de' THEN 536870912 ELSE 0 END
        |ORDER BY doc_id""".stripMargin,

    "t10_gopher_rules" ->
      """WITH d AS (
        | SELECT doc_id,
        |  text || CASE WHEN doc_id % 4 = 0 THEN ' ### x... y...'
        |               WHEN doc_id % 4 = 1 THEN ' #t #u' ELSE '' END AS t
        | FROM documents),
        |w AS (SELECT doc_id, t,
        |  list_filter(string_split_regex(trim(t), '\s+'), x -> length(x) > 0) AS ws
        | FROM d)
        |SELECT doc_id,
        | CAST(len(ws) AS INT) AS n_words,
        | CASE WHEN len(ws) = 0 THEN 0.0 ELSE CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE) / CAST(len(ws) AS DOUBLE) END AS mean_word_len,
        | CASE WHEN len(ws) = 0 THEN 0.0 ELSE CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE) / CAST(len(ws) AS DOUBLE) END AS alpha_word_frac,
        | CASE WHEN len(ws) = 0 THEN 0.0 ELSE ((length(t) - length(replace(t, '#', ''))) + (length(t) - length(replace(t, '...', ''))) / 3) / CAST(len(ws) AS DOUBLE) END AS symbol_word_ratio
        |FROM w ORDER BY doc_id""".stripMargin,

    "f06_host_stats" ->
      s"""WITH p AS ($pSql)
         |SELECT host, count(*) AS n_candidates, count(DISTINCT url_norm) AS n_unique,
         | min(doc_id) AS first_doc
         |FROM p GROUP BY host ORDER BY host""".stripMargin,

    "d01_exact_dedup" ->
      s"""WITH p AS (SELECT doc_id, $text2Duck AS text2 FROM documents),
         |h AS (SELECT doc_id, sha256(text2) AS dg FROM p)
         |SELECT doc_id, row_number() OVER w > 1 AS is_dup,
         | first_value(doc_id) OVER w AS keeper
         |FROM h WINDOW w AS (PARTITION BY dg ORDER BY doc_id) ORDER BY doc_id""".stripMargin,

    "t01_quality" ->
      """SELECT doc_id,
        | CAST(length(text) AS INT) AS n_chars_m,
        | CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS INT) AS alpha_chars,
        | CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS INT) AS digit_chars,
        | CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS INT) AS punct_chars,
        | CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) END AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t02_lang_tokens" ->
      """SELECT lang, count(*) AS docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM (
        | SELECT lang, CASE WHEN length(trim(text)) = 0 THEN 0
        |   ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) END AS n_tokens
        | FROM documents)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "t03_langid" ->
      """WITH t AS (
        | SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
        |c AS (
        | SELECT doc_id,
        |  len(list_filter(toks, x -> x IN ('der','die','und','das','ist','nicht','mit','ein','auf','sich'))) AS s_de,
        |  len(list_filter(toks, x -> x IN ('the','and','of','to','in','that','it','is','was','for'))) AS s_en,
        |  len(list_filter(toks, x -> x IN ('le','la','et','les','des','est','dans','que','une','pour'))) AS s_fr,
        |  len(list_filter(toks, x -> x IN ('これ','それ','です','ます','した','ない','ある','する','いる','この'))) AS s_ja
        | FROM t)
        |SELECT doc_id,
        | CASE WHEN greatest(s_de, s_en, s_fr, s_ja) = 0 THEN 'und'
        |      WHEN s_ja = greatest(s_de, s_en, s_fr, s_ja) THEN 'ja'
        |      WHEN s_fr = greatest(s_de, s_en, s_fr, s_ja) THEN 'fr'
        |      WHEN s_en = greatest(s_de, s_en, s_fr, s_ja) THEN 'en'
        |      ELSE 'de' END AS lang_pred
        |FROM c ORDER BY doc_id""".stripMargin,

    "m01_media_meta" ->
      """SELECT doc_id, 'png' AS format,
        | CAST(10 + doc_id % 30 AS INT) AS width,
        | CAST(10 + (doc_id * 7) % 20 AS INT) AS height,
        | true AS valid
        |FROM documents ORDER BY doc_id""".stripMargin,

    "m02_media_transform" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN m <= 12 THEN w ELSE greatest(1, (w*12)//m) END AS INT) AS width,
        |  CAST(CASE WHEN m <= 12 THEN h ELSE greatest(1, (h*12)//m) END AS INT) AS height,
        |  CAST((doc_id*37) % 256 AS INT) AS avg_r,
        |  CAST((doc_id*59) % 256 AS INT) AS avg_g,
        |  CAST((doc_id*83) % 256 AS INT) AS avg_b,
        |  true AS valid
        |FROM (SELECT doc_id, 10 + doc_id % 30 AS w, 10 + (doc_id*7) % 20 AS h,
        |        greatest(10 + doc_id % 30, 10 + (doc_id*7) % 20) AS m FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "m03_byte_packing" ->
      // replay the deterministic byte bin-packing: exclusive prefix sum of
      // payload lengths in doc_id order, bucket = cum // target clamped to
      // the last bucket (ceil(total/target) buckets)
      """WITH t AS (
        |  SELECT doc_id, 100 + (doc_id * 13) % 900 AS len FROM documents),
        |c AS (
        |  SELECT doc_id, len,
        |    coalesce(sum(len) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM t),
        |tot AS (SELECT sum(len) AS total FROM t)
        |SELECT
        |  CAST(least(cum // 20000, (total + 19999) // 20000 - 1) AS INT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(len) AS BIGINT) AS bytes
        |FROM c, tot GROUP BY 1 ORDER BY 1""".stripMargin,

    "t11_bpe_tokens" -> graft.codec.Bpe.oracleSql(),

    "t12_bpe_pack" -> graft.codec.Bpe.packOracleSql(512),

    "t13_bpe_ids" -> graft.codec.Bpe.idsOracleSql(),

    "t14_lm_quality" -> graft.codec.Lm.oracleSql(),

    "m05_video_container" ->
      """SELECT doc_id, 'isom' AS brand,
        | CAST(1000 + (doc_id % 5) * 200 AS INT) AS timescale,
        | CAST((30000 + (doc_id * 37) % 90000) * 1000 // (1000 + (doc_id % 5) * 200) AS BIGINT) AS duration_ms,
        | CAST(320 + (doc_id % 8) * 16 AS INT) AS width,
        | CAST(240 + (doc_id % 6) * 16 AS INT) AS height,
        | CAST(1 + doc_id % 3 AS INT) AS n_tracks,
        | true AS valid
        |FROM documents ORDER BY doc_id""".stripMargin,

    "m04_audio_decode" ->
      """SELECT doc_id, 'wave' AS format,
        | CAST(1 + doc_id % 2 AS INT) AS channels,
        | CAST(8000 + (doc_id % 5) * 1000 AS INT) AS sample_rate,
        | CAST(200 + doc_id % 300 AS BIGINT) AS n_frames,
        | CAST(500 + (doc_id * 13) % 2000 AS DOUBLE) AS rms,
        | CAST(500 + (doc_id * 13) % 2000 AS INT) AS peak,
        | true AS valid
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t06_subword_count" ->
      // alnum runs + every non-space non-alnum char (Spark's trim() strips
      // only ASCII spaces, so tab/newline pieces count on both sides)
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z0-9]+')) +
        |       len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS INT) AS n_subwords
        |FROM documents ORDER BY doc_id""".stripMargin,

    // fixed expected outputs, encoded as VALUES so the driver enforces the
    // byte-identical parse/extract contracts (not just rows>0)
    "w01_warc_fixture" ->
      """SELECT * FROM (VALUES
        | ('request',  CAST(110 AS BIGINT),   true),
        | ('response', CAST(21830 AS BIGINT), true),
        | ('warcinfo', CAST(143 AS BIGINT),   true))
        |AS t(warc_type, content_length, digest_ok) ORDER BY warc_type""".stripMargin,

    "x01_extract_conformance" ->
      """SELECT CAST(2000 AS BIGINT) AS n_pages, CAST(2000 AS BIGINT) AS n_match,
        | CAST(0 AS BIGINT) AS n_mismatch""".stripMargin,

    // fingerprint robustness distribution (how many of the 4 min-hash
    // sketch values survive a tail edit), pinned: any change to the w-gram
    // hashing, the min-k selection, or the sketch size shifts these counts
    "t04_fingerprint" ->
      // fixture distribution over the FIXED 500-doc corpus (seed 7): the
      // n_shared=0 bucket is the corpus's 5 empty docs; valid at every
      // scale factor because the corpus no longer depends on sfDir
      """SELECT * FROM (VALUES
        | (CAST(0 AS INT), CAST(5 AS BIGINT)),
        | (CAST(2 AS INT), CAST(1 AS BIGINT)),
        | (CAST(3 AS INT), CAST(11 AS BIGINT)),
        | (CAST(4 AS INT), CAST(483 AS BIGINT)))
        |AS t(n_shared, n_docs) ORDER BY n_shared""".stripMargin,

    "d02_minhash_pairs" ->
      // cap-aware, applied BEFORE the shingle self-join: the Spark side
      // truncates every LSH bucket to its 64 smallest ids, and the planted
      // dup-block groups are collision-free (identical texts → identical
      // signatures → the bucket IS the group), so the first-64-per-group
      // `kept` set decides same-group pairs up front. Pre-filtering the
      // non-kept dup docs out of `p` is exact: a same-group pair needs
      // BOTH ends kept, cross-group dup texts share no shingle, and a
      // dup/real mixed pair shares no shingle either (the 'dup-block-N'
      // token never occurs in generated text) — verified by an old-vs-new
      // SQL diff at sf0.01 and sf0.1. Without this, the oracle's candidate
      // join is O(sum over groups of |group|^2) and explodes at 10× sweeps
      // (sf1: ~19.5k-member groups → ~1.3e9 pre-cap pairs).
      //
      // The real-doc candidate join uses PREFIX FILTERING (the all-pairs
      // similarity-search principle, Bayardo et al. WWW'07 / Vernica et
      // al. SIGMOD'10): under any single global total order (here:
      // lexicographic list_sort), a pair with Jaccard ≥ t MUST share an
      // element within the first |S| - ceil(t·|S|) + 1 elements of each
      // side's ordered distinct-shingle set — if both prefixes miss, the
      // overlap is capped below t·|S|. Joining on the ~20% prefixes cuts
      // the candidate blowup ~25× (the full self-join needed >74 GB and
      // >40 min at sf1 in DuckDB); exact recall at t=0.8 is a theorem,
      // and the old-vs-new diff at two SFs confirms identical output.
      s"""WITH ranked AS (
         | SELECT doc_id, row_number() OVER (PARTITION BY doc_id % 7 ORDER BY doc_id) AS rn
         | FROM documents WHERE doc_id % 11 < 3),
         |kept AS (SELECT doc_id FROM ranked WHERE rn <= 64),
         |p AS (SELECT doc_id, $text2Duck AS text2 FROM documents
         |      WHERE doc_id % 11 >= 3 OR doc_id IN (SELECT doc_id FROM kept)),
         |tok AS (
         | SELECT doc_id,
         |  list_filter(regexp_split_to_array(lower(trim(text2)), '\\s+'), x -> len(x) > 0) AS ts
         | FROM p),
         |sh AS (
         | SELECT doc_id,
         |  list_distinct(list_transform(range(1, greatest(len(ts) - 2, 1) + 1),
         |    i -> array_to_string(list_slice(ts, i, i + 2), ' '))) AS ss
         | FROM tok WHERE len(ts) > 0),
         |pre AS (
         | SELECT doc_id,
         |  list_slice(list_sort(ss), 1,
         |    len(ss) - CAST(ceil(0.8 * len(ss)) AS BIGINT) + 1) AS ps
         | FROM sh),
         |cand AS (
         | SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         | FROM (SELECT doc_id, unnest(ps) AS s FROM pre) a
         | JOIN (SELECT doc_id, unnest(ps) AS s FROM pre) b
         |   ON a.s = b.s AND a.doc_id < b.doc_id),
         |j AS (
         | SELECT id_a, id_b,
         |  CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE) /
         |  CAST(len(list_distinct(sa.ss || sb.ss)) AS DOUBLE) AS jaccard
         | FROM cand
         | JOIN sh sa ON sa.doc_id = id_a
         | JOIN sh sb ON sb.doc_id = id_b)
         |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.8
         |ORDER BY id_a, id_b""".stripMargin,

    "d05_dup_clusters" ->
      // cap-aware: the LSH bucket keeps the 64 smallest member ids
      // (sort_array + slice), so only those are ever paired — members past
      // the cap are edgeless and absent; the cluster rep is the cluster
      // min, which the ascending slice always retains
      """WITH m AS (
        |  SELECT doc_id, doc_id % 7 AS c,
        |    row_number() OVER (PARTITION BY doc_id % 7 ORDER BY doc_id) AS rn
        |  FROM documents WHERE doc_id % 11 < 3)
        |SELECT doc_id, CAST(min(doc_id) OVER (PARTITION BY c) AS BIGINT) AS cluster_rep
        |FROM m WHERE rn <= 64 ORDER BY doc_id""".stripMargin,

    "d06_line_dedup" ->
      s"""WITH p AS (SELECT doc_id, $text2Duck AS text2 FROM documents),
         |w AS (SELECT doc_id,
         |  list_filter(regexp_split_to_array(trim(text2), '\\s+'), x -> len(x) > 0) AS ws
         | FROM p),
         |l AS (SELECT doc_id, i,
         |  array_to_string(list_slice(ws, (i-1)*10+1, (i-1)*10+10), ' ') AS line
         | FROM w, unnest(range(1, CAST(ceil(len(ws)/10.0) AS BIGINT) + 1)) AS t(i)),
         |r AS (SELECT doc_id, i, line,
         |  row_number() OVER (PARTITION BY line ORDER BY doc_id, i) AS rn FROM l)
         |SELECT doc_id, CAST(count(*) AS INT) AS n_lines,
         | CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS INT) AS n_dup_lines,
         | coalesce(string_agg(CASE WHEN rn = 1 THEN line END, ' ' ORDER BY i), '') AS text_dedup
         |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "d07_decontam" ->
      s"""WITH p AS (SELECT doc_id, $text2Duck AS text2 FROM documents),
         |w AS (SELECT doc_id,
         |  list_filter(regexp_split_to_array(lower(trim(text2)), '\\s+'), x -> len(x) > 0) AS ws
         | FROM p),
         |tg AS (SELECT doc_id, list_distinct(CASE WHEN len(ws) >= 13
         |  THEN list_transform(range(1, len(ws) - 11),
         |    i -> array_to_string(list_slice(ws, i, i + 12), ' '))
         |  ELSE [] END) AS gs FROM w),
         |eg AS (SELECT DISTINCT unnest(list_distinct(CASE WHEN len(ews) >= 13
         |  THEN list_transform(range(1, len(ews) - 11),
         |    i -> array_to_string(list_slice(ews, i, i + 12), ' '))
         |  ELSE [] END)) AS g
         | FROM (SELECT list_slice(ws, 1, 20) AS ews FROM w WHERE doc_id % 25 = 0)),
         |h AS (SELECT doc_id, CAST(count(*) AS INT) AS n
         | FROM (SELECT doc_id, unnest(gs) AS g FROM tg) tgu
         | JOIN eg USING (g) GROUP BY doc_id)
         |SELECT p.doc_id, CAST(coalesce(h.n, 0) AS INT) AS n_hits,
         | coalesce(h.n, 0) > 0 AS contaminated
         |FROM p LEFT JOIN h USING (doc_id) ORDER BY p.doc_id""".stripMargin,

    "t05_stopword_ratio" -> {
      val allStops = graft.operators.TextAnalysis.stopwords.values.flatten.toSeq.sorted
        .map(w => s"'$w'").mkString(",")
      s"""WITH t AS (
         | SELECT doc_id,
         |  list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0) AS toks
         | FROM documents)
         |SELECT doc_id,
         | CASE WHEN len(toks) = 0 THEN 0.0
         |      ELSE CAST(len(list_filter(toks, x -> x IN ($allStops))) AS DOUBLE)
         |           / CAST(len(toks) AS DOUBLE) END AS stop_ratio
         |FROM t ORDER BY doc_id""".stripMargin
    },

    "t09_seq_chunks" ->
      """WITH b AS (SELECT doc_id,
        |  CAST(CASE WHEN len(trim(text)) = 0 THEN 0
        |   ELSE len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0))
        |  END AS BIGINT) AS n_tokens
        | FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |  CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS cum
        | FROM b)
        |SELECT doc_id, CAST(k AS BIGINT) AS seq_id,
        | CAST(greatest(0, k * 512 - cum) AS BIGINT) AS tok_start,
        | CAST(least(n_tokens, (k + 1) * 512 - cum) AS BIGINT) AS tok_end
        |FROM c, unnest(range(cum // 512, (cum + n_tokens - 1) // 512 + 1)) AS t(k)
        |WHERE n_tokens > 0
        |ORDER BY doc_id, seq_id""".stripMargin,

    "t08_seq_pack" ->
      """WITH b AS (SELECT doc_id,
        |  CAST(CASE WHEN len(trim(text)) = 0 THEN 0
        |   ELSE len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0))
        |  END AS BIGINT) AS n_tokens
        | FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |  (sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens) // 512 AS seq_id
        | FROM b)
        |SELECT doc_id, n_tokens, CAST(seq_id AS BIGINT) AS seq_id,
        | CAST(row_number() OVER (PARTITION BY seq_id ORDER BY doc_id) AS INT) AS seq_pos
        |FROM c ORDER BY doc_id""".stripMargin,

    "t07_repetition" ->
      s"""WITH p AS (SELECT doc_id, $text2Duck AS text2 FROM documents),
         |w AS (SELECT doc_id,
         |  list_filter(regexp_split_to_array(lower(trim(text2)), '\\s+'), x -> len(x) > 0) AS ws
         | FROM p),
         |g2 AS (SELECT doc_id, array_to_string(list_slice(ws, i, i + 1), ' ') AS g
         | FROM w, unnest(range(1, greatest(len(ws) - 1, 0) + 1)) AS t(i)),
         |c2 AS (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY doc_id, g),
         |a2 AS (SELECT doc_id,
         |  CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS top2_frac
         | FROM c2 GROUP BY doc_id),
         |g5 AS (SELECT doc_id, array_to_string(list_slice(ws, i, i + 4), ' ') AS g
         | FROM w, unnest(range(1, greatest(len(ws) - 4, 0) + 1)) AS t(i)),
         |c5 AS (SELECT doc_id, g, count(*) AS cnt FROM g5 GROUP BY doc_id, g),
         |a5 AS (SELECT doc_id,
         |  CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS DOUBLE)
         |    / CAST(sum(cnt) AS DOUBLE) AS dup5_frac
         | FROM c5 GROUP BY doc_id)
         |SELECT p.doc_id, coalesce(a2.top2_frac, 0.0) AS top2_frac,
         | coalesce(a5.dup5_frac, 0.0) AS dup5_frac
         |FROM p LEFT JOIN a2 USING (doc_id) LEFT JOIN a5 USING (doc_id)
         |ORDER BY p.doc_id""".stripMargin,

    "f07_crawl_round" -> f07Sql,

    "d03_simhash_pairs" ->
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS INT) AS hamming
        |FROM documents a JOIN documents b
        |  ON a.doc_id % 7 = b.doc_id % 7 AND a.doc_id < b.doc_id
        |WHERE a.doc_id % 11 < 3 AND b.doc_id % 11 < 3
        |ORDER BY id_a, id_b""".stripMargin,

    "d04_embedding_neardup" ->
      """WITH u AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000 AS vec_id,
        |    list_transform(range(1, len(embedding) + 1),
        |      i -> CAST(embedding[i] + CAST((vec_id*1009 + (i-1)*31) % 1024 - 512 AS FLOAT) / 16384.0 AS FLOAT)) AS embedding
        |  FROM embeddings WHERE vec_id < 10),
        |n AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM u)
        |SELECT id_a, id_b, cos FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_sum(list_transform(range(1, len(a.embedding) + 1),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / (a.nrm * b.nrm) AS cos
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
        |WHERE cos >= 0.95 ORDER BY id_a, id_b""".stripMargin,

    "s02_ann_ivf" ->
      // exhaustive brute-force over the clustered corpus: the IVF path
      // (4 of 16 cells probed) must recover this exactly
      """WITH c AS (
        |  SELECT e.vec_id,
        |    list_transform(range(1, len(b.embedding) + 1),
        |      i -> CAST(b.embedding[i] + CAST((e.vec_id*787 + (i-1)*37) % 512 - 256 AS DOUBLE) / 16384.0 AS FLOAT)) AS embedding
        |  FROM embeddings e JOIN embeddings b ON b.vec_id = e.vec_id % 16),
        |q AS (SELECT vec_id AS query_id, embedding AS qv FROM c WHERE vec_id < 5),
        |s AS (
        | SELECT query_id, vec_id AS neighbor_id,
        |  list_sum(list_transform(range(1, len(qv) + 1), i -> CAST(qv[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
        |  / (sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |   * sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        | FROM c, q WHERE vec_id <> query_id)
        |SELECT query_id, neighbor_id, cos, rank FROM (
        | SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank FROM s)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "s03_ann_quantized" ->
      """WITH g AS (SELECT vec_id,
        |  list_transform(embedding, x -> CASE WHEN mx = 0 THEN CAST(0 AS DOUBLE)
        |    ELSE floor(CAST(x AS DOUBLE) * 127.0 / CAST(mx AS DOUBLE) + 0.5) END) AS qv
        | FROM (SELECT vec_id, embedding,
        |   list_max(list_transform(embedding, x -> abs(x))) AS mx FROM embeddings)),
        |q AS (SELECT vec_id AS query_id, qv AS a FROM g WHERE vec_id < 5),
        |s AS (SELECT query_id, vec_id AS neighbor_id,
        |  list_sum(list_transform(range(1, len(a) + 1), i -> a[i] * qv[i]))
        |  / (sqrt(list_sum(list_transform(a, x -> x * x)))
        |   * sqrt(list_sum(list_transform(qv, x -> x * x)))) AS cos
        | FROM g, q WHERE vec_id <> query_id)
        |SELECT query_id, neighbor_id, cos, rank FROM (
        | SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank FROM s)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "s01_ann_brute" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |s AS (
        | SELECT query_id, vec_id AS neighbor_id,
        |  list_sum(list_transform(range(1, len(qv) + 1), i -> CAST(qv[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
        |  / (sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |   * sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        | FROM embeddings, q WHERE vec_id <> query_id)
        |SELECT query_id, neighbor_id, cos, rank FROM (
        | SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank FROM s)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  )
}
