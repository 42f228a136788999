package graft.state

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Cross-round payload-digest index — the reference's dedupe table
  * (`sync.Map` keyed by payload digest, alive for the whole crawl,
  * /root/reference/client.go:107, /root/reference/dialer.go:401-410) as a
  * persisted BUCKETED table, so every round's dedup join against the
  * accumulated index is exchange-free on the index side: the shuffle on
  * `payload_digest` is paid once per round at append, never again at read
  * (Buckets.scala rationale).
  *
  * Shape matches the CDX frame `Frontier.digestDedupWithCdx` consumes:
  * (payload_digest, target_uri, capture_ts, record_type) — so the same J3
  * local-then-remote precedence covers both a true remote CDX and this
  * local cross-round index, exactly like the reference probes its own map
  * before the CDX server (/root/reference/dialer.go:510-513).
  */
object DigestIndex {

  /** table = session-catalog name; path = external parquet location;
    * nBuckets must stay constant for the table's lifetime. */
  final case class Ref(table: String, path: String, nBuckets: Int = 32)

  def exists(spark: SparkSession, ref: Ref): Boolean =
    spark.catalog.tableExists(ref.table)

  /** The index as a digestDedupWithCdx-compatible CDX frame, of the rounds
    * below `before` if given (a partition filter: the scan skips the other
    * `round=` dirs). Reading the bucketed table carries its partitioning
    * into the plan: the per-digest last-capture aggregate and the dedup
    * join need NO exchange on this side (bucket files with the same id are
    * combined across the round partition dirs into one scan partition).
    * The internal `round` key is dropped — consumers see the pure CDX
    * shape. */
  def cdx(spark: SparkSession, ref: Ref, before: Option[Long] = None): Option[DataFrame] =
    if (!exists(spark, ref)) None
    else {
      val t = spark.table(ref.table)
      Some(before.fold(t)(r => t.filter(col("round") < r)).drop("round"))
    }

  /** Append one round's NEW first-captures (non-revisit rows of the
    * round's deduped output). O(|new|): the existing index files are never
    * rewritten — the append adds bucketed files under this round's
    * partition dir, exactly the SeenStore increment discipline for digests.
    *
    * IDEMPOTENT per round: rows live under a `round=<r>` table partition,
    * and re-appending a round first wipes that round's files + catalog
    * partition. The crawl's durable crash-replay re-runs a round's append
    * BEFORE the frontier/seen commits that define the resume point — with
    * an unkeyed append every crash would permanently duplicate the round's
    * rows (query results survive only because digestDedupWithCdx
    * aggregates per digest; the storage invariant would not). */
  def append(fetched: DataFrame, ref: Ref, round: Long = 0L,
             captureTsCol: String = "page_ts"): Unit = {
    val rows = fetched
      .filter(!col("is_revisit"))
      .select(
        col("payload_digest"),
        col("url_norm").as("target_uri"),
        col(captureTsCol).as("capture_ts"),
        lit("response").as("record_type"),
        lit(round).as("round"))
    val spark = fetched.sparkSession
    val existed = exists(spark, ref)
    if (existed) {
      // replay hygiene: drop whatever a crashed earlier append left for
      // this round (files kept inside the dir so a registered partition
      // location never dangles mid-wipe), then re-append. Through Hadoop
      // FileSystem, not java.io.File: the table is EXTERNAL, so DROP
      // PARTITION removes only catalog metadata — on a URI-schemed or
      // non-local path (file:/, hdfs://, s3a://) a File-based wipe would
      // silently no-op and the crashed round's orphan files would be read
      // alongside the re-append forever.
      val part = new org.apache.hadoop.fs.Path(ref.path, s"round=$round")
      val fs = part.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(part))
        fs.listStatus(part).foreach(st => fs.delete(st.getPath, true))
      spark.sql(s"ALTER TABLE `${ref.table}` DROP IF EXISTS PARTITION (round=$round)")
    }
    rows.write.mode(if (existed) SaveMode.Append else SaveMode.Overwrite).option("path", ref.path)
      .partitionBy("round")
      .bucketBy(ref.nBuckets, "payload_digest").sortBy("payload_digest")
      .saveAsTable(ref.table)
  }

  /** Zero-row CDX frame with the index schema — lets a crawl's FIRST round
    * run the same digestDedupWithCdx plan (stable output schema) before
    * anything has been appended. */
  def emptyCdx(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(
        "payload_digest STRING, target_uri STRING, capture_ts TIMESTAMP, record_type STRING"))

  def drop(spark: SparkSession, ref: Ref): Unit = Buckets.drop(spark, ref.table)
}
