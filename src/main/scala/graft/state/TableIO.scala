package graft.state

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Iceberg-semantics snapshot layer over Parquet (SURVEY.md §7: no Iceberg
  * runtime ships in this environment, so snapshots are immutable Parquet
  * data directories plus a JSON manifest committed by atomic rename —
  * giving checkpointed frontier state, exact resume, lineage counters and
  * time-travel-by-snapshot-id; a real Iceberg catalog can be slotted in
  * behind this trait where the runtime exists).
  *
  * Layout:
  *   <table>/data/snap-<id>/part-*.parquet      immutable data files
  *   <table>/manifest/snap-<id>.json            committed manifest
  *   <table>/manifest/.tmp-<id>.json            staged then renamed
  *
  * The manifest names its parquet directory, parent snapshot, row count and
  * per-round counters. Readers resolve the latest committed manifest — a
  * crashed writer leaves only an orphan data dir + tmp manifest, never a
  * half-visible snapshot (the `.open`→final rename discipline of the
  * reference's rotator, /root/reference/warc.go:233-251).
  */
object TableIO {

  final case class Snapshot(
      id: Long,
      parentId: Option[Long],
      dataDir: String,
      rowCount: Long,
      counters: Map[String, Long],
      // per-partition lineage: data file name -> rows (north_star: each
      // snapshot records which files carry which rows, like an Iceberg
      // manifest's per-file stats)
      files: Map[String, Long] = Map.empty,
      // commit wall-clock (ms): Iceberg-style AS OF <timestamp> resolution
      committedAtMs: Long = 0L)

  private def mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }

  private def manifestDir(table: String): Path = Paths.get(table, "manifest")

  def listSnapshots(table: String): Seq[Long] = {
    val dir = manifestDir(table)
    if (!Files.exists(dir)) Seq.empty
    else {
      val ls = Files.list(dir)
      try ls.iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.startsWith("snap-") && n.endsWith(".json"))
        .map(n => n.stripPrefix("snap-").stripSuffix(".json").toLong)
        .toList.sorted
      finally ls.close()
    }
  }

  def latestSnapshotId(table: String): Option[Long] = listSnapshots(table).lastOption

  def readManifest(table: String, id: Long): Snapshot = {
    val bytes = Files.readAllBytes(manifestDir(table).resolve(s"snap-$id.json"))
    val node = mapper.readTree(bytes)
    Snapshot(
      id = node.get("id").asLong(),
      parentId = Option(node.get("parentId")).filter(!_.isNull).map(_.asLong()),
      dataDir = node.get("dataDir").asText(),
      rowCount = node.get("rowCount").asLong(),
      counters = Option(node.get("counters")).map { c =>
        c.properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
      }.getOrElse(Map.empty),
      files = Option(node.get("files")).map { f =>
        f.properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
      }.getOrElse(Map.empty),
      // pre-timestamp manifests fall back to the manifest file's mtime
      committedAtMs = Option(node.get("committedAtMs")).map(_.asLong()).getOrElse(
        Files.getLastModifiedTime(manifestDir(table).resolve(s"snap-$id.json")).toMillis))
  }

  /** Per-file row counts from the parquet footers (metadata-only reads,
    * O(files) driver work — the same cost class as an Iceberg manifest). */
  private def fileLineage(dataDir: String): Map[String, Long] = {
    val dir = Paths.get(dataDir)
    if (!Files.exists(dir)) return Map.empty
    val conf = new org.apache.hadoop.conf.Configuration()
    val ls = Files.list(dir)
    try ls.iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      .map { n =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$dataDir/$n"), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try n -> r.getRecordCount finally r.close()
      }.toMap
    finally ls.close()
  }

  /** Write `df` as the next snapshot of `table`; returns the committed
    * manifest. The parquet write happens first; the manifest rename is the
    * commit point. */
  def commit(df: DataFrame, table: String, counters: Map[String, Long] = Map.empty): Snapshot =
    commitAs(df, table, latestSnapshotId(table).map(_ + 1).getOrElse(0L), counters)

  /** Commit with an explicit snapshot id (callers that coordinate several
    * tables key every table's snapshot by the same id — e.g. the crawl
    * round number — so a crash between commits can be detected as "largest
    * id present in ALL tables"). Idempotent: recommitting an id overwrites
    * the orphan left by a crash. */
  def commitAs(df: DataFrame, table: String, id: Long,
               counters: Map[String, Long] = Map.empty): Snapshot = {
    val parent = listSnapshots(table).filter(_ < id).lastOption
    val dataDir = s"$table/data/snap-$id"
    // row count captured from the write job itself (no second scan)
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)).as("rows"))
      .write.mode("overwrite").parquet(dataDir)
    val rows = obs.get("rows").asInstanceOf[Long]
    val snap = Snapshot(id, parent, dataDir, rows, counters, fileLineage(dataDir),
      committedAtMs = System.currentTimeMillis())
    val mdir = manifestDir(table)
    Files.createDirectories(mdir)
    val json = mapper.createObjectNode()
    json.put("id", snap.id)
    snap.parentId.foreach(p => json.put("parentId", p))
    json.put("dataDir", snap.dataDir)
    json.put("rowCount", snap.rowCount)
    json.put("committedAtMs", snap.committedAtMs)
    val cnode = json.putObject("counters")
    snap.counters.toSeq.sortBy(_._1).foreach { case (k, v) => cnode.put(k, v) }
    val fnode = json.putObject("files")
    snap.files.toSeq.sortBy(_._1).foreach { case (k, v) => fnode.put(k, v) }
    val tmp = mdir.resolve(s".tmp-$id.json")
    Files.write(tmp, mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(json))
    // POSIX rename: atomic, silently replaces an existing target — exactly
    // what a crash-replay recommit of the same id needs
    Files.move(tmp, mdir.resolve(s"snap-$id.json"), StandardCopyOption.ATOMIC_MOVE)
    snap
  }

  /** Read a snapshot (latest by default; pass an id for time travel).
    * Returns None when the table has no committed snapshot yet. */
  def read(spark: SparkSession, table: String, id: Option[Long] = None): Option[DataFrame] = {
    val sid = id.orElse(latestSnapshotId(table))
    sid.map(s => spark.read.parquet(readManifest(table, s).dataDir))
  }

  /** Iceberg `AS OF <timestamp>` resolution: the newest snapshot whose
    * commit time is ≤ `tsMs`. Snapshot ids are committed in increasing
    * order, so commit times are monotone in id and the scan is a simple
    * last-match over the manifest list (O(snapshots) driver metadata). */
  def snapshotAsOf(table: String, tsMs: Long): Option[Long] =
    listSnapshots(table)
      .map(id => id -> readManifest(table, id).committedAtMs)
      .filter(_._2 <= tsMs)
      .lastOption.map(_._1)

  /** Read the table as of a wall-clock timestamp (None when no snapshot
    * had been committed by then). */
  def readAsOf(spark: SparkSession, table: String, tsMs: Long): Option[DataFrame] =
    snapshotAsOf(table, tsMs).map(id => spark.read.parquet(readManifest(table, id).dataDir))
}
