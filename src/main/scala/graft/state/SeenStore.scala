package graft.state

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Partitioned, append-only URL-seen state — the scale-true replacement for
  * a driver-built global Bloom filter (which at the north_star's 10^10 seen
  * URLs is a ~12 GB bitset: driver OOM + an impossible broadcast).
  *
  * Layout under `dir`:
  * {{{
  *   store.json                       parts (fixed at creation) + the bloom sketch format
  *   inc-<id>/sketch/p-<p>.hashes     sorted distinct url_hash sidecar of the increment's part p
  *   inc-<id>/sketch/p-<p>.bloom      Bloom sketch over that sidecar (fpp 0.01)
  *   inc-<id>/sketch/p-<p>.crc32c     CRC32C of the part's .hashes and .bloom
  *   compact-<g>/sketch/p-<p>.…       merged bank: all increments ≤ upTo in one part's three files
  *   manifest/inc-<id>.json           commit marker (atomic rename), rowCount = distinct hashes
  *   manifest/compact-<g>.json        compaction commit marker {gen, upTo}
  * }}}
  * No `.crc` files: every file is written and read through `java.nio`
  * ([[SketchBank]] owns the bank files), so `dir` is a local or
  * POSIX-mounted path, and every executor must be able to read it.
  *
  * Scale properties:
  *  - sidecars and sketches are built and written by executors, one task
  *    per seen part — the driver never materializes any of them;
  *  - the probe runs inside whole-stage codegen: each task lazily loads
  *    only the partitions it touches (|seen|/parts bytes each) from shared
  *    storage;
  *  - commits are O(|increment|): no rewrite of the accumulated seen set
  *    (the reference's analog is its append-only `sync.Map` registration,
  *    /root/reference/dialer.go:401-410);
  *  - sketch false positives fall through to a binary search of the
  *    partition's sorted sidecar, so the filter is exact.
  */
object SeenStore {

  final case class Config(parts: Int = 64)

  /** Sketch kind and false-positive rate of every bank this store writes.
    * Both are recorded in `store.json`; a store naming another sketch is
    * refused instead of probing as if empty. */
  private val Sketch = "bloom"
  private[state] val Fpp = 0.01

  /** `filterUnseen`'s result. `release` is a no-op, kept only because the
    * benchmark's `frontier-burst` workload calls it. */
  final case class Filtered(result: DataFrame, release: () => Unit)

  def apply(dir: String, cfg: Config = Config()): Store = new Store(dir, cfg)

  final class Store(val dir: String, defaultCfg: Config) {

    /** Store config is fixed by whoever appends first (probe and append
      * must agree on the partitioning forever). */
    def config: Config = {
      val p = Paths.get(dir, "store.json")
      if (Files.exists(p)) {
        val n = mapper.readTree(Files.readAllBytes(p))
        val sketch = Option(n.get("sketch")).map(_.asText()).getOrElse(Sketch)
        if (sketch != Sketch)
          throw new IllegalStateException(
            s"seen store $dir: store.json names sketch '$sketch'; only '$Sketch' stores can be read")
        Config(n.get("parts").asInt())
      } else defaultCfg
    }

    private def writeConfig(cfg: Config): Unit = {
      val p = Paths.get(dir, "store.json")
      if (!Files.exists(p)) {
        Files.createDirectories(p.getParent)
        Files.write(p, s"""{"parts":${cfg.parts},"fpp":$Fpp,"sketch":"$Sketch"}"""
          .getBytes("UTF-8"))
      }
    }

    private def manifest: Path = Paths.get(dir, "manifest")

    /** The n of every committed `manifest/<kind>-<n>.json`, ascending. */
    private def markers(kind: String): Seq[Long] =
      if (!Files.isDirectory(manifest)) Seq.empty
      else {
        import scala.jdk.CollectionConverters._
        val ls = Files.list(manifest)
        try ls.iterator().asScala.map(_.getFileName.toString)
          .filter(n => n.startsWith(s"$kind-") && n.endsWith(".json"))
          .map(_.stripPrefix(s"$kind-").stripSuffix(".json").toLong).toList.sorted
        finally ls.close()
      }

    /** Writes `manifest/<name>.json` by atomic rename: the commit point. */
    private def commitMarker(name: String, json: com.fasterxml.jackson.databind.node.ObjectNode): Unit = {
      Files.createDirectories(manifest)
      val tmp = manifest.resolve(s".tmp-$name.json")
      Files.write(tmp, mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(json))
      Files.move(tmp, manifest.resolve(s"$name.json"), StandardCopyOption.ATOMIC_MOVE)
    }

    /** Committed increment ids: the contiguous prefix 0..k (an orphan
      * increment beyond a crash is invisible until recommitted). */
    def committedIds: Seq[Long] =
      markers("inc").zipWithIndex.takeWhile { case (id, i) => id == i }.map(_._1)

    /** Append one increment (id must be committedIds.length — contiguous).
      * Idempotent: a crashed/orphaned increment with the same id is
      * overwritten. O(|newSeen|) I/O; the existing seen set is untouched.
      *
      * One job with one shuffle, and the increment is written once: each
      * map task splits its hashes by seen part and ships every part as one
      * sorted distinct array; part ids are Ints in [0, parts), which a
      * HashPartitioner maps to themselves, so task p receives exactly part
      * p's arrays, merges them and writes the part's sidecar and a sketch
      * sized to it. The manifest's rowCount (distinct hashes) is summed
      * from the same tasks. (A DataFrame `repartition` here would cost a
      * second job: AQE runs every exchange's map stage as its own job.) */
    def append(newSeen: DataFrame, id: Long, counters: Map[String, Long] = Map.empty): Unit = {
      val cfg = config
      writeConfig(cfg)
      require(id == committedIds.length, s"non-contiguous increment $id (have ${committedIds.length})")
      // an orphan of this id (crash before its marker) goes first, so no
      // part it wrote and this append does not survive
      graft.LocalFiles.deleteRec(new java.io.File(s"$dir/inc-$id"))
      val sketchDir = s"$dir/inc-$id/sketch"
      val parts = cfg.parts
      val rows = newSeen.sparkSession.sparkContext.longAccumulator(s"seen-inc-$id")
      newSeen.select(col("url_hash").cast("long")).rdd
        .mapPartitions { it =>
          val byPart = Array.fill(parts)(new scala.collection.mutable.ArrayBuilder.ofLong)
          it.foreach { row =>
            val h = row.getLong(0)
            byPart(java.lang.Math.floorMod(h, parts.toLong).toInt) += h
          }
          byPart.iterator.map(_.result()).zipWithIndex
            .collect { case (hs, p) if hs.nonEmpty => p -> SketchBank.sortDistinct(hs) }
        }
        .partitionBy(new org.apache.spark.HashPartitioner(parts))
        .foreachPartition { it =>
          val runs = it.toArray
          if (runs.nonEmpty) {
            val hashes = SketchBank.sortDistinct(runs.flatMap(_._2))
            SketchBank.writeBank(sketchDir, runs(0)._1, hashes)
            rows.add(hashes.length.toLong)
          }
        }

      // commit marker last
      val json = mapper.createObjectNode()
      json.put("id", id)
      json.put("rowCount", rows.sum)
      val cn = json.putObject("counters")
      counters.toSeq.sortBy(_._1).foreach { case (k, v) => cn.put(k, v) }
      commitMarker(s"inc-$id", json)
    }

    /** Committed compaction generations as (gen, upTo-increment-id) pairs,
      * ascending by gen. */
    def compactions: Seq[(Long, Long)] =
      markers("compact").map { g =>
        val node = mapper.readTree(Files.readAllBytes(manifest.resolve(s"compact-$g.json")))
        (node.get("gen").asLong(), node.get("upTo").asLong())
      }.sortBy(_._1)

    /** The sketch-bank directories a probe over increments `ids` (a
      * contiguous 0..m prefix) must consult: the newest compaction covering
      * a prefix of `ids`, plus the increments after it. Increments stay on
      * disk after compaction, so probes bounded by `maxId` (time travel to
      * a pre-compaction state) still resolve. */
    def probeBanks(ids: Seq[Long]): Seq[String] = {
      if (ids.isEmpty) return Seq.empty
      val m = ids.last
      compactions.filter(_._2 <= m).sortBy(c => (c._2, c._1)).lastOption match {
        case Some((gen, upTo)) =>
          s"$dir/compact-$gen/sketch" +: ((upTo + 1) to m).map(i => s"$dir/inc-$i/sketch")
        case None => ids.map(i => s"$dir/inc-$i/sketch")
      }
    }

    /** Log-structured compaction: merge every probe-visible bank's
      * per-partition sorted-hash sidecars (pairwise O(n) merges) into one
      * bank per partition and rebuild a right-sized sketch over the merged
      * hashes, executor-side — the driver never sees a hash or a sketch.
      * After commit, `filterUnseen` probes O(1) banks no matter how many
      * rounds committed; without this, a 1,000-round crawl pays 1,000
      * sketch checks per candidate row. The reference's seen map is one
      * structure, not a probe-per-epoch chain
      * (/root/reference/dialer.go:401-410) — this restores that shape for
      * the durable store. Append-only increments are untouched (crash
      * before the marker leaves an invisible orphan generation; `maxId`
      * replay still sees per-increment banks). */
    def compact(spark: SparkSession): Unit = {
      val ids = committedIds
      val banks = probeBanks(ids)
      if (banks.length <= 1) return // already one bank (or empty)
      val cfg = config
      val gen = (compactions.map(_._1) :+ -1L).max + 1
      val outSketchDir = s"$dir/compact-$gen/sketch"
      val banksArr = banks.toArray
      // one row per store partition; each task k-way-merges its partitions.
      // EXPLICIT partition count (REPARTITION_BY_NUM): the rows are a few
      // bytes, so a bare repartition(col) lets AQE coalesce the exchange to
      // one task and serialize every partition's merge — the work here is
      // per-partition file I/O AQE cannot see
      spark.range(cfg.parts).selectExpr("cast(id as int) as p")
        .repartition(cfg.parts, col("p"))
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          it.foreach { row =>
            val p = row.getInt(0)
            val merged = banksArr
              .map(b => SketchBank.loadHashes(s"$b/p-$p"))
              .reduce(SketchBank.mergeDedupSorted)
            SketchBank.writeBank(outSketchDir, p, merged)
          }
        }
      // commit marker last
      val json = mapper.createObjectNode()
      json.put("gen", gen)
      json.put("upTo", ids.last)
      json.put("mergedBanks", banks.length)
      commitMarker(s"compact-$gen", json)
    }

    /** Reclaim superseded compaction generations: every committed
      * generation except the newest is deleted (marker first, then the
      * data — a crash between the two leaves an invisible orphan dir).
      * Safe by construction: `probeBanks` only ever prefers the NEWEST
      * covering generation, and `maxId` time travel falls back to the
      * retained per-increment banks when no committed generation covers
      * the requested prefix. Storage after gc: increments (the durable
      * log) + one merged bank. */
    def gc(): Unit = {
      val gens = compactions
      if (gens.length <= 1) return
      val keep = gens.maxBy(c => (c._2, c._1))._1
      gens.filter(_._1 != keep).foreach { case (g, _) =>
        Files.deleteIfExists(manifest.resolve(s"compact-$g.json"))
        graft.LocalFiles.deleteRec(new java.io.File(s"$dir/compact-$g"))
      }
    }

    /** Probe-state footprint in bytes (sketches + exact sidecars) across
      * the banks a probe over `ids` consults — the size that decides
      * routed vs direct probing in [[filterUnseen]]. */
    private def probeStateBytes(banks: Seq[String]): Long = {
      import scala.jdk.CollectionConverters._
      banks.map(Paths.get(_)).filter(Files.isDirectory(_)).map { b =>
        val ls = Files.list(b)
        try ls.iterator().asScala.filterNot(_.toString.endsWith(".crc")).map(Files.size).sum
        finally ls.close()
      }.sum
    }

    /** Exact unseen filter as a narrow codegen filter: the probe checks the
      * sketch (fast definite-no) and falls through to a binary search of
      * the partition's exact sorted-hash state — no join, no second pass
      * over the candidates, no driver state.
      *
      * Routing is SIZE-ADAPTIVE (the broadcast-join decision applied to
      * seen state): when the probe-visible banks' on-disk footprint fits
      * `spark.graft.seenstore.directProbeMaxBytes` (a byte string, default
      * `1g`), the probe runs DIRECTLY over the candidates' existing
      * partitioning — zero exchange — and each executor lazily loads the
      * whole bank set once (a JVM-wide resolver cache de-duplicates loads
      * across tasks).
      * Past the threshold — the north_star's 10^10-url store is ~100 GB —
      * candidates exchange once on `__seen_part` so each task loads only
      * its partitions' |seen|/parts-byte slices; leaving that exchange's
      * partition count to spark.sql.shuffle.partitions (not cfg.parts)
      * keeps AQE free to coalesce and decouples probe parallelism from
      * state layout. Output rows are identical either way (the filter is
      * a pure per-row predicate); only the exchange placement differs. */
    def filterUnseen(candidates: DataFrame, maxId: Option[Long] = None): Filtered = {
      val ids = maxId.map(m => committedIds.filter(_ <= m)).getOrElse(committedIds)
      if (ids.isEmpty) return Filtered(candidates, () => ())
      val cfg = config
      val banks = probeBanks(ids)
      val directMax = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        candidates.sparkSession.conf.get("spark.graft.seenstore.directProbeMaxBytes", "1g"))
      val withPart = candidates
        .withColumn("__seen_part", pmod(col("url_hash"), lit(cfg.parts)).cast("int"))
      val routed =
        if (probeStateBytes(banks) <= directMax) withPart
        else withPart.repartition(col("__seen_part"))
      val out = routed
        .filter(!seenContains(col("__seen_part"), col("url_hash"), banks, cfg.parts))
        .drop("__seen_part")
      Filtered(out, () => ())
    }
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  import org.apache.spark.sql.graft.Bridge

  def seenContains(part: Column, hash: Column, banks: Seq[String], parts: Int): Column =
    Bridge.column(SeenContains(Bridge.expression(part), Bridge.expression(hash), banks, parts))
}

/** Codegen EXACT membership probe against the store's per-partition state:
  * sketch first (fast definite-no), then a binary search of the
  * partition's sorted-hash sidecar. The per-row path is allocation-free
  * and lock-free (indexed AtomicReferenceArrays — no string keys, no LRU
  * lock shared by 32 task threads); the exact arrays load lazily, only for
  * partitions where a sketch ever says maybe. */
case class SeenContains(left: Expression, right: Expression,
                        banks: Seq[String], parts: Int)
    extends BinaryExpression {
  // JVM-shared resolver: the interpreted path resolves through
  // SketchResolver.forBanks here; the codegen path ships the driver's
  // resolver as a reference object, which every task deserializes and
  // SketchResolver.readResolve swaps for the executor's shared one. Either
  // way each (bank, partition) blob loads once per executor JVM, not once
  // per task (the direct probe has every task touch every partition)
  @transient private lazy val resolver = SketchResolver.forBanks(banks, parts)
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def nullSafeEval(part: Any, hash: Any): Any =
    resolver.contains(part.asInstanceOf[Int], hash.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("seenResolver", resolver, classOf[SketchResolver].getName)
    defineCodeGen(ctx, ev, (p, h) => s"$ref.contains($p, $h)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SeenContains =
    copy(left = l, right = r)
  override def prettyName: String = "seen_contains"
}

/** One resolver per bank list per JVM, over banks shared between lists:
  * each (bank, partition) sketch/state blob loads lazily once per JVM,
  * lock-free reads thereafter. A bank
  * is a sketch directory — a compacted generation or a post-compaction
  * increment — so the per-row loop is O(active banks), O(1) after
  * `Store.compact()`, independent of how many crawl rounds ever committed.
  * A task only ever touches the partitions routed to it, so executor
  * memory is O(|seen|/parts × parts-touched), and the driver holds
  * nothing. */
object SketchResolver {
  // Keyed on the bank PATH LIST: banks are immutable once probe-visible
  // (increments commit-then-never-rewrite; compactions are new gen dirs),
  // so a path list uniquely identifies contents. Bounded LRU: eviction is
  // always safe (resolvers reload lazily on demand), and dropping only the
  // least recently used keeps the live probes' banks loaded — every task
  // resolves through here, so a clear-all would make them all reload.
  private val MaxResolvers = 64
  private val cache =
    new java.util.LinkedHashMap[(Seq[String], Int), SketchResolver](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(Seq[String], Int), SketchResolver]): Boolean =
        size() > MaxResolvers
    }
  def forBanks(banks: Seq[String], parts: Int): SketchResolver = cache.synchronized {
    cache.computeIfAbsent((banks, parts), k => new SketchResolver(k._1.toArray, k._2))
  }

  // One loaded bank per (path, parts) per JVM, shared by every resolver
  // whose list holds it: successive crawl rounds' lists differ only by the
  // newest increment, so the cached resolvers share the older banks' blobs
  // instead of each pinning its own copy. Weak values: a bank that no live
  // resolver references is collectable.
  private val banks = new java.util.HashMap[(String, Int), java.lang.ref.WeakReference[SeenBank]]()
  private[state] def bank(path: String, parts: Int): SeenBank = banks.synchronized {
    val hit = Option(banks.get((path, parts))).map(_.get).orNull
    if (hit != null) hit
    else {
      banks.values.removeIf(_.get == null)
      val b = new SeenBank(path, parts)
      banks.put((path, parts), new java.lang.ref.WeakReference(b))
      b
    }
  }
}

final class SketchResolver(banks: Array[String], parts: Int) extends Serializable {
  // a deserialized copy (the codegen path's task closures) resolves to
  // this JVM's shared instance and its already-loaded blobs
  private def readResolve(): AnyRef = SketchResolver.forBanks(banks.toSeq, parts)
  @transient private lazy val loaded = banks.map(SketchResolver.bank(_, parts))

  def contains(part: Int, hash: Long): Boolean = {
    val bs = loaded
    var i = 0
    while (i < bs.length) {
      if (bs(i).contains(part, hash)) return true
      i += 1
    }
    false
  }
}

/** One bank's per-partition sketch and exact sorted-hash state, each
  * loaded on its first probe. */
private[state] final class SeenBank(path: String, parts: Int) {
  private val probes = new java.util.concurrent.atomic.AtomicReferenceArray[SketchBank.Probe](parts)
  private val exact = new java.util.concurrent.atomic.AtomicReferenceArray[Array[Long]](parts)

  def contains(part: Int, hash: Long): Boolean = {
    var p = probes.get(part)
    if (p == null) {
      probes.compareAndSet(part, null, SketchBank.load(s"$path/p-$part"))
      p = probes.get(part)
    }
    p.mightContain(hash) && {
      // sketch maybe → exact sorted-hash state decides (no false positives)
      var arr = exact.get(part)
      if (arr == null) {
        exact.compareAndSet(part, null, SketchBank.loadHashes(s"$path/p-$part"))
        arr = exact.get(part)
      }
      java.util.Arrays.binarySearch(arr, hash) >= 0
    }
  }
}

/** The one reader and writer of bank files (the `p-<p>.*` layout in
  * [[SeenStore]]), all through `java.nio.file.Files`. `.crc32c` holds the
  * CRC32C of `.hashes` then of `.bloom` as two big-endian ints; every read
  * verifies its file against it, and a part without one (written before
  * checksums were kept) loads unchecked. Loads are the cold path only:
  * resolvers cache the result. */
object SketchBank {
  private[state] trait Probe { def mightContain(h: Long): Boolean }
  private object Absent extends Probe { def mightContain(h: Long) = false }
  private final class Bloom(b: org.apache.spark.util.sketch.BloomFilter) extends Probe {
    def mightContain(h: Long): Boolean = b.mightContainLong(h)
  }

  /** O(n) merge of two sorted arrays, dropping duplicates (increments may
    * overlap when callers append without filtering first). */
  private[state] def mergeDedupSorted(a: Array[Long], b: Array[Long]): Array[Long] = {
    if (a.isEmpty) return b
    if (b.isEmpty) return a
    val out = new Array[Long](a.length + b.length)
    var i = 0; var j = 0; var k = 0
    var last = 0L; var has = false
    while (i < a.length || j < b.length) {
      val v =
        if (j >= b.length || (i < a.length && a(i) <= b(j))) { val x = a(i); i += 1; x }
        else { val x = b(j); j += 1; x }
      if (!has || v != last) { out(k) = v; k += 1; last = v; has = true }
    }
    if (k == out.length) out else java.util.Arrays.copyOf(out, k)
  }

  /** Sorts `hashes` in place and returns its distinct values (the array
    * itself when it has no duplicates). */
  private[state] def sortDistinct(hashes: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(hashes)
    var k = 0
    var i = 0
    while (i < hashes.length) {
      if (k == 0 || hashes(i) != hashes(k - 1)) { hashes(k) = hashes(i); k += 1 }
      i += 1
    }
    if (k == hashes.length) hashes else java.util.Arrays.copyOf(hashes, k)
  }

  /** Writes part `part` of a bank: the sorted distinct `hashes` as the
    * `.hashes` sidecar, a Bloom sketch sized to them, and last the CRCs of
    * both (a part is only probe-visible once its manifest commits). */
  private[state] def writeBank(bankDir: String, part: Int, hashes: Array[Long]): Unit = {
    val sidecar = java.nio.ByteBuffer.allocate(hashes.length * 8)
    hashes.foreach(sidecar.putLong)
    val bf = org.apache.spark.util.sketch.BloomFilter
      .create(math.max(64L, hashes.length.toLong), SeenStore.Fpp)
    hashes.foreach(bf.putLong)
    val sketch = new java.io.ByteArrayOutputStream()
    bf.writeTo(sketch)
    val files = Seq(sidecar.array(), sketch.toByteArray)
    val prefix = Files.createDirectories(Paths.get(bankDir)).resolve(s"p-$part").toString
    Exts.zip(files).foreach { case (ext, bytes) => Files.write(Paths.get(s"$prefix.$ext"), bytes) }
    val crcs = java.nio.ByteBuffer.allocate(8)
    files.foreach(b => crcs.putInt(crc32c(b)))
    Files.write(Paths.get(s"$prefix.crc32c"), crcs.array())
  }

  // the data files of a part, in the order of their CRCs in `.crc32c`
  private val Exts = Seq("hashes", "bloom")

  private def crc32c(bytes: Array[Byte]): Int = {
    val c = new java.util.zip.CRC32C()
    c.update(bytes)
    c.getValue.toInt
  }

  private def readIfExists(path: String): Option[Array[Byte]] =
    try Some(Files.readAllBytes(Paths.get(path)))
    catch { case _: java.nio.file.NoSuchFileException => None }

  /** The bytes of `<prefix>.<ext>` (None if absent), checked against the
    * part's `.crc32c` when it has one. */
  private def readChecked(prefix: String, ext: String): Option[Array[Byte]] =
    readIfExists(s"$prefix.$ext").map { bytes =>
      readIfExists(s"$prefix.crc32c").foreach { crcs =>
        if (crcs.length != 4 * Exts.length ||
            crc32c(bytes) != java.nio.ByteBuffer.wrap(crcs).getInt(4 * Exts.indexOf(ext)))
          throw new java.io.IOException(
            s"seen bank file $prefix.$ext does not match its CRC32C in $prefix.crc32c")
      }
      bytes
    }

  /** Sorted int64 state sidecar of the part at `prefix` (`<bank>/p-<p>`);
    * absent file → empty array. */
  private[state] def loadHashes(prefix: String): Array[Long] =
    readChecked(prefix, "hashes").fold(Array.emptyLongArray) { buf =>
      val out = new Array[Long](buf.length / 8)
      java.nio.ByteBuffer.wrap(buf).asLongBuffer().get(out)
      out
    }

  /** Sketch of the part at `prefix`; absent file → a probe that holds nothing. */
  private[state] def load(prefix: String): Probe =
    readChecked(prefix, "bloom")
      .map(b => new Bloom(org.apache.spark.util.sketch.BloomFilter
        .readFrom(new java.io.ByteArrayInputStream(b))): Probe)
      .getOrElse(Absent)
}
