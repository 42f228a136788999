package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k — a broadcast of the (small) query
  * set against the (huge) corpus, so the corpus is scanned exactly once
  * with no shuffle until the final per-query top-k (window over ≤ |Q|×|C|
  * scored rows, pre-pruned per partition).
  *
  * Scale path: IVF — k-means-lite centroids assign each vector to a cell;
  * queries probe only the nearest `nProbe` cells, turning the scan into a
  * partition-pruned join on cell id.
  */
object Similarity {

  /** Brute-force cosine top-k. `queries` and `corpus` both have
    * (idCol, vecCol). Returns (query_id, neighbor_id, cos, rank). */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", Dedup.cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  /** Symmetric int8 quantization of a float-vector column: each vector is
    * scaled by 127/max|x_i| and rounded (floor(x·s + 0.5), the same
    * deterministic formula the oracle replays), stored as small-int
    * floats. At 100 TB of embeddings this is the standard 4× memory /
    * bandwidth cut; cosine is scale-invariant, so quantized cosine =
    * the SAME CosineSim codegen kernel over the quantized arrays — no new
    * scoring path. All-zero vectors quantize to zeros. */
  def quantize(vecCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.GraftFunctions.quantize_i8(vecCol)

  /** Declarative HOF form of quantize (kept for verification — the kernel
    * must match it element-for-element; asserted in SimilaritySpec). */
  private[operators] def quantizeDeclarative(
      vecCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val mx = array_max(transform(vecCol, x => abs(x)))
    transform(vecCol, x =>
      when(mx === 0f, lit(0f))
        .otherwise(floor(x.cast("double") * 127.0 / mx.cast("double") + 0.5d).cast("float")))
  }

  /** Brute-force top-k over int8-quantized vectors: identical plan shape
    * to bruteForceTopK (broadcast queries, one corpus scan, windowed
    * partial top-k) but the corpus carries 8-bit-range values. Exactness
    * becomes approximation (test: recall ≥ 0.9 vs full precision); at
    * scale the quantized corpus is what lives in memory. */
  def quantizedTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    def q(df: DataFrame): DataFrame =
      df.select(col(idCol), quantize(col(vecCol)).as(vecCol))
    bruteForceTopK(q(queries), q(corpus), k, idCol, vecCol)
  }

  /** Deterministic centroid init: the `nCells` corpus vectors with the
    * lowest xxhash64(id) — a seeded sample that any two runs agree on. */
  def initCentroids(corpus: DataFrame, nCells: Int, idCol: String, vecCol: String,
                    seed: Int = 42): DataFrame =
    corpus
      .withColumn("__h", xxhash64(col(idCol), lit(seed)))
      .orderBy(col("__h"))
      .limit(nCells)
      .select(col(idCol).as("cell_id"), col(vecCol).as("centroid"))

  /** Lloyd refinement of the IVF codebook in FIXED-POINT arithmetic (the
    * hostRank trick applied to k-means): each iteration assigns every
    * vector to its nearest cell (the same broadcast argmax kernel the
    * index uses), then recomputes each centroid as the member mean with
    * components summed as `round(v·2^scaleBits)` LONGs — integer sums are
    * order-independent across partitions, so the refined codebook is a
    * pure function of (corpus, init), bitwise reproducible at any
    * parallelism (float means are not: double addition reorders under
    * shuffle). Mean = (sum div n) / 2^scaleBits, truncating division.
    * Empty cells keep their previous centroid.
    *
    * Scale shape: per iteration = one narrow assign pass + one
    * (cell, dim)-key aggregate whose result is exactly codebook-sized —
    * the same driver footprint ivfAssign's broadcast already pays. */
  def refineCentroids(corpus: DataFrame, centroids: DataFrame, iterations: Int = 3,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      scaleBits: Int = 20): DataFrame = {
    val scale = (1L << scaleBits).toDouble
    // EXECUTOR-SIDE codebook rebuild: the per-(cell, dim) fixed-point sums
    // stay distributed — grouped back into arrays and joined against the
    // previous codebook (empty cells keep their centroid) without ever
    // collecting per-dim rows to the driver. At a 65k-cell × 768-dim
    // codebook the old collect() path shipped ~50M aggregate rows per
    // iteration through the driver; now the driver touches the codebook
    // only where it must — ivfAssign's broadcast of the (codebook-sized)
    // centroid table. Each iteration is pinned with a localCheckpoint, so
    // plans stay leaf-sized, and the integer arithmetic ((s div n)
    // truncating, like the sequential replay) keeps the result bitwise
    // reproducible at any parallelism.
    var cents = centroids.select(col("cell_id"), col("centroid")).localCheckpoint(false)
    for (_ <- 0 until iterations) {
      val assigned = ivfAssign(corpus, cents, idCol, vecCol)
      val means = assigned
        .select(col("cell_id"), posexplode(col(vecCol)).as(Seq("pos", "v")))
        .groupBy(col("cell_id"), col("pos"))
        .agg(sum(round(col("v").cast("double") * scale).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .select(col("cell_id"), col("pos"), expr("s div n").as("m"))
      val rebuilt = means
        .groupBy(col("cell_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("comps"))
        .select(col("cell_id"),
          transform(col("comps"), c =>
            (c.getField("m").cast("double") / lit(scale)).cast("float")).as("__new"))
      // lazy pin: ivfAssign's codebook collect (the very next statement of
      // the next iteration, or the caller's broadcast) materializes it —
      // saves one blocking job per Lloyd iteration
      cents = cents.join(rebuilt, Seq("cell_id"), "left")
        .select(col("cell_id"), coalesce(col("__new"), col("centroid")).as("centroid"))
        .localCheckpoint(false)
    }
    cents
  }

  /** IVF index: assign each corpus vector to its nearest centroid cell —
    * a single narrow argmax projection against the broadcast codebook
    * (zero shuffles, zero row blow-up; a cross-join + per-id window would
    * exchange nCells copies of every corpus vector). Ties break to the
    * lowest cell id. */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val rows = centroids.select(col("cell_id"), col("centroid")).orderBy(col("cell_id")).collect()
    val ids = rows.map(_.getLong(0))
    val vecs = rows.map(_.getSeq[Float](1).toArray)
    val bc = corpus.sparkSession.sparkContext.broadcast((ids, vecs))
    corpus.select(col(idCol), col(vecCol),
      graft.functions.GraftFunctions.argmax_cell(col(vecCol), bc).as("cell_id"))
  }

  /** IVF query: probe the `nProbe` nearest cells per query, then exact
    * cosine within the probed cells only. Approximate: recall < 1 when the
    * true neighbor lives in an unprobed cell. */
  def ivfTopK(
      queries: DataFrame,
      indexed: DataFrame,
      centroids: DataFrame,
      k: Int,
      nProbe: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val probeW = Window.partitionBy(col("query_id")).orderBy(col("__d").desc, col("cell_id").asc)
    val probes = q.join(broadcast(centroids))
      .withColumn("__d", Dedup.cosine(col("qv"), col("centroid")))
      .withColumn("__rn", row_number().over(probeW))
      .filter(col("__rn") <= nProbe)
      .select(col("query_id"), col("qv"), col("cell_id"))
    val scored = probes.join(indexed, Seq("cell_id"))
      .filter(col("query_id") =!= col(idCol))
      .withColumn("cos", Dedup.cosine(col("qv"), col(vecCol)))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col(idCol).asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol).as("neighbor_id"), col("cos"), col("rank"))
  }
}
