package graft.tools

import graft.codec.Bpe
import graft.sources.PagesGen

/** Regenerate the committed BPE merge table
  * (src/main/resources/graft/bpe_merges.txt): trains the standard BPE loop
  * with deterministic tie-breaking on the repo's fixed synthetic corpus
  * (PagesGen seed 42, ids 0..3999) — a pure function, so every run
  * reproduces the file bit-for-bit (BpeSpec asserts this against the
  * committed copy). The default path runs the DISTRIBUTED trainer
  * (Bpe.trainDistributed — Spark word-frequency + per-merge pair-count
  * jobs, O(nMerges) driver memory), which is bit-identical to the
  * sequential loop by construction.
  *
  * Usage:
  *   runMain graft.tools.BpeGen [outPath]        regenerate the resource
  *   runMain graft.tools.BpeGen big <sfDir> <n>  train n merges over
  *       <sfDir>/documents.parquet (scale exercise: e.g. 3000 @ sf0.1) and
  *       print timing + a checksum, writing nothing.
  */
object BpeGen {
  final val CorpusSeed = 42L
  final val CorpusDocs = 4000L
  final val NumMerges = 300

  /** Sequential reference trainer over the fixed corpus (kept: BpeSpec
    * asserts trainDistributed matches it bit-for-bit). */
  def trainDefault(): Vector[(String, String)] =
    Bpe.train(
      (0L until CorpusDocs).iterator.map(id => PagesGen.genText(id, CorpusSeed, CorpusDocs)._1),
      NumMerges)

  def corpusDf(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    spark.range(CorpusDocs)
      .map(id => PagesGen.genText(id, CorpusSeed, CorpusDocs)._1)
      .toDF("text")
  }

  def render(merges: Vector[(String, String)]): String =
    merges.map { case (a, b) => a + " " + b }.mkString("", "\n", "\n")

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("big")) {
      val sfDir = args(1)
      val n = args(2).toInt
      val spark = graft.GraftSession.local(
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      lazy val merges = Bpe.trainDistributed(docs, n)
      val sec = graft.Bench.seconds(merges)
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(render(merges).getBytes("UTF-8"))
        .take(8).map("%02x".format(_)).mkString
      println(f"trained ${merges.size} merges over $sfDir in $sec%.1f s (sha256:$digest)")
      spark.stop()
      return
    }
    val out = if (args.nonEmpty) args(0) else "src/main/resources/graft/bpe_merges.txt"
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    val merges = Bpe.trainDistributed(corpusDf(spark), NumMerges)
    spark.stop()
    val p = java.nio.file.Paths.get(out)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, render(merges).getBytes("UTF-8"))
    println(s"wrote ${merges.size} merges to $out")
  }
}
