package perfbench

/** Writes the board's fixed input tier: the program's own synthetic
  * generator at docScale 1 (sf0.1 size: 5,000 documents, 600,000 lineitem
  * rows, ten tables, one parquet file each). Not seeded: the board's input
  * is the same for every run.
  *
  * Usage: perfbench.Tier <outDir> <cores>
  */
object Tier {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(args(1).toInt)
    spark.sparkContext.setLogLevel("ERROR")
    graft.tools.SfGen.writeAll(spark, args(0), 1)
    spark.stop()
  }
}
