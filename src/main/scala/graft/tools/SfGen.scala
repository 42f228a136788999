package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp

/** Deterministic synthetic scale-factor generator: writes the same ten
  * tables as /root/testdata/sf* (TESTDATA.md) at any scale, matching the
  * driver tables' schemas and value distributions (probed empirically:
  * key ranges, uniform/exponential shapes, vocab, unit-norm embeddings).
  *
  * Purpose: the next-decade sweep (sf1 = 10x the largest driver-provided
  * dir) — shuffle spill, codebook sizes and bucket caps only show one
  * decade up, and /root/testdata is read-only so the tier has to be
  * synthesized. Content is NOT byte-identical to the driver generator
  * (seed streams differ); that is irrelevant to the oracle gate, which
  * compares Spark vs DuckDB over the SAME files.
  *
  * Run: `runMain graft.tools.SfGen <outDir> [docScale]` — docScale 10 =
  * sf1 (50k docs, 6M lineitem, 1M events). Each table lands as a single
  * plain parquet FILE `<outDir>/<table>.parquet` (DuckDB's read_parquet
  * needs a file, not a Spark part-dir).
  */
object SfGen {

  // splitmix64: per-(table,row) streams, no RNG object state to carry
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def u01(z: Long): Double = (z >>> 11) * 1.1102230246251565e-16 // [0,1)
  private def nextIn(seed: Long, i: Int): Long = mix(seed + i * 0x632be59bd9b4e019L)

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  final case class Emb(vec_id: Long, embedding: Array[Float], label: Int)
  final case class Li(l_orderkey: Long, l_partkey: Long, l_suppkey: Long, l_linenumber: Int,
                      l_quantity: Double, l_extendedprice: Double, l_discount: Double,
                      l_tax: Double, l_returnflag: String, l_linestatus: String,
                      l_shipdate: Timestamp)
  final case class Ord(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
                       o_totalprice: Double, o_orderdate: Timestamp, o_orderpriority: String)
  final case class Cust(c_custkey: Long, c_name: String, c_nationkey: Int,
                        c_acctbal: Double, c_mktsegment: String)
  final case class Part(p_partkey: Long, p_name: String, p_brand: String, p_type: String,
                        p_size: Int, p_retailprice: Double)
  final case class Supp(s_suppkey: Long, s_name: String, s_nationkey: Int, s_acctbal: Double)
  final case class Nat(n_nationkey: Int, n_name: String, n_regionkey: Int)
  final case class Reg(r_regionkey: Int, r_name: String)
  final case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String,
                      value: Double, props: String)

  private val Vocab = Array("a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")
  private val Langs = Array("en", "zh", "es", "fr", "de")
  private val Segments = Array("FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val PartAdjs = Array("large", "hot", "blue", "red", "green", "small", "dim", "shiny")
  private val PartNouns = Array("ring", "bolt", "nut", "gear", "cog", "pin", "rod", "cap")
  private val PartTypes = Array("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO")
  private val EventTypes = Array("error", "view", "signup", "purchase", "click")
  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val RetFlags = Array("N", "A", "R")
  private val OrdStatus = Array("O", "F", "P")

  private val DayMs = 86400000L
  private def dayTs(epochDay: Long): Timestamp = new Timestamp(epochDay * DayMs)
  // 1995-01-01 and the observed ship/order windows
  private val D1995 = java.time.LocalDate.of(1995, 1, 1).toEpochDay
  private val ShipDays = 2499L  // ..2001-11-04
  private val OrderDays = 2404L // ..2001-08-01
  private val EventsStartMs = java.time.LocalDate.of(2024, 1, 1).toEpochDay * DayMs
  private val EventsSpanMs = 30L * DayMs

  def documents(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).mapPartitions(_.map { id =>
      val s = mix(id * 31 + 7)
      // ~0.16% of docs collapse onto one of 7 shared texts (the driver
      // plants a few exact dups; dedup queries add their own on top)
      val text =
        if (u01(nextIn(s, 0)) < 0.0016) s"dup window dup table dup ${id % 7} dup"
        else {
          val nWords = 10 + (nextIn(s, 1) >>> 33).toInt % 91
          val sb = new StringBuilder
          var i = 0
          while (i < nWords) {
            if (i > 0) sb.append(' ')
            sb.append(Vocab(((nextIn(s, 2 + i) >>> 33) % Vocab.length).toInt))
            i += 1
          }
          sb.toString
        }
      val lr = (nextIn(s, 200) >>> 33) % 100
      val lang = if (lr < 41) "en" else Langs(1 + ((lr - 41) % 4).toInt)
      Doc(id, text, lang, s"src${id % 20}", text.length.toLong)
    }).toDF()
  }

  def embeddings(spark: SparkSession, n: Long, dim: Int = 64): DataFrame = {
    import spark.implicits._
    spark.range(n).mapPartitions(_.map { id =>
      val s = mix(id * 53 + 11)
      val v = new Array[Float](dim)
      var i = 0
      var norm = 0.0
      while (i < dim) { // Box-Muller pairs
        val u1 = math.max(u01(nextIn(s, 2 * i)), 1e-12)
        val u2 = u01(nextIn(s, 2 * i + 1))
        val g = math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
        v(i) = g.toFloat
        norm += g * g
        i += 1
      }
      val inv = (1.0 / math.sqrt(norm)).toFloat
      i = 0
      while (i < dim) { v(i) *= inv; i += 1 }
      Emb(id, v, ((nextIn(s, 999) >>> 33) % 10).toInt)
    }).toDF()
  }

  def lineitem(spark: SparkSession, n: Long, nOrders: Long, nParts: Long, nSupp: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).mapPartitions(_.map { id =>
      val s = mix(id * 17 + 3)
      Li(
        l_orderkey = (nextIn(s, 0) >>> 1) % nOrders,
        l_partkey = (nextIn(s, 1) >>> 1) % nParts,
        l_suppkey = (nextIn(s, 2) >>> 1) % nSupp,
        l_linenumber = 1 + ((nextIn(s, 3) >>> 33) % 7).toInt,
        l_quantity = (1 + (nextIn(s, 4) >>> 33) % 50).toDouble,
        l_extendedprice = math.rint((900.0 + u01(nextIn(s, 5)) * 104100.0) * 100) / 100,
        l_discount = ((nextIn(s, 6) >>> 33) % 11).toInt / 100.0,
        l_tax = ((nextIn(s, 7) >>> 33) % 9).toInt / 100.0,
        l_returnflag = RetFlags(((nextIn(s, 8) >>> 33) % 3).toInt),
        l_linestatus = if ((nextIn(s, 9) & 1) == 0) "O" else "F",
        l_shipdate = dayTs(D1995 + (nextIn(s, 10) >>> 33) % ShipDays))
    }).toDF()
  }

  def orders(spark: SparkSession, n: Long, nCust: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).mapPartitions(_.map { id =>
      val s = mix(id * 29 + 5)
      Ord(id, (nextIn(s, 0) >>> 1) % nCust,
        OrdStatus(((nextIn(s, 1) >>> 33) % 3).toInt),
        math.rint((1000.0 + u01(nextIn(s, 2)) * 499000.0) * 100) / 100,
        dayTs(D1995 + (nextIn(s, 3) >>> 33) % OrderDays),
        Priorities(((nextIn(s, 4) >>> 33) % 5).toInt))
    }).toDF()
  }

  def customer(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).mapPartitions(_.map { id =>
      val s = mix(id * 41 + 13)
      Cust(id, f"Customer#$id%09d", ((nextIn(s, 0) >>> 33) % 25).toInt,
        math.rint((-1000.0 + u01(nextIn(s, 1)) * 11000.0) * 100) / 100,
        Segments(((nextIn(s, 2) >>> 33) % 5).toInt))
    }).toDF()
  }

  def part(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).mapPartitions(_.map { id =>
      val s = mix(id * 47 + 19)
      Part(id,
        PartAdjs(((nextIn(s, 0) >>> 33) % 8).toInt) + " " +
          PartNouns(((nextIn(s, 1) >>> 33) % 8).toInt),
        s"Brand#${1 + ((nextIn(s, 2) >>> 33) % 25).toInt}",
        PartTypes(((nextIn(s, 3) >>> 33) % 6).toInt),
        1 + ((nextIn(s, 4) >>> 33) % 50).toInt,
        900.0 + (id % 1000) * 0.1)
    }).toDF()
  }

  def supplier(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).mapPartitions(_.map { id =>
      val s = mix(id * 59 + 23)
      Supp(id, f"Supplier#$id%09d", ((nextIn(s, 0) >>> 33) % 25).toInt,
        math.rint((-1000.0 + u01(nextIn(s, 1)) * 11000.0) * 100) / 100)
    }).toDF()
  }

  def nation(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0 until 25).map(i => Nat(i, s"NATION_$i", i % 5)).toDF()
  }

  def region(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Regions.zipWithIndex.map { case (r, i) => Reg(i, r) }.toSeq.toDF()
  }

  def events(spark: SparkSession, n: Long, nUsers: Long): DataFrame = {
    import spark.implicits._
    val stepUs = EventsSpanMs * 1000L / n
    spark.range(n).mapPartitions(_.map { id =>
      val s = mix(id * 61 + 29)
      val tsUs = EventsStartMs * 1000L + id * stepUs + (nextIn(s, 0) >>> 33) % stepUs
      Ev(id, new Timestamp(tsUs / 1000L), (nextIn(s, 1) >>> 1) % nUsers,
        EventTypes(((nextIn(s, 2) >>> 33) % 5).toInt),
        math.rint(-math.log(math.max(u01(nextIn(s, 3)), 1e-12)) * 50.0 * 100) / 100,
        s"""{"k": ${(nextIn(s, 4) >>> 33) % 100}}""")
    }).toDF()
  }

  /** Write `df` as ONE plain parquet file at `<out>/<name>.parquet`. */
  private def writeOne(df: DataFrame, out: String, name: String): Unit = {
    val tmp = s"$out/.tmp_$name"
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
    val ls = Files.list(Paths.get(tmp))
    val partFile = try ls.toArray.map(_.toString)
      .find(p => p.endsWith(".parquet") && p.contains("part-")).get
    finally ls.close()
    Files.move(Paths.get(partFile), Paths.get(s"$out/$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    // scrub the Spark part-dir
    graft.LocalFiles.deleteRec(new java.io.File(tmp))
    println(s"wrote $out/$name.parquet")
  }

  def writeAll(spark: SparkSession, out: String, docScale: Int): Unit = {
    Files.createDirectories(Paths.get(out))
    val nDocs = 5000L * docScale
    val nEmb = 2000L * docScale
    val nLi = 600000L * docScale
    val nOrd = 150000L * docScale
    val nCust = 15000L * docScale
    val nPart = 20000L * docScale
    val nSupp = 1000L * docScale
    val nEv = 100000L * docScale
    writeOne(documents(spark, nDocs), out, "documents")
    writeOne(embeddings(spark, nEmb), out, "embeddings")
    writeOne(lineitem(spark, nLi, nOrd, nPart, nSupp), out, "lineitem")
    writeOne(orders(spark, nOrd, nCust), out, "orders")
    writeOne(customer(spark, nCust), out, "customer")
    writeOne(part(spark, nPart), out, "part")
    writeOne(supplier(spark, nSupp), out, "supplier")
    writeOne(nation(spark), out, "nation")
    writeOne(region(spark), out, "region")
    writeOne(events(spark, nEv, nCust / 10), out, "events")
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft-sf1")
    val docScale = if (args.length > 1) args(1).toInt else 10 // 10 = sf1
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    writeAll(spark, out, docScale)
    spark.stop()
  }
}
