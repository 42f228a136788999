package graft.codec

import graft.GraftSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class HashingSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local(2)
  import spark.implicits._

  test("xxh64 matches Spark's built-in xxhash64 (spec conformance)") {
    // Spark's xxhash64 is standard XXH64 with seed 42 over the UTF-8 bytes;
    // agreeing with it on varied lengths validates all code paths (>=32,
    // 8-, 4-, 1-byte tails)
    val samples = Seq("", "a", "abc", "abcd", "abcdefg", "abcdefgh",
      "hello world", "x" * 31, "y" * 32, "z" * 100,
      "the quick brown fox jumps over the lazy dog — ünïcode ✓")
    val sparkHashes = samples.toDF("s")
      .select(col("s"), xxhash64(col("s")).as("h"))
      .as[(String, Long)].collect().toMap
    samples.foreach { s =>
      assert(Hashing.xxh64(s, 42L) == sparkHashes(s), s"mismatch for '$s'")
    }
  }

  test("minhash signature: contained-set property and determinism") {
    val a = "the quick brown fox jumps over the lazy dog near the river"
    val sigA = Hashing.minhashSignature(a, 3, 64)
    assert(sigA.length == 64)
    assert(sigA.toSeq == Hashing.minhashSignature(a, 3, 64).toSeq)
    // identical text → identical signature; disjoint text → different
    val b = "completely different words in this document body entirely"
    assert(Hashing.minhashSignature(b, 3, 64).toSeq != sigA.toSeq)
    // jaccard estimate from signature agreement is sane for a known overlap
    val c = a + " bank" // high overlap
    val sigC = Hashing.minhashSignature(c, 3, 64)
    val agree = sigA.zip(sigC).count { case (x, y) => x == y }
    assert(agree > 40, s"near-dup agreement $agree/64")
  }

  test("simhash64: identical → 0 hamming, near → small, far → large") {
    val a = "the quick brown fox jumps over the lazy dog near the river bank today"
    val b = a.replace("today", "tomorrow")
    val c = "unrelated content about spark catalyst optimizer rules and physical plans"
    val ha = Hashing.simhash64(a, 3)
    assert(ha == Hashing.simhash64(a, 3))
    val dNear = java.lang.Long.bitCount(ha ^ Hashing.simhash64(b, 3))
    val dFar = java.lang.Long.bitCount(ha ^ Hashing.simhash64(c, 3))
    assert(dNear < dFar, s"near=$dNear far=$dFar")
  }

  test("cosineF32 equals sequential double fold") {
    val a = Array(1.0f, 2.5f, -3.0f, 0.125f)
    val b = Array(-0.5f, 1.5f, 2.0f, 4.0f)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    for (i <- a.indices) {
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
    }
    assert(Hashing.cosineF32(a, b) == dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  test("langId equals the split-and-count form on random stopword soups") {
    val stopwords = graft.operators.TextAnalysis.stopwords
    val table = new Hashing.LangTable(stopwords)
    // the four-pass form the one-pass scan replaced
    def splitAndCount(text: String): String = {
      val ts = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      var best = "und"
      var bestScore = 0
      stopwords.keys.toSeq.sorted.foreach { l =>
        val score = ts.count(stopwords(l).contains)
        if (score > bestScore || (score == bestScore && score > 0 && l > best)) {
          bestScore = score; best = l
        }
      }
      best
    }
    val words = stopwords.values.flatten.toSeq ++
      Seq("THE", "Die", "LES", "nichts", "théâtre", "x", "", "\u0130st", "\u03a3")
    val seps = Seq(" ", "\t", "\n", "\u000b", "\f", "\r\n", "  ", "\u00a0", "\u2003", ".", "")
    val rnd = new scala.util.Random(11)
    (0 until 5000).foreach { _ =>
      val text = (0 until rnd.nextInt(30)).map { _ =>
        words(rnd.nextInt(words.length)) + seps(rnd.nextInt(seps.length))
      }.mkString
      assert(Hashing.langId(text, table) == splitAndCount(text), s"'$text'")
    }
  }
}
