package graft.operators

import graft.GraftSession
import graft.sources.PagesGen
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextAnalysisSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  test("quality metrics match scala string ops") {
    val docs = Seq(
      (0L, "Hello, World! 123 foo"),
      (1L, ""),
      (2L, "   "),
      (3L, "a b  c\td\ne")).toDF("doc_id", "text")
    val out = TextAnalysis.qualityMetrics(docs)
      .select("doc_id", "n_chars_m", "alpha_chars", "digit_chars", "punct_chars", "n_tokens")
      .as[(Long, Int, Int, Int, Int, Int)].collect().sortBy(_._1)
    assert(out(0) == ((0L, 21, 13, 3, 2, 4)))
    assert(out(1) == ((1L, 0, 0, 0, 0, 0)))
    assert(out(2) == ((2L, 3, 0, 0, 0, 0)))
    assert(out(3) == ((3L, 10, 5, 0, 0, 5)))
  }

  test("subwordCount kernel == regex-split form == regexp_extract_all oracle") {
    // tabs/newlines count as pieces (only ASCII space is skipped), unicode
    // counts per CODEPOINT (astral chars once), runs collapse to one piece
    val texts = Seq(
      "", "   ", "hello world", "Hello, World! 123 foo",
      "a\tb\nc", "a,,b..c", "...", "x9y", "9x 9y",
      "café au lait", "ééé",
      "tab\tand\nnewline pieces", "trailing space ", " leading",
      "MiXeD123cAsE456", "a  b   c")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = docs.select(col("doc_id"), TextAnalysis.subwordCount(col("text")).as("n"))
      .as[(Long, Int)].collect().toMap
    // the retired lookaround-regex split (semantics pin)
    val old = docs.select(col("doc_id"),
        size(filter(split(col("text"), "(?<=[^a-zA-Z0-9])|(?=[^a-zA-Z0-9])"),
          t => length(trim(t)) > 0)).as("n"))
      .as[(Long, Int)].collect().toMap
    // the DuckDB oracle expression, replayed in Spark SQL form
    docs.createOrReplaceTempView("swc_docs")
    val oracle = spark.sql(
      """SELECT doc_id, CAST(size(regexp_extract_all(text, '[a-zA-Z0-9]+', 0)) +
        |  size(regexp_extract_all(text, '[^a-zA-Z0-9 ]', 0)) AS INT) AS n
        |FROM swc_docs""".stripMargin)
      .as[(Long, Int)].collect().toMap
    texts.indices.foreach { i =>
      assert(got(i.toLong) == old(i.toLong), s"kernel != regex split on '${texts(i)}'")
      assert(got(i.toLong) == oracle(i.toLong), s"kernel != oracle on '${texts(i)}'")
    }
    // astral codepoints count ONCE, like DuckDB's RE2 per-codepoint class
    // match (the retired Java-regex split counted each surrogate CHAR,
    // giving 2 per astral codepoint — a divergence from the DuckDB oracle
    // the kernel fixes; Spark's regexp_extract_all shares that defect, so
    // neither retired form is compared here)
    val astral = Seq((0L, "a😀b")).toDF("doc_id", "text")
      .select(TextAnalysis.subwordCount(col("text"))).as[Int].collect()(0)
    assert(astral == 3)
    // null text degrades to null (matches the SQL oracle's NULL arithmetic)
    val nulled = Seq((0L, null: String)).toDF("doc_id", "text")
      .select(TextAnalysis.subwordCount(col("text"))).collect()(0)
    assert(nulled.isNullAt(0))
  }

  test("qualityCounts fused kernel == the five retired expression forms") {
    // edge matrix: tabs/newlines (Java \s but not trim'd), multiple spaces,
    // leading/trailing space vs tab, unicode (astral counts once), empties,
    // every punct-class char, digits/alpha runs
    val texts = Seq(
      "", " ", "   ", "a", " a ", "\ta b\t", "a\tb\nc", "a  b   c",
      "Hello, World! 123 foo", ".,;:!?'\"()-", "café au lait 42", "ééé",
      "a😀b", "line one\nline two\r\nline three", "trailing space ",
      " leading space", "\t", "mixed \t \n ws", "(paren) - dash 'quote'")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = TextAnalysis.qualityMetrics(docs)
      .select("doc_id", "n_chars_m", "alpha_chars", "digit_chars", "punct_chars", "n_tokens")
      .as[(Long, Int, Int, Int, Int, Int)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5, r._6)).toMap
    val old = docs.select(col("doc_id"),
        length(col("text")), TextAnalysis.alphaChars(col("text")),
        TextAnalysis.digitChars(col("text")), TextAnalysis.punctChars(col("text")),
        TextAnalysis.tokenCount(col("text")))
      .as[(Long, Int, Int, Int, Int, Int)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5, r._6)).toMap
    texts.indices.foreach { i =>
      assert(got(i.toLong) == old(i.toLong),
        s"kernel != expression forms on '${texts(i).replace("\n", "\\n").replace("\t", "\\t")}'")
    }
    // null text degrades to all-null, like the SQL oracle's NULL arithmetic
    val nulled = TextAnalysis.qualityMetrics(
        Seq((0L, null: String)).toDF("doc_id", "text"))
      .select("n_chars_m", "alpha_chars", "digit_chars", "punct_chars", "n_tokens")
      .collect()(0)
    (0 until 5).foreach(j => assert(nulled.isNullAt(j)))
  }

  test("gopherRules: empty/whitespace docs get 0.0 ratios, never null") {
    val docs = Seq(
      (0L, "two short words"),
      (1L, ""),
      (2L, "   \t  "),
      (3L, "### ...")).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(docs)
      .as[(Long, Int, Double, Double, Double)].collect().sortBy(_._1)
    assert(out(0) == ((0L, 3, 13.0 / 3, 1.0, 0.0)))
    assert(out(1) == ((1L, 0, 0.0, 0.0, 0.0)), "empty doc must be 0.0, not null")
    assert(out(2) == ((2L, 0, 0.0, 0.0, 0.0)), "whitespace doc must be 0.0, not null")
    assert(out(3)._2 == 2 && out(3)._5 == 2.0) // 3 hashes + 1 ellipsis over 2 words
  }

  test("langId detects the generator's language on non-empty docs") {
    val pages = PagesGen.pages(spark, 2000, 20, 42L).toDF()
      .filter(length(col("text")) > 0 && col("lang").isin("en", "fr", "de", "ja"))
    val scored = pages.withColumn("pred", TextAnalysis.langId(col("text")))
    val total = scored.count()
    val correct = scored.filter(col("pred") === col("lang")).count()
    assert(total > 500)
    assert(correct.toDouble / total > 0.95, s"langId accuracy $correct/$total")
  }

  test("langId returns und for stopword-free text") {
    val out = Seq("zzz qqq xxx 12345").toDF("text")
      .select(TextAnalysis.langId(col("text"))).as[String].head()
    assert(out == "und")
  }

  test("langId kernel equals the declarative greatest(struct) formulation") {
    val pages = PagesGen.pages(spark, 1500, 20, 42L).toDF()
    val mism = pages
      .withColumn("a", TextAnalysis.langId(col("text")))
      .withColumn("b", TextAnalysis.langIdDeclarative(col("text")))
      .filter(col("a") =!= col("b"))
      .count()
    assert(mism == 0L, "kernel and declarative langId must agree incl. tie rules")
  }

  test("langId kernel equals the declarative form on adversarial whitespace, case and ties") {
    val texts = Seq(
      "the\tand\u000bof\fto\r\nin le", // every regex-\s separator
      "the\u00a0and\u00a0of le la", // NBSP is not \s: one token, fr wins
      "the\u2003and\u2003of le la", // EM SPACE neither
      "THE AND OF LE", "DER D\u0130E DAS \u0130ST THE", "\u0130 the",
      "the le", "der the", "the le der これ", "le la der die", // ties
      "これ は ペン です", "これ\tです\nそれ the and",
      "", " ", " \t\n\r\f\u000b ", "\u00a0", "  the  and  ",
      "nicht nichts nicht. nicht", "zzz qqq")
    val out = texts.zipWithIndex.toDF("text", "i")
      .select(col("i"), TextAnalysis.langId(col("text")).as("a"),
        TextAnalysis.langIdDeclarative(col("text")).as("b"))
      .as[(Int, String, String)].collect().sortBy(_._1)
    out.foreach { case (i, a, b) => assert(a == b, s"text ${i}: '${texts(i)}'") }
    val want = Map(0 -> "en", 1 -> "fr", 2 -> "fr", 3 -> "en", 6 -> "fr", 7 -> "en",
      8 -> "ja", 9 -> "fr", 10 -> "ja", 11 -> "ja", 12 -> "und", 13 -> "und",
      14 -> "und", 15 -> "und", 16 -> "en", 17 -> "de", 18 -> "und")
    want.foreach { case (i, l) => assert(out(i)._2 == l, s"text $i: '${texts(i)}'") }
  }

  test("fingerprint is deterministic and collision-resistant on distinct docs") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "a completely different document body with other words entirely")).toDF("doc_id", "text")
    val fps = docs.select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .as[(Long, String)].collect().toMap
    assert(fps(0L) == fps(1L))
    assert(fps(0L) != fps(2L))
  }
}

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  lazy val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()

  private def localTopK(queries: Seq[(Long, Array[Float])],
                        corpus: Seq[(Long, Array[Float])], k: Int): Map[Long, Seq[Long]] = {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    queries.map { case (qid, qv) =>
      qid -> corpus.filter(_._1 != qid)
        .map { case (cid, cv) => (cid, cos(qv, cv)) }
        .sortBy { case (cid, c) => (-c, cid) }.take(k).map(_._1)
    }.toMap
  }

  test("brute-force top-k matches a local double-precision oracle") {
    val queries = embs.filter(col("vec_id") < 5)
    val got = Similarity.bruteForceTopK(queries, embs, k = 10)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect()
      .groupBy(_._1).map { case (q, rows) => q -> rows.sortBy(_._3).map(_._2).toSeq }
    val local = embs.select("vec_id", "embedding").as[(Long, Array[Float])].collect().toSeq
    val want = localTopK(local.filter(_._1 < 5), local, 10)
    assert(got == want)
  }

  test("IVF top-k achieves high recall vs brute force") {
    val queries = embs.filter(col("vec_id") < 20)
    val cents = Similarity.initCentroids(embs, nCells = 16, "vec_id", "embedding")
    val indexed = Similarity.ivfAssign(embs, cents).cache()
    assert(indexed.count() == embs.count(), "every vector lands in exactly one cell")
    val ivf = Similarity.ivfTopK(queries, indexed, cents, k = 10, nProbe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brute = Similarity.bruteForceTopK(queries, embs, k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = brute.map { case (q, truth) =>
      ivf.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val meanRecall = recalls.sum / recalls.size
    assert(meanRecall >= 0.6, f"IVF mean recall@10 = $meanRecall%.2f (nProbe=8/16 cells)")
  }

  test("refineCentroids: fixed-point Lloyd matches a sequential replay at any parallelism") {
    // 3 tight clusters in 4-d; init deliberately poor (hash-min sample)
    val base = Seq(
      Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f), Array(0f, 0f, 1f, 1f))
    val corpus = (0L until 60L).map { i =>
      val b = base((i % 3).toInt)
      (i, b.zipWithIndex.map { case (x, d) =>
        x + ((i * 31 + d * 7) % 11 - 5).toFloat / 64f })
    }
    val df = corpus.toDF("vec_id", "embedding")
    val cents0 = Similarity.initCentroids(df, nCells = 3, "vec_id", "embedding")
    val refined = Similarity.refineCentroids(df, cents0, iterations = 3)
      .as[(Long, Array[Float])].collect().sortBy(_._1)

    // sequential replay of the same fixed-point formula
    val scale = (1L << 20).toDouble
    var cents = cents0.as[(Long, Array[Float])].collect().sortBy(_._1)
    (1 to 3).foreach { _ =>
      val ids = cents.map(_._1)
      val vecs = cents.map(_._2)
      val members = corpus.groupBy { case (_, v) =>
        var best = 0; var bestCos = -2.0
        vecs.zipWithIndex.foreach { case (c, i) =>
          val cos = graft.codec.Hashing.cosineF32(v, c)
          if (cos > bestCos) { bestCos = cos; best = i }
        }
        ids(best)
      }
      cents = cents.map { case (id, prev) =>
        members.get(id) match {
          case Some(ms) =>
            id -> prev.indices.map { d =>
              val s = ms.map(m => math.round(m._2(d).toDouble * scale)).sum
              ((s / ms.size) / scale).toFloat
            }.toArray
          case None => id -> prev
        }
      }
    }
    assert(refined.map(_._1).toSeq == cents.map(_._1).toSeq)
    refined.zip(cents).foreach { case ((id, got), (_, want)) =>
      assert(got.toSeq == want.toSeq, s"cell $id diverged from the sequential replay")
    }
    // bitwise invariant to input partitioning (integer sums reorder freely)
    val refined2 = Similarity.refineCentroids(df.repartition(7), cents0, iterations = 3)
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    assert(refined2.map(_._2.toSeq).toSeq == refined.map(_._2.toSeq).toSeq)
    // (no cluster-recovery assertion: Lloyd converges to a LOCAL optimum —
    // a hash-min init that samples one cluster twice legitimately keeps it
    // split; the contract here is bitwise determinism, not global optima)
  }

  test("refineCentroids at a 4096-cell codebook: rebuild stays executor-side") {
    // 8192 vectors in 8-d, one init cell per pair — a codebook too large
    // for any driver-built LocalRelation path to be acceptable
    val corpus = spark.range(8192L)
      .selectExpr("id as vec_id",
        "transform(sequence(0, 7), d -> cast(((id * 31 + d * 7) % 17 - 8) / 8.0 as float)) as embedding")
    val cents0 = Similarity.initCentroids(corpus, nCells = 4096, "vec_id", "embedding")
    val refined = Similarity.refineCentroids(corpus, cents0, iterations = 1)
    // structural evidence of the executor-side rebuild: the result is a
    // checkpoint/file scan (join output), never a driver-collected
    // LocalRelation like the old collect()-and-toDF path
    val locals = refined.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }
    assert(locals.isEmpty, "refined codebook must not be a driver-built LocalRelation")
    assert(refined.count() == 4096L)
    // empty-cell fallback: every cell id survives with a full-width vector
    assert(refined.selectExpr("size(centroid)").distinct().collect().map(_.getInt(0)).toSeq == Seq(8))
  }

  test("IVF recall does not regress with Lloyd-refined centroids") {
    val queries = embs.filter(col("vec_id") < 20)
    val cents0 = Similarity.initCentroids(embs, nCells = 16, "vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(queries, embs, k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recall(cents: org.apache.spark.sql.DataFrame): Double = {
      val indexed = Similarity.ivfAssign(embs, cents)
      val ivf = Similarity.ivfTopK(queries, indexed, cents, k = 10, nProbe = 8)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      brute.map { case (q, truth) =>
        ivf.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
      }.sum / brute.size
    }
    val raw = recall(cents0)
    val refined = recall(Similarity.refineCentroids(embs, cents0, iterations = 3))
    assert(refined >= raw - 0.02,
      f"refinement regressed recall: raw=$raw%.3f refined=$refined%.3f")
    assert(refined >= 0.6, f"refined recall@10 = $refined%.3f")
  }

  test("int8-quantized top-k: high recall and tight cosine error vs full precision") {
    val queries = embs.filter(col("vec_id") < 20)
    val quant = Similarity.quantizedTopK(queries, embs, k = 10)
      .select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)].collect()
    val brute = Similarity.bruteForceTopK(queries, embs, k = 10)
      .select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)].collect()
    val bruteSets = brute.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val quantSets = quant.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = bruteSets.map { case (q, truth) =>
      quantSets.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    assert(recalls.sum / recalls.size >= 0.9,
      f"quantized mean recall@10 = ${recalls.sum / recalls.size}%.2f")
    // per-pair cosine error of 8-bit quantization stays small
    val bruteCos = brute.map(r => (r._1, r._2) -> r._3).toMap
    quant.foreach { case (q, n, c) =>
      bruteCos.get((q, n)).foreach(full =>
        assert(math.abs(full - c) < 0.02, s"pair ($q,$n): |$full - $c| >= 0.02"))
    }
    // quantized values are genuinely 8-bit-range integers, and the codegen
    // kernel equals the declarative HOF formulation element-for-element
    val both = embs.select(
      Similarity.quantize(col("embedding")).as("q"),
      Similarity.quantizeDeclarative(col("embedding")).as("d"))
      .as[(Array[Float], Array[Float])].collect()
    both.foreach { case (q, d) =>
      assert(q.toSeq == d.toSeq, "kernel != declarative")
      q.foreach { v =>
        assert(v == math.rint(v), s"non-integer $v")
        assert(math.abs(v) <= 127f, s"out of int8 range: $v")
      }
    }
    assert(both.exists(_._1.exists(_ != 0f)))
  }
}

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  lazy val media = Seq(
    (0L, Array.fill[Byte](10000)(1)),
    (1L, Array.fill[Byte](300)(2)),
    (2L, Array.empty[Byte])).toDF("doc_id", "media")

  test("batch decode: real ImageIO metadata for images, typed fallbacks otherwise") {
    val png = Multimodal.syntheticPng(37, 21, seed = 5L)
    val mixed = Seq(
      (0L, png),
      (1L, Array.fill[Byte](300)(2)), // not an image → stub, invalid
      (2L, Array.empty[Byte])).toDF("doc_id", "media")
    val out = Multimodal.decode(spark, mixed).collect().sortBy(_.doc_id)
    assert(out(0).meta.format == "png" && out(0).meta.width == 37 &&
      out(0).meta.height == 21 && out(0).meta.valid)
    assert(!out(1).meta.valid && out(1).meta.format == "unknown")
    assert(out(2).meta.byte_len == 0L && !out(2).meta.valid && out(2).meta.format == "empty")
    val out2 = Multimodal.decode(spark, mixed).collect().sortBy(_.doc_id)
    assert(out.map(_.meta).toSeq == out2.map(_.meta).toSeq)
  }

  test("decode: jpeg roundtrip and corrupt-image classification") {
    val img = new java.awt.image.BufferedImage(24, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val jpeg = bos.toByteArray
    val corrupt = jpeg.take(8) ++ Array.fill[Byte](4)(0) // valid magic, broken header
    val out = Multimodal.decode(spark,
      Seq((0L, jpeg), (1L, corrupt)).toDF("doc_id", "media")).collect().sortBy(_.doc_id)
    assert(out(0).meta.format.startsWith("jp") && out(0).meta.width == 24 && out(0).meta.valid)
    assert(!out(1).meta.valid)
  }

  test("resize: integer-math dims, pass-through within bounds, solid color preserved") {
    // oversized: 40x20 → longest side 12 → (40*12/40, 20*12/40) = (12, 6)
    val big = Multimodal.syntheticSolidPng(40, 20, 0x405060)
    val resized = Multimodal.resizeOne(big, maxDim = 12)
    val f = Multimodal.featuresOne(resized)
    assert((f.width, f.height) == (12, 6))
    assert((f.avg_r, f.avg_g, f.avg_b) == (0x40, 0x50, 0x60), "solid color survives any kernel")
    // within bounds: untouched bytes
    val small = Multimodal.syntheticSolidPng(8, 5, 0x010203)
    assert(Multimodal.resizeOne(small, maxDim = 12) eq small)
    // undecodable → null
    assert(Multimodal.resizeOne(Array[Byte](1, 2, 3), maxDim = 12) == null)
    // distributed transform shape
    import spark.implicits._
    val media = Seq((1L, big), (2L, small)).toDF("doc_id", "media")
    val rows = Multimodal.transform(spark, media, maxDim = 12).collect().sortBy(_.doc_id)
    assert(rows.map(r => (r.doc_id, r.width, r.height)).toSeq ==
      Seq((1L, 12, 6), (2L, 8, 5)))
    assert(rows.forall(_.valid))
  }

  test("frame sampling: stride-spaced chunks with exact byte math") {
    val out = Multimodal.sampleFrames(media, chunkSize = 1000, stride = 4)
      .select("doc_id", "frame_idx", "frame")
      .as[(Long, Int, Array[Byte])].collect()
    val doc0 = out.filter(_._1 == 0L).sortBy(_._2)
    assert(doc0.map(_._2).toSeq == Seq(0, 4, 8)) // 10 chunks, stride 4
    assert(doc0.forall { case (_, i, f) => f.length == (if (i == 8) 1000 else 1000) })
    val doc1 = out.filter(_._1 == 1L)
    assert(doc1.length == 1 && doc1.head._3.length == 300)
  }

  test("audio decode: real WAV/AIFF parse + exact square-wave features") {
    val wav = Multimodal.syntheticWav(nFrames = 240, sampleRate = 16000,
      amplitude = 1234, channels = 2)
    val m = Multimodal.decodeAudioOne(wav)
    assert(m == Multimodal.AudioMeta(wav.length.toLong, "wave", 2, 16000, 240L, valid = true))
    val f = Multimodal.audioFeaturesOne(wav)
    assert(f.channels == 2 && f.sample_rate == 16000 && f.n_frames == 240L)
    assert(f.rms == 1234.0, s"square-wave RMS must be exactly the amplitude, got ${f.rms}")
    assert(f.peak == 1234 && f.valid)
    // a second REAL container: round-trip the same PCM through the JDK's
    // AIFF writer (big-endian path) — features identical
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.BufferedInputStream(new java.io.ByteArrayInputStream(wav)))
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.AIFF, bos)
    val aiff = bos.toByteArray
    val ma = Multimodal.decodeAudioOne(aiff)
    assert(ma.format == "aiff" && ma.channels == 2 && ma.n_frames == 240L && ma.valid)
    val fa = Multimodal.audioFeaturesOne(aiff)
    assert(fa.rms == 1234.0 && fa.peak == 1234)
    // garbage is classified, not crashed
    assert(!Multimodal.decodeAudioOne(Array[Byte](1, 2, 3, 4)).valid)
    assert(!Multimodal.audioFeaturesOne(Array[Byte](1, 2, 3, 4)).valid)
  }

  test("mp4 container parse: real box walking, closed-form fields, garbage classified") {
    val mp4 = Multimodal.syntheticMp4(timescale = 1200, duration = 60000,
      w = 640, h = 360, nTracks = 2, payloadLen = 500, seed = 9L)
    val m = Multimodal.parseMp4One(mp4)
    assert(m == Multimodal.Mp4Meta(mp4.length.toLong, "isom", 1200,
      60000L * 1000 / 1200, 640, 360, 2, valid = true))
    // truncated file: the walker stops at the buffer edge — invalid, no crash
    assert(!Multimodal.parseMp4One(java.util.Arrays.copyOf(mp4, 40)).valid)
    assert(!Multimodal.parseMp4One("not a video at all".getBytes("UTF-8")).valid)
    assert(!Multimodal.parseMp4One(Multimodal.syntheticPng(8, 8, 1L)).valid)
    assert(!Multimodal.parseMp4One(null).valid)
  }

  test("repartitionByBytes: real bin-packing bounds every partition's bytes") {
    // adversarial skew: a few huge payloads among many small ones
    val target = 120000L
    val skewed = (0L until 100L).map(i =>
      (i, Array.fill[Byte](if (i < 5) 100000 else 100)(0))).toDF("doc_id", "media")
      .repartition(3) // multiple input partitions for the prefix-sum path
    val out = Multimodal.repartitionByBytes(skewed, targetBytesPerPartition = target)
    assert(out.count() == 100L, "no rows lost")
    val perPartBytes = out
      .select(org.apache.spark.sql.functions.spark_partition_id().as("p"),
        length(col("media")).cast("long").as("len"))
      .groupBy("p").agg(org.apache.spark.sql.functions.sum("len").as("bytes"))
      .as[(Int, Long)].collect()
    assert(perPartBytes.length >= 4, "big payloads must spread over partitions")
    val maxRow = 100000L
    perPartBytes.foreach { case (p, bytes) =>
      assert(bytes <= target + maxRow,
        s"partition $p holds $bytes B > target+maxRow — packing property violated")
    }
    // and the packing is tight: total/nParts within 2× of target
    assert(perPartBytes.map(_._2).sum == 5 * 100000L + 95 * 100L)
  }

  test("repartitionByBytes: bucket assignment invariant to input partitioning") {
    // the t08 discipline: the plan executes twice (offset aggregate +
    // routing pass), so bucket assignment must be a pure function of the
    // id domain — identical under different upstream partition counts,
    // orderings, and prefix-group widths
    val target = 50000L
    val rows = (0L until 200L).map(i =>
      (i, Array.fill[Byte]((100 + (i * 37) % 9000).toInt)(0)))
    def buckets(np: Int, shuffle: Boolean, parts: Int): Map[Long, Int] = {
      var df = rows.toDF("doc_id", "media").repartition(np)
      if (shuffle) df = df.orderBy(col("doc_id").desc) // adversarial order
      Multimodal.repartitionByBytes(df, target, partitions = parts)
        .select(org.apache.spark.sql.functions.spark_partition_id().as("b"), col("doc_id"))
        .as[(Int, Long)].collect().map { case (b, id) => id -> b }.toMap
    }
    val ref = buckets(np = 3, shuffle = false, parts = 4)
    assert(ref.size == 200)
    assert(buckets(np = 11, shuffle = true, parts = 4) == ref,
      "bucket map changed under different input partitioning/order")
    assert(buckets(np = 1, shuffle = false, parts = 7) == ref,
      "bucket map changed under different prefix-group width")
    // ids are packed contiguously: each bucket is one contiguous id range
    val byBucket = ref.groupBy(_._2).view.mapValues(_.keys.toSeq.sorted).toMap
    byBucket.foreach { case (b, ids) =>
      assert(ids.last - ids.head + 1 == ids.length, s"bucket $b ids not contiguous")
    }
  }

  test("repetition signals match a scala brute force, edge docs score 0") {
    val docs = Seq(
      (0L, "spam spam spam spam spam spam"),         // top2=5/5, dup5=2/2
      (1L, "a b a b a b c"),                          // "a b" 3× of 6 2-grams
      (2L, "all distinct words here today friend"),   // no repeats
      (3L, "one two"),                                // 1 2-gram, no 5-gram
      (4L, "short"),                                  // no grams at all
      (5L, "")                                        // empty
    ).toDF("doc_id", "text")
    def brute(t: String): (Double, Double) = {
      val ws = t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
      def fr(n: Int, dup: Boolean): Double = {
        if (ws.length < n) return 0.0
        val cnts = ws.sliding(n).map(_.mkString(" ")).toSeq.groupBy(identity).map(_._2.size)
        val tot = cnts.sum.toDouble
        if (dup) cnts.filter(_ > 1).sum / tot else cnts.max / tot
      }
      (fr(2, dup = false), fr(5, dup = true))
    }
    val expect = docs.as[(Long, String)].collect().map { case (id, t) => id -> brute(t) }.toMap
    val got = TextAnalysis.repetitionSignals(docs)
      .as[(Long, Double, Double)].collect()
    assert(got.length == expect.size)
    got.foreach { case (id, t2, d5) =>
      assert((t2, d5) == expect(id), s"doc $id: ($t2,$d5) expected ${expect(id)}")
    }
    val m = got.map(g => g._1 -> ((g._2, g._3))).toMap
    assert(m(0L) == ((1.0, 1.0)) && m(2L)._1 < 0.5 && m(4L) == ((0.0, 0.0)))
  }

  test("packSequences: greedy-by-start packing equals a sequential brute force across partitions") {
    val cap = 10L
    // token counts chosen to straddle partition AND sequence boundaries
    val docs = (0L until 37L).map { i =>
      val n = (i * 7 % 9 + 1).toInt // 1..9 tokens
      (i, Seq.fill(n)(s"w$i").mkString(" "))
    }
    val out = TextAnalysis.packSequences(
      docs.toDF("doc_id", "text"), cap, partitions = 5)
      .as[(Long, Long, Long, Int)].collect().sortBy(_._1)
    // sequential brute force: doc goes to the sequence where its exclusive
    // prefix sum lands
    var acc = 0L
    val expect = docs.map { case (id, t) =>
      val n = t.split(" ").length.toLong
      val seq = acc / cap
      acc += n
      (id, n, seq)
    }
    val posCtr = scala.collection.mutable.Map.empty[Long, Int]
    val expectFull = expect.map { case (id, n, seq) =>
      val p = posCtr.getOrElse(seq, 0) + 1
      posCtr(seq) = p
      (id, n, seq, p)
    }
    assert(out.toSeq == expectFull)
    // the packing is tight: every sequence except possibly the last starts
    // below the cap (greedy-by-start invariant)
    val starts = expect.groupBy(_._3).view.mapValues(_.map(_._2).sum)
    assert(starts.toMap.values.forall(_ > 0))
    assert(out.map(_._3).distinct.length == starts.size)
  }

  test("packSequences is invariant to partition count and non-dense ids") {
    // regression for the sf0.1 drift: the prefix sum executes its plan
    // twice, and range-SAMPLED boundaries could differ between executions,
    // skewing every offset past the first divergence. The fix derives
    // groups from the id domain (never sampled), so the result must be a
    // pure function of the data — identical across partition counts and
    // with gappy, offset ids.
    val docs = (0L until 4000L).map { i =>
      val id = i * 13 + 1000003 // non-dense, non-zero-based id space
      (id, Seq.fill((i * 17 % 23 + 1).toInt)("w").mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val ref = TextAnalysis.packSequences(df, 57L, partitions = 1)
      .as[(Long, Long, Long, Int)].collect().sortBy(_._1)
    for (p <- Seq(3, 7, 16)) {
      val got = TextAnalysis.packSequences(df.repartition(11), 57L, partitions = p)
        .as[(Long, Long, Long, Int)].collect().sortBy(_._1)
      assert(got.sameElements(ref), s"partitions=$p must not change the packing")
    }
  }

  test("chunkSequences: exact-cap mid-doc splits tile the token stream") {
    val cap = 10L
    val docs = (0L until 29L).map { i =>
      val n = (i * 11 % 17 + (if (i % 9 == 0) 0 else 1)).toInt // incl. 0-token docs
      (i, Seq.fill(n)(s"w$i").mkString(" "))
    }
    val out = TextAnalysis.chunkSequences(
      docs.toDF("doc_id", "text"), cap, partitions = 4)
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    val nTok = docs.map { case (id, t) =>
      id -> (if (t.isEmpty) 0L else t.split(" ").length.toLong)
    }.toMap
    val total = nTok.values.sum
    // 1. per-doc spans tile [0, n) in order, no gaps or overlaps
    out.groupBy(_._1).foreach { case (id, spans) =>
      val s = spans.sortBy(_._2)
      assert(s.head._3 == 0L && s.last._4 == nTok(id), s"doc $id edges")
      s.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4 == b._3, s"doc $id gap between ${a._2} and ${b._2}")
          assert(b._2 == a._2 + 1, s"doc $id skips a sequence")
        case _ =>
      }
      s.foreach(sp => assert(sp._4 > sp._3, s"doc $id empty span"))
    }
    // 2. every doc with tokens appears; empty docs don't
    assert(out.map(_._1).toSet == nTok.filter(_._2 > 0).keySet)
    // 3. every sequence except the last holds exactly cap tokens
    val perSeq = out.groupBy(_._2).view.mapValues(_.map(s => s._4 - s._3).sum).toMap
    val lastSeq = perSeq.keys.max
    perSeq.foreach { case (seq, toks) =>
      if (seq < lastSeq) assert(toks == cap, s"seq $seq has $toks tokens")
    }
    assert(perSeq(lastSeq) == (if (total % cap == 0) cap else total % cap))
    assert(perSeq.keys.toSeq.sorted == (0L to lastSeq))
  }
}
