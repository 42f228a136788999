package graft.sources

import graft.codec.HttpCodec
import org.apache.spark.sql.{Dataset, SparkSession}
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp

/** The authoritative input shape (BASELINE.json input_hint): one row per
  * captured Common-Crawl-style page. `html` holds the raw HTTP/1.1 response
  * bytes exactly as captured off the wire (the reference tees wire bytes,
  * /root/reference/dialer.go:115-128); `text` is the body after the
  * reference decode path (chunked-decode → gunzip) — extraction from
  * `html` must reproduce it byte-identically.
  */
final case class Page(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String
)

/** Deterministic synthetic pages (seed 42 default; FIXTURES.md §1): Zipf-ish
  * host skew for the hot-host politeness path, dirty-URL variants for
  * RFC-3986 canonicalization, duplicate bodies for digest dedup, gzip /
  * chunked / plain transfer modes for the decode path, embedded outlinks
  * for multi-round crawls. Generation is a pure function of (seed, id) —
  * independent of partitioning, so any two runs at any parallelism agree.
  */
object PagesGen extends Serializable {

  final val BaseEpochSec: Long = 1647748545L // 2022-03-20T03:55:45Z (fixture date)

  /** `x.abs % m` guarded against the abs(MinValue) == MinValue overflow,
    * which at 10^10-row scale is expected to fire (~2^-64 per draw but
    * billions of draws). floorMod maps the single overflow case into range
    * and is identical to `abs % m` for every other input. */
  @inline private def absMod(x: Long, m: Long): Long =
    java.lang.Math.floorMod(x.abs, m)
  @inline private def absMod(x: Int, m: Int): Int =
    java.lang.Math.floorMod(x.abs, m)

  @inline private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private val langs = Array("en", "fr", "de", "ja", "")
  private val stopwords: Map[String, Array[String]] = Map(
    "en" -> Array("the", "and", "of", "to", "in", "that", "it", "is", "was", "for"),
    "fr" -> Array("le", "la", "et", "les", "des", "est", "dans", "que", "une", "pour"),
    "de" -> Array("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "auf", "sich"),
    "ja" -> Array("これ", "それ", "です", "ます", "した", "ない", "ある", "する", "いる", "この"),
    "" -> Array("lorem", "ipsum", "dolor", "sit", "amet", "consectetur", "adipiscing", "elit", "sed", "do")
  )

  def hostOf(id: Long, nHosts: Int, seed: Long): Int = {
    // Zipf-like skew: u^3 concentrates mass on low host ids (host0 ≈ 21%
    // of rows at nHosts=100) — the hot-host case the scheduler must break.
    val u = (mix64(seed ^ (id * 31)) >>> 11).toDouble / (1L << 53).toDouble
    math.min(nHosts - 1, (u * u * u * nHosts).toInt)
  }

  /** Canonical (clean) url for a page id — the value url_normalize must
    * recover from the dirty variant. */
  def cleanUrl(id: Long, nHosts: Int, seed: Long): String = {
    val pathId = if (id % 37 == 0) (id / 37) % 100 else id
    val host = hostOf(pathId, nHosts, seed)
    s"https://host$host.example/doc/${java.lang.Long.toString(pathId, 36)}"
  }

  /** Dirty variant exercising the RFC-3986 rules (FIXTURES.md §1: ~1 in 4
    * rows dirty in one of four ways). */
  def dirtyUrl(id: Long, nHosts: Int, seed: Long): String = {
    val clean = cleanUrl(id, nHosts, seed)
    val slash = clean.indexOf('/', 8)
    val (hostPart, pathPart) = (clean.substring(0, slash), clean.substring(slash))
    (id % 4, id % 16) match {
      case (0, 0)  => hostPart.toUpperCase(java.util.Locale.ROOT) + pathPart // scheme+host case
      case (1, 1)  => hostPart + ":443" + pathPart // default port
      case (2, 2)  => hostPart + "/." + pathPart // dot segment
      case (3, 3)  => clean + "#section-" + (id % 7) // fragment
      case (0, 4)  => hostPart + pathPart.replace("/doc/", "/doc/../doc/")
      case (1, 5)  => hostPart + pathPart.replace("doc", "%64oc") // %-encoded unreserved
      case _       => clean
    }
  }

  def genText(id: Long, seed: Long, nPages: Long): (String, String) = {
    val r0 = mix64(seed ^ (id * 7))
    if (id % 101 == 0) return ("", langs((id % langs.length).toInt) match { case l => l }) // empty payload (dedupe exemption)
    val lang = langs(absMod((mix64(r0) % langs.length).toInt, langs.length))
    val stops = stopwords(lang)
    // duplicate-body cluster: rows with id%53==0 share one of 20 bodies
    val contentSeed = if (id % 53 == 0) mix64(seed ^ (id % 20)) else r0
    val nWords = 40 + absMod(mix64(contentSeed ^ 1), 700L).toInt
    val sb = new java.lang.StringBuilder(nWords * 7)
    var i = 0
    var s = contentSeed
    while (i < nWords) {
      s = mix64(s)
      if ((s & 3) == 0) sb.append(stops(absMod((s >>> 2).toInt, stops.length)))
      else sb.append(java.lang.Long.toString(absMod(s, 100000000L), 36))
      sb.append(if (i % 13 == 12) ". " else " ")
      i += 1
    }
    // outlinks for multi-round crawls: 0-4 links to other page ids
    val nLinks = absMod(mix64(contentSeed ^ 2), 5L).toInt
    i = 0
    while (i < nLinks) {
      val target = absMod(mix64(contentSeed ^ (3 + i)), nPages)
      sb.append(" <a href=\"").append(cleanUrl(target, 100, seed)).append("\">link").append(i).append("</a>")
      i += 1
    }
    (sb.toString, lang)
  }

  /** Build one page: text → HTTP response bytes in one of four transfer
    * modes (plain / gzip / chunked / chunked+gzip). */
  def genPage(id: Long, nPages: Long, nHosts: Int, seed: Long): Page = {
    val (text, lang) = genText(id, seed, nPages)
    val bodyPlain = text.getBytes(UTF_8)
    val mode = absMod(mix64(seed ^ (id * 13)), 4L).toInt
    val headersBase = Seq("Content-Type" -> s"text/html; charset=UTF-8")
    val html = mode match {
      case 0 =>
        HttpCodec.buildResponse(200, "OK",
          headersBase :+ ("Content-Length" -> bodyPlain.length.toString), bodyPlain)
      case 1 =>
        val gz = HttpCodec.gzip(bodyPlain)
        HttpCodec.buildResponse(200, "OK",
          headersBase ++ Seq("Content-Encoding" -> "gzip", "Content-Length" -> gz.length.toString), gz)
      case 2 =>
        val chunked = HttpCodec.chunkEncode(bodyPlain, 512)
        HttpCodec.buildResponse(200, "OK",
          headersBase :+ ("Transfer-Encoding" -> "chunked"), chunked)
      case _ =>
        val gz = HttpCodec.gzip(bodyPlain)
        val chunked = HttpCodec.chunkEncode(gz, 512)
        HttpCodec.buildResponse(200, "OK",
          headersBase ++ Seq("Content-Encoding" -> "gzip", "Transfer-Encoding" -> "chunked"), chunked)
    }
    val tsOffset = absMod(mix64(seed ^ (id * 17)), 10000000L)
    Page(
      url = dirtyUrl(id, nHosts, seed),
      warc_ts = new Timestamp((BaseEpochSec + tsOffset) * 1000L),
      html = html,
      text = text,
      lang = lang)
  }

  /** Distributed deterministic generation. */
  def pages(spark: SparkSession, n: Long, nHosts: Int = 100, seed: Long = 42L,
            partitions: Int = 0): Dataset[Page] = {
    import spark.implicits._
    val parts = if (partitions > 0) partitions
      else spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, parts).mapPartitions { it =>
      it.map(id => genPage(id, n, nHosts, seed))
    }
  }

  /** URLs-only frontier rows (url, warc_ts, depth) — the scheduling
    * pipeline's input shape without the body-generation cost, for
    * frontier-scale benchmarks (a 10^10-URL frontier is urls+metadata;
    * bodies live in the pages table). */
  def urls(spark: SparkSession, n: Long, nHosts: Int = 100, seed: Long = 42L,
           partitions: Int = 0): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val parts = if (partitions > 0) partitions else spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, parts).mapPartitions { it =>
      it.map { id =>
        val tsOffset = absMod(mix64(seed ^ (id * 17)), 10000000L)
        (dirtyUrl(id, nHosts, seed),
          new Timestamp((BaseEpochSec + tsOffset) * 1000L),
          (id % 4).toInt)
      }
    }.toDF("url", "warc_ts", "depth")
  }

  /** Seed list for frontier rounds: the clean urls of the first `k` ids
    * spread across hosts (FIXTURES.md §2). */
  def seeds(n: Long, k: Int, nHosts: Int = 100, seed: Long = 42L): Seq[String] =
    (0L until math.min(k.toLong, n)).map(i => cleanUrl(i * 17 % n, nHosts, seed)).distinct
}
