package graft.codec

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

/** Layer-1 pure-function tests mirroring the reference's unit tests
  * (SURVEY.md §5; golden constants from FIXTURES.md §4). */
class DigestsSpec extends AnyFunSuite {
  test("sha1 base32 of 'hello world' matches reference golden") {
    assert(Digests.sha1Base32("hello world") == "FKXGYNOJJ7H3IFO35FPUBC445EPOQRXN")
  }
  test("sha256 base32 of 'hello world' matches reference golden (incl padding)") {
    assert(Digests.sha256Base32("hello world") ==
      "XFGSPOMTJU7ARJJOKLL5U7NL7LCIJ37DPJJYB3UQRD32ZYXPZXUQ====")
  }
  test("empty payload sha1 base32 is the dedupe exemption sentinel") {
    assert(Digests.sha1Base32("") == Digests.EmptySha1Base32)
  }
  test("base32 roundtrip shapes: length/padding") {
    assert(Digests.base32(Array[Byte]()) == "")
    assert(Digests.base32("f".getBytes(UTF_8)) == "MY======")
    assert(Digests.base32("fo".getBytes(UTF_8)) == "MZXQ====")
    assert(Digests.base32("foo".getBytes(UTF_8)) == "MZXW6===")
    assert(Digests.base32("foob".getBytes(UTF_8)) == "MZXW6YQ=")
    assert(Digests.base32("fooba".getBytes(UTF_8)) == "MZXW6YTB")
    assert(Digests.base32("foobar".getBytes(UTF_8)) == "MZXW6YTBOI======")
  }
}

class WarcCodecSpec extends AnyFunSuite {
  private val fixture = graft.Bench.FixtureWarc

  private def readFixture(): Vector[WarcRecord] = {
    val in = new java.util.zip.GZIPInputStream(
      new java.io.FileInputStream(fixture))
    try WarcCodec.readAll(in)
    finally in.close()
  }

  test("golden fixture parses to exactly 3 records") {
    val recs = readFixture()
    assert(recs.length == 3)
    assert(recs.map(_.warcType) == Vector("warcinfo", "request", "response"))
  }

  test("golden fixture block digests recompute byte-identically") {
    val recs = readFixture()
    val expected = Vector(
      "sha1:IYWIATZSPEOF7U5W7VGGJOSQTIWUDXQ6",
      "sha1:JNDMG56JVTVVOQSDQRD25XWTGMRQAQDB",
      "sha1:LCKC4TTRSBWYHGYT5P22ON4DWY65WHDZ")
    recs.zip(expected).foreach { case (r, e) =>
      assert(r.blockDigest == e, s"stored digest for ${r.warcType}")
      assert(r.computedBlockDigest == e, s"recomputed digest for ${r.warcType}")
    }
    assert(recs(1).targetUri == "https://apis.google.com/js/platform.js")
    assert(recs(0).contentLength == 143L)
    assert(recs(1).contentLength == 110L)
    assert(recs(2).contentLength == 21830L)
  }

  test("golden fixture response body decodes (gzip) and re-digests stably") {
    val resp = readFixture()(2)
    val body = HttpCodec.decodedBody(resp.content)
    assert(body.length > 21830, "decoded body should exceed compressed length")
    val msg = HttpCodec.parse(resp.content)
    assert(msg.status == 200)
    assert(msg.isGzipped)
    // payload digest (of the raw, still-encoded payload) is stable
    val payloadDigest = "sha1:" + Digests.sha1Base32(msg.body)
    assert(resp.headers.get("WARC-Payload-Digest").forall(_ == payloadDigest))
  }

  test("serialize→parse roundtrip preserves headers, content, digests") {
    val recs = readFixture()
    recs.foreach { r =>
      val bytes = WarcCodec.serialize(r)
      val back = WarcCodec.parseAll(bytes)
      assert(back.length == 1)
      assert(back.head.headers == r.headers)
      assert(back.head.content.toSeq == r.content.toSeq)
      assert(back.head.computedBlockDigest == r.computedBlockDigest)
    }
  }

  test("truncated tail → early-EOF error (read.go:282-321 analog)") {
    val r = readFixture().head
    val bytes = WarcCodec.serialize(r)
    val truncated = java.util.Arrays.copyOf(bytes, bytes.length - 3)
    intercept[java.io.EOFException] { WarcCodec.parseAll(truncated) }
  }

  test("non-empty record boundary → format error") {
    val r = readFixture().head
    val bytes = new String(WarcCodec.serialize(r), java.nio.charset.StandardCharsets.ISO_8859_1)
    val corrupted = (bytes.dropRight(2) + "XX\r\n").getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    intercept[WarcCodec.WarcFormatException] { WarcCodec.parseAll(corrupted) }
  }

  test("withDefaults fills reference-default headers deterministically") {
    val rec = WarcRecord("WARC/1.1", Map.empty, "payload".getBytes(UTF_8))
    val t = java.time.Instant.parse("2022-03-20T03:55:45.533Z")
    val d1 = WarcCodec.withDefaults(rec, t)
    val d2 = WarcCodec.withDefaults(rec, t)
    assert(d1.headers("WARC-Type") == "resource")
    assert(d1.headers("Content-Length") == "7")
    assert(d1.headers("WARC-Date") == "2022-03-20T03:55:45.533Z")
    assert(d1.headers("WARC-Record-ID").startsWith("<urn:uuid:"))
    assert(d1.headers == d2.headers, "record ids must be deterministic")
    assert(d1.headers("WARC-Block-Digest") == "sha1:" + Digests.sha1Base32("payload"))
  }

  test("RFC3339Nano formatting trims trailing zeros like Go") {
    import java.time.Instant
    assert(WarcCodec.formatRfc3339Nano(Instant.parse("2022-03-20T03:55:45Z")) ==
      "2022-03-20T03:55:45Z")
    assert(WarcCodec.formatRfc3339Nano(Instant.parse("2022-03-20T03:55:45.500Z")) ==
      "2022-03-20T03:55:45.5Z")
    assert(WarcCodec.formatRfc3339Nano(Instant.parse("2022-03-20T03:55:45.123456789Z")) ==
      "2022-03-20T03:55:45.123456789Z")
  }
}

class HttpCodecSpec extends AnyFunSuite {
  test("request-line predicate (utils.go:59-73 analog)") {
    assert(HttpCodec.isHttpRequestLine("GET /js/platform.js HTTP/1.1"))
    assert(HttpCodec.isHttpRequestLine("POST / HTTP/1.0"))
    assert(!HttpCodec.isHttpRequestLine("HTTP/1.1 200 OK"))
    assert(!HttpCodec.isHttpRequestLine("FETCH / HTTP/1.1"))
    assert(!HttpCodec.isHttpRequestLine("GET / HTTP/2.0"))
  }

  test("plain response parse: status, headers, content-length body") {
    val body = "hello body".getBytes(UTF_8)
    val block = HttpCodec.buildResponse(200, "OK",
      Seq("Content-Type" -> "text/html", "Content-Length" -> body.length.toString), body)
    val msg = HttpCodec.parse(block)
    assert(msg.status == 200)
    assert(msg.header("content-TYPE").contains("text/html"))
    assert(new String(msg.body, UTF_8) == "hello body")
    assert(new String(HttpCodec.decodedBody(block), UTF_8) == "hello body")
  }

  test("chunked decode") {
    val text = "The quick brown fox jumps over the lazy dog, repeatedly. " * 10
    val chunked = HttpCodec.chunkEncode(text.getBytes(UTF_8), 100)
    val block = HttpCodec.buildResponse(200, "OK",
      Seq("Transfer-Encoding" -> "chunked"), chunked)
    assert(new String(HttpCodec.decodedBody(block), UTF_8) == text)
  }

  test("gzip decode") {
    val text = "compressible " * 200
    val gz = HttpCodec.gzip(text.getBytes(UTF_8))
    val block = HttpCodec.buildResponse(200, "OK",
      Seq("Content-Encoding" -> "gzip", "Content-Length" -> gz.length.toString), gz)
    assert(new String(HttpCodec.decodedBody(block), UTF_8) == text)
  }

  test("chunked + gzip decode (the full reference decode path)") {
    val text = "mixed-mode payload € ünïcode " * 50
    val gz = HttpCodec.gzip(text.getBytes(UTF_8))
    val chunked = HttpCodec.chunkEncode(gz, 128)
    val block = HttpCodec.buildResponse(200, "OK",
      Seq("Content-Encoding" -> "gzip", "Transfer-Encoding" -> "chunked"), chunked)
    assert(new String(HttpCodec.decodedBody(block), UTF_8) == text)
  }
}

class UrlNormalizerSpec extends AnyFunSuite {
  import UrlNormalizer.normalize
  test("lowercases scheme and host") {
    assert(normalize("HTTPS://Example.COM/Path") == "https://example.com/Path")
  }
  test("strips default ports, keeps explicit ones") {
    assert(normalize("https://example.com:443/a") == "https://example.com/a")
    assert(normalize("http://example.com:80/a") == "http://example.com/a")
    assert(normalize("http://example.com:8080/a") == "http://example.com:8080/a")
  }
  test("removes dot segments") {
    assert(normalize("http://h/a/b/../c") == "http://h/a/c")
    assert(normalize("http://h/./a/./b") == "http://h/a/b")
    assert(normalize("http://h/a/b/..") == "http://h/a/")
    assert(normalize("http://h/../../x") == "http://h/x")
  }
  test("empty path becomes /") {
    assert(normalize("http://example.com") == "http://example.com/")
    assert(normalize("http://example.com?q=1") == "http://example.com/?q=1")
  }
  test("drops fragment, keeps query") {
    assert(normalize("http://h/p?a=1#frag") == "http://h/p?a=1")
  }
  test("percent-encoding: decodes unreserved, uppercases hex") {
    assert(normalize("http://h/%7Euser") == "http://h/~user")
    assert(normalize("http://h/a%2fb") == "http://h/a%2Fb")
    assert(normalize("http://h/%41%42") == "http://h/AB")
  }
  test("idempotent") {
    val urls = Seq(
      "HTTPS://Example.COM:443/a/./b/../c/%7Ex?q=%2F#f",
      "http://h.example/",
      "http://h.example:8080/x?y=z")
    urls.foreach { u =>
      val once = normalize(u)
      assert(normalize(once) == once, s"not idempotent for $u")
    }
  }
  test("host extraction") {
    assert(UrlNormalizer.host("HTTP://Foo.Example:8080/x") == "foo.example")
    assert(UrlNormalizer.host("not a url") == "")
  }
  test("validity predicate") {
    assert(UrlNormalizer.isValid("https://example.com/x"))
    assert(!UrlNormalizer.isValid("mailto:x@example.com"))
    assert(!UrlNormalizer.isValid("garbage"))
    // RFC 3986 §3.1: scheme matching is case-insensitive (normalize
    // accepts HTTPS://, so isValid must agree on the same raw input)
    assert(UrlNormalizer.isValid("HTTPS://example.com/x"))
    assert(UrlNormalizer.isValid("Http://example.com/x"))
  }
  test("a port over 65535 makes the URL invalid; normalize keeps its digits and never throws") {
    for (u <- Seq("http://h:99999999999/x", "http://h:65536/x", "https://h:443:99999999999/")) {
      assert(normalize(u) == u, u)
      assert(!UrlNormalizer.isValid(u), u)
      assert(UrlNormalizer.host(u) == "", u)
      assert(UrlNormalizer.validHost(u) == null, u)
    }
    assert(UrlNormalizer.isValid("http://h:65535/x"))
    assert(normalize("http://h:65535/x") == "http://h:65535/x")
  }

  // Awkward URLs, each expected value worked out by hand from RFC 3986
  // and the rules in the UrlNormalizer scaladoc (not by running the code).
  // Columns: input, normalize, host, isValid.
  private val awkward = Seq(
    // §3.1, §6.2.2.1: the scheme is case-insensitive and normalizes to
    // lowercase; the path is case-sensitive and is kept
    ("HTTP://EXAMPLE.COM/", "http://example.com/", "example.com", true),
    ("hTTpS://Example.Com/A", "https://example.com/A", "example.com", true),
    // §3.2.2: a reg-name is case-insensitive; a non-ASCII (IRI) host
    // lowercases per Unicode, an ASCII xn-- label per ASCII
    ("http://BÜCHER.example/", "http://bücher.example/", "bücher.example", true),
    ("http://XN--BCHER-KVA.EXAMPLE/", "http://xn--bcher-kva.example/", "xn--bcher-kva.example", true),
    // §2.1, §6.2.2.1: percent-encoding hex digits normalize to uppercase;
    // non-ASCII octets stay encoded
    ("http://h/%e2%82%ac", "http://h/%E2%82%AC", "h", true),
    // §2.2: "%2F" is an encoded reserved "/", not a delimiter: it stays
    ("http://h/a%2fb", "http://h/a%2Fb", "h", true),
    // §2.3, §6.2.2.2: encoded unreserved characters decode
    ("http://h/%7euser%41", "http://h/~userA", "h", true),
    // §2.1: "%4" is not a pct-encoded triple; it is copied as it is
    ("http://h/a%4", "http://h/a%4", "h", true),
    ("http://h/a%4?x", "http://h/a%4?x", "h", true),
    // §6.2.2.2 before §6.2.2.3: "%2E%2e" decodes to "..", then goes
    ("http://h/a/%2E%2e/b", "http://h/b", "h", true),
    // §3.2.1: userinfo runs to the last "@", may hold ":" and is kept as
    // it is; only the host after it lowercases
    ("http://user:pw@Host.COM/", "http://user:pw@host.com/", "host.com", true),
    ("http://a@b@Host/", "http://a@b@host/", "host", true),
    // §3.2.2 IP-literal with §3.2.3 port and §5.2.4 dot segments
    ("http://[::1]:8080/a/./b/../c", "http://[::1]:8080/a/c", "[::1]", true),
    // §3.2.2 hex in an IP-literal is case-insensitive; §6.2.3 default port
    ("http://[2001:DB8::1]:80/", "http://[2001:db8::1]/", "[2001:db8::1]", true),
    // §3.2.2: a trailing dot names the same fully qualified host
    ("http://example.com./", "http://example.com/", "example.com", true),
    // host "." is non-empty in the input, but empty once its dot goes
    ("http://./", "http:///", "", true),
    // §3.2.3 allows an empty port; §6.2.3: a normalizer drops it
    ("http://h:/x", "http://h/x", "h", true),
    // §3.5: the fragment is not sent in a request; it goes
    ("http://h/p?q#f#g", "http://h/p?q", "h", true),
    ("http://h#f", "http://h/", "h", true),
    // Appendix C: surrounding whitespace is not part of the URI
    ("  \thttp://h/x \n", "http://h/x", "h", true),
    // §3.1: a scheme is ASCII; with anything else there is no scheme
    ("é://h/", "é://h/", "", false),
    // §3.2.3: a port is ASCII digits; Arabic-Indic digits are host text
    ("http://h:٨٠/", "http://h:٨٠/", "h:٨٠", true))

  test("awkward URLs match their hand-derived RFC 3986 values") {
    for ((in, norm, host, valid) <- awkward) {
      assert(normalize(in) == norm, in)
      assert(UrlNormalizer.host(in) == host, in)
      assert(UrlNormalizer.isValid(in) == valid, in)
    }
  }
}

class CaseFoldingSpec extends AnyFunSuite {
  test("case folding does not follow the default locale (Turkish dotless i)") {
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR"))
    try {
      assert(UrlNormalizer.normalize("HTTP://WIKI.EXAMPLE/") == "http://wiki.example/")
      assert(UrlNormalizer.host("HTTP://WIKI.EXAMPLE/") == "wiki.example")
      val gz = HttpMessage("HTTP/1.1 200 OK", Seq("Content-Encoding" -> "GZIP"), Array.emptyByteArray)
      assert(gz.isGzipped)
      val rules = Robots.parse("USER-AGENT: *\nDISALLOW: /private/\n")
      assert(!rules.allows("/private/x"))
      assert(rules.allows("/open"))
    } finally java.util.Locale.setDefault(saved)
  }
}

class SitemapSpec extends AnyFunSuite {
  test("urlset parse: loc + W3C lastmod variants, namespace-aware") {
    val xml =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
        |  <url><loc>https://a.example/1</loc><lastmod>2022-03-11</lastmod></url>
        |  <url><loc> https://a.example/2 </loc><lastmod>2022-03-15T04:30:00+02:00</lastmod></url>
        |  <url><loc>https://a.example/3</loc></url>
        |  <url><lastmod>2022-01-01</lastmod></url>
        |</urlset>""".stripMargin
    val es = Sitemap.parse(xml)
    assert(es.map(_.loc) == Vector("https://a.example/1", "https://a.example/2", "https://a.example/3"))
    assert(es(0).lastmod.get.toInstant == java.time.Instant.parse("2022-03-11T00:00:00Z"))
    assert(es(1).lastmod.get.toInstant == java.time.Instant.parse("2022-03-15T02:30:00Z"))
    assert(es(2).lastmod.isEmpty)
  }

  test("sitemapindex parse + malformed inputs yield empty, never throw") {
    assert(Sitemap.parseIndex(
      "<sitemapindex><sitemap><loc>https://a/s1.xml</loc></sitemap>" +
        "<sitemap><loc>https://a/s2.xml</loc></sitemap></sitemapindex>") ==
      Vector("https://a/s1.xml", "https://a/s2.xml"))
    assert(Sitemap.parse("not xml at all").isEmpty)
    assert(Sitemap.parse("<urlset><url><loc>unterminated").isEmpty)
    assert(Sitemap.parse("").isEmpty)
    assert(Sitemap.lastmodTs("not-a-date").isEmpty)
  }

  test("external entities are never resolved (zero-egress hygiene)") {
    val xxe =
      """<?xml version="1.0"?>
        |<!DOCTYPE urlset [<!ENTITY x SYSTEM "http://evil.example/p">]>
        |<urlset><url><loc>https://a.example/&x;</loc></url></urlset>""".stripMargin
    // either rejected outright or parsed with the entity unresolved —
    // never a network fetch (the factory disables external entities)
    val out = Sitemap.parse(xxe)
    assert(out.isEmpty || !out.head.loc.contains("evil-resolved"))
  }
}

class RobotsSpec extends AnyFunSuite {
  test("disallow-all host") {
    val r = Robots.parse("User-agent: *\nDisallow: /\n")
    assert(!r.allows("/any/path"))
    assert(!r.allows("/"))
  }
  test("longest-match precedence: allow beats shorter disallow") {
    val r = Robots.parse(
      """User-agent: *
        |Disallow: /private/
        |Allow: /private/public/
        |""".stripMargin)
    assert(!r.allows("/private/x"))
    assert(r.allows("/private/public/y"))
    assert(r.allows("/open"))
  }
  test("wildcard * and anchor $") {
    val r = Robots.parse(
      """User-agent: *
        |Disallow: /*.pdf$
        |Disallow: /tmp/*
        |""".stripMargin)
    assert(!r.allows("/docs/file.pdf"))
    assert(r.allows("/docs/file.pdf?x=1"))
    assert(!r.allows("/tmp/a/b"))
    assert(r.allows("/tmpx"))
  }
  test("agent-specific group wins over *") {
    val body =
      """User-agent: *
        |Disallow: /
        |
        |User-agent: graftbot
        |Disallow: /secret/
        |Crawl-delay: 2.5
        |""".stripMargin
    val star = Robots.parse(body, "otherbot")
    assert(!star.allows("/x"))
    val us = Robots.parse(body, "graftbot/1.0")
    assert(us.allows("/x"))
    assert(!us.allows("/secret/x"))
    assert(us.crawlDelay.contains(2.5))
  }
  test("empty disallow means allow-all; empty body allows") {
    assert(Robots.parse("User-agent: *\nDisallow:\n").allows("/a"))
    assert(Robots.parse("").allows("/a"))
    assert(Robots.AllowAll.allows("/a"))
  }
  test("sitemap lines: group-independent, case-insensitive, comments stripped, relative ignored") {
    val body =
      """User-agent: a
        |Disallow: /x
        |Sitemap: https://h.example/sm1.xml  # primary
        |
        |User-agent: b
        |SITEMAP: https://h.example/sm2.xml
        |Sitemap: /relative.xml
        |sitemap:https://h.example/sm3.xml
        |""".stripMargin
    assert(Robots.sitemaps(body) ==
      Vector("https://h.example/sm1.xml", "https://h.example/sm2.xml",
        "https://h.example/sm3.xml"))
    assert(Robots.sitemaps("") == Vector.empty)
    assert(Robots.sitemaps(null) == Vector.empty)
  }
}
