package graft.codec

import graft.functions.{UrlCanon, UrlHost, UrlIsValid, UrlNormalize}
import graft.sources.PagesGen
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import java.nio.charset.StandardCharsets.UTF_8
import scala.util.control.NonFatal

/** The URL golden corpus: ≥ 20,000 inputs and what the four URL kernels
  * (`url_normalize`, `url_host`, `url_is_valid`, `url_canon`) return for
  * each. `UrlGoldenSpec` replays it against the current code.
  *
  * Regenerate (writes the outputs of whatever code it is compiled with):
  * {{{
  *   sbt "Test/runMain graft.codec.UrlGolden src/test/resources/url-golden.tsv.gz"
  * }}}
  * The committed file was written by the String-level normalizer of commit
  * 47ba19b, with this file copied into a checkout of that commit.
  *
  * Line format (tab-separated, one input per line):
  * `hex(input bytes)  normalize  host  is_valid  canon`. Outputs are
  * printed with [[UrlGolden.esc]]; a kernel that threw prints `throws`;
  * `canon` is `[]` or `esc(url_norm),esc(host)`. */
object UrlGolden {

  /** Bytes 0x21..0x7E except `\` and `,` as themselves, every other byte
    * as `\xHH`: readable, and free of tabs, newlines and the canon
    * separator. */
  def esc(b: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(b.length + 8)
    b.foreach { x =>
      val c = x & 0xff
      if (c >= 0x21 && c <= 0x7e && c != '\\' && c != ',') sb.append(c.toChar)
      else sb.append("\\x%02X".format(c))
    }
    sb.toString
  }

  /** Inverse of [[esc]]. */
  def unesc(s: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(s.length)
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\\') { out.write(Integer.parseInt(s.substring(i + 2, i + 4), 16)); i += 4 }
      else { out.write(s.charAt(i)); i += 1 }
    }
    out.toByteArray
  }

  def hex(b: Array[Byte]): String = b.map(x => "%02x".format(x & 0xff)).mkString

  def unhex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  /** The four URL kernels as Catalyst expressions over a string column 0. */
  val kernels: Seq[Expression] = {
    val url = BoundReference(0, StringType, nullable = true)
    Seq(UrlNormalize(url), UrlHost(url), UrlIsValid(url), UrlCanon(url))
  }

  /** One kernel's answer as the corpus prints it. */
  def show(v: Any): String = v match {
    case s: UTF8String => esc(s.getBytes)
    case b: Boolean => b.toString
    case a: ArrayData =>
      if (a.numElements() == 0) "[]"
      else {
        val r = a.getStruct(0, 2)
        esc(r.getUTF8String(0).getBytes) + "," + esc(r.getUTF8String(1).getBytes)
      }
  }

  /** The four kernels' answers for one input, evaluated one at a time
    * without code generation; `throws` for a kernel that threw. */
  def outputs(in: Array[Byte]): Seq[String] = {
    val row = InternalRow(UTF8String.fromBytes(in))
    kernels.map(k => try show(k.eval(row)) catch { case NonFatal(_) => "throws" })
  }

  /** Hand-written awkward inputs (RFC 3986 §3 components, §6.2.2 rules),
    * the corpus's first lines; `UrlNormalizerSpec` checks many of them
    * against hand-derived values. */
  val awkward: Seq[String] = Seq(
    "HTTP://EXAMPLE.COM/", "hTTpS://Example.Com/A", "Http://x/", "HTTP://WIKI.EXAMPLE/",
    "http://BÜCHER.example/", "http://bücher.example/", "http://xn--bcher-kva.example/",
    "http://XN--BCHER-KVA.EXAMPLE/", "HTTP://İSTANBUL.example/", "http://ΣΟΦΟΣ.example/",
    "http://h/%7euser", "http://h/a%2fb", "http://h/%41%42", "http://h/%E2%82%AC",
    "http://h/%e2%82%ac", "http://h/a%4", "http://h/a%4?x", "http://h/%", "http://h/%zz",
    "http://h/?q=%7e%2f", "http://h/%2e%2E/x", "http://h/a/%2E/b",
    "http://user:pw@Host.COM/", "http://a@b@Host/", "http://us%40er:p:w@h/", "http://@h/",
    "http://[::1]:8080/a/./b/../c", "http://[::1]/", "http://[::1]:80/", "http://[2001:DB8::1]/",
    "http://example.com./", "http://example.com../x", "http://./", "http://../", "http://.../",
    "http://h:/x", "http://h:80/x", "http://h:0080/x", "http://h:65535/", "http://h:65536/",
    "http://h:99999999999/x", "http://h:099999/x", "https://h:443:443/", "http://h:99999:80/",
    "http://a:80:80/", "http://h:٨٠/", "١http://h/", "é://h/",
    "http://h/p#f", "http://h#f", "http://h/p?q#f#g", "http://h/#", "http://h?#",
    "  http://h/x  ", "\thttp://h/x\n", "http://h/ x ", "http://a #x", "http://h/?q= #f",
    "", " ", "garbage", "mailto:x@y", "://h/", "http:/h/", "http://", "http:///x",
    "ftp://Host:21/a", "ftp://Host:2121/a", "HTTPS://h:443", "http://h/a/b/../../../c",
    "http://h//a//../b/", "http://h/a/..", "http://h/a/.", "http://h/.", "http://h/..")

  private val propUrlGen: Gen[String] = for {
    scheme <- Gen.oneOf("http", "https", "HTTP", "Https")
    host <- Gen.nonEmptyListOf(Gen.oneOf(Gen.alphaLowerChar, Gen.oneOf('A', 'Z', '0', '-', '.')))
      .map(_.mkString.take(30))
    port <- Gen.oneOf("", ":80", ":443", ":8080")
    segs <- Gen.listOf(Gen.oneOf("a", "b%41", ".", "..", "doc", "%2e", "x y", "index.html"))
    q <- Gen.oneOf("", "?b=2&a=1", "?x")
    f <- Gen.oneOf("", "#frag")
  } yield s"$scheme://$host$port/${segs.mkString("/")}$q$f"

  private val propHostGen: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString.take(20))

  /** The same url shapes `CodecPropertySpec` draws (idempotence and
    * equivalence-class properties), drawn from fixed seeds. */
  private def propertyInputs: Seq[String] = {
    val p = Gen.Parameters.default
    val urls = (0 until 2500).map(i => propUrlGen.pureApply(p, Seed(1000L + i)))
    val equiv = (0 until 500).flatMap { i =>
      val h = propHostGen.pureApply(p, Seed(5000L + i))
      Seq(s"https://$h.example/a/b", s"HTTPS://${h.toUpperCase(java.util.Locale.ROOT)}.EXAMPLE/a/b",
        s"https://$h.example:443/a/b", s"https://$h.example/a/./b",
        s"https://$h.example/c/../a/b", s"https://$h.example/a/b#frag")
    }
    urls ++ equiv
  }

  private def dirtyInputs: Seq[String] =
    for {
      seed <- Seq(1L, 7L, 21L, 42L)
      nHosts <- Seq(1, 100, 1000, 100000)
      id <- 0L until 500L
    } yield PagesGen.dirtyUrl(id, nHosts, seed)

  private val pieces: Array[Array[Byte]] = (
    Seq(":", "/", "?", "#", "@", ".", "%", "[", "]", "-", "_", "~", " ", "\t", "\n",
      "0", "5", "9", "a", "F", "Z", "%2e", "%2F", "%4", "..", "/../", "/./", ":80",
      ":443", ":65536", ":99999999999", "://", "é", "İ", "Σ", "€", "\uD835\uDCB3", "\u212A",
      "٣").map(_.getBytes(UTF_8)) ++
      Seq(Array(0xC0, 0xAF), Array(0xED, 0xA0, 0x80), Array(0x80), Array(0xE2, 0x82),
        Array(0xF8), Array(0xFF), Array(0xF4, 0x90, 0x80, 0x80), Array(0xE0, 0x80, 0x80))
        .map(_.map(_.toByte))).toArray

  /** 1–3 random edits of a base input: insert a delimiter, digit, letter,
    * non-ASCII character or malformed UTF-8 sequence; insert a random
    * byte; delete, overwrite or duplicate a span; truncate. */
  private def mutate(base: Array[Byte], r: scala.util.Random): Array[Byte] = {
    var b = base
    (0 until 1 + r.nextInt(3)).foreach { _ =>
      val at = if (b.isEmpty) 0 else r.nextInt(b.length + 1)
      b = r.nextInt(6) match {
        case 0 | 1 => b.take(at) ++ pieces(r.nextInt(pieces.length)) ++ b.drop(at)
        case 2 => b.take(at) ++ Array(r.nextInt(256).toByte) ++ b.drop(at)
        case 3 => b.take(at) ++ b.drop(at + 1 + r.nextInt(4))
        case 4 if b.nonEmpty =>
          val i = r.nextInt(b.length)
          b.updated(i, r.nextInt(256).toByte)
        case _ =>
          val len = r.nextInt(8)
          b.take(at + len) ++ b.slice(at, at + len) ++ b.drop(at + len)
      }
      if (r.nextInt(20) == 0) b = b.take(r.nextInt(b.length + 1))
    }
    b
  }

  /** Every corpus input, in file order. */
  def inputs: Seq[Array[Byte]] = {
    val bases = (awkward ++ dirtyInputs ++ propertyInputs).map(_.getBytes(UTF_8))
    val r = new scala.util.Random(20261019L)
    val mutated = (0 until 10000).map(_ => mutate(bases(r.nextInt(bases.length)), r))
    bases ++ mutated
  }

  def main(args: Array[String]): Unit = {
    val out = new java.io.PrintStream(new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(args(0))), false, "UTF-8")
    try inputs.foreach(in => out.print((hex(in) +: outputs(in)).mkString("\t") + "\n"))
    finally out.close()
    println(s"locale=${java.util.Locale.getDefault} lines=${inputs.size}")
  }
}
