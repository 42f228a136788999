package graft.codec

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

/** Differential test of the URL normalizer against its previous,
  * String-level implementation.
  *
  * `url-golden.tsv.gz` holds 23,575 inputs and what `url_normalize`,
  * `url_host`, `url_is_valid` and `url_canon` returned for them at commit
  * 47ba19b, the last commit before the byte-level scan. `UrlGolden.main`
  * wrote it, compiled into a checkout of that commit; [[UrlGolden]] lists
  * the inputs and the line format. The UTF8String kernels, interpreted and
  * in generated code, and the String API must all reproduce every line,
  * except the lines in
  * `url-golden-fixes.tsv`: those are the intended changes, each with its
  * rule and its new outputs, and each must be of its rule's kind. */
class UrlGoldenSpec extends AnyFunSuite {

  private def lines(name: String): Seq[String] = {
    val raw = getClass.getResourceAsStream("/" + name)
    val in = if (name.endsWith(".gz")) new java.util.zip.GZIPInputStream(raw) else raw
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().toVector finally src.close()
  }

  /** The String API's answers, printed like the corpus; `url_canon` is
    * `validHost(normalize(url))`, a second parse of the normal form. */
  private def apiOutputs(in: Array[Byte]): Seq[String] = {
    val s = new String(in, UTF_8)
    val n = UrlNormalizer.normalize(s)
    val vh = UrlNormalizer.validHost(n)
    def esc(x: String) = UrlGolden.esc(x.getBytes(UTF_8))
    Seq(esc(n), esc(UrlNormalizer.host(s)), UrlNormalizer.isValid(s).toString,
      if (vh == null) "[]" else esc(n) + "," + esc(vh))
  }

  /** The scheme (before the first "://") and the text after the host's
    * last ':' of the trimmed input (None without a ':'), as the parent
    * split them. */
  private def schemeAndPort(in: Array[Byte]): (String, Option[String]) = {
    val s = new String(in, UTF_8).trim
    val k = s.indexOf("://")
    if (k <= 0) return ("", None)
    val rest = s.substring(k + 3).takeWhile(c => c != '/' && c != '?' && c != '#')
    val hostPort = rest.substring(rest.lastIndexOf('@') + 1)
    val colon = hostPort.lastIndexOf(':')
    (s.substring(0, k), if (colon < 0) None else Some(hostPort.substring(colon + 1)))
  }

  private def overRange(digits: String): Boolean =
    digits.nonEmpty && digits.forall(c => c >= '0' && c <= '9') && BigInt(digits) > 65535

  private def isRuleOf(rule: String, in: Array[Byte], parent: Seq[String]): Boolean = {
    val (scheme, port) = schemeAndPort(in)
    rule match {
      case "scheme-ascii" => scheme.exists(_ > 0x7f)
      case "port-ascii" => !scheme.exists(_ > 0x7f) && port.exists(_.exists(_ > 0x7f))
      case "port-range" =>
        // the parent threw, or its normal form carries a port over 65535
        val norm = UrlGolden.unesc(parent.head)
        parent.head == "throws" || schemeAndPort(norm)._2.exists(overRange)
      case "port-empty" =>
        // the input has an empty port, or the parent's normal form has one
        // (which `url_canon`, a second parse, now drops)
        !scheme.exists(_ > 0x7f) &&
          (port.contains("") || schemeAndPort(UrlGolden.unesc(parent.head))._2.contains(""))
      case _ => false
    }
  }

  test("kernels and String API give the parent's outputs on every golden line but the listed fixes") {
    val fixes = lines("url-golden-fixes.tsv").filterNot(_.startsWith("#")).map { l =>
      val f = l.split("\t", -1)
      f(0).toInt -> (f(1), f.toSeq.drop(2))
    }.toMap
    // generate, not UnsafeProjection.create: a failed compile must throw
    // here instead of falling back to the interpreted projection
    val generated = GenerateUnsafeProjection.generate(UrlGolden.kernels)
    val golden = lines("url-golden.tsv.gz")
    assert(golden.size >= 20000)
    val bad = Seq.newBuilder[String]
    golden.zipWithIndex.foreach { case (l, i) =>
      val f = l.split("\t", -1)
      val in = UrlGolden.unhex(f(0))
      val parent = f.toSeq.drop(1)
      val want = fixes.get(i + 1) match {
        case Some((rule, fixed)) =>
          assert(isRuleOf(rule, in, parent), s"line ${i + 1} is not a $rule change")
          assert(fixed != parent, s"line ${i + 1} is listed as a fix but matches the parent")
          fixed
        case None => parent
      }
      val interpreted = UrlGolden.outputs(in)
      val r = generated(InternalRow(UTF8String.fromBytes(in)))
      val compiled = Seq(UrlGolden.show(r.getUTF8String(0)), UrlGolden.show(r.getUTF8String(1)),
        UrlGolden.show(r.getBoolean(2)), UrlGolden.show(r.getArray(3)))
      val api = apiOutputs(in)
      if (interpreted != want || compiled != want || api != want)
        bad += s"line ${i + 1} ${UrlGolden.esc(in)}: want $want, interpreted $interpreted, " +
          s"generated $compiled, api $api"
    }
    val misses = bad.result()
    assert(misses.isEmpty, s"${misses.size} lines differ:\n" + misses.take(20).mkString("\n"))
  }
}
