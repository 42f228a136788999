package graft.codec

/** RFC 3986 URL normalization for the crawl frontier (BASELINE.json
  * north_star; no reference impl — the reference only assembles
  * scheme://host+target, /root/reference/dialer.go:717-726).
  *
  * Rules (RFC 3986 §6.2.2 syntax-based normalization + standard crawler
  * canonicalization):
  *  - lowercase scheme and host
  *  - strip default ports (http:80, https:443)
  *  - remove dot-segments from the path (§5.2.4)
  *  - percent-encoding: uppercase hex digits; decode unreserved characters
  *  - empty path → "/"
  *  - drop the fragment
  */
object UrlNormalizer {

  private def isUnreserved(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
      (c >= '0' && c <= '9') || c == '-' || c == '.' || c == '_' || c == '~'

  private def hexVal(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1

  /** Normalize percent-encodings in a path/query component. */
  private[codec] def normalizePercent(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          hexVal(s.charAt(i + 1)) >= 0 && hexVal(s.charAt(i + 2)) >= 0) {
        val v = (hexVal(s.charAt(i + 1)) << 4) | hexVal(s.charAt(i + 2))
        if (v < 128 && isUnreserved(v.toChar)) sb.append(v.toChar)
        else {
          sb.append('%')
          sb.append(Character.toUpperCase(s.charAt(i + 1)))
          sb.append(Character.toUpperCase(s.charAt(i + 2)))
        }
        i += 3
      } else {
        sb.append(c)
        i += 1
      }
    }
    sb.toString
  }

  /** RFC 3986 §5.2.4 remove_dot_segments. */
  private[codec] def removeDotSegments(path: String): String = {
    val out = new scala.collection.mutable.ArrayBuffer[String]
    var in = path
    while (in.nonEmpty) {
      if (in.startsWith("../")) in = in.substring(3)
      else if (in.startsWith("./")) in = in.substring(2)
      else if (in.startsWith("/./")) in = "/" + in.substring(3)
      else if (in == "/.") in = "/"
      else if (in.startsWith("/../")) {
        in = "/" + in.substring(4)
        if (out.nonEmpty) out.remove(out.length - 1)
      } else if (in == "/..") {
        in = "/"
        if (out.nonEmpty) out.remove(out.length - 1)
      } else if (in == "." || in == "..") in = ""
      else {
        val start = if (in.startsWith("/")) 1 else 0
        val next = in.indexOf('/', start)
        if (next < 0) { out += in; in = "" }
        else { out += in.substring(0, next); in = in.substring(next) }
      }
    }
    out.mkString
  }

  /** Parse into (scheme, userinfo, host, port, path, query); fragment
    * dropped. Returns None when there is no `scheme://`. */
  private def split(url: String): Option[(String, String, String, Int, String, String)] = {
    val schemeEnd = url.indexOf("://")
    if (schemeEnd <= 0) return None
    val scheme = url.substring(0, schemeEnd)
    if (!scheme.forall(c => c.isLetterOrDigit || c == '+' || c == '-' || c == '.')) return None
    var rest = url.substring(schemeEnd + 3)
    val hashIdx = rest.indexOf('#')
    if (hashIdx >= 0) rest = rest.substring(0, hashIdx)
    val pathIdx = {
      val slash = rest.indexOf('/')
      val q = rest.indexOf('?')
      if (slash < 0 && q < 0) rest.length
      else if (slash < 0) q
      else if (q < 0) slash
      else math.min(slash, q)
    }
    val authority = rest.substring(0, pathIdx)
    val pathAndQuery = rest.substring(pathIdx)
    val (userinfo, hostPort) = {
      val at = authority.lastIndexOf('@')
      if (at >= 0) (authority.substring(0, at), authority.substring(at + 1))
      else ("", authority)
    }
    val (host, port) = {
      val colon = hostPort.lastIndexOf(':')
      // avoid splitting IPv6 literals like [::1]
      if (colon >= 0 && !hostPort.endsWith("]") && hostPort.substring(colon + 1).forall(_.isDigit)
          && hostPort.substring(colon + 1).nonEmpty)
        (hostPort.substring(0, colon), hostPort.substring(colon + 1).toInt)
      else (hostPort, -1)
    }
    val qIdx = pathAndQuery.indexOf('?')
    val (path, query) =
      if (qIdx >= 0) (pathAndQuery.substring(0, qIdx), pathAndQuery.substring(qIdx + 1))
      else (pathAndQuery, null)
    Some((scheme, userinfo, host, port, path, query))
  }

  /** Root-dot FQDNs drop ALL trailing dots (a single stripSuffix is not a
    * fixed point for hosts ending in '..', breaking normalize idempotence
    * — caught by CodecPropertySpec). */
  private def stripTrailingDots(h: String): String = {
    var end = h.length
    while (end > 0 && h.charAt(end - 1) == '.') end -= 1
    h.substring(0, end)
  }

  private def defaultPort(scheme: String): Int = scheme match {
    case "http" => 80
    case "https" => 443
    case "ftp" => 21
    case _ => -1
  }

  /** Full syntax-based normalization. Unparseable inputs are returned
    * trimmed (garbage-in tolerated so a bad row never kills a 100 TB job —
    * callers filter on `isValid`). */
  def normalize(url: String): String = {
    if (url == null) return null
    val trimmed = url.trim
    split(trimmed) match {
      case None => trimmed
      case Some((scheme0, userinfo, host0, port, path0, query)) =>
        val scheme = scheme0.toLowerCase
        val host = stripTrailingDots(host0.toLowerCase)
        val portPart = if (port < 0 || port == defaultPort(scheme)) "" else s":$port"
        val userPart = if (userinfo.isEmpty) "" else userinfo + "@"
        val path1 = normalizePercent(path0)
        val path2 = removeDotSegments(if (path1.isEmpty) "/" else path1)
        val path = if (path2.isEmpty) "/" else path2
        val queryPart = if (query == null) "" else "?" + normalizePercent(query)
        s"$scheme://$userPart$host$portPart$path$queryPart"
    }
  }

  /** RFC 3986 §3.1: schemes are case-INSENSITIVE — `HTTPS://…` is valid
    * (normalize already lowercases it; this must agree on raw input). */
  def isValid(url: String): Boolean = validHost(url) != null

  /** `host(url)` when `isValid(url)`, else null — both answers from one
    * `split` (the canonicalize kernel's per-row check). */
  def validHost(url: String): String =
    if (url == null) null
    else split(url.trim) match {
      case Some((s, _, h, _, _, _)) if h.nonEmpty && {
            val sl = s.toLowerCase
            sl == "http" || sl == "https"
          } => stripTrailingDots(h.toLowerCase)
      case _ => null
    }

  /** Lowercased host of a url, or "" when unparseable. */
  def host(url: String): String =
    if (url == null) "" else split(url.trim).map(h => stripTrailingDots(h._3.toLowerCase)).getOrElse("")
}
