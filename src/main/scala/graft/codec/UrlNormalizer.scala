package graft.codec

import java.nio.charset.StandardCharsets.UTF_8

/** RFC 3986 URL normalization for the crawl frontier (BASELINE.json
  * north_star; no reference impl — the reference only assembles
  * scheme://host+target, /root/reference/dialer.go:717-726).
  *
  * Rules (RFC 3986 §6.2.2 syntax-based normalization + standard crawler
  * canonicalization), applied to the input with surrounding bytes
  * ≤ 0x20 trimmed:
  *  - lowercase scheme and host
  *  - strip default ports (http:80, https:443, ftp:21) and empty ones
  *    (`h:/` → `h/`, §6.2.3); write other ports in plain decimal
  *    (`:0080` → `:80`)
  *  - remove dot-segments from the path (§5.2.4)
  *  - percent-encoding: uppercase hex digits; decode unreserved characters
  *  - empty path → "/"
  *  - drop the fragment
  *  - userinfo is kept verbatim; trailing dots leave the host
  *
  * A URL parses when it starts with `scheme://`, the scheme being ASCII
  * letters, digits, `+`, `-` and `.` (§3.1). A port is the ASCII digits
  * after the host's last `:` (§3.2.3). A port whose value exceeds 65535
  * makes the URL invalid: `isValid` is false, `host` is "", and
  * `normalize` keeps its digits verbatim. Unparseable input normalizes to
  * itself, trimmed — garbage is tolerated so a bad row never kills a
  * 100 TB job; callers filter on `isValid`.
  *
  * Every rule touches only ASCII delimiters, so [[Canon]] works on the
  * UTF-8 bytes in one scan and copies bytes ≥ 0x80 through. Two
  * components are decoded when they need to be: a host with a non-ASCII
  * byte is lowercased as a `String` (`Locale.ROOT`), and input with a
  * byte ≥ 0x80 is scanned again after `new String(bytes, UTF_8)`, which
  * replaces malformed UTF-8 by U+FFFD and gives well-formed input back
  * unchanged.
  * The `String` methods below are UTF-8 wrappers over the same scan.
  */
object UrlNormalizer {

  /** One URL's normal form, plus what the URL kernels read off it. A
    * `Canon` is reused for every URL one thread normalizes, so a run
    * allocates nothing on ASCII input; callers copy what they keep
    * before the next run. Not thread-safe. */
  final class Canon {
    private var in = new Array[Byte](256)
    /** The normal form: `buf[0, len)`. */
    var buf = new Array[Byte](256)
    var len = 0
    /** `host(input)`: `buf[hostOff, hostOff + hostLen)`. */
    var hostOff = 0
    var hostLen = 0
    /** `validHost(input) != null`: an http(s) URL with a non-empty host. */
    var inputValid = false
    /** `validHost(normal form) != null`, and that host:
      * `buf[hostOff, hostOff + validHostLen)`. */
    var valid = false
    var validHostLen = 0

    /** This Canon's input buffer, at least `n` bytes long. */
    def input(n: Int): Array[Byte] = {
      if (in.length < n) in = new Array[Byte](math.max(n, in.length * 2))
      in
    }

    private def reserve(n: Int): Unit =
      if (buf.length < n) buf = java.util.Arrays.copyOf(buf, math.max(n, buf.length * 2))

    /** Normalize the UTF-8 bytes `b[0, n)`. */
    def run(b: Array[Byte], n: Int): Canon = {
      if (scan(b, n) < 0) {
        // malformed UTF-8 becomes U+FFFD; well-formed bytes come back as they were
        val s = new String(b, 0, n, UTF_8).getBytes(UTF_8)
        scan(s, s.length)
      }
      this
    }

    /** One left-to-right pass over `b[0, n)` that writes the normal form.
      * Returns a negative number when the output may hold a byte ≥ 0x80;
      * `run` then rescans the input decoded and re-encoded. */
    private def scan(b: Array[Byte], n: Int): Int = {
      hostOff = 0; hostLen = 0; inputValid = false; valid = false; validHostLen = 0
      // String.trim: bytes ≤ 0x20 are exactly the chars ≤ U+0020
      var lo = 0
      var hi = n
      while (lo < hi && (b(lo) & 0xff) <= 0x20) lo += 1
      while (hi > lo && (b(hi - 1) & 0xff) <= 0x20) hi -= 1
      // only the empty path grows the output, by the "/" it gets
      reserve(hi - lo + 1)
      var o = buf
      var i = lo
      var p = 0
      var c: Byte = 0
      while (i < hi && isSchemeByte({ c = b(i); c })) { o(p) = lower(c); p += 1; i += 1 }
      if (p == 0 || i + 3 > hi || b(i) != ':' || b(i + 1) != '/' || b(i + 2) != '/') {
        System.arraycopy(b, lo, o, 0, hi - lo)
        len = hi - lo
        return if (hasHigh(b, lo, hi)) -1 else 0
      }
      val http = (p == 4 || p == 5 && o(4) == 's') &&
        o(0) == 'h' && o(1) == 't' && o(2) == 't' && o(3) == 'p'
      val defaultPort =
        if (http) (if (p == 4) 80 else 443)
        else if (p == 3 && o(0) == 'f' && o(1) == 't' && o(2) == 'p') 21
        else -1
      o(p) = ':'; o(p + 1) = '/'; o(p + 2) = '/'
      p += 3
      i += 3

      // authority, up to the first '/', '?' or '#', copied lowercased;
      // userinfo runs to its last '@' and is then copied back verbatim,
      // the port is the digits after the last ':' behind that '@'
      val a0 = i
      val u0 = p
      var high = 0
      var at = -1
      var colon = -1
      var prevColon = -1
      while (i < hi && { c = b(i); c != '/' && c != '?' && c != '#' }) {
        high |= c
        if (c == '@') { at = i; colon = -1; prevColon = -1 }
        else if (c == ':') { prevColon = colon; colon = i }
        o(p) = lower(c)
        p += 1
        i += 1
      }
      val a1 = i
      val hs = if (at >= 0) at + 1 else a0
      hostOff = u0 + (hs - a0)
      if (at > a0) System.arraycopy(b, a0, o, u0, at - a0)
      else if (at == a0) { // an empty userinfo drops its '@'
        System.arraycopy(o, hostOff, o, u0, p - hostOff)
        hostOff = u0
      }
      val port = if (colon >= 0) portValue(b, colon + 1, a1) else -1
      // an empty port (a ':' that ends the authority) goes too (§6.2.3)
      val he = if (port >= 0 || colon == a1 - 1) colon else a1
      p = hostOff + (he - hs)
      if (high < 0 && hasHigh(b, hs, he)) { // non-ASCII host: lowercase it as a String
        val h = new String(b, hs, he - hs, UTF_8).toLowerCase(java.util.Locale.ROOT).getBytes(UTF_8)
        reserve(hostOff + h.length + (hi - he) + 1)
        o = buf
        System.arraycopy(h, 0, o, hostOff, h.length)
        p = hostOff + h.length
      }
      while (p > hostOff && o(p - 1) == '.') p -= 1
      val hostEnd = p
      val portOk = port <= 65535
      hostLen = if (portOk) hostEnd - hostOff else 0
      inputValid = http && he > hs && portOk

      // validHost of the normal form, as a second parse would see it: the
      // port written here, or else the digits after the host's own last ':'
      var vEnd = hostEnd
      var vPortOk = portOk
      if (!portOk) {
        System.arraycopy(b, colon, o, p, a1 - colon)
        p += a1 - colon
      } else if (port >= 0 && port != defaultPort) {
        o(p) = ':'
        p = writeDecimal(port, p + 1)
      } else if ((if (he == colon) prevColon else colon) >= 0) {
        var k = hostEnd - 1
        while (o(k) != ':') k -= 1
        val v = portValue(o, k + 1, hostEnd)
        if (v >= 0) { vEnd = k; vPortOk = v <= 65535 }
        else if (k == hostEnd - 1) vEnd = k // an empty port, as above
      }
      if (http && vPortOk && vEnd > hostOff) {
        valid = true
        while (vEnd > hostOff && o(vEnd - 1) == '.') vEnd -= 1
        validHostLen = vEnd - hostOff
      }

      // path: '/'-led segments up to '?' or '#'; a "." or ".." segment
      // (after percent-decoding) is removed as §5.2.4 says
      val pathStart = p
      while (i < hi && b(i) == '/') {
        o(p) = '/'
        p += 1
        val seg = p
        i += 1
        while (i < hi && { c = b(i); c != '/' && c != '?' && c != '#' }) {
          high |= c
          if (c == '%' && isPercentTriple(b, i, hi)) { p = putPercent(b, i, p); i += 3 }
          else { o(p) = c; p += 1; i += 1 }
        }
        val dots = p - seg
        if ((dots == 1 || dots == 2) && o(seg) == '.' && o(p - 1) == '.') {
          p = seg - 1
          if (dots == 2 && p > pathStart) {
            p -= 1
            while (o(p) != '/') p -= 1
          }
          if (i == hi || b(i) != '/') { o(p) = '/'; p += 1 }
        }
      }
      if (p == pathStart) { o(p) = '/'; p += 1 }
      if (i < hi && b(i) == '?') {
        o(p) = '?'
        p += 1
        i += 1
        while (i < hi && { c = b(i); c != '#' }) {
          high |= c
          if (c == '%' && isPercentTriple(b, i, hi)) { p = putPercent(b, i, p); i += 3 }
          else { o(p) = c; p += 1; i += 1 }
        }
      }
      len = p
      high
    }

    /** Write the percent-encoding at `b(i)` in normal form at `p`: an
      * unreserved character decoded, anything else with uppercase hex.
      * Returns the new end. */
    private def putPercent(b: Array[Byte], i: Int, p: Int): Int = {
      val v = (hexValue(b(i + 1)) << 4) | hexValue(b(i + 2))
      if (isUnreserved(v)) { buf(p) = v.toByte; p + 1 }
      else {
        buf(p) = '%'; buf(p + 1) = upper(b(i + 1)); buf(p + 2) = upper(b(i + 2))
        p + 3
      }
    }

    private def writeDecimal(v: Int, p0: Int): Int = {
      var p = p0
      var d = 10000
      while (d > 1 && v < d) d /= 10
      while (d > 0) { buf(p) = ('0' + v / d % 10).toByte; p += 1; d /= 10 }
      p
    }
  }

  private val local = ThreadLocal.withInitial[Canon](() => new Canon)

  /** This thread's [[Canon]]. */
  def canon(): Canon = local.get

  private def isSchemeByte(c: Byte): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') ||
      c == '+' || c == '-' || c == '.'

  private def isUnreserved(c: Int): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
      (c >= '0' && c <= '9') || c == '-' || c == '.' || c == '_' || c == '~'

  private def lower(c: Byte): Byte = if (c >= 'A' && c <= 'Z') (c + 32).toByte else c
  private def upper(c: Byte): Byte = if (c >= 'a' && c <= 'z') (c - 32).toByte else c

  private def hexValue(c: Byte): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1

  private def isPercentTriple(b: Array[Byte], i: Int, hi: Int): Boolean =
    i + 2 < hi && hexValue(b(i + 1)) >= 0 && hexValue(b(i + 2)) >= 0

  private def hasHigh(b: Array[Byte], from: Int, to: Int): Boolean = {
    var k = from
    while (k < to && b(k) >= 0) k += 1
    k < to
  }

  /** Value of the ASCII digits `b[from, to)`, capped at 65536; -1 when
    * the range is empty or holds anything else. */
  private def portValue(b: Array[Byte], from: Int, to: Int): Int = {
    if (from >= to) return -1
    var v = 0
    var k = from
    while (k < to) {
      val c = b(k)
      if (c < '0' || c > '9') return -1
      v = math.min(v * 10 + (c - '0'), 65536)
      k += 1
    }
    v
  }

  private def run(url: String): Canon = {
    val b = url.getBytes(UTF_8)
    canon().run(b, b.length)
  }

  /** Full syntax-based normalization; null stays null. */
  def normalize(url: String): String =
    if (url == null) null
    else { val c = run(url); new String(c.buf, 0, c.len, UTF_8) }

  /** RFC 3986 §3.1: schemes are case-INSENSITIVE — `HTTPS://…` is valid
    * (normalize already lowercases it; this must agree on raw input). */
  def isValid(url: String): Boolean = url != null && run(url).inputValid

  /** `host(url)` when `isValid(url)`, else null. */
  def validHost(url: String): String =
    if (url == null) null
    else {
      val c = run(url)
      if (c.inputValid) new String(c.buf, c.hostOff, c.hostLen, UTF_8) else null
    }

  /** Lowercased host of a url without trailing dots, or "" when it does
    * not parse or its port exceeds 65535. */
  def host(url: String): String =
    if (url == null) ""
    else { val c = run(url); new String(c.buf, c.hostOff, c.hostLen, UTF_8) }
}
