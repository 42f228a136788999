package graft.codec

import java.security.MessageDigest

/** Digest helpers matching the reference's digest semantics
  * (/root/reference/utils.go:23-48): SHA-1 / SHA-256 encoded with RFC 4648
  * standard Base32 (padded). Byte-compatibility is contractual — the
  * constants appear in fixtures (FIXTURES.md §4).
  */
object Digests {
  private final val B32 = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567".toCharArray

  /** Base32 of SHA-1 of the empty payload — the reference exempts this
    * digest from dedup (/root/reference/dialer.go:402,516). */
  final val EmptySha1Base32 = "3I42H3S6NNFQ2MSVX7XZKYAYSCX5QBYJ"

  /** RFC 4648 standard Base32 with '=' padding. */
  def base32(bytes: Array[Byte]): String = {
    val out = new java.lang.StringBuilder(((bytes.length + 4) / 5) * 8)
    var i = 0
    while (i < bytes.length) {
      val n = math.min(5, bytes.length - i)
      var acc = 0L
      var j = 0
      while (j < 5) {
        acc = (acc << 8) | (if (j < n) bytes(i + j) & 0xffL else 0L)
        j += 1
      }
      val outChars = (n * 8 + 4) / 5
      var k = 0
      while (k < 8) {
        if (k < outChars) out.append(B32(((acc >>> (35 - 5 * k)) & 0x1f).toInt))
        else out.append('=')
        k += 1
      }
      i += 5
    }
    out.toString
  }

  private def digest(algo: String, bytes: Array[Byte]): Array[Byte] =
    MessageDigest.getInstance(algo).digest(bytes)

  def sha1(bytes: Array[Byte]): Array[Byte] = digest("SHA-1", bytes)
  def sha256(bytes: Array[Byte]): Array[Byte] = digest("SHA-256", bytes)

  /** `sha1:<base32>` payload-digest form is built by callers; this is the
    * raw base32 body. */
  def sha1Base32(bytes: Array[Byte]): String = base32(sha1(bytes))
  def sha256Base32(bytes: Array[Byte]): String = base32(sha256(bytes))

  def sha1Base32(s: String): String =
    sha1Base32(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  def sha256Base32(s: String): String =
    sha256Base32(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
}
