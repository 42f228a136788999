package graft.codec

/** Pure-Scala XXH64 (public spec: xxHash by Yann Collet, BSD) plus the
  * shingle/minhash/simhash kernels used by the dedup expressions. One-pass
  * imperative implementations — these sit on the per-row hot path of the
  * near-dup pipelines, where interpreted higher-order-function expressions
  * are 50-100× slower.
  */
object Hashing {

  private final val P1 = -7046029288634856825L // 11400714785074694791
  private final val P2 = -4417276706812531889L // 14029467366897019727
  private final val P3 = 1609587929392839161L
  private final val P4 = -8796714831421723037L // 9650029242287828579
  private final val P5 = 2870177450012600261L

  def xxh64(data: Array[Byte], seed: Long): Long = xxh64Range(data, 0, data.length, seed)

  /** xxh64 over data[off, off+len) — the scratch-buffer form used by the
    * gram-hash kernels, which reuse one buffer across windows. */
  def xxh64Range(data: Array[Byte], off: Int, len: Int, seed: Long): Long = {
    var idx = off
    val end = off + len
    var hash =
      if (len >= 32) {
        var v1 = seed + P1 + P2
        var v2 = seed + P2
        var v3 = seed
        var v4 = seed - P1
        while (idx + 32 <= end) {
          v1 = round(v1, readLong(data, idx))
          v2 = round(v2, readLong(data, idx + 8))
          v3 = round(v3, readLong(data, idx + 16))
          v4 = round(v4, readLong(data, idx + 24))
          idx += 32
        }
        var h = java.lang.Long.rotateLeft(v1, 1) + java.lang.Long.rotateLeft(v2, 7) +
          java.lang.Long.rotateLeft(v3, 12) + java.lang.Long.rotateLeft(v4, 18)
        h = mergeRound(h, v1); h = mergeRound(h, v2)
        h = mergeRound(h, v3); h = mergeRound(h, v4)
        h
      } else seed + P5
    hash += len
    while (idx + 8 <= end) {
      hash ^= round(0L, readLong(data, idx))
      hash = java.lang.Long.rotateLeft(hash, 27) * P1 + P4
      idx += 8
    }
    if (idx + 4 <= end) {
      hash ^= (readInt(data, idx) & 0xffffffffL) * P1
      hash = java.lang.Long.rotateLeft(hash, 23) * P2 + P3
      idx += 4
    }
    while (idx < end) {
      hash ^= (data(idx) & 0xffL) * P5
      hash = java.lang.Long.rotateLeft(hash, 11) * P1
      idx += 1
    }
    hash ^= hash >>> 33
    hash *= P2
    hash ^= hash >>> 29
    hash *= P3
    hash ^ (hash >>> 32)
  }

  @inline private def round(acc: Long, input: Long): Long =
    java.lang.Long.rotateLeft(acc + input * P2, 31) * P1

  @inline private def mergeRound(acc0: Long, v: Long): Long = {
    val acc = acc0 ^ round(0L, v)
    acc * P1 + P4
  }

  @inline private def readLong(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) | ((b(i + 2) & 0xffL) << 16) |
      ((b(i + 3) & 0xffL) << 24) | ((b(i + 4) & 0xffL) << 32) |
      ((b(i + 5) & 0xffL) << 40) | ((b(i + 6) & 0xffL) << 48) | ((b(i + 7) & 0xffL) << 56)

  @inline private def readInt(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) | ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)

  def xxh64(s: String, seed: Long): Long =
    xxh64(s.getBytes(java.nio.charset.StandardCharsets.UTF_8), seed)

  // --- document kernels ----------------------------------------------------

  /** Lowercased whitespace tokens. */
  def tokens(text: String): Array[String] =
    text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)

  /** Base hashes of the k-word shingles (single pass, one string build per
    * shingle). Empty input → empty array. */
  def shingleHashes(text: String, k: Int): Array[Long] = {
    val ts = tokens(text)
    if (ts.length == 0) return Array.emptyLongArray
    val n = math.max(1, ts.length - k + 1)
    val out = new Array[Long](n)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < n) {
      sb.setLength(0)
      var j = 0
      while (j < k && i + j < ts.length) {
        if (j > 0) sb.append(' ')
        sb.append(ts(i + j))
        j += 1
      }
      out(i) = xxh64(sb.toString, 0L)
      i += 1
    }
    out
  }

  /** MinHash signature via the Kirsch-Mitzenmacher construction:
    * g_i(x) = h1(x) + i*h2(x); one base hash per shingle, one pass.
    * Empty shingle set → signature of Long.MaxValue. */
  def minhashSignature(text: String, k: Int, numHashes: Int): Array[Long] = {
    val hs = shingleHashes(text, k)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < hs.length) {
      val h1 = hs(i)
      // second hash: finalizer-mixed variant of h1
      var h2 = h1 ^ (h1 >>> 33)
      h2 *= P2
      h2 ^= h2 >>> 29
      h2 *= P3
      h2 ^= h2 >>> 32
      var p = 0
      var g = h1
      while (p < numHashes) {
        if (g < sig(p)) sig(p) = g
        g += h2
        p += 1
      }
      i += 1
    }
    sig
  }

  /** 64-bit SimHash over k-word shingle hashes: majority vote per bit. */
  def simhash64(text: String, k: Int): Long = {
    val hs = shingleHashes(text, k)
    if (hs.length == 0) return 0L
    val counts = new Array[Int](64)
    var i = 0
    while (i < hs.length) {
      val h = hs(i)
      var b = 0
      while (b < 64) {
        counts(b) += ((h >>> b) & 1L).toInt
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) * 2 >= hs.length) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Exact Jaccard similarity of the k-word shingle sets of two texts,
    * via 64-bit shingle hashes (collision probability negligible) — one
    * tokenize+hash pass per side, hashset intersection. */
  def jaccardShingles(a: String, b: String, k: Int): Double = {
    val ha = shingleHashes(a, k)
    val hb = shingleHashes(b, k)
    if (ha.isEmpty && hb.isEmpty) return 0.0
    val sa = new java.util.HashSet[Long](ha.length * 2)
    var i = 0
    while (i < ha.length) { sa.add(ha(i)); i += 1 }
    val sb = new java.util.HashSet[Long](hb.length * 2)
    i = 0
    while (i < hb.length) { sb.add(hb(i)); i += 1 }
    var inter = 0
    val it = sb.iterator()
    while (it.hasNext) if (sa.contains(it.next())) inter += 1
    inter.toDouble / (sa.size + sb.size - inter).toDouble
  }

  /** Deterministic Rademacher (±1) hyperplane matrix for random-hyperplane
    * LSH, built once per (dim, planes, seed) per JVM. */
  private val signCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Long), Array[Array[Byte]]]()
  private def signMatrix(dim: Int, planes: Int, seed: Long): Array[Array[Byte]] =
    signCache.computeIfAbsent((dim, planes, seed), { key =>
      val (d, p, s) = key
      Array.tabulate(p) { plane =>
        val row = new Array[Byte](d)
        var i = 0
        while (i < d) {
          // one xxh64 per (plane, dim) cell — computed once per JVM
          val h = xxh64Long((plane.toLong << 32) | (i.toLong & 0xffffffffL), s)
          row(i) = if ((h & 1L) == 1L) 1 else -1
          i += 1
        }
        row
      }
    })

  /** xxh64 of a single little-endian long (allocation-free). */
  def xxh64Long(v: Long, seed: Long): Long = {
    var hash = seed + P5 + 8L
    hash ^= round(0L, v)
    hash = java.lang.Long.rotateLeft(hash, 27) * P1 + P4
    hash ^= hash >>> 33
    hash *= P2
    hash ^= hash >>> 29
    hash *= P3
    hash ^ (hash >>> 32)
  }

  /** Banded random-hyperplane signatures: `nTables` independent LSH tables,
    * each a `bandBits`-bit sign signature. A near pair (cosine c) collides
    * in one table with p = (1 - θ/π)^bandBits, θ = arccos(c); across T
    * tables the candidate-recall is 1-(1-p)^T — e.g. c≥0.95, bandBits=10,
    * T=8 → ≈0.97, where a single 12-bit signature gives only ≈0.28. */
  def hyperplaneSigs(v: Array[Float], nTables: Int, bandBits: Int, seed: Long): Array[Long] = {
    val planes = nTables * bandBits
    val signs = signMatrix(v.length, planes, seed)
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var sig = 0L
      var b = 0
      while (b < bandBits) {
        val row = signs(t * bandBits + b)
        var proj = 0.0
        var i = 0
        while (i < v.length) { proj += v(i).toDouble * row(i); i += 1 }
        if (proj >= 0) sig |= (1L << b)
        b += 1
      }
      out(t) = sig
      t += 1
    }
    out
  }

  /** Winnowing-style document fingerprint: the k smallest xxh64 values
    * (seed 42, Spark-compatible) over character w-grams, hex-joined
    * ascending — one allocation-light pass (the HOF formulation hashed
    * every gram through interpreted expressions). */
  def fingerprint(text: String, w: Int, k: Int): String = {
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    // NOTE: grams are byte-windows of the UTF-8 encoding, matching
    // Spark's substr-on-UTF8String only for ASCII; for fingerprinting the
    // distinction is immaterial (any deterministic gramming works)
    val n = math.max(1, bytes.length - (w - 1))
    // bounded max-heap of the k smallest values
    val heap = new java.util.PriorityQueue[java.lang.Long](k + 1,
      java.util.Collections.reverseOrder[java.lang.Long]())
    var i = 0
    while (i < n) {
      val end = math.min(i + w, bytes.length)
      val h = xxh64(java.util.Arrays.copyOfRange(bytes, i, end), 42L)
      heap.add(h)
      if (heap.size > k) heap.poll()
      i += 1
    }
    val arr = new Array[Long](heap.size)
    var j = arr.length - 1
    while (j >= 0) { arr(j) = heap.poll(); j -= 1 }
    arr.map(h => java.lang.Long.toHexString(h)).mkString(",")
  }

  /** A stopword table in the shape [[langId]] scans it with: language
    * codes in ascending order, and one open-addressing token →
    * language-bitmask table keyed by `String.hashCode`, so a token is
    * looked up once, straight from the text's chars, whatever the number
    * of languages. */
  final class LangTable(stopwords: Map[String, Seq[String]]) {
    val langs: Array[String] = stopwords.keys.toArray.sorted
    require(langs.length <= 32, s"at most 32 languages, got ${langs.length}")
    private val masks: Map[String, Int] =
      langs.indices.flatMap(li => stopwords(langs(li)).map(_ -> (1 << li)))
        .groupMapReduce(_._1)(_._2)(_ | _)
    /** No token longer than this (in chars) can be a stopword. */
    val maxLen: Int = masks.keys.map(_.length).maxOption.getOrElse(0)
    private val slots = Integer.highestOneBit(math.max(1, masks.size) * 4)
    private val keys = new Array[String](slots)
    private val bits = new Array[Int](slots)
    masks.foreach { case (w, m) =>
      var i = spread(w.hashCode)
      while (keys(i) != null) i = (i + 1) & (slots - 1)
      keys(i) = w
      bits(i) = m
    }

    private def spread(h: Int): Int = (h ^ (h >>> 16)) & (slots - 1)

    /** Language bits of the token `s[start, end)`, whose `String.hashCode`
      * is `h`; 0 when it is no stopword. */
    def lookup(s: String, start: Int, end: Int, h: Int): Int = {
      val len = end - start
      var i = spread(h)
      while (keys(i) != null) {
        val k = keys(i)
        if (k.length == len && s.regionMatches(start, k, 0, len)) return bits(i)
        i = (i + 1) & (slots - 1)
      }
      0
    }
  }

  /** Regex `\s` without UNICODE_CHARACTER_CLASS: space, \t, \n, \u000b,
    * \f, \r. */
  @inline private def isSpace(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  /** Stopword-hit language ID over lowercase whitespace tokens: argmax hit
    * count, ties to the lexicographically greatest language code, "und"
    * when nothing hits. Must mirror TextAnalysis.stopwords + the
    * greatest(struct(score,lang)) tie rule (the t03 DuckDB oracle). One
    * scan of the lowercased text: the tokens are `split("\\s+")`'s, each
    * hashed as it is scanned and looked up once, only when short enough to
    * be a stopword. */
  def langId(text: String, table: LangTable): String = {
    val s = text.toLowerCase(java.util.Locale.ROOT)
    val n = s.length
    val counts = new Array[Int](table.langs.length)
    var start = -1 // first char of the current token, -1 between tokens
    var h = 0      // String.hashCode of s[start, i)
    var i = 0
    while (i <= n) {
      val c = if (i < n) s.charAt(i) else ' '
      if (!isSpace(c)) {
        if (start < 0) { start = i; h = 0 }
        h = 31 * h + c
      } else if (start >= 0) {
        if (i - start <= table.maxLen) {
          var bits = table.lookup(s, start, i, h)
          while (bits != 0) {
            counts(Integer.numberOfTrailingZeros(bits)) += 1
            bits &= bits - 1
          }
        }
        start = -1
      }
      i += 1
    }
    var bestLang = "und"
    var bestScore = 0
    var li = 0
    while (li < counts.length) {
      // languages ascend, so >= hands a tie to the greater code
      if (counts(li) > 0 && counts(li) >= bestScore) {
        bestScore = counts(li); bestLang = table.langs(li)
      }
      li += 1
    }
    bestLang
  }

  /** Fraction of whitespace tokens that are stopwords (any language in the
    * table); 0.0 for blank text. A standard web-text quality signal:
    * near-0 for boilerplate/gibberish, ~0.2-0.5 for natural prose. */
  def stopwordRatio(text: String, stops: java.util.HashSet[String]): Double = {
    val ts = tokens(text)
    if (ts.length == 0) return 0.0
    var hits = 0
    var i = 0
    while (i < ts.length) {
      if (stops.contains(ts(i))) hits += 1
      i += 1
    }
    hits.toDouble / ts.length
  }

  /** Cosine similarity of two float vectors, each accumulator a sequential
    * double fold — bitwise-identical to the DuckDB oracle's
    * list_sum(list_transform(...)) evaluation order. */
  def cosineF32(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      dot += a(i).toDouble * b(i).toDouble
      i += 1
    }
    i = 0
    while (i < a.length) { na += a(i).toDouble * a(i).toDouble; i += 1 }
    i = 0
    while (i < b.length) { nb += b(i).toDouble * b(i).toDouble; i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}
