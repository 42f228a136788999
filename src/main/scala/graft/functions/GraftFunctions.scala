package graft.functions

import graft.codec.{Digests, HttpCodec, UrlNormalizer}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Generator, GenericInternalRow, SpecificInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Static, null-free kernels callable from generated code. Keeping these as
  * plain static-shaped methods lets every expression below stay inside
  * whole-stage codegen (one virtual call per row, no boxing beyond the
  * unavoidable byte[]/String copies).
  */
object Kernels {
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import graft.codec.Hashing

  def minhashSig(s: UTF8String, k: Int, n: Int): ArrayData =
    new GenericArrayData(Hashing.minhashSignature(s.toString, k, n))
  def simhash64(s: UTF8String, k: Int): Long = Hashing.simhash64(s.toString, k)
  def jaccardShingles(a: UTF8String, b: UTF8String, k: Int): Double =
    Hashing.jaccardShingles(a.toString, b.toString, k)
  def cosineF32(a: ArrayData, b: ArrayData): Double =
    Hashing.cosineF32(a.toFloatArray(), b.toFloatArray())
  def hyperplaneSigs(v: ArrayData, nTables: Int, bandBits: Int, seed: Long): ArrayData =
    new GenericArrayData(Hashing.hyperplaneSigs(v.toFloatArray(), nTables, bandBits, seed))

  /** Symmetric int8 quantization: scale by 127/max|x|, round via
    * floor(x·s + 0.5) — the exact formula the s03 oracle replays in SQL.
    * All-zero vectors quantize to zeros. */
  def quantizeI8(v: ArrayData): ArrayData = {
    val a = v.toFloatArray()
    var mx = 0f
    var i = 0
    while (i < a.length) { val x = math.abs(a(i)); if (x > mx) mx = x; i += 1 }
    val out = new Array[Float](a.length)
    if (mx != 0f) {
      i = 0
      while (i < a.length) {
        out(i) = math.floor(a(i).toDouble * 127.0 / mx.toDouble + 0.5).toFloat
        i += 1
      }
    }
    new GenericArrayData(out)
  }

  /** Exact within-document word n-gram repetition counts over a
    * pre-tokenized word array: (max single-gram count, occurrences of
    * grams appearing more than once, total gram occurrences) as three
    * longs. The Gopher repetition ratios divide these exact integers —
    * repetition is within-row work, so it runs as one kernel call per
    * document with a local count map, never as a corpus-wide
    * explode+shuffle of gram-occurrence strings (at 10^10 docs that
    * explode is ~10^13 shuffled rows for a per-row answer). */
  def gramCounts(ws: ArrayData, n: Int): ArrayData = {
    val nw = ws.numElements()
    val total = nw - n + 1
    if (total <= 0) return new GenericArrayData(Array(0L, 0L, 0L))
    // intern words to dense int ids first: two equal grams are exactly two
    // equal id sequences (words are compared once, by content, at intern
    // time), so gram keys become 2-chars-per-word strings instead of the
    // gram text — the count map hashes ~4n bytes per gram, not the words
    val interned = new java.util.HashMap[UTF8String, Integer](nw * 2)
    val ids = new Array[Int](nw)
    var w = 0
    while (w < nw) {
      val u = ws.getUTF8String(w)
      val key = if (u == null) UTF8String.EMPTY_UTF8 else u
      var id = interned.get(key)
      if (id == null) { id = Integer.valueOf(interned.size()); interned.put(key, id) }
      ids(w) = id.intValue()
      w += 1
    }
    val counts = new java.util.HashMap[String, Integer](total * 2)
    val chars = new Array[Char](2 * n)
    var i = 0
    while (i < total) {
      var j = 0
      while (j < n) {
        val id = ids(i + j)
        chars(2 * j) = (id >>> 16).toChar
        chars(2 * j + 1) = (id & 0xffff).toChar
        j += 1
      }
      counts.merge(new String(chars), 1, (a: Integer, b: Integer) => Integer.valueOf(a + b))
      i += 1
    }
    var mx = 0L
    var dup = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next().intValue()
      if (c > mx) mx = c.toLong
      if (c > 1) dup += c
    }
    new GenericArrayData(Array(mx, dup, total.toLong))
  }

  /** Word byte slices + the max window byte length for an n-gram walk over
    * a pre-tokenized words column — shared prologue of the gram-hash
    * kernels. Returns null when fewer than n words. */
  private def gramWalk(ws: ArrayData, n: Int): (Array[Array[Byte]], Int, Int) = {
    val nw = ws.numElements()
    val total = nw - n + 1
    if (total <= 0) return null
    val wb = new Array[Array[Byte]](nw)
    var i = 0
    while (i < nw) {
      val u = ws.getUTF8String(i)
      wb(i) = if (u == null) Array.emptyByteArray else u.getBytes
      i += 1
    }
    // sliding window byte length: sum of n word lengths + (n-1) separators
    var win = n - 1
    i = 0
    while (i < n) { win += wb(i).length; i += 1 }
    var maxWin = win
    i = n
    while (i < nw) {
      win += wb(i).length - wb(i - n).length
      if (win > maxWin) maxWin = win
      i += 1
    }
    (wb, total, maxWin)
  }

  /** EXACT count of the row's DISTINCT word n-grams present in the eval
    * bank (`bcValue` = broadcast (sorted xxh64 gram hashes, gram UTF-8
    * bytes aligned to that order)). Per window: hash from a reused
    * scratch buffer, binary-search the bank, then BYTE-COMPARE against
    * every bank entry sharing the hash — string equality decides, so a
    * 64-bit collision (either doc-gram vs bank or bank-internal) can
    * never miscount. Distinctness (matching array_distinct-of-grams
    * semantics) via the set of matched bank slots: a doc gram equals at
    * most one eval gram, so distinct matched doc grams == distinct
    * matched slots. One kernel call per document — the decontamination
    * operator needs NO gram explode, NO join and NO gram strings. */
  def gramHitCount(ws: ArrayData, n: Int, bcValue: Object): Int = {
    val (bank, grams) = bcValue.asInstanceOf[(Array[Long], Array[Array[Byte]])]
    if (bank.length == 0) return 0
    val walk = gramWalk(ws, n)
    if (walk == null) return 0
    val (wb, total, maxWin) = walk
    val scratch = new Array[Byte](maxWin)
    var matched: java.util.HashSet[Integer] = null
    var g = 0
    while (g < total) {
      // inline gramHashAt so the window byte length is at hand for compares
      var off = 0
      var j = 0
      while (j < n) {
        if (j > 0) { scratch(off) = ' '; off += 1 }
        val b = wb(g + j)
        System.arraycopy(b, 0, scratch, off, b.length)
        off += b.length
        j += 1
      }
      val h = Hashing.xxh64Range(scratch, 0, off, 42L)
      var i = java.util.Arrays.binarySearch(bank, h)
      if (i >= 0) {
        while (i > 0 && bank(i - 1) == h) i -= 1 // leftmost of an equal-hash run
        var done = false
        while (!done && i < bank.length && bank(i) == h) {
          val eg = grams(i)
          if (eg.length == off && java.util.Arrays.equals(eg, 0, off, scratch, 0, off)) {
            if (matched == null) matched = new java.util.HashSet[Integer]()
            matched.add(Integer.valueOf(i))
            done = true // a doc gram equals at most one bank gram
          }
          i += 1
        }
      }
      g += 1
    }
    if (matched == null) 0 else matched.size()
  }

  /** Nearest-centroid assignment against a broadcast codebook: returns the
    * cell id with the highest cosine (ties → lowest cell id, because cells
    * are scanned in ascending-id order and only a strictly-greater score
    * replaces). One narrow call per row — the IVF assignment never joins or
    * shuffles. `bcValue` is the broadcast (ids, vectors) pair. */
  def argmaxCell(v: ArrayData, bcValue: Object): Long = {
    val (ids, vecs) = bcValue.asInstanceOf[(Array[Long], Array[Array[Float]])]
    val fv = v.toFloatArray()
    var best = 0
    var bestCos = -2.0
    var i = 0
    while (i < vecs.length) {
      val c = Hashing.cosineF32(fv, vecs(i))
      if (c > bestCos) { bestCos = c; best = i }
      i += 1
    }
    ids(best)
  }

  // language table shared by every LangId call in the JVM (built once)
  private lazy val langTable = new Hashing.LangTable(graft.operators.TextAnalysis.stopwords)

  private lazy val allStops: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    graft.operators.TextAnalysis.stopwords.values.flatten.foreach(s.add)
    s
  }
  def stopwordRatio(s: UTF8String): Double = Hashing.stopwordRatio(s.toString, allStops)

  def fingerprint(s: UTF8String, w: Int, k: Int): UTF8String =
    UTF8String.fromString(Hashing.fingerprint(s.toString, w, k))
  def langId(s: UTF8String): UTF8String =
    UTF8String.fromString(Hashing.langId(s.toString, langTable))

  /** Normalize `s` with `c`, through `c`'s input buffer. */
  private def run(c: UrlNormalizer.Canon, s: UTF8String): Unit = {
    val n = s.numBytes
    val in = c.input(n)
    s.writeToMemory(in, Platform.BYTE_ARRAY_OFFSET)
    c.run(in, n)
  }
  def urlNormalize(c: UrlNormalizer.Canon, s: UTF8String): UTF8String = {
    run(c, s)
    UTF8String.fromBytes(java.util.Arrays.copyOf(c.buf, c.len))
  }
  def urlHost(c: UrlNormalizer.Canon, s: UTF8String): UTF8String = {
    run(c, s)
    UTF8String.fromBytes(java.util.Arrays.copyOfRange(c.buf, c.hostOff, c.hostOff + c.hostLen))
  }
  def urlIsValid(c: UrlNormalizer.Canon, s: UTF8String): Boolean = { run(c, s); c.inputValid }
  private val noUrl = new GenericArrayData(Array.empty[Any])
  /** `url_is_valid(n) ? [(n, url_host(n))] : []` for `n = url_normalize(s)`,
    * from one scan of `s`; the host is a view of the normal form's bytes. */
  def urlCanon(c: UrlNormalizer.Canon, s: UTF8String): ArrayData = {
    run(c, s)
    if (!c.valid) noUrl
    else {
      val norm = java.util.Arrays.copyOf(c.buf, c.len)
      new GenericArrayData(Array[Any](new GenericInternalRow(Array[Any](
        UTF8String.fromBytes(norm),
        UTF8String.fromBytes(norm, c.hostOff, c.validHostLen)))))
    }
  }
  def sha1Base32(b: Array[Byte]): UTF8String = UTF8String.fromString(Digests.sha1Base32(b))
  def sha256Base32(b: Array[Byte]): UTF8String = UTF8String.fromString(Digests.sha256Base32(b))
  def gunzip(b: Array[Byte]): Array[Byte] = HttpCodec.gunzip(b)
  def httpExtractText(b: Array[Byte]): UTF8String =
    UTF8String.fromBytes(HttpCodec.decodedBody(b))
  def bpeCount(s: UTF8String): Int = graft.codec.Bpe.countTokens(s.toString)

  /** Word-piece upper-bound subword count: one piece per maximal ASCII
    * alphanumeric run + one per non-space non-alnum CODEPOINT (tab and
    * newline count; only ASCII 0x20 is skipped) — exactly
    * `len(regexp_extract_all(t,'[a-zA-Z0-9]+')) +
    *  len(regexp_extract_all(t,'[^a-zA-Z0-9 ]'))`.
    * Single pass over the UTF-8 bytes, zero allocation: a multi-byte lead
    * byte counts one piece and its continuation bytes are skipped, so
    * astral codepoints count once like the per-codepoint regex. Replaces
    * a lookaround-regex split that materialized a per-char array (3-4
    * ms/doc — the dominant cost of the subword query at web scale). */
  def subwordCount(s: UTF8String): Int = {
    val n = s.numBytes
    var i = 0
    var count = 0
    var inRun = false
    while (i < n) {
      val b = s.getByte(i)
      if (b >= 0) { // ASCII
        val alnum = (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
          (b >= '0' && b <= '9')
        if (alnum) {
          if (!inRun) count += 1
          inRun = true
        } else {
          inRun = false
          if (b != ' ') count += 1
        }
        i += 1
      } else {
        inRun = false
        count += 1
        i += 1
        while (i < n && (s.getByte(i) & 0xC0) == 0x80) i += 1
      }
    }
    count
  }
  def bpeIds(s: UTF8String): UTF8String =
    UTF8String.fromString(graft.codec.Bpe.encodeIdsStr(s.toString))
  def lmSlogSum(s: UTF8String): Long = graft.codec.Lm.score(s.toString)._2

  /** Fused quality counts in ONE UTF-8 byte walk:
    * [n_chars, alpha_chars, digit_chars, punct_chars, n_tokens] —
    * bit-equal to the five-expression form it replaces:
    *   length(t), length(regexp_replace(t,"[^a-zA-Z]","")),
    *   length(regexp_replace(t,"[^0-9]","")),
    *   length(regexp_replace(t,"[^.,;:!?'\"()-]","")),
    *   when(length(trim(t))==0, 0).otherwise(size(split(trim(t),"\\s+")))
    * Semantics pinned to the originals: n_chars counts CODEPOINTS
    * (astral = 1, like Spark `length` and DuckDB `length`); the char
    * classes are pure ASCII; `trim` strips ONLY 0x20; Spark `split`
    * keeps trailing empties (limit -1), so n_tokens = (number of maximal
    * Java-`\s` runs, i.e. [ \t\n\x0B\f\r], inside the space-trimmed
    * region) + 1, or 0 when the trimmed region is empty — identical to
    * DuckDB `len(regexp_split_to_array(trim(t),'\s+'))` on text without
    * \x0B (RE2's \s lacks vertical tab; neither corpus nor oracle emits
    * it). Replaces three full-string regexp_replace rewrites + one
    * array-allocating split per row — the dominant cost of the quality
    * query at web scale. */
  def qualityCounts(s: UTF8String): ArrayData = {
    val n = s.numBytes
    // space-trimmed bounds (0x20 only, exactly like Spark/DuckDB trim)
    var lo = 0
    while (lo < n && s.getByte(lo) == ' ') lo += 1
    var hi = n
    while (hi > lo && s.getByte(hi - 1) == ' ') hi -= 1
    var nChars, alpha, digit, punct = 0
    var wsRuns = 0
    var inWs = false
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b >= 0) { // ASCII
        nChars += 1
        if ((b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')) alpha += 1
        else if (b >= '0' && b <= '9') digit += 1
        else if (b == '.' || b == ',' || b == ';' || b == ':' || b == '!' ||
                 b == '?' || b == '\'' || b == '"' || b == '(' || b == ')' ||
                 b == '-') punct += 1
        if (i >= lo && i < hi) {
          val ws = b == ' ' || b == '\t' || b == '\n' || b == 0x0B ||
            b == '\f' || b == '\r'
          if (ws) { if (!inWs) wsRuns += 1; inWs = true } else inWs = false
        }
        i += 1
      } else { // multi-byte codepoint: one char, never ws/alpha/digit/punct
        nChars += 1
        if (i >= lo && i < hi) inWs = false
        i += 1
        while (i < n && (s.getByte(i) & 0xC0) == 0x80) i += 1
      }
    }
    val nTokens = if (hi == lo) 0 else wsRuns + 1
    new GenericArrayData(Array(nChars, alpha, digit, punct, nTokens))
  }
}

/** Base for one-arg expressions implemented as a static kernel call —
  * native Catalyst `Expression`s with real `doGenCode` (SURVEY.md §2.9:
  * promoted from UDFs because they sit on the hot canonicalize/extract
  * path of every row at 10^10 scale).
  */
abstract class KernelUnary extends UnaryExpression {
  /** fully-qualified static call with one %s input placeholder */
  protected def kernelCall: String
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => kernelCall.format(c))
}

/** A URL kernel, called with a [[UrlNormalizer.Canon]] as its first
  * argument. Generated code makes one per stage instance, so one per task,
  * when the stage starts; interpreted evaluation takes the thread's own.
  * (A per-row `ThreadLocal` lookup missed its first probe on Spark's task
  * threads and cost as much CPU as the scan it served.) */
abstract class UrlKernel extends KernelUnary {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val canon = ctx.addMutableState("graft.codec.UrlNormalizer.Canon", "urlCanon",
      v => s"$v = new graft.codec.UrlNormalizer.Canon();")
    defineCodeGen(ctx, ev, c => kernelCall.format(canon, c))
  }
}

case class UrlNormalize(child: Expression) extends UrlKernel {
  override def dataType: DataType = StringType
  override protected def kernelCall = "graft.functions.Kernels.urlNormalize(%s, %s)"
  override def nullSafeEval(v: Any): Any =
    Kernels.urlNormalize(UrlNormalizer.canon(), v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): UrlNormalize = copy(child = c)
  override def prettyName: String = "url_normalize"
}

case class UrlHost(child: Expression) extends UrlKernel {
  override def dataType: DataType = StringType
  override protected def kernelCall = "graft.functions.Kernels.urlHost(%s, %s)"
  override def nullSafeEval(v: Any): Any =
    Kernels.urlHost(UrlNormalizer.canon(), v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): UrlHost = copy(child = c)
  override def prettyName: String = "url_host"
}

case class UrlIsValid(child: Expression) extends UrlKernel {
  override def dataType: DataType = BooleanType
  override protected def kernelCall = "graft.functions.Kernels.urlIsValid(%s, %s)"
  override def nullSafeEval(v: Any): Any =
    Kernels.urlIsValid(UrlNormalizer.canon(), v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): UrlIsValid = copy(child = c)
  override def prettyName: String = "url_is_valid"
}

/** The canonicalize kernel: zero or one `struct(url_norm, host)` per url —
  * one normalize, one validity+host parse. An array, not a nullable
  * struct, so `inline` expands it in a `Generate` that filter pushdown
  * cannot copy (see `Frontier.canonicalize`). Field nullability follows
  * the input, as `url_normalize`/`url_host` do. */
case class UrlCanon(child: Expression) extends UrlKernel {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("url_norm", StringType, child.nullable),
    StructField("host", StringType, child.nullable))), containsNull = false)
  override protected def kernelCall = "graft.functions.Kernels.urlCanon(%s, %s)"
  override def nullSafeEval(v: Any): Any =
    Kernels.urlCanon(UrlNormalizer.canon(), v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): UrlCanon = copy(child = c)
  override def prettyName: String = "url_canon"
}

/** `sha1:`-less base32 SHA-1 — the reference's digest encoding
  * (/root/reference/utils.go:23-30); Spark's sha1() is hex so this must be
  * a custom expression. */
case class Sha1Base32(child: Expression) extends KernelUnary {
  override def dataType: DataType = StringType
  override protected def kernelCall = "graft.functions.Kernels.sha1Base32(%s)"
  override def nullSafeEval(v: Any): Any = Kernels.sha1Base32(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Sha1Base32 = copy(child = c)
  override def prettyName: String = "sha1_base32"
}

case class Sha256Base32(child: Expression) extends KernelUnary {
  override def dataType: DataType = StringType
  override protected def kernelCall = "graft.functions.Kernels.sha256Base32(%s)"
  override def nullSafeEval(v: Any): Any = Kernels.sha256Base32(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Sha256Base32 = copy(child = c)
  override def prettyName: String = "sha256_base32"
}

case class GunzipExpr(child: Expression) extends KernelUnary {
  override def dataType: DataType = BinaryType
  override protected def kernelCall = "graft.functions.Kernels.gunzip(%s)"
  override def nullSafeEval(v: Any): Any = Kernels.gunzip(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): GunzipExpr = copy(child = c)
  override def prettyName: String = "gunzip"
}

/** The byte-identical text path (SURVEY.md P8): raw stored HTTP response
  * block → chunked-decode → gunzip → body bytes as UTF8String. */
case class HttpExtractText(child: Expression) extends KernelUnary {
  override def dataType: DataType = StringType
  override protected def kernelCall = "graft.functions.Kernels.httpExtractText(%s)"
  override def nullSafeEval(v: Any): Any = Kernels.httpExtractText(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): HttpExtractText = copy(child = c)
  override def prettyName: String = "http_extract_text"
}

/** Full structured HTTP parse: BINARY → struct(status, headers, body).
  * Struct construction isn't worth hand-writing codegen for (it is off the
  * per-row hot path — used by the extract/verify pipelines, not
  * canonicalize), so CodegenFallback. */
case class HttpParse(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("status", IntegerType),
    StructField("headers", MapType(StringType, StringType)),
    StructField("body", BinaryType)))
  override def nullSafeEval(v: Any): Any = {
    val msg = HttpCodec.parse(v.asInstanceOf[Array[Byte]])
    val keys = msg.headers.map { case (k, _) => UTF8String.fromString(k).asInstanceOf[Any] }.toArray
    val vals = msg.headers.map { case (_, x) => UTF8String.fromString(x).asInstanceOf[Any] }.toArray
    InternalRow(
      msg.status,
      ArrayBasedMapData(keys, vals),
      msg.body)
  }
  override protected def withNewChildInternal(c: Expression): HttpParse = copy(child = c)
  override def prettyName: String = "http_parse"
}

/** One-pass MinHash signature (Kirsch-Mitzenmacher) over k-word shingles —
  * replaces a 64-pass higher-order-function pipeline that evaluated
  * interpreted (50×+ slower on the near-dup hot path). */
case class MinHashSig(child: Expression, k: Int, numHashes: Int) extends KernelUnary {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def kernelCall = s"graft.functions.Kernels.minhashSig(%s, $k, $numHashes)"
  override def nullSafeEval(v: Any): Any =
    Kernels.minhashSig(v.asInstanceOf[UTF8String], k, numHashes)
  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
  override def prettyName: String = "minhash_sig"
}

/** One-pass 64-bit SimHash over k-word shingles. */
case class SimHash64(child: Expression, k: Int) extends KernelUnary {
  override def dataType: DataType = LongType
  override protected def kernelCall = s"graft.functions.Kernels.simhash64(%s, $k)"
  override def nullSafeEval(v: Any): Any = Kernels.simhash64(v.asInstanceOf[UTF8String], k)
  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
  override def prettyName: String = "simhash64"
}

/** Winnowing-style min-k fingerprint over character w-grams. */
case class FingerprintExpr(child: Expression, w: Int, k: Int) extends KernelUnary {
  override def dataType: DataType = StringType
  override protected def kernelCall = s"graft.functions.Kernels.fingerprint(%s, $w, $k)"
  override def nullSafeEval(v: Any): Any =
    Kernels.fingerprint(v.asInstanceOf[UTF8String], w, k)
  override protected def withNewChildInternal(c: Expression): FingerprintExpr = copy(child = c)
  override def prettyName: String = "doc_fingerprint"
}

/** Stopword fraction of the whitespace tokens (web-text quality signal). */
/** Byte-level BPE token count under the repo's committed deterministic
  * merge table (graft.codec.Bpe) — the tokenizer-faithful basis for
  * sequence packing, replacing the regex word-piece proxy. */
case class BpeCount(child: Expression) extends KernelUnary {
  override def dataType: DataType = IntegerType
  override protected def kernelCall = "graft.functions.Kernels.bpeCount(%s)"
  override def nullSafeEval(v: Any): Any = Kernels.bpeCount(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): BpeCount = copy(child = c)
  override def prettyName: String = "bpe_count"
}

/** Fused per-doc quality counts [n_chars, alpha, digit, punct, n_tokens]
  * in one byte walk — see [[Kernels.qualityCounts]] for the exact
  * five-expression contract it replaces bit-for-bit. */
case class QualityCounts(child: Expression) extends KernelUnary {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def kernelCall = "graft.functions.Kernels.qualityCounts(%s)"
  override def nullSafeEval(v: Any): Any = Kernels.qualityCounts(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): QualityCounts = copy(child = c)
  override def prettyName: String = "quality_counts"
}

/** Word-piece-split upper-bound subword count (alnum runs + non-space
  * non-alnum codepoints) as a one-pass zero-allocation byte walk —
  * see [[Kernels.subwordCount]] for the exact oracle contract. */
case class SubwordCount(child: Expression) extends KernelUnary {
  override def dataType: DataType = IntegerType
  override protected def kernelCall = "graft.functions.Kernels.subwordCount(%s)"
  override def nullSafeEval(v: Any): Any = Kernels.subwordCount(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): SubwordCount = copy(child = c)
  override def prettyName: String = "subword_count"
}

/** Comma-joined BPE vocab ids (byte symbols 0..255, merge k → 256+k) —
  * the per-row tokenizer-to-ids step of a training-shard exporter. */
case class BpeIds(child: Expression) extends KernelUnary {
  override def dataType: DataType = StringType
  override protected def kernelCall = "graft.functions.Kernels.bpeIds(%s)"
  override def nullSafeEval(v: Any): Any = Kernels.bpeIds(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): BpeIds = copy(child = c)
  override def prettyName: String = "bpe_ids"
}

/** Σ scaled-log2-prob of a text's char bigrams under the committed LM
  * (graft.codec.Lm) — exact LONG, the CCNet-style quality signal. */
case class LmSlogSum(child: Expression) extends KernelUnary {
  override def dataType: DataType = LongType
  override protected def kernelCall = "graft.functions.Kernels.lmSlogSum(%s)"
  override def nullSafeEval(v: Any): Any = Kernels.lmSlogSum(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): LmSlogSum = copy(child = c)
  override def prettyName: String = "lm_slog_sum"
}

case class StopwordRatio(child: Expression) extends KernelUnary {
  override def dataType: DataType = DoubleType
  override protected def kernelCall = "graft.functions.Kernels.stopwordRatio(%s)"
  override def nullSafeEval(v: Any): Any = Kernels.stopwordRatio(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): StopwordRatio = copy(child = c)
  override def prettyName: String = "stopword_ratio"
}

/** Stopword-table language ID (argmax with the greatest-lang tie rule). */
case class LangIdExpr(child: Expression) extends KernelUnary {
  override def dataType: DataType = StringType
  override protected def kernelCall = "graft.functions.Kernels.langId(%s)"
  override def nullSafeEval(v: Any): Any = Kernels.langId(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): LangIdExpr = copy(child = c)
  override def prettyName: String = "lang_id"
}

/** Banded random-hyperplane LSH signatures over a FLOAT vector — one
  * kernel call per row (the HOF formulation evaluates interpreted and
  * recomputes the hyperplane draws per row·plane·dim). */
case class HyperplaneSigs(child: Expression, nTables: Int, bandBits: Int, seed: Long)
    extends KernelUnary {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def kernelCall =
    s"graft.functions.Kernels.hyperplaneSigs(%s, $nTables, $bandBits, ${seed}L)"
  override def nullSafeEval(v: Any): Any =
    Kernels.hyperplaneSigs(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      nTables, bandBits, seed)
  override protected def withNewChildInternal(c: Expression): HyperplaneSigs = copy(child = c)
  override def prettyName: String = "hyperplane_sigs"
}

/** Per-document gram repetition counts (max, dup-occurrences, total) over
  * a tokenized word array — the per-row kernel form of the Gopher
  * repetition rules. See [[Kernels.gramCounts]]. */
case class GramCounts(child: Expression, n: Int) extends KernelUnary {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def kernelCall = s"graft.functions.Kernels.gramCounts(%s, $n)"
  override def nullSafeEval(v: Any): Any =
    Kernels.gramCounts(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)
  override protected def withNewChildInternal(c: Expression): GramCounts = copy(child = c)
  override def prettyName: String = "gram_counts"
}

/** Decontamination as one kernel call per document: the EXACT count of
  * the row's distinct word n-grams present in the broadcast eval-gram
  * dim (sorted hashes + aligned gram bytes). Byte equality decides every
  * hit, so this is string-exact — hashing only routes the lookup. Inside
  * whole-stage codegen; replaces a corpus-wide gram explode + broadcast
  * join (at 10^10 docs that explode is ~10^12 interpreted-built gram
  * strings for a per-row answer). */
case class GramHitCount(
    child: Expression,
    n: Int,
    bankBc: org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Array[Byte]])])
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any =
    Kernels.gramHitCount(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n,
      bankBc.value)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("gramBankBc", bankBc,
      "org.apache.spark.broadcast.Broadcast")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Kernels.gramHitCount($c, $n, $ref.value())")
  }
  override protected def withNewChildInternal(c: Expression): GramHitCount = copy(child = c)
  override def prettyName: String = "gram_hit_count"
}

/** Int8 quantization of a FLOAT vector as one kernel call per row — the
  * HOF formulation (array_max + transform lambdas) evaluates interpreted
  * per element, which matters when quantizing 10^10 embeddings. */
case class QuantizeI8(child: Expression) extends KernelUnary {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override protected def kernelCall = "graft.functions.Kernels.quantizeI8(%s)"
  override def nullSafeEval(v: Any): Any =
    Kernels.quantizeI8(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def withNewChildInternal(c: Expression): QuantizeI8 = copy(child = c)
  override def prettyName: String = "quantize_i8"
}

/** IVF cell assignment: argmax-cosine against a broadcast centroid
  * codebook, inside whole-stage codegen — replaces a corpus×nCells
  * cross-join + window (a nCells× shuffle blow-up) with zero exchanges. */
case class ArgMaxCell(
    child: Expression,
    centroidsBc: org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Array[Float]])])
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    Kernels.argmaxCell(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      centroidsBc.value)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroidsBc", centroidsBc,
      "org.apache.spark.broadcast.Broadcast")
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.argmaxCell($c, $ref.value())")
  }
  override protected def withNewChildInternal(c: Expression): ArgMaxCell = copy(child = c)
  override def prettyName: String = "argmax_cell"
}

/** Streaming pair generator over two sorted member arrays — the quadratic
  * expansion primitive of the dedup operators' block-decomposed self/cross
  * joins. Emits one (x, y) row per pair: the exact upper triangle i < j
  * when `diagonal` is true (both sides are the SAME sorted array), the
  * full |A|×|B| cross product otherwise.
  *
  * Deliberately a [[CodegenFallback]] Generator, and that choice is
  * load-bearing twice over:
  *
  *  - A codegen-able generator here fuses into the surrounding
  *    whole-stage-codegen pipeline, whose generated loop does not honor
  *    stop-checks under a shuffle map task — BufferedRowIterator then
  *    buffers the task's ENTIRE quadratic expansion in its LinkedList
  *    (measured at sf10: OOMs an 8g heap; on 24g the buffer's GC churn is
  *    a 2.6× slowdown). The fallback GenerateExec streams one pair at a
  *    time into the shuffle writer.
  *  - The two-explode formulation it replaces copied the full second
  *    array into EVERY intermediate row of the first explode (blockSize
  *    rows × an 8 KB array per block pair) and evaluated its diagonal
  *    filter as an interpreted per-element lambda; this form reads both
  *    arrays in place and does two field writes per pair.
  *
  * The output row is a reused [[SpecificInternalRow]] (primitive slots, no
  * per-pair boxing for long ids): safe because GenerateExec's fallback
  * path applies an UnsafeProjection to every generated row before any
  * consumer can retain it. */
case class PairExpand(left: Expression, right: Expression, diagonal: Expression)
    extends Expression with Generator with CodegenFallback {
  override def children: Seq[Expression] = Seq(left, right, diagonal)

  private def elemType: DataType =
    left.dataType.asInstanceOf[ArrayType].elementType
  private def elemNullable: Boolean =
    left.dataType.asInstanceOf[ArrayType].containsNull ||
      right.dataType.asInstanceOf[ArrayType].containsNull

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType, diagonal.dataType) match {
      case (ArrayType(a, _), ArrayType(b, _), BooleanType)
          if a.catalogString == b.catalogString =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r, d) => TypeCheckResult.TypeCheckFailure(
        "pair_expand needs two arrays of one element type and a boolean, " +
          s"got (${l.catalogString}, ${r.catalogString}, ${d.catalogString})")
    }

  override def elementSchema: StructType = new StructType()
    .add("x", elemType, nullable = elemNullable)
    .add("y", elemType, nullable = elemNullable)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val a = left.eval(input).asInstanceOf[ArrayData]
    val b = right.eval(input).asInstanceOf[ArrayData]
    if (a == null || b == null) return Iterator.empty
    val d = diagonal.eval(input)
    val diag = d != null && d.asInstanceOf[Boolean]
    val n = a.numElements()
    val m = b.numElements()
    val et = elemType
    // primitive fast path for the dedup operators' long row ids
    val longs = et == LongType && !elemNullable
    new scala.collection.AbstractIterator[InternalRow] {
      private val row = new SpecificInternalRow(Seq(et, et))
      private var i = 0
      private var j = if (diag) 1 else 0
      override def hasNext: Boolean = i < n && j < m
      override def next(): InternalRow = {
        if (longs) {
          row.setLong(0, a.getLong(i))
          row.setLong(1, b.getLong(j))
        } else {
          row.update(0, a.get(i, et))
          row.update(1, b.get(j, et))
        }
        j += 1
        if (j == m) {
          i += 1
          j = if (diag) i + 1 else 0
          if (diag && j >= m) i = n // triangle exhausted
        }
        row
      }
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PairExpand =
    copy(left = newChildren(0), right = newChildren(1), diagonal = newChildren(2))
  override def prettyName: String = "pair_expand"
}

/** Exact k-word-shingle Jaccard between two texts (hash-set based). */
case class JaccardShingles(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.jaccardShingles(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], k)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Kernels.jaccardShingles($a, $b, $k)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardShingles =
    copy(left = l, right = r)
  override def prettyName: String = "jaccard_shingles"
}

/** Cosine similarity of two FLOAT arrays with sequential double
  * accumulation (bitwise-equal to the DuckDB oracle's fold order). */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.cosineF32(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Kernels.cosineF32($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_sim"
}

/** Column-API + SQL registration for the engine's function surface. */
object GraftFunctions {
  // Spark 4 Column↔Expression bridge (Column companion is private[sql])
  import org.apache.spark.sql.graft.Bridge

  private def col(e: Expression): Column = Bridge.column(e)
  private def expr(c: Column): Expression = Bridge.expression(c)

  def url_normalize(c: Column): Column = col(UrlNormalize(expr(c)))
  def url_host(c: Column): Column = col(UrlHost(expr(c)))
  def url_is_valid(c: Column): Column = col(UrlIsValid(expr(c)))
  def url_canon(c: Column): Column = col(UrlCanon(expr(c)))

  /** SURT (Sort-friendly URI Reordering Transform) key — the canonical key
    * real web-archive CDX indexes sort by: host labels reversed and
    * comma-joined, `)`, then path (+ query). `https://www.Example.com/a/b`
    * → `com,example,www)/a/b`. Composed from the RFC-3986 normalizer (so
    * scheme/port/dot-segment/fragment handling is shared) + codegen'd
    * built-ins — urls with one host sort adjacently, and a host's whole
    * subtree is one contiguous key range (the layout CDX range scans and
    * per-domain partition pruning rely on). */
  def url_surt(c: Column): Column = {
    import org.apache.spark.sql.functions.{array_join, concat, lit, regexp_extract, reverse, split, when}
    val norm = url_normalize(c)
    val host = url_host(norm)
    val path = regexp_extract(norm, "^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val query = regexp_extract(norm, "\\?([^#]*)", 1)
    concat(
      array_join(reverse(split(host, "\\.")), ","),
      lit(")"),
      when(path === "", lit("/")).otherwise(path),
      when(query === "", lit("")).otherwise(concat(lit("?"), query)))
  }
  def sha1_base32(c: Column): Column = col(Sha1Base32(expr(c)))
  def sha256_base32(c: Column): Column = col(Sha256Base32(expr(c)))
  def gunzip(c: Column): Column = col(GunzipExpr(expr(c)))
  def http_extract_text(c: Column): Column = col(HttpExtractText(expr(c)))
  def http_parse(c: Column): Column = col(HttpParse(expr(c)))
  def minhash_sig(c: Column, k: Int, numHashes: Int): Column =
    col(MinHashSig(expr(c), k, numHashes))
  def simhash64(c: Column, k: Int): Column = col(SimHash64(expr(c), k))
  def cosine_sim(a: Column, b: Column): Column = col(CosineSim(expr(a), expr(b)))
  def jaccard_shingles(a: Column, b: Column, k: Int): Column =
    col(JaccardShingles(expr(a), expr(b), k))
  def pair_expand(a: Column, b: Column, diagonal: Column): Column =
    col(PairExpand(expr(a), expr(b), expr(diagonal)))
  def hyperplane_sigs(v: Column, nTables: Int, bandBits: Int, seed: Long): Column =
    col(HyperplaneSigs(expr(v), nTables, bandBits, seed))
  def quantize_i8(v: Column): Column = col(QuantizeI8(expr(v)))
  def doc_fingerprint(c: Column, w: Int, k: Int): Column =
    col(FingerprintExpr(expr(c), w, k))
  def lang_id(c: Column): Column = col(LangIdExpr(expr(c)))
  def stopword_ratio(c: Column): Column = col(StopwordRatio(expr(c)))
  def bpe_count(c: Column): Column = col(BpeCount(expr(c)))
  def quality_counts(c: Column): Column = col(QualityCounts(expr(c)))
  def subword_count(c: Column): Column = col(SubwordCount(expr(c)))
  def bpe_ids(c: Column): Column = col(BpeIds(expr(c)))
  def lm_slog_sum(c: Column): Column = col(LmSlogSum(expr(c)))
  def gram_counts(ws: Column, n: Int): Column = col(GramCounts(expr(ws), n))
  def gram_hit_count(
      ws: Column, n: Int,
      bank: org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Array[Byte]])]): Column =
    col(GramHitCount(expr(ws), n, bank))
  def argmax_cell(
      v: Column,
      centroids: org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Array[Float]])]): Column =
    col(ArgMaxCell(expr(v), centroids))

  /** Register all functions for SQL use. */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def one(name: String, f: Expression => Expression): Unit =
      reg.createOrReplaceTempFunction(name, exprs => f(exprs.head), "built-in")
    one("url_normalize", UrlNormalize)
    one("url_host", UrlHost)
    one("url_is_valid", UrlIsValid)
    one("sha1_base32", Sha1Base32)
    one("sha256_base32", Sha256Base32)
    one("gunzip", GunzipExpr)
    one("http_extract_text", HttpExtractText)
    one("http_parse", HttpParse)
    one("lang_id", LangIdExpr)
    one("stopword_ratio", StopwordRatio)
    one("doc_fingerprint", e => FingerprintExpr(e, 8, 4))
    one("quantize_i8", QuantizeI8)
    one("bpe_count", BpeCount)
    one("quality_counts", QualityCounts)
    one("subword_count", SubwordCount)
    one("bpe_ids", BpeIds)
    one("lm_slog_sum", LmSlogSum)
    reg.createOrReplaceTempFunction("pair_expand",
      exprs => PairExpand(exprs(0), exprs(1), exprs(2)), "built-in")
  }
}
