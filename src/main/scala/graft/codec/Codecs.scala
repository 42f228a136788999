package graft.codec

import java.io.{ByteArrayInputStream, EOFException, InputStream, OutputStream, PushbackInputStream}
import java.util.zip.{CRC32, Deflater, GZIPInputStream}

/** Compression codecs for WARC members, mirroring the reference's
  * content-sniffing reader (/root/reference/decompression-reader.go:28-66,
  * dictionary variant :111-153) and compression writer factory
  * (/root/reference/utils.go:76-149):
  *
  *  - read side sniffs magic bytes — gzip, zstd, zstd skippable-frame
  *    embedded dictionary (magic 0x184D2A5D, also what the writer emits),
  *    bzip2, xz — and never trusts filename extensions;
  *  - write side emits each record as its own compression member
  *    (seekability, /root/reference/warc.go:200-219) reusing one native
  *    compression context per file instead of allocating one per record.
  */
object Codecs {

  sealed trait Compression { def fileExt: String }
  case object NoCompression extends Compression { val fileExt = ".warc" }
  case object GzipCompression extends Compression { val fileExt = ".warc.gz" }
  /** Optional dictionary: when set, the first frame of every file is a
    * skippable frame carrying the zstd-compressed dictionary
    * (/root/reference/utils.go:96-121). */
  final case class ZstdCompression(dict: Option[Array[Byte]] = None) extends Compression {
    val fileExt = ".warc.zst"
  }

  /** The reference's skippable-frame magic for an embedded dictionary
    * (/root/reference/utils.go:101): 0x184D2A5D little-endian. */
  final val DictSkippableMagic = 0x184d2a5dL

  // --- magic-byte sniffing read path --------------------------------------

  private def readAtMost(in: InputStream, buf: Array[Byte], n: Int): Int = {
    var off = 0
    while (off < n) {
      val r = in.read(buf, off, n - off)
      if (r == -1) return off
      off += r
    }
    off
  }

  private def le32(b: Array[Byte], off: Int): Long =
    (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
      ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

  /** Content-sniffing transparent decompression: dispatches on magic bytes
    * like the reference (gzip 1f8b / zstd 28b52ffd / skippable-frame dict /
    * bzip2 BZh / xz fd377a585a00); unknown magic passes through raw.
    * All multi-member/multi-frame: one WARC record per member. */
  def sniffStream(raw: InputStream): InputStream = {
    val in = new PushbackInputStream(raw, 8)
    val head = new Array[Byte](8)
    val n = readAtMost(in, head, 8)
    in.unread(head, 0, n)
    if (n >= 2 && head(0) == 0x1f.toByte && head(1) == 0x8b.toByte)
      new GZIPInputStream(in, 1 << 16)
    else if (n >= 4 && le32(head, 0) == 0xfd2fb528L) // zstd frame magic
      new ZstdFrames(in, None)
    else if (n >= 4 && le32(head, 0) == DictSkippableMagic) {
      // skippable frame: magic(4) + frameSize(4 LE) + zstd-compressed dict
      val hdr = new Array[Byte](8)
      if (readAtMost(in, hdr, 8) != 8) throw new EOFException("truncated dict frame header")
      val frameSize = le32(hdr, 4).toInt
      val compressedDict = new Array[Byte](frameSize)
      if (readAtMost(in, compressedDict, frameSize) != frameSize)
        throw new EOFException("truncated dict frame")
      val dict = zstdDecompressAll(compressedDict)
      new ZstdFrames(in, Some(dict))
    } else if (n >= 3 && head(0) == 'B' && head(1) == 'Z' && head(2) == 'h')
      new org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream(in, true)
    else if (n >= 6 && head(0) == 0xfd.toByte && head(1) == '7' && head(2) == 'z' &&
        head(3) == 'X' && head(4) == 'Z' && head(5) == 0)
      new org.apache.commons.compress.compressors.xz.XZCompressorInputStream(in, true)
    else in
  }

  /** Consecutive zstd frames, decoded through a ZstdDecompressCtx that
    * reports where each frame ends, so a source that ends inside a frame
    * raises an EOFException as gzip does. ZstdInputStream cannot tell:
    * in continuous mode it returns end of stream on a cut frame, and
    * otherwise still does when the cut frame's bytes arrived in the same
    * source read as the end of the frame before it. Either way a file cut
    * inside its last member read one record short, without an error. */
  private final class ZstdFrames(in: InputStream, dict: Option[Array[Byte]]) extends InputStream {
    private val ctx = new com.github.luben.zstd.ZstdDecompressCtx()
    dict.foreach(d => ctx.loadDict(d))
    private val chunk = new Array[Byte](1 << 17)
    private val src = java.nio.ByteBuffer.allocateDirect(1 << 17).flip()
    private val dst = java.nio.ByteBuffer.allocateDirect(1 << 17).flip()
    private var frameDone = true // no frame begun, or the last one ended and flushed
    private var dstFilled = false // the last call filled dst: an unfinished frame may hold more output

    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (len == 0) return 0
      while (!dst.hasRemaining) {
        if (!src.hasRemaining && (frameDone || !dstFilled)) {
          val n = in.read(chunk)
          if (n == -1) {
            if (frameDone) return -1
            throw new EOFException("zstd source ends inside a frame")
          }
          src.clear()
          src.put(chunk, 0, n).flip()
        }
        dst.clear()
        frameDone = ctx.decompressDirectByteBufferStream(dst, src)
        dstFilled = !dst.hasRemaining
        dst.flip()
      }
      val n = math.min(len, dst.remaining)
      dst.get(b, off, n)
      n
    }

    override def read(): Int = {
      val one = new Array[Byte](1)
      if (read(one, 0, 1) == -1) -1 else one(0) & 0xff
    }

    override def close(): Unit = try in.close() finally ctx.close()
  }

  /** Decompress a whole zstd payload of unknown decompressed size. */
  def zstdDecompressAll(bytes: Array[Byte]): Array[Byte] = {
    val in = new ZstdFrames(new ByteArrayInputStream(bytes), None)
    try in.readAllBytes() finally in.close()
  }

  // --- per-member writers ---------------------------------------------------

  /** One compression member per payload on a shared stream; implementations
    * reuse a single native context per file (a fresh GZIPOutputStream per
    * record leaks its Deflater until GC finalizes it — at millions of
    * records per partition that balloons off-heap memory). */
  trait MemberWriter extends AutoCloseable {
    def writeMember(bytes: Array[Byte]): Unit
  }

  def memberWriter(out: OutputStream, compression: Compression): MemberWriter =
    compression match {
      case NoCompression => new RawMemberWriter(out)
      case GzipCompression => new GzipMemberWriter(out)
      case z: ZstdCompression => new ZstdMemberWriter(out, z.dict)
    }

  private final class RawMemberWriter(out: OutputStream) extends MemberWriter {
    def writeMember(bytes: Array[Byte]): Unit = out.write(bytes)
    def close(): Unit = ()
  }

  /** Raw-deflate + hand-rolled gzip framing so the Deflater is reset and
    * reused across members and `end()`ed exactly once per file. */
  final class GzipMemberWriter(out: OutputStream) extends MemberWriter {
    private val deflater = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    private val crc = new CRC32
    private val buf = new Array[Byte](1 << 16)
    // 10-byte member header: magic, CM=deflate, no flags, mtime 0, XFL 0, OS unknown
    private val header = Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0xff.toByte)

    def writeMember(bytes: Array[Byte]): Unit = {
      out.write(header)
      deflater.reset()
      deflater.setInput(bytes)
      deflater.finish()
      while (!deflater.finished()) {
        val n = deflater.deflate(buf)
        if (n > 0) out.write(buf, 0, n)
      }
      crc.reset()
      crc.update(bytes)
      writeIntLE(crc.getValue.toInt)
      writeIntLE(bytes.length)
    }
    private def writeIntLE(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >>> 8) & 0xff)
      out.write((v >>> 16) & 0xff); out.write((v >>> 24) & 0xff)
    }
    def close(): Unit = deflater.end()
  }

  /** One zstd frame per record via a reused compression context; with a
    * dictionary, the file leads with the skippable dict frame and every
    * member is dict-encoded (/root/reference/utils.go:96-149). */
  final class ZstdMemberWriter(out: OutputStream, dict: Option[Array[Byte]],
                               level: Int = 3) extends MemberWriter {
    private val ctx = new com.github.luben.zstd.ZstdCompressCtx()
    ctx.setLevel(level)
    dict.foreach { d =>
      ctx.loadDict(d)
      val compressedDict = com.github.luben.zstd.Zstd.compress(d, level)
      val hdr = new Array[Byte](8)
      var m = DictSkippableMagic
      var i = 0
      while (i < 4) { hdr(i) = (m & 0xff).toByte; m >>= 8; i += 1 }
      var s = compressedDict.length.toLong
      while (i < 8) { hdr(i) = (s & 0xff).toByte; s >>= 8; i += 1 }
      out.write(hdr)
      out.write(compressedDict)
    }
    def writeMember(bytes: Array[Byte]): Unit = out.write(ctx.compress(bytes))
    def close(): Unit = ctx.close()
  }

  /** Byte-counting wrapper for size-based file rotation
    * (/root/reference/file.go:60-70). */
  final class CountingOutputStream(under: OutputStream) extends OutputStream {
    private var n = 0L
    def bytesWritten: Long = n
    override def write(b: Int): Unit = { under.write(b); n += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      under.write(b, off, len); n += len
    }
    override def flush(): Unit = under.flush()
    override def close(): Unit = under.close()
  }
}
