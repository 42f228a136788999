package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Multimodal column plumbing: media payloads ride as opaque BINARY columns
  * with typed metadata structs. The *decode* step (image/audio codecs) is a
  * deliberate stub — the codec libraries aren't in this environment — but
  * the Spark-side contract is real and tested: schema, batch-shaped
  * per-partition processing (the JVM analog of `mapInPandas`: one decoder
  * instantiation per partition, amortized across its rows, never per row),
  * and partition sizing by byte volume rather than row count.
  */
object Multimodal {

  // ImageIO's default stream cache backs every createImageInputStream /
  // read with a temp FILE (a RandomAccessFile write+read round-trip per
  // image — observed as the hot frame in a 500k-image bench run). Our
  // payloads are already in-heap byte arrays; cache in memory instead.
  // Object-init runs once per executor JVM, before any decode.
  javax.imageio.ImageIO.setUseCache(false)

  final case class MediaMeta(
      byte_len: Long,
      format: String,
      width: Int,
      height: Int,
      valid: Boolean)

  final case class MediaRow(doc_id: Long, media: Array[Byte], meta: MediaMeta)

  /** Image decode via the JDK's ImageIO (PNG/JPEG/GIF/BMP — no external
    * codec libraries needed): real format + dimensions from the stream
    * header, without buffering the full decoded raster. Payloads ImageIO
    * cannot identify (e.g. audio/video containers, whose codecs aren't in
    * this environment) fall back to a clearly-marked deterministic stub so
    * the pipeline shape stays testable end-to-end. */
  def decodeOne(bytes: Array[Byte]): MediaMeta = {
    if (bytes == null || bytes.isEmpty) return MediaMeta(0L, "empty", 0, 0, valid = false)
    val iis = javax.imageio.ImageIO.createImageInputStream(new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (readers.hasNext) {
        val r = readers.next()
        try {
          r.setInput(iis)
          // header-only: width/height come from metadata, no raster decode
          MediaMeta(bytes.length.toLong, r.getFormatName.toLowerCase(java.util.Locale.ROOT),
            r.getWidth(0), r.getHeight(0), valid = true)
        } finally r.dispose()
      } else stubMeta(bytes)
    } catch {
      case _: Exception => MediaMeta(bytes.length.toLong, "corrupt", 0, 0, valid = false)
    } finally iis.close()
  }

  // --- Audio (REAL decode for PCM containers: WAV/AIFF/AU via the JDK's
  // javax.sound.sampled — no external codec libraries needed) -------------

  final case class AudioMeta(byte_len: Long, format: String, channels: Int,
                             sample_rate: Int, n_frames: Long, valid: Boolean)

  final case class AudioFeatures(channels: Int, sample_rate: Int, n_frames: Long,
                                 rms: Double, peak: Int, valid: Boolean)

  /** Real audio container parse: format type, channels, sample rate and
    * frame count from the stream header (no sample decode). Payloads the
    * JDK can't identify return valid=false. */
  /** The JDK's registered audio container parsers, resolved ONCE.
    * `AudioSystem.getAudioFileFormat/getAudioInputStream` re-resolve the
    * provider list per call through a JVM-global synchronized registry
    * (JDK13Services) — profiled at sf1 as 32 executor threads at 4% CPU,
    * all blocked on that lock. The readers themselves (WAV/AIFF/AU) are
    * stateless; calling them directly is the same real decode, lock-free. */
  private lazy val audioReaders: Array[javax.sound.sampled.spi.AudioFileReader] = {
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader],
        classOf[javax.sound.sampled.spi.AudioFileReader].getClassLoader)
      .iterator()
    val buf = Array.newBuilder[javax.sound.sampled.spi.AudioFileReader]
    while (it.hasNext) buf += it.next()
    // SoftMidiAudioFileReader LAST: its probe delegates to
    // MidiSystem.getSequence, which re-enters the synchronized
    // JDK13Services registry on EVERY call — the in-process stack dumper
    // showed all 32 task threads BLOCKED in JSSecurityManager.getProviders
    // because the ServiceLoader order tries MIDI before WAV. The container
    // readers (wav/aiff/au) probe by peeking magic bytes, lock-free.
    val (midi, rest) = buf.result().partition(_.getClass.getName.contains("Midi"))
    rest ++ midi
  }

  /** Standard MIDI file magic ("MThd"): only payloads that can possibly be
    * MIDI may reach the MIDI reader and its per-call registry lock. */
  private def isMidi(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && bytes(0) == 'M' && bytes(1) == 'T' &&
      bytes(2) == 'h' && bytes(3) == 'd'

  private def audioFileFormat(bytes: Array[Byte]): Option[javax.sound.sampled.AudioFileFormat] = {
    var i = 0
    while (i < audioReaders.length) {
      val r = audioReaders(i)
      if (!r.getClass.getName.contains("Midi") || isMidi(bytes)) {
        try {
          return Some(r.getAudioFileFormat(
            new java.io.BufferedInputStream(new java.io.ByteArrayInputStream(bytes))))
        } catch { case _: Exception => }
      }
      i += 1
    }
    None
  }

  private def audioInputStream(bytes: Array[Byte]): Option[javax.sound.sampled.AudioInputStream] = {
    var i = 0
    while (i < audioReaders.length) {
      val r = audioReaders(i)
      if (!r.getClass.getName.contains("Midi") || isMidi(bytes)) {
        try {
          return Some(r.getAudioInputStream(
            new java.io.BufferedInputStream(new java.io.ByteArrayInputStream(bytes))))
        } catch { case _: Exception => }
      }
      i += 1
    }
    None
  }

  def decodeAudioOne(bytes: Array[Byte]): AudioMeta = {
    if (bytes == null || bytes.isEmpty) return AudioMeta(0L, "empty", 0, 0, 0L, valid = false)
    audioFileFormat(bytes) match {
      case Some(aff) =>
        AudioMeta(bytes.length.toLong, aff.getType.toString.toLowerCase(java.util.Locale.ROOT),
          aff.getFormat.getChannels, aff.getFormat.getSampleRate.toInt,
          aff.getFrameLength.toLong, valid = true)
      case None => AudioMeta(bytes.length.toLong, "unknown", 0, 0, 0L, valid = false)
    }
  }

  /** Real feature extraction over decoded 16-bit PCM samples: RMS
    * amplitude (sum of squares in exact LONG arithmetic — deterministic at
    * any partitioning) and peak |sample| across all channels. */
  def audioFeaturesOne(bytes: Array[Byte]): AudioFeatures = {
    if (bytes == null || bytes.isEmpty) return AudioFeatures(0, 0, 0L, 0.0, 0, valid = false)
    try {
      val in = audioInputStream(bytes).getOrElse(
        throw new javax.sound.sampled.UnsupportedAudioFileException)
      try {
        val fmt = in.getFormat
        require(fmt.getSampleSizeInBits == 16, "16-bit PCM only")
        val bigEndian = fmt.isBigEndian
        val data = in.readAllBytes()
        val n = data.length / 2
        var ss = 0L
        var peak = 0
        var i = 0
        while (i < n) {
          val lo = data(2 * i + (if (bigEndian) 1 else 0)) & 0xff
          val hi = data(2 * i + (if (bigEndian) 0 else 1))
          val s = (hi << 8) | lo
          ss += s.toLong * s
          val a = math.abs(s)
          if (a > peak) peak = a
          i += 1
        }
        val rms = if (n == 0) 0.0 else math.sqrt(ss.toDouble / n)
        AudioFeatures(fmt.getChannels, fmt.getSampleRate.toInt,
          in.getFrameLength, rms, peak, valid = true)
      } finally in.close()
    } catch {
      case _: Exception => AudioFeatures(0, 0, 0L, 0.0, 0, valid = false)
    }
  }

  /** Per-partition batch audio decode (same shape discipline as decode). */
  def decodeAudio(spark: SparkSession, df: DataFrame): DataFrame = {
    import spark.implicits._
    df.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val m = decodeAudioOne(bytes)
          val f = audioFeaturesOne(bytes)
          (id, m.format, m.channels, m.sample_rate, m.n_frames, f.rms, f.peak, m.valid)
        }
      }
      .toDF("doc_id", "format", "channels", "sample_rate", "n_frames", "rms", "peak", "valid")
  }

  /** Deterministic synthetic 16-bit PCM WAV (44-byte canonical header,
    * little-endian): a ±amplitude square wave alternating every frame, so
    * RMS == amplitude and peak == amplitude EXACTLY (sum of squares is
    * n·A², and binary64 sqrt of a perfect square ≤ 2^26 is exact) — the
    * closed form the m04 oracle leans on. */
  def syntheticWav(nFrames: Int, sampleRate: Int, amplitude: Int,
                   channels: Int = 1): Array[Byte] = {
    require(amplitude >= 0 && amplitude <= Short.MaxValue)
    val dataLen = nFrames * channels * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(channels.toShort)
      .putInt(sampleRate)
      .putInt(sampleRate * channels * 2) // byte rate
      .putShort((channels * 2).toShort) // block align
      .putShort(16) // bits
    buf.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var f = 0
    while (f < nFrames) {
      val s = (if (f % 2 == 0) amplitude else -amplitude).toShort
      var c = 0
      while (c < channels) { buf.putShort(s); c += 1 }
      f += 1
    }
    buf.array()
  }

  // --- Video containers (REAL ISO-BMFF/MP4 box parse — the container
  // layout is public ISO 14496-12 structure, walkable with pure byte
  // arithmetic; only the codec payload inside needs external libraries) --

  final case class Mp4Meta(byte_len: Long, brand: String, timescale: Int,
                           duration_ms: Long, width: Int, height: Int,
                           n_tracks: Int, valid: Boolean)

  /** Parse MP4/ISO-BMFF container metadata: major brand from `ftyp`,
    * timescale + duration from `moov/mvhd` (version 0), presentation
    * dimensions (16.16 fixed point) from the first visual `trak/tkhd`,
    * and the track count. No frame decode — header-only, like the image
    * path. Non-BMFF payloads return valid=false. */
  def parseMp4One(bytes: Array[Byte]): Mp4Meta = {
    val invalid = Mp4Meta(if (bytes == null) 0L else bytes.length.toLong,
      "", 0, 0L, 0, 0, 0, valid = false)
    if (bytes == null || bytes.length < 16) return invalid
    def u32(o: Int): Long =
      ((bytes(o) & 0xffL) << 24) | ((bytes(o + 1) & 0xffL) << 16) |
        ((bytes(o + 2) & 0xffL) << 8) | (bytes(o + 3) & 0xffL)
    def typ(o: Int): String = new String(bytes, o + 4, 4, "US-ASCII")
    try {
      if (typ(0) != "ftyp") return invalid
      val brand = new String(bytes, 8, 4, "US-ASCII").trim
      var brandOk = brand.nonEmpty
      var timescale = 0
      var duration = 0L
      var width = 0
      var height = 0
      var nTracks = 0
      // walk the box tree: (offset, end) frames; descend into containers
      def walk(from: Int, to: Int): Unit = {
        var o = from
        while (o + 8 <= to) {
          val size = u32(o)
          if (size < 8 || o + size > to) return
          val t = typ(o)
          t match {
            case "moov" | "trak" => walk(o + 8, (o + size).toInt)
            case "mvhd" =>
              // version(1) flags(3) ctime(4) mtime(4) timescale(4) duration(4)
              if (bytes(o + 8) == 0 && o + 28 <= to) {
                timescale = u32(o + 20).toInt
                duration = u32(o + 24)
              }
            case "tkhd" =>
              nTracks += 1
              // v0: ver/flags(4) ctime(4) mtime(4) id(4) res(4) dur(4)
              //     res(8) layer(2) alt(2) vol(2) res(2) matrix(36) w(4) h(4)
              if (bytes(o + 8) == 0 && o + 92 <= to) {
                val w = (u32(o + 84) >> 16).toInt
                val h = (u32(o + 88) >> 16).toInt
                if (width == 0 && w > 0) { width = w; height = h }
              }
            case _ => ()
          }
          o += size.toInt
        }
      }
      walk(0, bytes.length)
      if (!brandOk || timescale <= 0) invalid
      else Mp4Meta(bytes.length.toLong, brand, timescale,
        duration * 1000L / timescale, width, height, nTracks, valid = true)
    } catch {
      case _: Exception => invalid
    }
  }

  /** Per-partition batch video-container parse (header metadata only). */
  def decodeVideo(spark: SparkSession, df: DataFrame): DataFrame = {
    import spark.implicits._
    df.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val m = parseMp4One(bytes)
          (id, m.brand, m.timescale, m.duration_ms, m.width, m.height,
            m.n_tracks, m.valid)
        }
      }
      .toDF("doc_id", "brand", "timescale", "duration_ms", "width", "height",
        "n_tracks", "valid")
  }

  /** Deterministic minimal-but-real ISO-BMFF file: ftyp + moov(mvhd +
    * one tkhd per track, first carries the 16.16 dimensions) + an `mdat`
    * of `payloadLen` deterministic filler bytes. Every box length/field
    * has a closed form — the m05 oracle's basis. */
  def syntheticMp4(timescale: Int, duration: Long, w: Int, h: Int,
                   nTracks: Int, payloadLen: Int, seed: Long): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(256 + payloadLen)
    def u32(v: Long): Unit = {
      bos.write(((v >> 24) & 0xff).toInt); bos.write(((v >> 16) & 0xff).toInt)
      bos.write(((v >> 8) & 0xff).toInt); bos.write((v & 0xff).toInt)
    }
    def tag(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
    // ftyp: major brand isom, minor version, one compatible brand
    u32(20); tag("ftyp"); tag("isom"); u32(512); tag("iso2")
    // mvhd v0 body = 100 bytes total box
    val mvhdSize = 8 + 4 + 4 + 4 + 4 + 4 + 4 + 2 + 2 + 8 + 36 + 24 + 4
    val tkhdSize = 8 + 4 + 4 + 4 + 4 + 4 + 4 + 8 + 2 + 2 + 2 + 2 + 36 + 4 + 4
    val trakSize = 8 + tkhdSize
    val moovSize = 8 + mvhdSize + nTracks * trakSize
    u32(moovSize); tag("moov")
    u32(mvhdSize); tag("mvhd")
    u32(0) // version+flags
    u32(0); u32(0) // ctime mtime
    u32(timescale); u32(duration)
    u32(0x00010000); // rate 1.0
    bos.write(1); bos.write(0) // volume 1.0
    bos.write(0); bos.write(0) // reserved
    u32(0); u32(0) // reserved
    (0 until 9).foreach(i => u32(if (i == 0 || i == 4) 0x00010000 else if (i == 8) 0x40000000 else 0))
    (0 until 6).foreach(_ => u32(0)) // predefined
    u32(nTracks + 1L) // next track id
    var t = 0
    while (t < nTracks) {
      u32(trakSize); tag("trak")
      u32(tkhdSize); tag("tkhd")
      u32(7) // v0, flags: enabled|in-movie|in-preview
      u32(0); u32(0) // ctime mtime
      u32(t + 1L) // track id
      u32(0) // reserved
      u32(duration)
      u32(0); u32(0) // reserved
      bos.write(0); bos.write(0) // layer
      bos.write(0); bos.write(0) // alternate group
      bos.write(0); bos.write(0) // volume
      bos.write(0); bos.write(0) // reserved
      (0 until 9).foreach(i => u32(if (i == 0 || i == 4) 0x00010000 else if (i == 8) 0x40000000 else 0))
      // only the first track carries the visual dimensions
      u32(if (t == 0) w.toLong << 16 else 0L)
      u32(if (t == 0) h.toLong << 16 else 0L)
      t += 1
    }
    u32(8L + payloadLen); tag("mdat")
    var i = 0
    var s = seed
    while (i < payloadLen) {
      s = s * 6364136223846793005L + 1442695040888963407L
      bos.write(((s >>> 56) & 0xff).toInt)
      i += 1
    }
    bos.toByteArray
  }

  /** STUB for remaining unidentifiable media (codec payloads beyond the
    * real container parsers: images via ImageIO, WAV/AIFF/AU audio via
    * javax.sound, MP4/ISO-BMFF video structure via parseMp4One):
    * deterministic fake metadata from the header bytes. */
  private def stubMeta(bytes: Array[Byte]): MediaMeta = {
    val h = java.util.Arrays.hashCode(java.util.Arrays.copyOf(bytes, math.min(64, bytes.length)))
    MediaMeta(bytes.length.toLong, "unknown", 64 + (h & 0x3ff), 64 + ((h >>> 10) & 0x3ff),
      valid = false)
  }

  /** Deterministic synthetic PNG (real, ImageIO-decodable) — the media
    * fixture generator for tests and the m01 oracle query. */
  def syntheticPng(w: Int, h: Int, seed: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, (((seed * 31 + x) * 17 + y) & 0xffffff).toInt)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream(w * h / 4 + 128)
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic solid-color synthetic PNG: with every pixel identical,
    * any resize kernel preserves the color exactly — the fixture that makes
    * feature extraction closed-form checkable. */
  def syntheticSolidPng(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb & 0xffffff); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream(256)
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Real image resize (ImageIO + Graphics2D): longest side scaled to
    * `maxDim` with integer math (w2 = max(1, w*maxDim/max(w,h))) so the
    * output dimensions have a closed form; images already within bounds
    * pass through untouched. Null for undecodable payloads. */
  def resizeOne(bytes: Array[Byte], maxDim: Int): Array[Byte] = {
    if (bytes == null || bytes.isEmpty) return null
    val img = try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case _: Exception => null }
    if (img == null) return null
    val w = img.getWidth
    val h = img.getHeight
    val m = math.max(w, h)
    if (m <= maxDim) return bytes
    val w2 = math.max(1, w * maxDim / m)
    val h2 = math.max(1, h * maxDim / m)
    val out = new java.awt.image.BufferedImage(w2, h2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = out.createGraphics()
    try g.drawImage(img, 0, 0, w2, h2, null) finally g.dispose()
    val bos = new java.io.ByteArrayOutputStream(bytes.length / 2 + 128)
    javax.imageio.ImageIO.write(out, "png", bos)
    bos.toByteArray
  }

  final case class MediaFeatures(width: Int, height: Int,
                                 avg_r: Int, avg_g: Int, avg_b: Int, valid: Boolean)

  /** Real feature extraction: decoded dimensions + mean RGB (floor of the
    * exact per-channel sum). The embedding-ish signal a training pipeline
    * derives per image, minus the model inference this environment can't
    * run. */
  def featuresOne(bytes: Array[Byte]): MediaFeatures = {
    if (bytes == null || bytes.isEmpty) return MediaFeatures(0, 0, 0, 0, 0, valid = false)
    val img = try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case _: Exception => null }
    if (img == null) return MediaFeatures(0, 0, 0, 0, 0, valid = false)
    val w = img.getWidth
    val h = img.getHeight
    var (sr, sg, sb) = (0L, 0L, 0L)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = img.getRGB(x, y)
        sr += (p >> 16) & 0xff
        sg += (p >> 8) & 0xff
        sb += p & 0xff
        x += 1
      }
      y += 1
    }
    val n = w.toLong * h
    MediaFeatures(w, h, (sr / n).toInt, (sg / n).toInt, (sb / n).toInt, valid = true)
  }

  final case class TransformedRow(doc_id: Long, width: Int, height: Int,
                                  avg_r: Int, avg_g: Int, avg_b: Int, valid: Boolean)

  /** Resize + feature-extract as one per-partition batch pass (decoder
    * state amortized across the partition's rows, media bytes touched
    * once). Input: (doc_id LONG, media BINARY). */
  def transform(spark: SparkSession, df: DataFrame, maxDim: Int): Dataset[TransformedRow] = {
    import spark.implicits._
    df.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val f = featuresOne(resizeOne(bytes, maxDim))
          TransformedRow(id, f.width, f.height, f.avg_r, f.avg_g, f.avg_b, f.valid)
        }
      }
  }

  /** Batch decode: per-partition, amortized decoder init — the hot loop
    * touches each payload once. Input needs (doc_id LONG, media BINARY). */
  def decode(spark: SparkSession, df: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    df.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // real codecs would be initialized once here, per partition
        it.map { case (id, bytes) => MediaRow(id, bytes, decodeOne(bytes)) }
      }
  }

  /** Deterministic frame sampling: pick every `stride`-th chunk of a media
    * payload (stand-in for video frame extraction; the chunking math and
    * explode shape are what a real frame sampler produces). */
  def sampleFrames(df: DataFrame, chunkSize: Int = 4096, stride: Int = 4): DataFrame =
    df.select(col("doc_id"), col("media"))
      .withColumn("n_chunks",
        ceil(length(col("media")).cast("double") / chunkSize).cast("int"))
      .withColumn("frame_idx",
        explode(filter(sequence(lit(0), greatest(col("n_chunks") - 1, lit(0))),
          i => i % stride === 0)))
      .withColumn("frame",
        expr(s"substring(media, frame_idx * $chunkSize + 1, $chunkSize)"))
      .select("doc_id", "frame_idx", "frame")

  /** Repartition media rows by payload bytes, not row count: media rows are
    * wildly variable in size, so equal-row partitions would skew executor
    * memory. Real byte bin-packing via a distributed prefix sum in
    * deterministic `idCol` order:
    *
    *   pass 1 (narrow, column-pruned aggregate): per-group byte totals →
    *     driver computes ≤P exclusive prefix offsets (scalars, not rows);
    *   pass 2: groups colocate + sort by id; each row takes bucket =
    *     (groupOffset + running) / target, then routes to its
    *     bucket-numbered partition via an identity partitioner (no hash
    *     collisions merging two buckets).
    *
    * Prefix groups are DETERMINISTIC ranges of the (numeric, unique) id
    * domain — `(id - min) div ceil(span/p)` — never sampled and never keyed
    * on physical partition ids: the input plan executes twice (offset
    * aggregate + routing pass), and anything sampled (`repartitionByRange`
    * boundaries) or physical (`spark_partition_id`, AQE coalescing) may
    * differ between those executions, silently corrupting every offset past
    * the first divergence — the exact bug class the t08 sf0.1 sweep caught
    * in sequence packing. Group membership is a pure function of the id and
    * per-group totals are order-independent aggregates, so both executions
    * agree by construction.
    *
    * Every bucket holds ≤ target + one row's bytes. Requires `idCol` to be
    * numeric and unique (ties would make the within-group order ambiguous). */
  def repartitionByBytes(df: DataFrame, targetBytesPerPartition: Long,
                         mediaCol: String = "media", idCol: String = "doc_id",
                         partitions: Int = 0): DataFrame = {
    require(targetBytesPerPartition > 0, "targetBytesPerPartition must be positive")
    // the routing pass appends __g and indexes it as row.getInt(nCols): an
    // input that already carries __g would be silently REPLACED in place by
    // withColumn (wrong index, dropped user column) — refuse loudly
    require(!df.columns.contains("__g"),
      "input must not carry a __g column (internal routing-group name)")
    val spark = df.sparkSession
    val schema = df.schema
    val nCols = schema.length
    val mediaIdx = schema.fieldIndex(mediaCol)
    val p = if (partitions > 0) partitions else spark.sparkContext.defaultParallelism
    val bounds = df.agg(min(col(idCol)).cast("long"), max(col(idCol)).cast("long")).head()
    if (bounds.isNullAt(0)) return df // empty input
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val rangeSize = math.max(1L, (hi - lo + p) / p)
    val gSql = s"CAST((CAST($idCol AS BIGINT) - ${lo}L) DIV ${rangeSize}L AS INT)"
    val perGroup = df
      .select(expr(gSql).as("__g"),
        coalesce(length(col(mediaCol)).cast("long"), lit(0L)).as("len"))
      .groupBy("__g").agg(sum("len").as("bytes"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val gs = perGroup.keys.toSeq.sorted
    val offsets = gs.zip(gs.scanLeft(0L)((a, g) => a + perGroup(g)).init).toMap
    val total = perGroup.values.sum
    val nBuckets = math.max(1L, (total + targetBytesPerPartition - 1) / targetBytesPerPartition).toInt
    val bc = spark.sparkContext.broadcast(offsets)
    // groups are monotone in id and hash-colocated, so after the
    // within-partition id sort each group is one contiguous run; the
    // running byte sum re-seeds from the group's global offset at each
    // group boundary
    val base = df
      .withColumn("__g", expr(gSql))
      .repartition(p, col("__g"))
      .sortWithinPartitions(col(idCol))
    val keyed = base.rdd.mapPartitions { it =>
      var curG = Int.MinValue
      var acc = 0L
      it.map { row =>
        val g = row.getInt(nCols) // __g rides appended after the original columns
        if (g != curG) { curG = g; acc = bc.value.getOrElse(g, 0L) }
        val b = (acc / targetBytesPerPartition).toInt.min(nBuckets - 1)
        val m = row.getAs[Array[Byte]](mediaIdx)
        acc += (if (m == null) 0L else m.length.toLong)
        (b, org.apache.spark.sql.Row.fromSeq(row.toSeq.take(nCols)))
      }
    }
    val packed = keyed.partitionBy(new org.apache.spark.Partitioner {
      override def numPartitions: Int = nBuckets
      override def getPartition(key: Any): Int = key.asInstanceOf[Int]
    }).values
    spark.createDataFrame(packed, schema)
  }
}
