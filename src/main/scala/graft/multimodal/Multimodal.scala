package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (SURVEY §2.8): media as opaque `binary`
  * payloads + a typed metadata struct, processed by partition-
  * preserving `mapPartitions` stages shaped like real codec batches.
  *
  * ALL THREE codec classes decode REAL bytes. IMAGE (round 9):
  * [[decodeImageStats]] decodes actual encoded bytes — truecolor PNG
  * through the zero-dependency [[Png.decodeRgb]] (r11), everything
  * else (JPEG/BMP/GIF, other PNGs) through the JDK's ImageIO — and
  * extracts exact integer pixel statistics. AUDIO (round 10): [[decodeAudioStats]] decodes
  * WAV/AIFF/AU PCM via the JDK's javax.sound.sampled. VIDEO (round
  * 11): the JDK ships no video codec, but an uncompressed BI_RGB AVI
  * is a RIFF container (public spec) around exact integer DIB frames —
  * [[decodeVideoStats]] parses real AVI bytes with a zero-dependency
  * RIFF walk, frame-samples, and extracts exact per-channel sums, so
  * the last deterministic-fake decode path is gone. Everything
  * Spark-side is shared across the three and load-bearing at scale:
  * the schema, the binary column lifecycle, the batch-at-a-time
  * iterator shape (a real decoder amortizes codec init per PARTITION,
  * not per row), and the fact that no stage shuffles (features ride
  * the same partitions as payloads; only the caller's final
  * aggregation may shuffle).
  */
object Multimodal {

  /** Typed media row: payload + metadata, the on-wire schema a media
    * lakehouse table would carry. */
  case class MediaRow(
      media_id: Long,
      kind: String, // image | audio | video
      payload: Array[Byte],
      width: Int,
      height: Int,
      sample_rate: Int,
      n_frames: Int)

  case class MediaFeatures(
      media_id: Long,
      kind: String,
      n_bytes: Long,
      hist_digest: Long, // xxhash-style digest of the 16-bin byte histogram
      mean_byte_bp: Long, // mean byte value in basis points (0..2_550_000)
      frames_sampled: Int)

  /** Per-image exact pixel statistics from a REAL decode — the typed
    * output of [[decodeImageStats]]. All integer units: channel sums
    * are exact (8-bit values summed as longs), so the gate can compare
    * hash-exact against an arithmetic oracle with no float anywhere. */
  case class ImagePixelStats(
      media_id: Long,
      width: Long,
      height: Long,
      n_pixels: Long,
      r_sum: Long,
      g_sum: Long,
      b_sum: Long)

  /** Deterministic RGB test image as one packed 0xRRGGBB int: pixel
    * (x,y) of image `mediaId` has channels ((7·id+3x+5y) mod 256,
    * (11·id+5x+7y) mod 256, (13·id+7x+11y) mod 256) — pure integer
    * arithmetic restatable in any SQL engine, which is what lets a
    * REAL codec roundtrip sit under a hash-exact gate: the oracle
    * enumerates the pixel grid arithmetically while Spark actually
    * encodes and decodes bytes. Packed, not an (r, g, b) tuple: the
    * corpus encoders call it per PIXEL, and a tuple would box there. */
  def pixelPacked(mediaId: Long, x: Int, y: Int): Int =
    ((((mediaId * 7 + 3L * x + 5L * y) % 256).toInt) << 16) |
      ((((mediaId * 11 + 5L * x + 7L * y) % 256).toInt) << 8) |
      (((mediaId * 13 + 7L * x + 11L * y) % 256).toInt)

  /** Encode the deterministic test image as real PNG bytes via the
    * JDK's ImageIO. TYPE_INT_RGB + PNG is lossless, so a decode must
    * reproduce the pixel function bit-exactly. */
  def encodePng(mediaId: Long, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        px(y * w + x) = pixelPacked(mediaId, x, y)
        x += 1
      }
      y += 1
    }
    img.setRGB(0, 0, w, h, px, 0, w)
    val out = new java.io.ByteArrayOutputStream(w * h / 2)
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Decode any image payload to a packed-RGB raster, or null for an
    * undecodable/NULL payload. The hot path is the zero-dependency
    * [[Png.decodeRgb]] (real zlib inflate + scanline unfilter — the
    * r11 optimization that removes ImageIO's per-image reader-lookup /
    * BufferedImage / color-model-conversion overhead, the image cells'
    * dominant per-task cost); anything it does not recognize (palette/
    * gray/16-bit/interlaced PNG, JPEG, BMP, GIF, corrupt bytes) falls
    * back to the JDK's ImageIO, so format generality and the
    * degrade-don't-crash contract are exactly as before.
    *
    * NonFatal, not just IOException, around ImageIO: read returns null
    * only for UNRECOGNIZED containers — bytes that sniff as a known
    * format but carry corrupt headers make the JDK readers throw
    * unchecked exceptions (AIOOBE/NegativeArray from BMP/GIF,
    * CMMException from broken JPEG ICC profiles), which would kill the
    * task despite the degrade-to-zero-stats contract. Fallback rasters
    * may carry alpha in the high byte — every consumer masks channels.
    */
  private[multimodal] def decodeRaster(payload: Array[Byte]): Png.Raster = {
    if (payload == null || payload.length == 0) return null
    val fast = Png.decodeRgb(payload)
    if (fast != null) return fast
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case scala.util.control.NonFatal(_) => null }
    if (img == null) null
    else {
      val w = img.getWidth; val h = img.getHeight
      // one bulk getRGB: a per-pixel getRGB(x,y) call re-resolves
      // the color model per pixel; the bulk form converts the
      // raster in one pass regardless of the file's layout
      new Png.Raster(w, h, img.getRGB(0, 0, w, h, null, 0, w))
    }
  }

  /** REAL image decode + feature extraction (round 9 — this replaces
    * the "decode is a stub" caveat for every codec the JDK ships:
    * PNG, JPEG, BMP, GIF, WBMP). The decoder sniffs the container
    * from the bytes ([[decodeRaster]]), so the column needs no format
    * tag. Exact integer pixel stats per image: dimensions and
    * per-channel sums of the DECODED image, or of its REAL
    * nearest-neighbor resize when the longer side exceeds `maxSide` —
    * the image a training pipeline would actually store. The resize
    * clamps the longer side to `maxSide` with exact integer output dims
    * `ceil(side·maxSide / longer)`, and destination (dx,dy) reads
    * source pixel (dx·w div ow, dy·h div oh): all-integer arithmetic,
    * so an arithmetic oracle enumerates the same sample grid. Images
    * within `maxSide` pass through with a linear sum over the raster.
    *
    * Plumbing is the same partition-preserving mapPartitions contract
    * as [[decodeAndFeaturize]]: no shuffle, per-partition init (the
    * in-memory-cache switch for the ImageIO fallback) hoisted out of
    * the row loop, and an undecodable or NULL payload degrades to a
    * zero-stats row instead of killing the stage — at 100 TB some
    * fraction of any crawl's media bytes IS corrupt, and one bad file
    * must not fail a task that has decoded a million good ones. */
  def decodeImageStats(media: Dataset[(Long, Array[Byte])], maxSide: Int = Int.MaxValue)
      : Dataset[ImagePixelStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-PARTITION init: ImageIO's default stream cache spools
      // through a TEMP FILE per image — a disk write/delete pair per
      // row. In-memory cache turns the fallback decode into pure CPU.
      // (Global JVM switch; idempotent, safe under concurrent tasks.)
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { case (id, payload) =>
        val ras = decodeRaster(payload)
        if (ras == null) ImagePixelStats(id, 0L, 0L, 0L, 0L, 0L, 0L)
        else {
          val w = ras.w; val h = ras.h
          val m = math.max(w, h)
          val (ow, oh, px) =
            if (m <= maxSide) (w, h, ras.px)
            else {
              val ow = (w * maxSide + m - 1) / m
              val oh = (h * maxSide + m - 1) / m
              (ow, oh, Array.tabulate(ow * oh)(i =>
                ras.px((i / ow) * h / oh * w + (i % ow) * w / ow)))
            }
          var r = 0L; var g = 0L; var b = 0L
          var i = 0
          while (i < px.length) {
            val p = px(i)
            r += (p >> 16) & 0xff; g += (p >> 8) & 0xff; b += p & 0xff
            i += 1
          }
          ImagePixelStats(id, ow.toLong, oh.toLong, ow.toLong * oh, r, g, b)
        }
      }
    }
  }

  /** Per-audio exact integer statistics from a REAL decode — the typed
    * output of [[decodeAudioStats]]. Channel sums are sums of ABSOLUTE
    * 16-bit amplitudes (exact longs), so the gate compares hash-exact
    * against an arithmetic oracle with no float anywhere. */
  case class AudioStats(
      media_id: Long,
      sample_rate: Long,
      n_channels: Long,
      n_frames: Long,
      c0_abs_sum: Long,
      c1_abs_sum: Long)

  /** Deterministic 16-bit PCM test waveform: frame `i`, channel `ch`
    * of clip `mediaId` is ((7·id + 13·i + 31·ch) mod 65536) − 32768 —
    * pure integer arithmetic restatable in any SQL engine, the same
    * trick that puts the PNG codec roundtrip under a hash-exact gate
    * ([[pixelPacked]]). */
  def waveSample(mediaId: Long, i: Long, ch: Int): Int =
    ((mediaId * 7 + i * 13 + ch * 31L) % 65536 - 32768).toInt

  /** Encode the deterministic waveform as REAL WAV bytes via the JDK's
    * javax.sound.sampled (ships in every Java SE — WAV/AIFF/AU PCM
    * need no external codec). 16-bit signed little-endian PCM is
    * lossless, so a decode must reproduce [[waveSample]] bit-exactly. */
  def encodeWav(mediaId: Long, nFrames: Int, sampleRate: Int, channels: Int = 2): Array[Byte] = {
    // canonical 44-byte RIFF/WAVE PCM header written directly (public
    // spec) rather than through AudioSystem.write: the encoder is gate
    // scaffolding (at scale payloads come from storage) and the
    // stream/provider machinery cost more than the payload at millions
    // of clips per task. The DECODER stays on javax.sound.sampled —
    // which also validates this header on every gate row (the
    // MultimodalSpec roundtrip would catch a malformed header).
    val dataLen = nFrames * channels * 2
    val b = new Array[Byte](44 + dataLen)
    def w32(off: Int, v: Int): Unit = {
      b(off) = (v & 0xff).toByte; b(off + 1) = ((v >> 8) & 0xff).toByte
      b(off + 2) = ((v >> 16) & 0xff).toByte; b(off + 3) = ((v >> 24) & 0xff).toByte
    }
    def w16(off: Int, v: Int): Unit = {
      b(off) = (v & 0xff).toByte; b(off + 1) = ((v >> 8) & 0xff).toByte
    }
    def tag(off: Int, s: String): Unit = {
      var i = 0; while (i < 4) { b(off + i) = s.charAt(i).toByte; i += 1 }
    }
    tag(0, "RIFF"); w32(4, 36 + dataLen); tag(8, "WAVE")
    tag(12, "fmt "); w32(16, 16); w16(20, 1 /* PCM */); w16(22, channels)
    w32(24, sampleRate); w32(28, sampleRate * channels * 2)
    w16(32, channels * 2); w16(34, 16); tag(36, "data"); w32(40, dataLen)
    var i = 0; var off = 44
    while (i < nFrames) {
      var c = 0
      while (c < channels) {
        val s = waveSample(mediaId, i, c)
        b(off) = (s & 0xff).toByte
        b(off + 1) = ((s >> 8) & 0xff).toByte
        off += 2; c += 1
      }
      i += 1
    }
    b
  }

  /** Per-partition SPI reader table (the slot the mapPartitions
    * contract exists for): the AudioSystem facade re-resolves its
    * provider list through a SYNCHRONIZED global lookup on EVERY
    * getAudioInputStream call — 31.6 µs/clip single-threaded
    * (BASELINE.md, "Bug 2"), and a global lock that serializes all 32
    * executor threads under load (the sf100 cell read ~7 ms/clip/core
    * before this). The same SPI readers AudioSystem consults are
    * public API (javax.sound.sampled.spi.AudioFileReader, discovered
    * via ServiceLoader); loading them once per partition keeps the decode
    * on the real JDK codec with zero shared state. WAVE readers sort
    * first — each non-matching provider costs a thrown
    * UnsupportedAudioFileException per clip. */
  private def audioReaders(): Array[javax.sound.sampled.spi.AudioFileReader] = {
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader],
        classOf[javax.sound.sampled.spi.AudioFileReader].getClassLoader)
      .iterator()
    val buf = scala.collection.mutable.ArrayBuffer[javax.sound.sampled.spi.AudioFileReader]()
    while (it.hasNext) buf += it.next()
    buf.sortBy(r => if (r.getClass.getSimpleName.startsWith("Wave")) 0 else 1).toArray
  }

  private final case class PcmDims(sampleRate: Long, channels: Int, frames: Int)

  /** The one PCM reader behind [[decodeAudioStats]] and
    * [[decodeAndFeaturize]]: sniffs the container with the partition's
    * SPI `readers` (each non-matching provider throws
    * UnsupportedAudioFileException), requires 16-bit signed PCM, reads
    * the whole stream and calls `sample(channel, value)` once per
    * sample in frame order. AudioInputStream reads whole frames only,
    * so every frame carries all its channels. Returns null for a
    * NULL/empty payload, an unrecognized container or any other sample
    * format; the callers catch NonFatal decode errors. */
  private def readPcm16(
      readers: Array[javax.sound.sampled.spi.AudioFileReader],
      payload: Array[Byte])(sample: (Int, Int) => Unit): PcmDims = {
    if (payload == null || payload.length == 0) return null
    var ais: javax.sound.sampled.AudioInputStream = null
    var k = 0
    while (ais == null && k < readers.length) {
      try ais = readers(k).getAudioInputStream(new java.io.ByteArrayInputStream(payload))
      catch { case _: javax.sound.sampled.UnsupportedAudioFileException => () }
      k += 1
    }
    if (ais == null) return null
    try {
      val f = ais.getFormat
      if (f.getSampleSizeInBits != 16 ||
          f.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED) return null
      val bytes = ais.readAllBytes()
      val ch = f.getChannels
      val be = f.isBigEndian
      val frames = bytes.length / (2 * ch)
      val end = frames * ch * 2
      var off = 0
      while (off < end) {
        val s =
          if (be) ((bytes(off) << 8) | (bytes(off + 1) & 0xff)).toShort
          else ((bytes(off + 1) << 8) | (bytes(off) & 0xff)).toShort
        sample((off >> 1) % ch, s)
        off += 2
      }
      PcmDims(f.getSampleRate.toLong, ch, frames)
    } finally ais.close()
  }

  /** REAL audio decode + feature extraction (round 10 — closes the
    * "JDK lacks audio" half of the old stub claim, which was wrong:
    * AudioSystem decodes PCM containers out of the box). Sniffs the
    * container from the bytes, decodes the PCM stream ([[readPcm16]]),
    * and extracts exact integer stats: frame count, declared
    * rate/channels, and the per-channel sum of absolute 16-bit
    * amplitudes (channels beyond the second fold into nothing — the
    * corpus is mono/stereo, and a production swap widens the struct,
    * not the plumbing).
    *
    * Same partition-preserving contract as [[decodeImageStats]]: no
    * shuffle, and an undecodable / NULL / non-16-bit-PCM payload
    * degrades to a zero-stats row instead of killing the stage. */
  def decodeAudioStats(media: Dataset[(Long, Array[Byte])]): Dataset[AudioStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-PARTITION init — see audioReaders
      val readers = audioReaders()
      rows.map { case (id, payload) =>
        var c0 = 0L; var c1 = 0L
        val dims =
          try readPcm16(readers, payload) { (c, s) =>
            if (c == 0) c0 += math.abs(s) else if (c == 1) c1 += math.abs(s)
          }
          catch { case scala.util.control.NonFatal(_) => null }
        if (dims == null) AudioStats(id, 0L, 0L, 0L, 0L, 0L)
        else AudioStats(id, dims.sampleRate, dims.channels.toLong, dims.frames.toLong, c0, c1)
      }
    }
  }

  /** Deterministic packed-RGB pixel for the PERCEPTUAL-HASH gate
    * corpus. The decode gate's linear grid ([[pixelPacked]]) is
    * unusable here: its
    * per-step luma delta along a row is under one mod-256 wrap for
    * every gate image size, so luma rises monotonically and every
    * image would hash to (near) dHash zero — one degenerate LSH bucket
    * for the whole corpus. The `x·y` cross term makes the row slope
    * (73+29y etc.) wrap several times between dHash samples, so
    * distinct images get near-uniform 64-bit hashes; the `id mod
    * <prime>` salts break the (dims × mod-256) periodicity that would
    * otherwise repeat rasters every 3072 ids and turn exact-dup
    * classes quadratic at scale. Still pure integer arithmetic — the
    * oracle enumerates it verbatim. */
  def phashPixelPacked(mediaId: Long, x: Int, y: Int): Int =
    ((((mediaId * 7 + 73L * x + 151L * y + 29L * x * y + mediaId % 997) % 256).toInt) << 16) |
      ((((mediaId * 11 + 97L * x + 131L * y + 41L * x * y + mediaId % 991) % 256).toInt) << 8) |
      (((mediaId * 13 + 59L * x + 173L * y + 37L * x * y + mediaId % 983) % 256).toInt)

  /** 64-bit difference hash (dHash) of a decoded raster — the standard
    * perceptual fingerprint an image near-dup pass keys on: sample a
    * 9×8 luma grid on [[decodeImageStats]]' nearest-neighbor integer
    * coordinates (sample (gx,gy) reads source pixel (gx·w div 9, gy·h
    * div 8)) and set bit gy·8+gx iff luma(gx,gy) > luma(gx+1,gy).
    * Integer luma 299r+587g+114b (no divide — comparisons are
    * scale-free), so the whole hash restates arithmetically in the
    * oracle. Scale-invariant by construction: an upscaled re-encode
    * samples the same source pixels (floor(floor(k·a)/k) = floor(a)),
    * so true re-encodes collide at hamming 0 and near-variants land
    * within a few bits. */
  def dHash64(ras: Png.Raster): Long = {
    val w = ras.w; val h = ras.h
    val lum = new Array[Long](9 * 8)
    var gy = 0
    while (gy < 8) {
      val row = (gy * h / 8) * w
      var gx = 0
      while (gx < 9) {
        val p = ras.px(row + gx * w / 9)
        lum(gy * 9 + gx) =
          299L * ((p >> 16) & 0xff) + 587L * ((p >> 8) & 0xff) + 114L * (p & 0xff)
        gx += 1
      }
      gy += 1
    }
    var hash = 0L
    gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 8) {
        if (lum(gy * 9 + gx) > lum(gy * 9 + gx + 1)) hash |= 1L << (gy * 8 + gx)
        gx += 1
      }
      gy += 1
    }
    hash
  }

  /** Decode + [[dHash64]] in one partition-preserving stage:
    * (media_id, phash) per DECODABLE image. Unlike the stats stages,
    * an undecodable payload is DROPPED rather than zero-filled — a
    * sentinel hash would put every corrupt file in one fake near-dup
    * class, which is worse than excluding it from dedup (the standard
    * posture: corrupt media is quarantined by the stats pass, not
    * clustered). */
  def decodeImagePhash(media: Dataset[(Long, Array[Byte])]): Dataset[(Long, Long)] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.flatMap { case (id, payload) =>
        val ras = decodeRaster(payload)
        if (ras == null) None else Some((id, dHash64(ras)))
      }
    }
  }

  /** Deterministic RGB pixel for VIDEO frame `f` of clip `mediaId` —
    * pure integer arithmetic restatable in any SQL engine, the same
    * trick as [[pixelPacked]]/[[waveSample]]: the frame term makes
    * every sampled frame distinct, so a frame-sampling bug shows up in
    * the channel sums. */
  def videoPixelChannels(mediaId: Long, f: Int, x: Int, y: Int): (Int, Int, Int) = (
    ((mediaId * 7 + 3L * x + 5L * y + 17L * f) % 256).toInt,
    ((mediaId * 11 + 5L * x + 7L * y + 19L * f) % 256).toInt,
    ((mediaId * 13 + 7L * x + 11L * y + 23L * f) % 256).toInt)

  /** Encode the deterministic frame sequence as a REAL uncompressed
    * AVI: the RIFF container (public spec — RIFF/'AVI ' around LIST
    * hdrl {avih, LIST strl {strh 'vids'/'DIB ', strf
    * BITMAPINFOHEADER}} and LIST movi {'00db' DIB frames}) holding
    * exact BI_RGB 24-bit frames, bottom-up BGR rows padded to 4-byte
    * stride. BI_RGB is lossless integers, so a decode must reproduce
    * [[videoPixelChannels]] bit-exactly — the property that puts the
    * video path under a hash-exact gate with zero codec dependencies. */
  def encodeAvi(mediaId: Long, w: Int, h: Int, nFrames: Int, fps: Int = 25): Array[Byte] = {
    val rowStride = (3 * w + 3) & ~3
    val frameBytes = rowStride * h
    val strlSize = 4 + 8 + 56 + 8 + 40
    val hdrlSize = 4 + 8 + 56 + 8 + strlSize
    val moviSize = 4 + nFrames * (8 + frameBytes) // frameBytes is 4-aligned: no pad
    val riffSize = 4 + 8 + hdrlSize + 8 + moviSize
    val b = new Array[Byte](8 + riffSize)
    var p = 0
    def tag(s: String): Unit = {
      var i = 0; while (i < 4) { b(p + i) = s.charAt(i).toByte; i += 1 }; p += 4
    }
    def u32(v: Int): Unit = {
      b(p) = (v & 0xff).toByte; b(p + 1) = ((v >> 8) & 0xff).toByte
      b(p + 2) = ((v >> 16) & 0xff).toByte; b(p + 3) = ((v >> 24) & 0xff).toByte
      p += 4
    }
    def u16(v: Int): Unit = {
      b(p) = (v & 0xff).toByte; b(p + 1) = ((v >> 8) & 0xff).toByte; p += 2
    }
    tag("RIFF"); u32(riffSize); tag("AVI ")
    tag("LIST"); u32(hdrlSize); tag("hdrl")
    // MainAVIHeader: usPerFrame, maxBytesPerSec, padGranularity, flags,
    // totalFrames, initialFrames, streams, suggestedBuf, w, h, rsvd[4]
    tag("avih"); u32(56)
    u32(1000000 / fps); u32(0); u32(0); u32(0)
    u32(nFrames); u32(0); u32(1); u32(frameBytes); u32(w); u32(h)
    u32(0); u32(0); u32(0); u32(0)
    tag("LIST"); u32(strlSize); tag("strl")
    // AVIStreamHeader: 'vids'/'DIB ', flags, prio+lang, initialFrames,
    // scale, rate, start, length, suggestedBuf, quality, sampleSize, rcFrame
    tag("strh"); u32(56)
    tag("vids"); tag("DIB "); u32(0); u16(0); u16(0); u32(0)
    u32(1); u32(fps); u32(0); u32(nFrames); u32(frameBytes); u32(0); u32(0)
    u16(0); u16(0); u16(w); u16(h)
    // BITMAPINFOHEADER: positive height = bottom-up DIB, BI_RGB
    tag("strf"); u32(40)
    u32(40); u32(w); u32(h); u16(1); u16(24); u32(0); u32(frameBytes)
    u32(0); u32(0); u32(0); u32(0)
    tag("LIST"); u32(moviSize); tag("movi")
    var f = 0
    while (f < nFrames) {
      tag("00db"); u32(frameBytes)
      var sy = 0
      while (sy < h) {
        val y = h - 1 - sy // bottom-up row order
        var x = 0
        var off = p + sy * rowStride
        while (x < w) {
          val (r, g, bl) = videoPixelChannels(mediaId, f, x, y)
          b(off) = bl.toByte; b(off + 1) = g.toByte; b(off + 2) = r.toByte
          off += 3; x += 1
        }
        sy += 1
      }
      p += frameBytes
      f += 1
    }
    b
  }

  /** Per-video exact integer statistics from a REAL RIFF/AVI parse —
    * the typed output of [[decodeVideoStats]]. Channel sums cover the
    * SAMPLED frames only (every [[FrameStride]]-th, frame 0 included):
    * frame sampling is the first thing a video training pipeline does,
    * so the gate pins it, not just the raw decode. */
  case class VideoStats(
      media_id: Long,
      width: Long,
      height: Long,
      n_frames: Long,
      frames_sampled: Long,
      r_sum: Long,
      g_sum: Long,
      b_sum: Long)

  private final case class AviDims(w: Int, h: Int, frames: Int, sampled: Int)

  /** RIFF walk over an AVI payload, invoking `px(r, g, b)` for every
    * pixel of every sampled frame (every `every`-th, frame 0 first).
    * Returns null — never throws — when the payload is not a decodable
    * bottom-up/top-down BI_RGB 24-bit AVI: NULL/short bytes, a RIFF
    * size field outrunning the actual bytes (the classic truncated
    * upload), malformed chunk sizes, a compressed or non-24-bit video
    * stream, or frame chunks smaller than one DIB raster. The caller
    * degrades such rows to zero stats — at 100 TB some fraction of any
    * crawl's media IS corrupt, and one bad file must not fail a task
    * that has decoded a million good ones. */
  private def aviSampledPixels(
      payload: Array[Byte], every: Int)(px: (Int, Int, Int) => Unit): AviDims = {
    if (payload == null || payload.length < 12) return null
    def u32(off: Int): Long =
      (payload(off) & 0xffL) | ((payload(off + 1) & 0xffL) << 8) |
        ((payload(off + 2) & 0xffL) << 16) | ((payload(off + 3) & 0xffL) << 24)
    def s32(off: Int): Int = u32(off).toInt
    def u16(off: Int): Int = (payload(off) & 0xff) | ((payload(off + 1) & 0xff) << 8)
    def fourcc(off: Int): String = new String(payload, off, 4, "ISO-8859-1")
    if (fourcc(0) != "RIFF" || fourcc(8) != "AVI ") return null
    val riffSize = u32(4)
    // a declared size beyond the actual bytes IS the truncation signal
    if (riffSize < 4 || 8 + riffSize > payload.length) return null
    val end = (8 + riffSize).toInt

    var w = -1; var hRaw = 0; var bitCount = -1; var compression = -1L
    var moviStart = -1; var moviEnd = -1
    var malformed = false
    def walk(from: Int, to: Int): Unit = {
      var p = from
      while (p + 8 <= to && !malformed) {
        val fc = fourcc(p); val sz = u32(p + 4)
        if (sz < 0 || p + 8 + sz > to) { malformed = true; return }
        if (fc == "LIST" && sz >= 4) {
          val lt = fourcc(p + 8)
          if (lt == "movi") { moviStart = p + 12; moviEnd = (p + 8 + sz).toInt }
          else walk(p + 12, (p + 8 + sz).toInt)
        } else if (fc == "strf" && sz >= 40 && w < 0) {
          w = s32(p + 8 + 4); hRaw = s32(p + 8 + 8)
          bitCount = u16(p + 8 + 14); compression = u32(p + 8 + 16)
        }
        p += 8 + sz.toInt + (sz.toInt & 1) // chunks pad to even
      }
    }
    walk(12, end)
    val h = math.abs(hRaw) // negative biHeight = top-down DIB
    val bottomUp = hRaw > 0
    if (malformed || moviStart < 0 || w <= 0 || h <= 0 ||
        bitCount != 24 || compression != 0L) return null
    val rowStride = (3 * w + 3) & ~3
    val frameBytes = rowStride * h

    var frames = 0; var sampled = 0
    var p = moviStart
    while (p + 8 <= moviEnd) {
      val fc = fourcc(p); val sz = u32(p + 4)
      if (sz < 0 || p + 8 + sz > moviEnd) return null
      if (fc == "LIST") {
        // 'rec ' grouping LISTs are legal inside movi; our encoder
        // emits none, but flattening them costs two lines
        p += 12
      } else {
        if (fc.endsWith("db") || fc.endsWith("dc")) {
          if (frames % every == 0) {
            if (sz < frameBytes) return null
            val base = p + 8
            var y = 0
            while (y < h) {
              val rowOff = base + (if (bottomUp) (h - 1 - y) else y) * rowStride
              var x = 0
              while (x < w) {
                val o = rowOff + 3 * x
                px(payload(o + 2) & 0xff, payload(o + 1) & 0xff, payload(o) & 0xff)
                x += 1
              }
              y += 1
            }
            sampled += 1
          }
          frames += 1
        }
        p += 8 + sz.toInt + (sz.toInt & 1)
      }
    }
    AviDims(w, h, frames, sampled)
  }

  /** REAL video decode + frame-sample + feature extraction (round 11 —
    * the last codec class leaves stub-land): parse actual AVI bytes
    * via [[aviSampledPixels]] and extract exact integer stats over the
    * sampled frames. Same partition-preserving contract as the image
    * and audio stages: no shuffle, corrupt/truncated/unsupported
    * payloads degrade to a zero-stats row instead of killing the
    * stage. */
  def decodeVideoStats(media: Dataset[(Long, Array[Byte])]): Dataset[VideoStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { case (id, payload) =>
        var r = 0L; var g = 0L; var b = 0L
        val dims =
          try aviSampledPixels(payload, FrameStride) { (pr, pg, pb) =>
            r += pr; g += pg; b += pb
          }
          catch { case scala.util.control.NonFatal(_) => null }
        if (dims == null) VideoStats(id, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
        else VideoStats(id, dims.w.toLong, dims.h.toLong, dims.frames.toLong,
          dims.sampled.toLong, r, g, b)
      }
    }
  }

  /** REAL decode + featurize across ALL THREE codec classes (round 11
    * — this replaces the round-1 byte-histogram stub: image decodes
    * via [[decodeRaster]], audio via [[readPcm16]], video via the
    * zero-dependency AVI parse). The features are a 16-bin histogram
    * digest + mean (basis points) over the DECODED content's 8-bit
    * units — pixel channel values for image and video (video over the
    * sampled frames only), (sample+32768)>>8 for 16-bit audio — so
    * they describe the media, not its container bytes. frames_sampled
    * comes from the BYTES (video: sampled frame count; image/audio:
    * 1), not trusted metadata. An undecodable / NULL / wrong-kind
    * payload degrades to a zero-features row (digest 0, mean 0,
    * frames_sampled 0) instead of killing the stage. */
  def decodeAndFeaturize(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-PARTITION codec init: ImageIO cache switch + SPI readers
      javax.imageio.ImageIO.setUseCache(false)
      val readers = audioReaders()
      rows.map { m =>
        val nBytes = if (m.payload == null) 0L else m.payload.length.toLong
        val hist = new Array[Long](16)
        var sum = 0L; var cnt = 0L
        def add(u: Int): Unit = { hist(u >> 4) += 1; sum += u; cnt += 1 }
        var framesSampled = 0L
        var ok = false
        try {
          if (m.payload != null && m.payload.length > 0) m.kind match {
            case "image" =>
              val ras = decodeRaster(m.payload)
              if (ras != null) {
                val pxs = ras.px
                var i = 0
                while (i < pxs.length) {
                  val v = pxs(i)
                  add((v >> 16) & 0xff); add((v >> 8) & 0xff); add(v & 0xff)
                  i += 1
                }
                framesSampled = 1L; ok = true
              }
            case "audio" =>
              if (readPcm16(readers, m.payload)((_, s) => add((s + 32768) >> 8)) != null) {
                framesSampled = 1L; ok = true
              }
            case "video" =>
              val dims = aviSampledPixels(m.payload, FrameStride) { (r, g, b) =>
                add(r); add(g); add(b)
              }
              if (dims != null) { framesSampled = dims.sampled.toLong; ok = true }
            case _ => () // unknown kind: degrade, same as undecodable
          }
        } catch { case scala.util.control.NonFatal(_) => ok = false }
        if (!ok) MediaFeatures(m.media_id, m.kind, nBytes, 0L, 0L, 0)
        else {
          var digest = 1125899906842597L
          var j = 0
          while (j < hist.length) { digest = digest * 31 + hist(j); j += 1 }
          MediaFeatures(m.media_id, m.kind, nBytes, digest,
            if (cnt == 0) 0L else sum * 10000L / cnt,
            framesSampled.toInt)
        }
      }
    }
  }

  /** Sampling stride shared by the pipeline and the metadata gate
    * query (and restated in its SQL oracle). */
  val FrameStride = 10

  /** Deterministic frame-sampling plan: every `every`-th frame,
    * always including frame 0 for non-empty media. */
  def frameSampleCount(nFrames: Int, every: Int = FrameStride): Int =
    if (nFrames <= 0) 0 else (nFrames + every - 1) / every

  /** Resize metadata transform (pure column math over the width and
    * height columns; no payload is read — [[decodeImageStats]] with a
    * `maxSide` does the pixel resize): clamp the longer side to
    * `maxSide` preserving aspect ratio. */
  def resizePlan(df: DataFrame, maxSide: Int): DataFrame = {
    // zero-dim media (audio rows in a mixed-kind table) has no spatial
    // plan: scale 0 keeps out dims at 0 instead of an ANSI
    // divide-by-zero killing the stage
    val longer = greatest(col("width"), col("height")).cast("double")
    val scale = when(longer > 0, least(lit(1.0), lit(maxSide) / longer))
      .otherwise(lit(0.0))
    df.withColumn("out_width", ceil(col("width") * scale).cast("int"))
      .withColumn("out_height", ceil(col("height") * scale).cast("int"))
  }
}
