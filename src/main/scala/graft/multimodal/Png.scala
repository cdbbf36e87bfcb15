package graft.multimodal

import java.util.zip.{CRC32, Deflater, Inflater}

/** Zero-dependency PNG fast path (r11 optimization round).
  *
  * WHY: ImageIO's plugin machinery dominated the image cells' per-task
  * cost — every `ImageIO.read` pays stream/reader lookup, per-image
  * metadata plumbing, a BufferedImage allocation and a color-model
  * conversion pass (`getRGB`), and every `ImageIO.write` pays the
  * default deflate level 6 plus adaptive per-row filtering, all for
  * 16–96 px gate images whose decode is a few KB of zlib. The same
  * "real bytes, zero-dependency parser" posture as the AVI RIFF walk
  * (Multimodal.aviSampledPixels): [[decodeRgb]] really inflates the
  * zlib stream and really unfilters every scanline (all five standard
  * filters), so the decode stays a REAL codec — only the framework
  * overhead is gone. Anything the fast path does not recognize
  * (palette/gray/16-bit/interlaced PNGs, JPEG, BMP, GIF, corrupt
  * payloads) returns null and the caller falls back to ImageIO, so
  * the operators' format generality and corruption contracts are
  * unchanged.
  *
  * [[encodeRgb]] writes filter-0 rows at deflate BEST_SPEED — a
  * valid PNG whose DECODED PIXELS are identical to the ImageIO
  * encoder's for the same raster (PNG is lossless), used only by gate
  * corpora whose oracles observe pixels, never payload bytes
  * (dedup_image_phash, multimodal_decode, multimodal_resize).
  * multimodal_pipeline's corpus keeps the ImageIO encoder because its
  * gate aggregates payload LENGTHS (total_bytes).
  */
object Png {

  /** Decoded raster: packed 0xRRGGBB ints, row-major — exactly the
    * low 24 bits BufferedImage.getRGB returns for the same PNG. */
  final class Raster(val w: Int, val h: Int, val px: Array[Int])

  private val Sig = Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n')

  /** Decode an 8-bit truecolor (color type 2/6, non-interlaced) PNG to
    * a packed RGB raster. Returns null — never throws — for anything
    * else: wrong signature, unsupported IHDR, malformed chunk walk,
    * zlib error, or a pixel-data length mismatch. Ancillary chunks are
    * skipped (the JDK reader ignores them for raw sample values too).
    */
  def decodeRgb(payload: Array[Byte]): Raster = {
    if (payload == null || payload.length < 8 + 25) return null
    var i = 0
    while (i < 8) { if (payload(i) != Sig(i)) return null; i += 1 }
    def u32(off: Int): Long =
      ((payload(off) & 0xffL) << 24) | ((payload(off + 1) & 0xffL) << 16) |
        ((payload(off + 2) & 0xffL) << 8) | (payload(off + 3) & 0xffL)
    // IHDR must be the first chunk
    if (u32(8) != 13L || payload(12) != 'I' || payload(13) != 'H' ||
        payload(14) != 'D' || payload(15) != 'R') return null
    val w = u32(16).toInt; val h = u32(20).toInt
    val bitDepth = payload(24) & 0xff; val colorType = payload(25) & 0xff
    val compression = payload(26) & 0xff; val filterMethod = payload(27) & 0xff
    val interlace = payload(28) & 0xff
    if (w <= 0 || h <= 0 || bitDepth != 8 ||
        (colorType != 2 && colorType != 6) ||
        compression != 0 || filterMethod != 0 || interlace != 0) return null
    if (w.toLong * h > (Int.MaxValue >> 3)) return null
    val bpp = if (colorType == 2) 3 else 4
    val rowBytes = 1 + w * bpp
    val rawLen = rowBytes.toLong * h
    if (rawLen > Int.MaxValue) return null

    // chunk walk: collect IDAT spans (offset, len) until IEND
    var idatLen = 0
    var spans = List.empty[(Int, Int)]
    var p = 8 + 25
    var sawEnd = false
    while (!sawEnd) {
      if (p + 8 > payload.length) return null
      val len = u32(p)
      if (len < 0 || len > Int.MaxValue - 8 || p + 12 + len > payload.length) return null
      val t0 = payload(p + 4); val t1 = payload(p + 5)
      val t2 = payload(p + 6); val t3 = payload(p + 7)
      if (t0 == 'I' && t1 == 'D' && t2 == 'A' && t3 == 'T') {
        spans = (p + 8, len.toInt) :: spans
        idatLen += len.toInt
      } else if (t0 == 'I' && t1 == 'E' && t2 == 'N' && t3 == 'D') sawEnd = true
      p += 12 + len.toInt
    }
    if (idatLen <= 0) return null

    // inflate the concatenated IDAT stream straight from the payload
    // spans (setInput per span — no concat copy)
    val raw = new Array[Byte](rawLen.toInt)
    val inf = new Inflater()
    try {
      var out = 0
      var rest = spans.reverse
      while (out < raw.length && !inf.finished()) {
        if (inf.needsInput()) {
          rest match {
            case (off, len) :: tl => inf.setInput(payload, off, len); rest = tl
            case Nil => return null // stream ended short of the raster
          }
        }
        val n = inf.inflate(raw, out, raw.length - out)
        if (n == 0 && inf.needsDictionary()) return null
        out += n
      }
      if (out != raw.length) return null
      // Drain to the zlib trailer so the Adler-32 checksum is actually
      // VERIFIED (r12, ADVICE): stopping as soon as the raster is full
      // left the trailer unread, so a corrupt-but-inflatable payload
      // decoded to garbage pixel stats instead of degrading through
      // the ImageIO fallback like every other corruption class. A
      // checksum mismatch throws DataFormatException (caught below);
      // a truncated trailer, a stream longer than the raster, or a
      // wedged inflater all return null the same way.
      val scratch = new Array[Byte](8)
      var guard = 0
      while (!inf.finished()) {
        if (inf.needsInput()) {
          rest match {
            case (off, len) :: tl => inf.setInput(payload, off, len); rest = tl
            case Nil => return null // trailer missing: unverifiable
          }
        }
        if (inf.inflate(scratch, 0, scratch.length) > 0) return null // stream overruns raster
        guard += 1
        if (guard > 1024) return null // wedged stream: treat as corrupt
      }
    } catch {
      case _: java.util.zip.DataFormatException => return null
    } finally inf.end()

    // unfilter scanlines in place, then pack to ints
    val px = new Array[Int](w * h)
    var prevRow = -1
    var y = 0
    while (y < h) {
      val base = y * rowBytes
      val ft = raw(base) & 0xff
      val rowOff = base + 1
      val prevOff = prevRow * rowBytes + 1
      ft match {
        case 0 => ()
        case 1 => // Sub
          var x = bpp
          while (x < rowBytes - 1) {
            raw(rowOff + x) = (raw(rowOff + x) + raw(rowOff + x - bpp)).toByte
            x += 1
          }
        case 2 => // Up
          if (prevRow >= 0) {
            var x = 0
            while (x < rowBytes - 1) {
              raw(rowOff + x) = (raw(rowOff + x) + raw(prevOff + x)).toByte
              x += 1
            }
          }
        case 3 => // Average
          var x = 0
          while (x < rowBytes - 1) {
            val a = if (x >= bpp) raw(rowOff + x - bpp) & 0xff else 0
            val b = if (prevRow >= 0) raw(prevOff + x) & 0xff else 0
            raw(rowOff + x) = (raw(rowOff + x) + ((a + b) >> 1)).toByte
            x += 1
          }
        case 4 => // Paeth
          var x = 0
          while (x < rowBytes - 1) {
            val a = if (x >= bpp) raw(rowOff + x - bpp) & 0xff else 0
            val b = if (prevRow >= 0) raw(prevOff + x) & 0xff else 0
            val c = if (x >= bpp && prevRow >= 0) raw(prevOff + x - bpp) & 0xff else 0
            val pp = a + b - c
            val pa = math.abs(pp - a); val pb = math.abs(pp - b); val pc = math.abs(pp - c)
            val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
            raw(rowOff + x) = (raw(rowOff + x) + pred).toByte
            x += 1
          }
        case _ => return null
      }
      var x = 0
      var o = rowOff
      val rowPx = y * w
      while (x < w) {
        px(rowPx + x) = ((raw(o) & 0xff) << 16) | ((raw(o + 1) & 0xff) << 8) |
          (raw(o + 2) & 0xff)
        x += 1; o += bpp
      }
      prevRow = y
      y += 1
    }
    new Raster(w, h, px)
  }

  /** Encode a packed-0xRRGGBB pixel function as a real, valid PNG:
    * 8-bit color type 2, filter 0 on every row, one IDAT, deflate
    * BEST_SPEED. Decoded pixels are identical to any conformant
    * encoder's for the same raster (PNG is lossless); only the byte
    * stream differs. The pixel function returns a packed int, not an
    * (r, g, b) tuple: a tuple allocates per PIXEL (billions of boxes
    * over an sf10 corpus), a packed int stays primitive through the
    * specialized Function2. */
  def encodeRgb(w: Int, h: Int, pixel: (Int, Int) => Int): Array[Byte] = {
    // mirror decodeRgb's size guard (r12, ADVICE): (1 + 3w)·h silently
    // overflows Int for large rasters, surfacing as a
    // NegativeArraySizeException from a public API; fail with the
    // actual constraint instead
    require(w > 0 && h > 0 && (1L + 3L * w) * h <= Int.MaxValue - 64,
      s"encodeRgb: raster ${w}x$h outside the fast-path byte bound")
    val rowBytes = 1 + 3 * w
    val raw = new Array[Byte](rowBytes * h)
    var y = 0
    while (y < h) {
      var o = y * rowBytes + 1 // filter byte 0 already zero
      var x = 0
      while (x < w) {
        val p = pixel(x, y)
        raw(o) = (p >> 16).toByte; raw(o + 1) = (p >> 8).toByte; raw(o + 2) = p.toByte
        o += 3; x += 1
      }
      y += 1
    }
    // n + n/512 + 64 exceeds zlib's deflateBound for the default window
    // and memLevel (n + n/4096 + n/16384 + n/2^25 + 13) at every n, so
    // the single pass always fits; a full buffer means the bound broke
    val def_ = new Deflater(Deflater.BEST_SPEED)
    val comp = new Array[Byte](raw.length + (raw.length >> 9) + 64)
    var compLen = 0
    try {
      def_.setInput(raw); def_.finish()
      while (!def_.finished()) {
        if (compLen == comp.length) throw new IllegalStateException(
          s"encodeRgb: deflate output for ${w}x$h outran its ${comp.length}-byte bound")
        compLen += def_.deflate(comp, compLen, comp.length - compLen)
      }
    } finally def_.end()

    val out = new Array[Byte](8 + 25 + 12 + compLen + 12)
    System.arraycopy(Sig, 0, out, 0, 8)
    val crc = new CRC32()
    var p = 8
    def w32(v: Int): Unit = {
      out(p) = (v >>> 24).toByte; out(p + 1) = (v >>> 16).toByte
      out(p + 2) = (v >>> 8).toByte; out(p + 3) = v.toByte; p += 4
    }
    def chunk(tag: String, body: Array[Byte], bodyLen: Int): Unit = {
      w32(bodyLen)
      val tagOff = p
      var i = 0
      while (i < 4) { out(p) = tag.charAt(i).toByte; p += 1; i += 1 }
      System.arraycopy(body, 0, out, p, bodyLen); p += bodyLen
      crc.reset(); crc.update(out, tagOff, 4 + bodyLen)
      w32(crc.getValue.toInt)
    }
    val ihdr = new Array[Byte](13)
    ihdr(0) = (w >>> 24).toByte; ihdr(1) = (w >>> 16).toByte
    ihdr(2) = (w >>> 8).toByte; ihdr(3) = w.toByte
    ihdr(4) = (h >>> 24).toByte; ihdr(5) = (h >>> 16).toByte
    ihdr(6) = (h >>> 8).toByte; ihdr(7) = h.toByte
    ihdr(8) = 8; ihdr(9) = 2 // bit depth 8, truecolor
    chunk("IHDR", ihdr, 13)
    chunk("IDAT", comp, compLen)
    chunk("IEND", Array.emptyByteArray, 0)
    out
  }
}
