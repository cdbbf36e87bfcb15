package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.{Multimodal, Png}

/** Pins the r11 zero-dependency PNG fast path against the JDK codec:
  * the fast DECODER must reproduce ImageIO's pixels bit-exactly on
  * ImageIO-encoded bytes (the multimodal_pipeline corpus), the fast
  * ENCODER's bytes must decode back to the exact raster under BOTH
  * decoders, and anything outside the fast path's format envelope —
  * corrupt, truncated, or non-truecolor bytes — must return null so
  * the ImageIO fallback (and the operators' degrade-to-zero-stats
  * contract) still governs.
  */
class PngSpec extends AnyFunSuite {

  private def imageIoPixels(bytes: Array[Byte]): (Int, Int, Array[Int]) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    val w = img.getWidth; val h = img.getHeight
    (w, h, img.getRGB(0, 0, w, h, null, 0, w).map(_ & 0xffffff))
  }

  test("fast decode == ImageIO pixels on ImageIO-encoded PNGs (all gate sizes)") {
    for (id <- Seq(0L, 1L, 17L, 997L); (w, h) <- Seq((16, 16), (63, 47), (96, 16))) {
      val bytes = Multimodal.encodePng(id, w, h) // the ImageIO encoder
      val ras = Png.decodeRgb(bytes)
      assert(ras != null, s"fast path must handle ImageIO PNG output ($w x $h)")
      val (iw, ih, ipx) = imageIoPixels(bytes)
      assert((ras.w, ras.h) === ((iw, ih)))
      assert(ras.px.map(_ & 0xffffff).toSeq === ipx.toSeq, s"pixels diverge at $w x $h id=$id")
    }
  }

  test("fast encode round-trips bit-exactly under BOTH decoders") {
    for (id <- Seq(3L, 500L); (w, h) <- Seq((16, 16), (41, 29))) {
      def pixel(x: Int, y: Int) = Multimodal.phashPixelPacked(id, x, y)
      val bytes = Png.encodeRgb(w, h, pixel)
      // truth raster from the pixel function
      val truth = (0 until h).flatMap(y => (0 until w).map(x => pixel(x, y)))
      val ras = Png.decodeRgb(bytes)
      assert(ras != null && ras.w == w && ras.h == h)
      assert(ras.px.toSeq === truth)
      // the JDK decoder agrees — proves the fast encoder emits a
      // conformant PNG, not just one our own decoder accepts
      val (iw, ih, ipx) = imageIoPixels(bytes)
      assert((iw, ih) === ((w, h)))
      assert(ipx.toSeq === truth)
    }
  }

  test("out-of-envelope payloads return null (fallback governs)") {
    assert(Png.decodeRgb(null) == null)
    assert(Png.decodeRgb(Array.emptyByteArray) == null)
    assert(Png.decodeRgb("definitely not a png".getBytes) == null)
    val good = Png.encodeRgb(20, 20, (x, y) => (x << 16) | (y << 8) | (x + y))
    assert(Png.decodeRgb(good.take(40)) == null, "truncated mid-chunk")
    assert(Png.decodeRgb(good.take(good.length - 8)) == null, "missing IEND tail")
    val zlibCorrupt = good.clone()
    zlibCorrupt(60) = (zlibCorrupt(60) ^ 0x5a).toByte // inside IDAT body
    // either the inflate fails (null) or it survives the bit flip as
    // garbage pixels — the contract here is only that it never throws
    Png.decodeRgb(zlibCorrupt)
    // a GRAYSCALE png (color type 0) must be rejected by the fast path
    // and still decode through ImageIO: build one via the JDK encoder
    val gray = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(gray, "png", bos)
    assert(Png.decodeRgb(bos.toByteArray) == null, "grayscale must fall back")
  }

  test("multi-IDAT streams decode bit-exactly (JDK writer chunks IDAT at 8 KB)") {
    // a large high-frequency image compresses to well over one 8 KB
    // IDAT chunk under the JDK encoder, exercising the fast decoder's
    // streaming-span inflate (no single-IDAT assumption)
    val (w, h) = (320, 240)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val px = new Array[Int](w * h)
    for (y <- 0 until h; x <- 0 until w) px(y * w + x) = Multimodal.phashPixelPacked(9001L, x, y)
    img.setRGB(0, 0, w, h, px, 0, w)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val bytes = bos.toByteArray
    // count IDAT chunks to prove the case actually covers >1
    var p = 8; var idats = 0
    while (p + 8 <= bytes.length) {
      val len = ((bytes(p) & 0xff) << 24) | ((bytes(p + 1) & 0xff) << 16) |
        ((bytes(p + 2) & 0xff) << 8) | (bytes(p + 3) & 0xff)
      if (bytes(p + 4) == 'I' && bytes(p + 5) == 'D' &&
          bytes(p + 6) == 'A' && bytes(p + 7) == 'T') idats += 1
      p += 12 + len
    }
    assert(idats > 1, s"fixture must have multiple IDAT chunks, got $idats")
    val ras = Png.decodeRgb(bytes)
    assert(ras != null && ras.w == w && ras.h == h)
    assert(ras.px.toSeq === px.toSeq)
  }

  test("dHash64 over the fast raster == dHash64 over the BufferedImage") {
    // the BufferedImage side is ImageIO's decode of the same bytes,
    // bulk getRGB'd into a raster (the decodeRaster fallback's form)
    for (id <- Seq(7L, 123L); (w, h) <- Seq((24, 18), (61, 33))) {
      val bytes = Png.encodeRgb(w, h, (x, y) => Multimodal.phashPixelPacked(id, x, y))
      val ras = Png.decodeRgb(bytes)
      val (iw, ih, ipx) = imageIoPixels(bytes)
      assert(Multimodal.dHash64(ras) === Multimodal.dHash64(new Png.Raster(iw, ih, ipx)))
    }
  }

  test("a tampered zlib Adler-32 trailer is rejected, not decoded to garbage (r12)") {
    val bytes = Png.encodeRgb(20, 15,
      (x, y) => (((x * 7) % 256) << 16) | (((y * 11) % 256) << 8) | 40)
    assert(Png.decodeRgb(bytes) != null, "untampered fixture must decode")
    // the zlib trailer is the last 4 bytes of the (single) IDAT body;
    // flipping a bit there leaves the deflate DATA fully inflatable —
    // exactly the corruption class the r11 decoder silently accepted.
    // Chunk CRC is deliberately not fixed up: decodeRgb never read it.
    var p = 8; var idatEnd = -1
    while (p + 8 <= bytes.length && idatEnd < 0) {
      val len = ((bytes(p) & 0xff) << 24) | ((bytes(p + 1) & 0xff) << 16) |
        ((bytes(p + 2) & 0xff) << 8) | (bytes(p + 3) & 0xff)
      if (bytes(p + 4) == 'I' && bytes(p + 5) == 'D' &&
          bytes(p + 6) == 'A' && bytes(p + 7) == 'T') idatEnd = p + 8 + len
      p += 12 + len
    }
    assert(idatEnd > 0)
    val bad = bytes.clone()
    bad(idatEnd - 1) = (bad(idatEnd - 1) ^ 0x01).toByte
    assert(Png.decodeRgb(bad) == null,
      "corrupt checksum must fall through to the ImageIO fallback")
  }

  test("encoder size guard: oversized rasters fail loudly, not with a negative array") {
    intercept[IllegalArgumentException] {
      Png.encodeRgb(46341, 46341, (_, _) => 0) // (1+3w)h overflows Int
    }
    intercept[IllegalArgumentException] {
      Png.encodeRgb(0, 10, (_, _) => 0)
    }
  }

  test("incompressible rasters encode within the deflate bound and decode bit-exactly") {
    // seeded random pixels do not compress: deflate's output is then
    // closest to the fixed buffer bound that encodeRgb throws past
    val rng = new scala.util.Random(20240611L)
    for ((w, h) <- Seq((1, 1), (64, 64), (1024, 33))) {
      val truth = Array.fill(w * h)(rng.nextInt() & 0xffffff)
      val bytes = Png.encodeRgb(w, h, (x, y) => truth(y * w + x))
      val ras = Png.decodeRgb(bytes)
      assert(ras != null && ras.w == w && ras.h == h, s"fast decode of $w x $h")
      assert(ras.px.toSeq === truth.toSeq, s"fast decode pixels at $w x $h")
      val (iw, ih, ipx) = imageIoPixels(bytes)
      assert((iw, ih) === ((w, h)))
      assert(ipx.toSeq === truth.toSeq, s"ImageIO pixels at $w x $h")
    }
  }
}
