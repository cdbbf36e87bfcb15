package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.{Multimodal, Png}
import graft.multimodal.Multimodal.MediaRow

class MultimodalSpec extends AnyFunSuite with SparkSpec {

  private def row(id: Long, payload: Array[Byte], w: Int = 100, h: Int = 50,
      frames: Int = 30): MediaRow =
    MediaRow(id, "image", payload, w, h, 16000, frames)

  private def rgb(p: Int): (Int, Int, Int) = ((p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff)

  test("featurize REALLY decodes all three kinds; undecodable payloads zero out") {
    import spark.implicits._
    // arithmetic truths, no codec anywhere: image = pixelPacked
    // units, audio = (waveSample+32768)>>8 units, video =
    // videoPixelChannels units over SAMPLED frames only
    var iSum = 0L; var iCnt = 0L
    for (y <- 0 until 10; x <- 0 until 12) {
      val (r, g, b) = rgb(Multimodal.pixelPacked(1L, x, y))
      iSum += r + g + b; iCnt += 3
    }
    var aSum = 0L; var aCnt = 0L
    for (i <- 0 until 40; c <- 0 until 2) {
      aSum += (Multimodal.waveSample(2L, i.toLong, c) + 32768) >> 8; aCnt += 1
    }
    var vSum = 0L; var vCnt = 0L
    for (f <- 0 until 15 by Multimodal.FrameStride; y <- 0 until 6; x <- 0 until 9) {
      val (r, g, b) = Multimodal.videoPixelChannels(3L, f, x, y)
      vSum += r + g + b; vCnt += 3
    }
    val data = Seq(
      MediaRow(1, "image", Multimodal.encodePng(1L, 12, 10), 12, 10, 0, 1),
      MediaRow(2, "audio", Multimodal.encodeWav(2L, 40, 8000), 0, 0, 8000, 40),
      MediaRow(3, "video", Multimodal.encodeAvi(3L, 9, 6, 15), 9, 6, 0, 15),
      row(4, "hello world".getBytes("UTF-8")), // kind=image, not a PNG
      row(5, null), row(6, Array.emptyByteArray))
    val got = Multimodal.decodeAndFeaturize(spark.createDataset(data).repartition(2))
      .collect().map(f => f.media_id -> f).toMap
    assert(got(1L).mean_byte_bp === iSum * 10000L / iCnt)
    assert(got(1L).frames_sampled === 1)
    assert(got(2L).mean_byte_bp === aSum * 10000L / aCnt)
    assert(got(3L).mean_byte_bp === vSum * 10000L / vCnt)
    assert(got(3L).frames_sampled === 2) // frames 0 and 10 of 15
    Seq(4L, 5L, 6L).foreach { id =>
      assert(got(id).hist_digest === 0L && got(id).mean_byte_bp === 0L &&
        got(id).frames_sampled === 0, s"media $id must degrade to zero features")
    }
    assert(got(4L).n_bytes === 11L) // payload length still reported
    // determinism across runs (digest covers the decoded histogram)
    val again = Multimodal.decodeAndFeaturize(spark.createDataset(data).repartition(2))
      .collect().map(f => f.media_id -> f.hist_digest).toMap
    assert(got.view.mapValues(_.hist_digest).toMap === again)
  }

  test("feature stage preserves partitioning (no shuffle in the plan)") {
    import spark.implicits._
    val ds = spark.createDataset(Seq(row(1, Array[Byte](1, 2, 3)))).repartition(3)
    def exchanges(plan: String): Int =
      plan.toLowerCase.linesIterator.count(_.contains("exchange"))
    val before = exchanges(ds.queryExecution.executedPlan.toString)
    val after = exchanges(
      Multimodal.decodeAndFeaturize(ds).queryExecution.executedPlan.toString)
    assert(after === before, "decode stage must not add a shuffle")
  }

  test("REAL PNG decode reproduces the pixel function bit-exactly") {
    import spark.implicits._
    // arithmetic ground truth computed WITHOUT any codec — the same
    // way the DuckDB gate oracle does it
    def truth(id: Long, w: Int, h: Int): (Long, Long, Long) = {
      var r = 0L; var g = 0L; var b = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val (pr, pg, pb) = rgb(Multimodal.pixelPacked(id, x, y))
        r += pr; g += pg; b += pb
      }
      (r, g, b)
    }
    val dims = Seq((3L, 17, 23), (4L, 16, 16), (255L, 63, 47))
    val encoded = spark.createDataset(dims).repartition(2)
      .map { case (id, w, h) => (id, Multimodal.encodePng(id, w, h)) }
    val got = Multimodal.decodeImageStats(encoded).collect()
      .map(s => s.media_id -> s).toMap
    dims.foreach { case (id, w, h) =>
      val s = got(id)
      assert((s.width, s.height, s.n_pixels) === (w.toLong, h.toLong, w.toLong * h))
      assert((s.r_sum, s.g_sum, s.b_sum) === truth(id, w, h))
    }
  }

  test("decode sniffs the container from bytes (BMP without a format tag)") {
    import spark.implicits._
    val img = new java.awt.image.BufferedImage(
      5, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 5) img.setRGB(x, y, (10 << 16) | (20 << 8) | 30)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", out)
    val stats = Multimodal.decodeImageStats(
      spark.createDataset(Seq((9L, out.toByteArray)))).collect()(0)
    assert((stats.width, stats.height) === (5L, 4L))
    assert((stats.r_sum, stats.g_sum, stats.b_sum) === (200L, 400L, 600L))
  }

  test("undecodable / NULL payloads degrade to zero-stats rows, not task failures") {
    import spark.implicits._
    val junk = Array.tabulate[Byte](64)(i => (i * 37).toByte)
    val rows = Seq((1L, junk), (2L, null.asInstanceOf[Array[Byte]]),
      (3L, Array.emptyByteArray), (4L, Multimodal.encodePng(4L, 16, 16)))
    val got = Multimodal.decodeImageStats(spark.createDataset(rows))
      .collect().map(s => s.media_id -> s.n_pixels).toMap
    assert(got(1L) === 0L && got(2L) === 0L && got(3L) === 0L)
    assert(got(4L) === 256L)
  }

  test("real decode stage preserves partitioning (no shuffle in the plan)") {
    import spark.implicits._
    val ds = spark.createDataset(Seq((1L, Multimodal.encodePng(1L, 16, 16))))
      .repartition(3)
    def exchanges(plan: String): Int =
      plan.toLowerCase.linesIterator.count(_.contains("exchange"))
    assert(exchanges(Multimodal.decodeImageStats(ds)
        .queryExecution.executedPlan.toString) ===
      exchanges(ds.queryExecution.executedPlan.toString),
      "real decode stage must not add a shuffle")
  }

  test("REAL nearest-neighbor resize matches codec-free arithmetic; small images pass through") {
    import spark.implicits._
    // arithmetic truth over the SAMPLE GRID, no codec, no raster
    def truth(id: Long, w: Int, h: Int, maxSide: Int): (Int, Int, Long, Long, Long) = {
      val m = math.max(w, h)
      val (ow, oh) =
        if (m <= maxSide) (w, h)
        else ((w * maxSide + m - 1) / m, (h * maxSide + m - 1) / m)
      var r = 0L; var g = 0L; var b = 0L
      for (dy <- 0 until oh; dx <- 0 until ow) {
        val (pr, pg, pb) = rgb(Multimodal.pixelPacked(id, dx * w / ow, dy * h / oh))
        r += pr; g += pg; b += pb
      }
      (ow, oh, r, g, b)
    }
    val dims = Seq((3L, 17, 23), (4L, 63, 20), (7L, 12, 9) /* within maxSide: pass-through */,
      (8L, 16, 16) /* longer side == maxSide: pass-through */)
    val encoded = spark.createDataset(dims).repartition(2)
      .map { case (id, w, h) => (id, Multimodal.encodePng(id, w, h)) }
    val got = Multimodal.decodeImageStats(encoded, maxSide = 16).collect()
      .map(s => s.media_id -> s).toMap
    dims.foreach { case (id, w, h) =>
      val (ow, oh, r, g, b) = truth(id, w, h, 16)
      val s = got(id)
      assert((s.width, s.height, s.n_pixels) === (ow.toLong, oh.toLong, ow.toLong * oh))
      assert((s.r_sum, s.g_sum, s.b_sum) === (r, g, b), s"image $id channel sums")
    }
    // pass-through really is untouched: full-image sums for the small one
    val s7 = got(7L)
    assert((s7.width, s7.height) === (12L, 9L))
  }

  test("frame sampling and resize plan") {
    assert(Multimodal.frameSampleCount(0, 10) === 0)
    assert(Multimodal.frameSampleCount(1, 10) === 1)
    assert(Multimodal.frameSampleCount(10, 10) === 1)
    assert(Multimodal.frameSampleCount(11, 10) === 2)
    import spark.implicits._
    val df = Seq((1L, 640, 480), (2L, 100, 50), (3L, 256, 256))
      .toDF("media_id", "width", "height")
    val got = Multimodal.resizePlan(df, 256)
      .select($"media_id", $"out_width", $"out_height")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(got === Set((1L, 256, 192), (2L, 100, 50), (3L, 256, 256)))
  }

  test("REAL WAV decode reproduces the waveform bit-exactly") {
    import spark.implicits._
    val clips = Seq((3L, 40, 8000), (7L, 33, 44100), (12L, 64, 16000))
    val encoded = spark.createDataset(clips).repartition(2)
      .map { case (id, n, rate) => (id, Multimodal.encodeWav(id, n, rate)) }
    val got = Multimodal.decodeAudioStats(encoded)
      .collect().map(s => s.media_id -> s).toMap
    clips.foreach { case (id, n, rate) =>
      var c0 = 0L; var c1 = 0L
      for (i <- 0 until n) {
        c0 += math.abs(Multimodal.waveSample(id, i.toLong, 0).toLong)
        c1 += math.abs(Multimodal.waveSample(id, i.toLong, 1).toLong)
      }
      val s = got(id)
      assert((s.sample_rate, s.n_channels, s.n_frames) === (rate.toLong, 2L, n.toLong),
        s"clip $id header")
      assert((s.c0_abs_sum, s.c1_abs_sum) === (c0, c1), s"clip $id channel sums")
    }
  }

  test("undecodable / NULL / truncated / non-PCM audio degrades to zero-stats rows") {
    import spark.implicits._
    val junk = Array.tabulate[Byte](64)(i => (i * 37).toByte)
    val good = Multimodal.encodeWav(4L, 40, 8000)
    // a WAV header whose declared data outruns the actual bytes — the
    // classic truncated-upload corruption
    val truncated = good.take(good.length / 2)
    val rows = Seq((1L, junk), (2L, null.asInstanceOf[Array[Byte]]),
      (3L, Array.emptyByteArray), (4L, good), (5L, truncated))
    val got = Multimodal.decodeAudioStats(spark.createDataset(rows))
      .collect().map(s => s.media_id -> s).toMap
    assert(got(1L).n_frames === 0L && got(2L).n_frames === 0L && got(3L).n_frames === 0L)
    assert(got(4L).n_frames === 40L && got(4L).n_channels === 2L)
    // truncated: either decodes fewer frames or degrades to zero —
    // both are task-survival; what it must NOT do is throw
    assert(got(5L).n_frames < 40L)
  }

  test("audio decode stage preserves partitioning (no shuffle in the plan)") {
    import spark.implicits._
    val ds = spark.createDataset(Seq((1L, Multimodal.encodeWav(1L, 16, 8000))))
      .repartition(3)
    def exchanges(plan: String): Int =
      plan.toLowerCase.linesIterator.count(_.contains("exchange"))
    assert(exchanges(Multimodal.decodeAudioStats(ds)
        .queryExecution.executedPlan.toString) ===
      exchanges(ds.queryExecution.executedPlan.toString),
      "audio decode stage must not add a shuffle")
  }

  test("REAL AVI parse reproduces the sampled frame pixels bit-exactly") {
    import spark.implicits._
    // odd widths exercise the 4-byte row-stride padding; nf around the
    // stride boundary exercises frame sampling (10 -> 1 frame sampled,
    // 11 -> 2)
    val clips = Seq((3L, 9, 6, 15), (7L, 8, 8, 10), (11L, 13, 5, 11), (4L, 24, 16, 1))
    val encoded = spark.createDataset(clips).repartition(2)
      .map { case (id, w, h, nf) => (id, Multimodal.encodeAvi(id, w, h, nf)) }
    val got = Multimodal.decodeVideoStats(encoded)
      .collect().map(s => s.media_id -> s).toMap
    clips.foreach { case (id, w, h, nf) =>
      var r = 0L; var g = 0L; var b = 0L; var sampled = 0
      for (f <- 0 until nf by Multimodal.FrameStride) {
        sampled += 1
        for (y <- 0 until h; x <- 0 until w) {
          val (pr, pg, pb) = Multimodal.videoPixelChannels(id, f, x, y)
          r += pr; g += pg; b += pb
        }
      }
      val s = got(id)
      assert((s.width, s.height, s.n_frames, s.frames_sampled) ===
        (w.toLong, h.toLong, nf.toLong, sampled.toLong), s"clip $id header")
      assert((s.r_sum, s.g_sum, s.b_sum) === (r, g, b), s"clip $id channel sums")
    }
  }

  test("corrupt / truncated / NULL / non-AVI video degrades to zero-stats rows") {
    import spark.implicits._
    val good = Multimodal.encodeAvi(4L, 12, 8, 12)
    val junk = Array.tabulate[Byte](64)(i => (i * 37).toByte)
    val rows = Seq(
      (1L, junk), (2L, null.asInstanceOf[Array[Byte]]), (3L, Array.emptyByteArray),
      (4L, good),
      (5L, good.take(32)),                 // truncated header
      (6L, good.take(good.length - 40)),   // truncated mid-movi: RIFF size outruns bytes
      (7L, Multimodal.encodeWav(7L, 20, 8000))) // a RIFF that is not AVI
    val got = Multimodal.decodeVideoStats(spark.createDataset(rows))
      .collect().map(s => s.media_id -> s).toMap
    Seq(1L, 2L, 3L, 5L, 6L, 7L).foreach { id =>
      assert(got(id).n_frames === 0L && got(id).r_sum === 0L,
        s"clip $id must be a zero-stats row")
    }
    assert(got(4L).n_frames === 12L && got(4L).frames_sampled === 2L)
  }

  test("video decode stage preserves partitioning (no shuffle in the plan)") {
    import spark.implicits._
    val ds = spark.createDataset(Seq((1L, Multimodal.encodeAvi(1L, 8, 8, 5))))
      .repartition(3)
    def exchanges(plan: String): Int =
      plan.toLowerCase.linesIterator.count(_.contains("exchange"))
    assert(exchanges(Multimodal.decodeVideoStats(ds)
        .queryExecution.executedPlan.toString) ===
      exchanges(ds.queryExecution.executedPlan.toString),
      "video decode stage must not add a shuffle")
  }

  test("dHash64 over a real PNG roundtrip == the arithmetic sample grid; scale-invariant") {
    // arithmetic truth, no codec: luma at sample (gx,gy) of the
    // base-id pixel grid, bit gy*8+gx iff L(gx) > L(gx+1)
    def truth(id: Long, w: Int, h: Int): Long = {
      def luma(x: Int, y: Int): Long = {
        val (r, g, b) = rgb(Multimodal.phashPixelPacked(id, x, y))
        299L * r + 587L * g + 114L * b
      }
      var hash = 0L
      for (gy <- 0 until 8; gx <- 0 until 8) {
        if (luma(gx * w / 9, gy * h / 8) > luma((gx + 1) * w / 9, gy * h / 8))
          hash |= 1L << (gy * 8 + gx)
      }
      hash
    }
    // both decoders of the real bytes: the fast path's raster and
    // one built from ImageIO's getRGB pixels (the fallback's form)
    def rasters(png: Array[Byte]): Seq[(String, Png.Raster)] = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      val (w, h) = (img.getWidth, img.getHeight)
      Seq("fast" -> Png.decodeRgb(png),
        "ImageIO" -> new Png.Raster(w, h, img.getRGB(0, 0, w, h, null, 0, w)))
    }
    val dims = Seq((3L, 17, 23), (4L, 63, 20), (9L, 16, 16))
    dims.foreach { case (id, w, h) =>
      val png = Png.encodeRgb(w, h, (x, y) => Multimodal.phashPixelPacked(id, x, y))
      rasters(png).foreach { case (dec, ras) =>
        assert(Multimodal.dHash64(ras) === truth(id, w, h), s"image $id dHash ($dec)")
      }
      // 2x nearest-neighbor upscale re-encode: floor(floor(2a)/2) =
      // floor(a), so the sample grid reads the SAME source pixels and
      // the hash must be IDENTICAL (the property the phash dedup's
      // planted pairs rely on)
      val up = Png.encodeRgb(w * 2, h * 2,
        (x, y) => Multimodal.phashPixelPacked(id, x / 2, y / 2))
      rasters(up).foreach { case (dec, ras) =>
        assert(Multimodal.dHash64(ras) === truth(id, w, h), s"image $id upscaled dHash ($dec)")
      }
    }
    // the phash pixel grid must not be luma-monotone (the decode
    // gate's LINEAR grid is, which would collapse every image to
    // dHash~0 and one degenerate LSH bucket): distinct images hash
    // far apart
    val h1 = truth(3L, 17, 23); val h2 = truth(4L, 63, 20)
    assert(java.lang.Long.bitCount(h1 ^ h2) > 10, "phash grid lacks entropy")
  }

  test("pipeline pre-aggregated join == row-level media_id join (r12 reshape)") {
    import spark.implicits._
    // the r12 plan joins two per-kind aggregates instead of shuffling
    // the corpus-sized feature frame against the resize plan; this pin
    // replays the OLD row-level formulation over the same sf corpus
    // and demands cell-identical output
    val got = graft.operators.MultimodalQueries.multimodalPipeline(spark, sf)
      .collect().map(_.toSeq).toSeq
    val media = graft.operators.MultimodalQueries.realMediaCorpus(spark, sf)
    val features = Multimodal.decodeAndFeaturize(media)
    // old formulation verbatim: row-level media_id join, then one agg
    // (the resize plan runs over the corpus's own metadata columns —
    // identical inputs to the meta frame the query plans from)
    val resizedRows = Multimodal.resizePlan(
      media.toDF().select($"media_id", $"kind", $"width", $"height"), maxSide = 256)
      .select($"media_id", $"out_width", $"out_height")
    val old = features.toDF()
      .join(resizedRows, "media_id")
      .groupBy($"kind")
      .agg(
        count(lit(1)).as("n"),
        sum($"n_bytes").as("total_bytes"),
        xxhash64(sort_array(collect_list(struct($"media_id", $"hist_digest")))).as("digest"),
        sum($"frames_sampled").cast("long").as("frames"),
        sum($"out_width" + $"out_height").cast("long").as("resize_checksum"))
      .orderBy($"kind")
      .collect().map(_.toSeq).toSeq
    assert(got === old)
  }
}
