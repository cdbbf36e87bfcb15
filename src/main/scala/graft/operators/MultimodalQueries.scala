package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.multimodal.{Multimodal, Png}
import graft.multimodal.Multimodal.MediaRow

/** Gate query for the multimodal pipeline (SURVEY §2.8 item 31).
  * Builds a deterministic media corpus from the documents table
  * (payload = UTF-8 text bytes standing in for encoded media),
  * runs the partition-preserving decode/featurize/resize stages, and
  * aggregates per media kind (rows oracle — byte-level features are
  * not SQL-expressible in the oracle engine).
  */
object MultimodalQueries {

  /** SQL-verifiable slice of the media pipeline: payload sizes, frame
    * sampling, and the resize plan are plain arithmetic over metadata,
    * so this half of the pipeline gets a full hash gate (the byte-level
    * feature digest in `multimodalPipeline` stays rows-only). */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = mediaCorpus(spark, dir)
    val resized = Multimodal.resizePlan(media.toDF(), maxSide = 256)
    resized
      .select($"media_id", $"kind",
        length($"payload").cast("long").as("n_bytes"),
        // column form of Multimodal.frameSampleCount (shared stride)
        (($"n_frames" + (Multimodal.FrameStride - 1)) / Multimodal.FrameStride)
          .cast("long").as("frames_sampled"),
        $"out_width".cast("long").as("out_width"),
        $"out_height".cast("long").as("out_height"))
      .orderBy($"media_id")
  }

  /** REAL codec roundtrip under a hash-exact gate (round 9): each
    * document becomes a deterministic RGB image ([[gateImages]]),
    * ENCODED to actual PNG bytes and DECODED back through the fast
    * zero-dependency [[Png.decodeRgb]] (a real inflate + unfilter
    * pass; ImageIO is the fallback for formats it does not take), with
    * exact integer pixel stats (dims + per-channel sums) extracted from
    * the decoded raster. The DuckDB oracle never touches a codec — it
    * enumerates the same pixel grid arithmetically — so a hash match
    * proves the encode→decode→featurize path is bit-exact end to end.
    *
    * Scale: encode and decode are back-to-back partition-preserving
    * mapPartitions stages over the scan — zero shuffles before the
    * output ordering, per-image cost independent of corpus size. At
    * 100 TB the encode stage disappears (payloads come from storage)
    * and the decode stage is unchanged. */
  def multimodalDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Multimodal.decodeImageStats(gateImages(spark, dir)).toDF().orderBy($"media_id")
  }

  /** REAL pixel resize under a hash-exact gate (round 9 companion to
    * [[multimodalDecode]]): the same encoded corpus, decoded and
    * nearest-neighbor-resized to max side 16 inside
    * [[Multimodal.decodeImageStats]] (exact integer output dims and
    * source-pixel selection), reporting the RESIZED image's exact
    * channel sums. The oracle enumerates the identical sample grid
    * arithmetically (dst pixel (dx,dy) reads source (dx·w div ow,
    * dy·h div oh)), so a hash match proves the decode→resize kernel
    * reproduces every sampled pixel bit-exactly. Same plan shape as
    * the decode gate: two partition-preserving mapPartitions stages,
    * zero shuffles before the output ordering. */
  def multimodalResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Multimodal.decodeImageStats(gateImages(spark, dir), maxSide = 16).toDF()
      .withColumnRenamed("width", "out_width")
      .withColumnRenamed("height", "out_height")
      .orderBy($"media_id")
  }

  /** Encoded image corpus of the decode and resize gates: document
    * `doc_id` becomes the [[Multimodal.pixelPacked]] image of w =
    * doc_id mod 48 + 16, h = doc_id mod 32 + 16, as PNG bytes. The
    * encode is the fast zero-dependency [[Png.encodeRgb]] (r11): both
    * gates observe decoded PIXELS only (identical for any conformant
    * PNG encoder), and ImageIO's default-level adaptive-filter encode
    * dominated the cells' per-task cost. */
  private def gateImages(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.widened(Tables.documents(spark, dir))
      .select($"doc_id".as("media_id"),
        (pmod($"doc_id", lit(48)) + 16).cast("int").as("w"),
        (pmod($"doc_id", lit(32)) + 16).cast("int").as("h"))
      .as[(Long, Int, Int)]
      .mapPartitions { rows =>
        rows.map { case (id, w, h) =>
          (id, Png.encodeRgb(w, h, (x, y) => Multimodal.pixelPacked(id, x, y)))
        }
      }
  }

  /** REAL audio-codec roundtrip under a hash-exact gate (round 10 —
    * the audio twin of [[multimodalDecode]]): each document becomes a
    * deterministic stereo 16-bit PCM clip, ENCODED to actual WAV bytes
    * and DECODED back via the JDK's javax.sound.sampled, with exact
    * integer stats (frame count, rate, per-channel sums of absolute
    * amplitudes) extracted from the decoded stream. The DuckDB oracle
    * never touches a codec — it enumerates the same waveform
    * arithmetically — so a hash match proves the encode→decode→
    * featurize path is bit-exact end to end.
    *
    * Scale: identical plan shape to the image gates — two partition-
    * preserving mapPartitions stages over the scan, zero shuffles
    * before the output ordering; at 100 TB the encode stage disappears
    * (payloads come from storage) and the decode stage is unchanged. */
  def multimodalAudio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Tables.widened(Tables.documents(spark, dir))
      .select($"doc_id".as("media_id"),
        (pmod($"doc_id", lit(480)) + 32).cast("int").as("n"),
        element_at(array(lit(8000), lit(16000), lit(44100)),
          (pmod($"doc_id", lit(3)) + 1).cast("int")).as("rate"))
      .as[(Long, Int, Int)]
    val encoded = media.mapPartitions { rows =>
      rows.map { case (id, n, rate) => (id, Multimodal.encodeWav(id, n, rate)) }
    }
    Multimodal.decodeAudioStats(encoded).toDF().orderBy($"media_id")
  }

  /** REAL video decode under a hash-exact gate (round 11 — the last
    * codec class leaves stub-land): each document becomes a
    * deterministic BI_RGB frame sequence, ENCODED to actual AVI bytes
    * (RIFF container, public spec) and parsed back via the
    * zero-dependency RIFF walk, with frame-sampling (every 10th frame,
    * frame 0 included) and exact integer channel sums over the SAMPLED
    * frames. Every 97th clip is TRUNCATED to its first 32 bytes — the
    * classic interrupted-upload corruption — and must degrade to a
    * zero-stats row, so the corruption contract sits INSIDE the hash
    * gate, not just a spec. The DuckDB oracle never touches a
    * container — it enumerates the sampled pixel grid arithmetically.
    *
    * Scale: identical plan shape to the image/audio gates — two
    * partition-preserving mapPartitions stages over the scan, zero
    * shuffles before the output ordering; at 100 TB the encode stage
    * disappears (payloads come from storage) and the parse stage is
    * unchanged. */
  def multimodalVideo(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Tables.widened(Tables.documents(spark, dir))
      .select($"doc_id".as("media_id"),
        (pmod($"doc_id", lit(24)) + 8).cast("int").as("w"),
        (pmod($"doc_id", lit(16)) + 8).cast("int").as("h"),
        (pmod($"doc_id", lit(30)) + 1).cast("int").as("nf"))
      .as[(Long, Int, Int, Int)]
    val encoded = media.mapPartitions { rows =>
      rows.map { case (id, w, h, nf) =>
        val avi = Multimodal.encodeAvi(id, w, h, nf)
        (id, if (id % 97 == 0) avi.take(32) else avi)
      }
    }
    Multimodal.decodeVideoStats(encoded).toDF().orderBy($"media_id")
  }

  /** Metadata-only media corpus backing [[multimodalMeta]]'s
    * arithmetic hash gate (payload bytes are the raw text — only their
    * LENGTH is observable there). */
  private def mediaCorpus(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.documents(spark, dir).select(
        $"doc_id".as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod($"doc_id", lit(3)) + 1).cast("int")).as("kind"),
        encode($"text", "UTF-8").as("payload"),
        (pmod($"doc_id", lit(640)) + 32).cast("int").as("width"),
        (pmod($"doc_id", lit(480)) + 32).cast("int").as("height"),
        lit(16000).as("sample_rate"),
        (pmod($"doc_id", lit(300)) + 1).cast("int").as("n_frames"))
      .as[MediaRow]
  }

  /** Mixed-kind corpus with REAL encoded payloads — PNG for images,
    * WAV for audio, AVI for video (round 11: the pipeline's decode
    * stage stopped being a byte-histogram fake, so its corpus must be
    * real media). Metadata mirrors what each encoder was given, the
    * way a lakehouse media table carries both. The encode stage is a
    * partition-preserving mapPartitions — at scale the payloads come
    * from storage and this stage disappears. */
  /** Per-kind metadata the real corpus encodes from — also feeds the
    * pipeline's resize plan WITHOUT forcing a second encode pass (the
    * payload is produced inside a typed mapPartitions, so column
    * pruning cannot reach below it; metadata consumers read this frame
    * instead). */
  private def realMediaMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.widened(Tables.documents(spark, dir)).select(
      $"doc_id".as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod($"doc_id", lit(3)) + 1).cast("int")).as("kind"),
      when(pmod($"doc_id", lit(3)) === 0, pmod($"doc_id", lit(48)) + 16)
        .when(pmod($"doc_id", lit(3)) === 2, pmod($"doc_id", lit(24)) + 8)
        .otherwise(0).cast("int").as("width"),
      when(pmod($"doc_id", lit(3)) === 0, pmod($"doc_id", lit(32)) + 16)
        .when(pmod($"doc_id", lit(3)) === 2, pmod($"doc_id", lit(16)) + 8)
        .otherwise(0).cast("int").as("height"),
      when(pmod($"doc_id", lit(3)) === 1, 16000).otherwise(0)
        .cast("int").as("sample_rate"),
      when(pmod($"doc_id", lit(3)) === 1, pmod($"doc_id", lit(480)) + 32)
        .when(pmod($"doc_id", lit(3)) === 2, pmod($"doc_id", lit(30)) + 1)
        .otherwise(1).cast("int").as("n_frames"))
  }

  private[graft] def realMediaCorpus(spark: SparkSession, dir: String) = {
    import spark.implicits._
    realMediaMeta(spark, dir).as[(Long, String, Int, Int, Int, Int)]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { case (id, kind, w, h, rate, nf) =>
          kind match {
            case "image" =>
              MediaRow(id, kind, Multimodal.encodePng(id, w, h), w, h, rate, nf)
            case "audio" =>
              MediaRow(id, kind, Multimodal.encodeWav(id, nf, rate), w, h, rate, nf)
            case _ =>
              MediaRow(id, kind, Multimodal.encodeAvi(id, w, h, nf), w, h, rate, nf)
          }
        }
      }
  }

  /** End-to-end media pipeline over REAL payloads: decode + featurize
    * across all three codec classes ([[Multimodal.decodeAndFeaturize]])
    * joined with the resize plan, aggregated per kind. Rows-only gate
    * (an order-free digest over real-codec features isn't
    * SQL-expressible); MultimodalSpec pins the decode truths and the
    * no-added-shuffle plan shape. */
  def multimodalPipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._

    val media = realMediaCorpus(spark, dir)

    val features = Multimodal.decodeAndFeaturize(media)

    // resize is metadata math — planned from the meta frame so the
    // encode stage runs ONCE (through the features side), not twice.
    // r12: the features×resize join moved ABOVE the per-kind
    // aggregates — the old media_id join shuffled the corpus-sized
    // feature frame against the corpus-sized resize plan only to sum
    // out_width+out_height per kind; both sides aggregate to one row
    // per kind independently (the feature agg keys identically, the
    // resize agg is pure column math over the meta scan), so the join
    // now carries 3 rows a side instead of the corpus (guide §2.4:
    // aggregate before you shuffle / join small proxies). Row-for-row
    // identical: every media_id appears exactly once on each side, so
    // per-kind counts and sums are unchanged (PipelineSpec pins
    // old-shape == new-shape on a mixed corpus).
    val perKindResize = Multimodal.resizePlan(realMediaMeta(spark, dir), maxSide = 256)
      .groupBy($"kind")
      .agg(sum($"out_width" + $"out_height").cast("long").as("resize_checksum"))

    features.toDF()
      .groupBy($"kind")
      .agg(
        count(lit(1)).as("n"),
        sum($"n_bytes").as("total_bytes"),
        xxhash64(sort_array(collect_list(struct($"media_id", $"hist_digest")))).as("digest"),
        sum($"frames_sampled").cast("long").as("frames"))
      .join(perKindResize, "kind")
      .orderBy($"kind")
  }
}
