package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.multimodal.Multimodal
import graft.similarity.Similarity

/** Image near-dup deduplication via perceptual hash (round 10) — the
  * multimodal member of the dedup family a 100 TB image-text pipeline
  * actually runs (CCNet-for-images): decode each image, fingerprint it
  * with a 64-bit dHash over the decoded raster, and find all pairs
  * within a small hamming radius WITHOUT any all-pairs comparison,
  * reusing the exact Manku block-combination blocking the simhash text
  * dedup runs ([[Similarity.simhashBlockCombos]] — the blocking is
  * generic over any 64-bit code).
  *
  * The gate corpus plants the two variant classes a crawl actually
  * contains: the SAME image re-encoded at a different size (2× upscale
  * — dHash is scale-invariant by construction, so these collide at
  * hamming 0) and a lightly retouched image (a corner overlay — a few
  * luma samples move, landing within a few bits). Both the dHash and
  * the pair set are pure integer arithmetic over a deterministic pixel
  * grid, so the DuckDB oracle restates the ENTIRE pipeline (hash bits
  * via the sample grid, pairs via all-pairs xor/bit_count — all-pairs
  * is the oracle's job, never Spark's) and the gate is hash-exact even
  * though Spark really encodes and decodes PNG bytes.
  */
object ImageDedupQueries {

  /** Pairs at or under this hamming distance are near-dups. C(5,2)
    * block-combination blocking is complete for <= 3 (Manku WWW'07). */
  val MaxHamming = 3

  /** Encoded phash gate corpus: (media_id, png bytes).
    *  - every doc: the base image (w = id%48+16, h = id%32+16) on the
    *    high-frequency [[Multimodal.phashPixelPacked]] grid;
    *  - every doc: a 2× nearest-neighbor UPSCALE re-encode (+1e6) —
    *    raster (x,y) = base(x div 2, y div 2), the cheap re-host
    *    variant an image crawl sees constantly;
    *  - docs % 5 == 0: a RETOUCHED copy (+2e6) — the base image with
    *    an inverted 4×4 top-left corner (a logo/watermark stand-in).
    */
  def encodedCorpus(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val base = Tables.widened(Tables.documents(spark, dir))
      .select($"doc_id",
        (pmod($"doc_id", lit(48)) + 16).cast("int").as("w"),
        (pmod($"doc_id", lit(32)) + 16).cast("int").as("h"))
    val variants = base.select($"doc_id".as("media_id"), $"doc_id".as("base"),
        $"w", $"h", lit(1).as("sc"), lit(false).as("pert"))
      .unionAll(base.select(graft.Tables.synthId($"doc_id").as("media_id"), $"doc_id".as("base"),
        $"w", $"h", lit(2).as("sc"), lit(false).as("pert")))
      .unionAll(base.filter($"doc_id" % 5 === 0)
        .select(graft.Tables.synthId($"doc_id", 2).as("media_id"), $"doc_id".as("base"),
          $"w", $"h", lit(1).as("sc"), lit(true).as("pert")))
      .as[(Long, Long, Int, Int, Int, Boolean)]
    variants.mapPartitions { rows =>
      rows.map { case (id, b, w, h, sc, pert) =>
        // packed-int pixel fn: a (r,g,b) tuple boxes per PIXEL —
        // billions of allocations over an sf10 corpus (255-c per
        // channel == ~p masked to 24 bits)
        val bytes = graft.multimodal.Png.encodeRgb(w * sc, h * sc, (x, y) => {
          val p = Multimodal.phashPixelPacked(b, x / sc, y / sc)
          if (pert && x < 4 && y < 4) ~p & 0xffffff else p
        })
        (id, bytes)
      }
    }
  }

  /** Blocking width for this corpus, derived from a parquet-footer
    * row-count probe (metadata-only, zero jobs — the pagerankKeyType
    * posture): the encoded corpus is ~2.2 codes per document (base +
    * upscale + every-5th retouch), and
    * [[Similarity.blocksForCodes]] switches C(5,2) → C(6,3) near 10^7
    * codes, where the r10 sf100 decade measured the quadratic C(5,2)
    * key-coincidence term. An unreadable layout probes as
    * Long.MaxValue: at unknown scale the wide keys are the safe
    * default (their only cost is 2x candidate rows). */
  private[graft] def blocksFor(spark: SparkSession, dir: String): Int = {
    val docs = graft.io.GraftIO.footerRowCount(spark, s"$dir/documents.parquet")
      .getOrElse(Long.MaxValue)
    Similarity.blocksForCodes(if (docs > Long.MaxValue / 3) Long.MaxValue else docs * 11 / 5)
  }

  /** Near-dup image pairs: REAL decode → dHash → banded candidate join
    * → exact hamming verify.
    *
    * Scale: the decode+hash stage is partition-preserving map work
    * (per-image cost independent of corpus size); after it the corpus
    * is 16 bytes/image (id, phash) — raster bytes never cross a
    * shuffle. Blocking emits C(blocks, blocks-3) rows per image with
    * the key width chosen from a corpus-count probe ([[blocksFor]]:
    * C(5,2) 25-26-bit keys below ~10^7 codes, C(6,3) 31-33-bit keys
    * above — the fixed C(5,2) width was the board's one measured
    * scale-killer, a 21.2x sf100 decade from quadratic key
    * coincidences), bucket caps bound any degenerate key, and only
    * candidates pay the (codegen bit_count) verify. Pairs are linear
    * in the planted-dup rate, never quadratic in the corpus. */
  def dedupImagePhash(spark: SparkSession, dir: String): DataFrame =
    dedupImagePhashBlocks(spark, dir, blocksFor(spark, dir))

  /** [[dedupImagePhash]] with the blocking width pinned — the gate
    * entry derives it from the corpus probe; ImageDedupSpec runs BOTH
    * widths and pins pair-set equality (completeness does not depend
    * on the width, so the adaptive switch can never change results). */
  private[graft] def dedupImagePhashBlocks(
      spark: SparkSession, dir: String, blocks: Int): DataFrame = {
    import spark.implicits._
    Similarity.hammingPairs("dedup_image_phash",
        Multimodal.decodeImagePhash(encodedCorpus(spark, dir)).toDF("id", "sig"),
        blocks, MaxHamming)
      .orderBy($"id_a", $"id_b")
  }
}
