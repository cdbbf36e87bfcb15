package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.functions.{CosineSimilarity, GraftExtensions, ShingleHashes}

/** Similarity / sketching primitives for dedup and ANN, all as pure
  * Column expressions (no UDFs — everything stays inside whole-stage
  * codegen and scales map-side).
  *
  * Sketch designs are the standard public constructions: MinHash
  * (Broder '97), LSH banding (Leskovec/Rajaraman/Ullman, Mining of
  * Massive Datasets ch.3), SimHash (Charikar '02), random-hyperplane
  * signatures for cosine (Charikar '02), prefix filtering for exact
  * set-similarity joins (Chaudhuri et al. '06, Bayardo et al. '07).
  *
  * Every banded family — MinHash, SimHash, image dHash, embedding
  * cosine, semantic decontamination — finds its candidates through
  * the one blocking kernel [[lshPairs]]; the families differ only in
  * their band expression and their pair step ([[hammingPairs]],
  * [[cosinePairs]], or MinHash's bare id pairs).
  */
object Similarity {

  /** Bind `expr` to a lambda variable so the body evaluates it exactly
    * ONCE per row. A plain subexpression referenced inside a
    * higher-order-function lambda is re-evaluated on EVERY element
    * visit (interpreted HOFs substitute the whole subtree) — e.g. a
    * tokenizing split re-run once per n-gram turned shingle generation
    * quadratic (measured 7.9 s → 0.3 s on 5k docs). */
  def bound(expr: Column)(body: Column => Column): Column =
    element_at(transform(array(expr), body), 1)

  /** Distinct word n-grams ("shingles") of a token array, joined by a
    * single space. Documents with fewer than n tokens yield an empty
    * array. The token array is `bound` once; the per-element lambda
    * touches only the bound variable. */
  def wordNgrams(tokens: Column, n: Int): Column =
    bound(tokens) { ts =>
      val idx = when(size(ts) - lit(n - 1) < 1, array().cast("array<int>"))
        .otherwise(sequence(lit(1), size(ts) - lit(n - 1)))
      array_distinct(transform(idx, i =>
        concat_ws(" ", slice(ts, i, lit(n)))))
    }

  /** As [[wordNgrams]] but KEEPING duplicates — repetition statistics
    * need the multiset (how often the most common n-gram repeats). */
  def wordNgramsAll(tokens: Column, n: Int): Column =
    bound(tokens) { ts =>
      val idx = when(size(ts) - lit(n - 1) < 1, array().cast("array<int>"))
        .otherwise(sequence(lit(1), size(ts) - lit(n - 1)))
      transform(idx, i => concat_ws(" ", slice(ts, i, lit(n))))
    }

  /** Word n-grams paired with the doc's distinct-gram count:
    * array<struct<s, gram>>, built so ONE Generate(explode) evaluation
    * yields every (count, gram) row — callers otherwise re-evaluate the
    * gram expression once each for filter/size/explode. */
  def wordNgramStructs(tokens: Column, n: Int): Column =
    bound(wordNgrams(tokens, n)) { gs =>
      transform(gs, g => struct(size(gs).as("s"), g.as("gram")))
    }

  /** Distinct `xxhash64` values of the word n-grams of `text` under
    * `wordNgrams(TextFunctions.wsTokens(text), n)`, as `array<bigint>`
    * — the native expression graft.functions.ShingleHashes (one byte
    * walk, no gram strings; distinct is taken on the hashes). */
  def shingleHashes(text: Column, n: Int): Column =
    GraftExtensions.column(ShingleHashes, text, lit(n))

  /** k-permutation MinHash signature: element i is
    * min over grams of xxhash64(i, gram) — one draw per "permutation"
    * seeded by the lane index. Empty gram set → null-free empty guard
    * must be applied by the caller (signature would be all-null). */
  def minhashSignature(grams: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)), i =>
      array_min(transform(grams, g => xxhash64(i, g))))

  /** Exact dot product of two numeric arrays (double accumulation). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** L2 norm. */
  def l2(a: Column): Column = sqrt(dot(a, a))

  /** Exact cosine similarity of two FLOAT arrays — the native Catalyst
    * expression graft.functions.CosineSimilarity (codegen'd primitive
    * loop; bit-identical to `cosineHof`, which runs ~200 interpreted
    * lambda calls per 64-dim pair). */
  def cosine(a: Column, b: Column): Column =
    GraftExtensions.column(CosineSimilarity, a, b)

  /** Declarative (higher-order-function) cosine — kept as the
    * reference formulation the native expression is spec-checked
    * against, and for non-float numeric arrays. */
  def cosineHof(a: Column, b: Column): Column = dot(a, b) / (l2(a) * l2(b))

  /** 64-bit SimHash of a token array: bit j of the signature is set
    * when the majority of token hashes have bit j set (ties → set,
    * matching the usual >= 0 convention on the ±1 sum). */
  def simhash64(tokens: Column): Column = {
    val hashes = transform(tokens, t => xxhash64(t))
    aggregate(
      sequence(lit(0), lit(63)),
      lit(0L),
      (acc, j) => acc.bitwiseOR(when(
        size(filter(hashes, h => shrDyn(h, j).bitwiseAND(lit(1L)) === lit(1L))) * 2
          >= size(hashes),
        shlDyn(lit(1L), j)).otherwise(lit(0L))))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash band blocking: split a `bits`-wide signature into `bands`
    * equal bit-slices. Two signatures within hamming distance
    * `bands - 1` MUST agree on at least one slice (pigeonhole), so a
    * join on (band, slice-value) finds all such pairs with no
    * all-pairs comparison. */
  def simhashBands(sig: Column, bands: Int, bits: Int = 64): Column = {
    val width = bits / bands
    val mask = (1L << width) - 1
    transform(sequence(lit(0), lit(bands - 1)), i =>
      struct(i.as("band"),
        shrDyn(sig, i * lit(width)).bitwiseAND(lit(mask)).as("band_bits")))
  }

  /** Block-combination blocking for hamming <= `maxHamming` over a
    * `bits`-wide signature (Manku, Jain & Sarma, "Detecting
    * Near-Duplicates for Web Crawling", WWW'07 §3): split the
    * signature into `blocks` contiguous slices; a pair within hamming
    * k differs in at most k blocks, so it agrees EXACTLY on some
    * (blocks - k)-subset — one (combo, key) row per such combination
    * and an equi-join on the key finds every pair. Like
    * [[simhashBands]] with bands = k+1, but the key carries
    * (blocks-k)/blocks of the signature's bits instead of 1/(k+1), so
    * bucket entropy comes from key width, not corpus luck: 16-bit
    * band keys top out at 65536 buckets — a 10x-bigger corpus means
    * 10x-fuller buckets and ~100x the self-join pairs (the
    * superlinear term the sf100 decade measured) — where C(6,3)
    * ~32-bit triple keys keep buckets near-singleton until ~2^32
    * docs. Cost: C(blocks, blocks-k) rows per doc (20 at 6 choose 3)
    * vs k+1. The key is an xxhash64 of the slice triple — a hash
    * collision only ADDS a candidate pair (killed by the caller's
    * exact hamming verify), never loses one. */
  def simhashBlockCombos(
      sig: Column, blocks: Int, maxHamming: Int, bits: Int = 64): Column = {
    require(blocks > maxHamming, "need more blocks than flipped bits")
    val base = bits / blocks
    val extra = bits % blocks // first `extra` blocks are one bit wider
    val widths = (0 until blocks).map(i => base + (if (i < extra) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val blockCols = (0 until blocks).map(i =>
      shiftright(sig, offsets(i)).bitwiseAND(lit((1L << widths(i)) - 1)))
    val structs = (0 until blocks).combinations(blocks - maxHamming)
      .toSeq.zipWithIndex.map { case (combo, ci) =>
        struct(lit(ci).as("band"),
          xxhash64(lit(ci) +: combo.map(blockCols): _*).as("band_bits"))
      }
    array(structs: _*)
  }

  /** Number of signature blocks for block-combination blocking, sized
    * to the corpus: C(5,2) 25-26-bit combo keys stay near-singleton to
    * ~10^7 codes at half the per-doc row cost of C(6,3); past that the
    * random key-COINCIDENCE term (pairs sharing a combo key without
    * being near-dups) grows quadratically in corpus/2^keyBits — the
    * r10 sf100 decade measured dedup_image_phash at 21.2x for 10x data
    * exactly there — so bigger corpora switch to C(6,3) 31-33-bit
    * triple keys (near-singleton to ~2^32 codes, 20 rows/doc).
    * Completeness for hamming <= 3 is independent of the choice
    * (blocks > maxHamming either way), so the PAIR SET is identical —
    * only the candidate-join volume changes. Callers derive `estCodes`
    * from a parquet footer row-count probe (the pagerankKeyType
    * posture: metadata-only, zero jobs; an unreadable layout should
    * pass Long.MaxValue so the probe failure picks the scale-safe
    * width). */
  def blocksForCodes(estCodes: Long): Int =
    if (estCodes < 10000000L) 5 else 6

  /** Whether combo #`band` (in [[simhashBlockCombos]]'s combo order)
    * TRULY agrees between two signatures, from their XOR — the
    * candidate-join filter that drops band-key hash coincidences
    * map-side. Unlike keeping only `band === firstAgreeingCombo`,
    * keeping EVERY truly-agreeing row and deduping per pair stays
    * correct when [[boundBuckets]] drops a hot bucket: a pair whose
    * first-agreeing combo landed in a dropped bucket still surfaces
    * from any surviving agreeing band (the r10 first-combo-only filter
    * silently lost such pairs; DedupSpec drives [[hammingPairs]]
    * through a dropped bucket to pin this). */
  def comboAgrees(
      xorCol: Column, band: Column, blocks: Int, maxHamming: Int,
      bits: Int = 64): Column = {
    require(blocks > maxHamming, "need more blocks than flipped bits")
    val base = bits / blocks
    val extra = bits % blocks
    val widths = (0 until blocks).map(i => base + (if (i < extra) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val combos = (0 until blocks).combinations(blocks - maxHamming).toSeq.zipWithIndex
    combos.foldRight(lit(false)) { case ((combo, ci), acc) =>
      val agrees = combo.map(b =>
        shiftright(xorCol, offsets(b)).bitwiseAND(lit((1L << widths(b)) - 1)) === 0L)
        .reduce(_ && _)
      when(band === ci, agrees).otherwise(acc)
    }
  }

  /** Random-hyperplane signature for cosine LSH: bit i is the sign of
    * the dot product with a deterministic ±1 hyperplane derived from
    * xxhash64(plane, dim). Angle between vectors ∝ expected bit
    * disagreement (Charikar '02). */
  def hyperplaneSignature(vec: Column, planes: Int): Column =
    aggregate(
      sequence(lit(0), lit(planes - 1)),
      lit(0L),
      (acc, p) => {
        val proj = aggregate(
          zip_with(vec, sequence(lit(0), size(vec) - 1), (x, d) =>
            x.cast("double") * when(xxhash64(p, d).bitwiseAND(lit(1L)) === 1L, lit(1.0))
              .otherwise(lit(-1.0))),
          lit(0.0), (a, x) => a + x)
        acc.bitwiseOR(when(proj >= 0, shlDyn(lit(1L), p)).otherwise(lit(0L)))
      })

  /** DataFrame-level hyperplane banding: one row per item, (id,
    * bands), where `bands` is array<struct<band, band_bits>> and band b
    * holds bits [b*w, (b+1)*w) of [[hyperplaneSignature]] (w =
    * planes / bands). The projections are CODEGEN'D SUM AGGREGATES over
    * posexploded vector components, not the signature's higher-order
    * lambdas — those are interpreted per element, which is the
    * difference between 8k interpreted ops and 32 codegen'd hashes per
    * row (see DedupQueries scale notes). Callers explode the array
    * themselves ([[lshPairs]] does, after its one-row-per-item cache). */
  def hyperplaneBucketsDf(
      df: DataFrame,
      idCol: String, vecCol: String,
      planes: Int, bands: Int): DataFrame = {
    val ex = df.select(col(idCol), posexplode(col(vecCol)).as(Seq("d", "x")))
    val projAggs = (0 until planes).map { p =>
      sum(when(xxhash64(lit(p), col("d")).bitwiseAND(lit(1L)) === 1L, col("x").cast("double"))
        .otherwise(-col("x").cast("double"))).as(s"p$p")
    }
    val projs = ex.groupBy(col(idCol)).agg(projAggs.head, projAggs.tail: _*)
    val width = planes / bands
    val bandStructs = (0 until bands).map { b =>
      val bits = (0 until width).map(i =>
        when(col(s"p${b * width + i}") >= 0, lit(1L << i)).otherwise(lit(0L)))
      struct(lit(b).as("band"), bits.reduce(_.bitwiseOR(_)).as("band_bits"))
    }
    projs.select(col(idCol), array(bandStructs: _*).as("bands"))
  }

  /** Cap LSH bucket sizes before a candidate self-join: a degenerate
    * bucket value shared by B rows contributes B² candidate pairs — one
    * hot bucket (boilerplate documents, empty-ish inputs hashing alike)
    * turns the join quadratic at scale. Buckets larger than `maxBucket`
    * are dropped entirely (the standard LSH-dedup guard: a bounded,
    * observable recall loss instead of an unbounded shuffle blowup —
    * pairs in a dropped bucket usually still meet in another band).
    * Cost: one partial-agg pass over the buckets + a broadcast
    * anti-join against the (tiny) hot-bucket list. */
  private[graft] def boundBuckets(
      buckets: DataFrame,
      keyCols: Seq[String],
      maxBucket: Int): DataFrame = {
    val keys = keyCols.map(col)
    val hot = buckets.groupBy(keys: _*).agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") > maxBucket).drop("__bn")
    buckets.join(broadcast(hot), keyCols, "left_anti")
  }

  /** Hot-bucket cap of [[lshPairs]]: far above any bucket the gate
    * corpora produce — their results are unchanged — but at 100 TB it
    * is the guard that keeps one degenerate bucket from going
    * quadratic. */
  val MaxBucket = 10000

  /** The LSH blocking kernel. `items` has ONE row per item: its id,
    * whatever `bands` reads, and the payload `pair` reads. It is
    * persisted here because it feeds the hot-bucket aggregate, its
    * anti-join and both sides of the self-join — uncached, the
    * upstream pipeline (decode, tokenize, signature aggregates) runs up
    * to 4x. `bands` is an array<struct<band, key>> expression over
    * `items` (any two field names), exploded only AFTER the cache, so
    * the 4–20 band rows per item never sit in it.
    *
    * Buckets over `maxBucket` rows are dropped ([[boundBuckets]]); the
    * rest self-join on (band, key) under `side`, a predicate over the
    * `a`/`b` aliases (`a.id < b.id` within one set, a flag test for a
    * bipartite join). `pair` maps the aliased join to output rows and
    * `distinct()` then collapses a pair met in several bands — so
    * `pair` may only emit columns the pair determines. The result is
    * kept under `tag` ([[graft.CacheLedger.keep]]), which releases
    * `items` before returning.
    *
    * The hot-bucket guard stays a separate partial-count aggregate
    * rather than a `count(*) over (partition by band, key)` sharing
    * the join's exchange: a window shuffles EVERY row of a hot bucket
    * to one task before it can drop it — the skew the guard exists to
    * prevent. */
  private[graft] def lshPairs(
      tag: String, items: DataFrame, bands: Column, side: Column,
      maxBucket: Int = MaxBucket)(pair: DataFrame => DataFrame): DataFrame = {
    val cached = items.persist(StorageLevel.MEMORY_AND_DISK)
    val exploded = cached.select(col("*"), explode(bands).as("__bb"))
    val keys = exploded.schema("__bb").dataType.asInstanceOf[StructType].fieldNames.toSeq
    val buckets = boundBuckets(
      exploded.select(col("*"), col("__bb.*")).drop("__bb"), keys, maxBucket)
    val sameBucket = keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _)
    graft.CacheLedger.keep(tag,
      pair(buckets.as("a").join(buckets.as("b"), sameBucket && side)).distinct(), cached)
  }

  /** Near-dup pairs of 64-bit codes within hamming `maxHamming`, from
    * `items(id, sig)`: [[simhashBlockCombos]] blocking through
    * [[lshPairs]], then (id_a, id_b, hamming) with id_a < id_b. Band-key
    * coincidences die in the [[comboAgrees]] filter map-side, before
    * the dedupe exchange. Shared by SimHash text dedup and image dHash
    * dedup. */
  private[graft] def hammingPairs(
      tag: String, items: DataFrame, blocks: Int, maxHamming: Int,
      maxBucket: Int = MaxBucket): DataFrame =
    lshPairs(tag, items, simhashBlockCombos(col("sig"), blocks, maxHamming),
        col("a.id") < col("b.id"), maxBucket) { j =>
      j.filter(comboAgrees(col("a.sig").bitwiseXOR(col("b.sig")), col("a.band"),
          blocks, maxHamming))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          hamming64(col("a.sig"), col("b.sig")).cast("long").as("hamming"))
        .filter(col("hamming") <= maxHamming)
    }

  /** Embedding pairs with exact [[cosine]] >= `tau`, from
    * `items(id, embedding, bands)` (bands from [[hyperplaneBucketsDf]])
    * through [[lshPairs]] under `side`: (id_a, id_b, cos). The
    * embedding rides in the cached items so pairs score straight off
    * the self-join, and scoring + filtering run BEFORE the dedupe, so
    * its exchange carries only surviving scalars, never embedding
    * arrays. */
  private[graft] def cosinePairs(
      tag: String, items: DataFrame, side: Column, tau: Double): DataFrame =
    lshPairs(tag, items, col("bands"), side) { j =>
      j.select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          cosine(col("a.embedding"), col("b.embedding")).as("cos"))
        .filter(col("cos") >= tau)
    }

  /** Dynamic-count bit shifts: the SQL ShiftRight/ShiftLeft expressions
    * accept an expression count; only the Scala `functions` wrappers
    * restrict it to a literal Int. */
  private def shrDyn(c: Column, by: Column): Column =
    call_function("shiftright", c, by)

  private def shlDyn(c: Column, by: Column): Column =
    call_function("shiftleft", c, by)
}
