package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.text.TextFunctions
import graft.similarity.{ConnectedComponents, Similarity}

/** Deduplication family (SURVEY §2.4) over the `documents` table.
  *
  * Scale posture (the non-negotiables at 100 TB):
  *  - NOTHING is ever compared all-pairs. Candidates come from a join
  *    keyed on a blocking value — (band, band_hash) for MinHash LSH and
  *    SimHash, a frequency-ordered rare-token prefix for the exact
  *    jaccard join — so the shuffle is uniform and buckets stay small.
  *  - The banded families (MinHash, SimHash, embedding cosine, and
  *    image dHash / semantic decontamination elsewhere) all block
  *    through Similarity.lshPairs, the one kernel that owns the
  *    one-row-per-item cache, the hot-bucket cap, the band self-join,
  *    the pair dedupe and the release of the cache; each family
  *    supplies only its band expression and pair step.
  *  - Shingles are 64-bit hashes from the first shuffle on: set
  *    intersection and frequency counting run on longs, never on
  *    document strings (collision odds over the whole corpus are
  *    ~n·|S|·2^-64 — negligible, and the gate oracle at sf0.01 agrees).
  *  - Sketches (minhash lanes, simhash bit counts) are computed as
  *    CODEGEN'D AGGREGATES over exploded shingles, not higher-order
  *    array lambdas: lambda expressions are interpreted per element,
  *    which costs ~10× on 64-lane signatures (measured 22s → ~4s at
  *    sf0.1).
  *  - Exact dedup shuffles a 32-byte digest + id, never full text.
  *  - Cluster assembly is an exact driver-side union-find over one
  *    collect of the verified pairs whenever there are at most
  *    ConnectedComponents.DriverUnionFindMaxEdges (2M) of them, and
  *    iteration-bounded label propagation above that.
  */
object DedupQueries {

  private[graft] val Tau = 0.7
  private val MinhashLanes = 64
  private val MinhashBands = 16 // 4 rows per band

  /** Exploded word-3-gram shingles, hashed to 64 bits: one row per
    * (doc_id, gram_hash), with the doc's distinct-shingle count `s`.
    * Shared head of every near-dup pipeline. Every consumer reads it
    * once and nothing persists it: the minhash path scans it map-only
    * into its lanes-only signature aggregate, and the ngram path feeds
    * it to the one doc-keyed pass of [[ngramDocArrays]]. At 100 TB a
    * second reader would be an explicit checkpoint table, made by the
    * pipeline author, not buried in this helper.
    *
    * The native hash array is evaluated ONCE per doc, in its own
    * projection above [[Tables.widened]]'s exchange; size and explode
    * only read it. The explode is `explode_outer` plus a null filter on
    * the gram: a plain `explode` makes Catalyst infer
    * `size(h) > 0 AND isnotnull(h)` below the Generate, and
    * PushDownPredicates copies that filter, hash kernel included,
    * through the round-robin exchange into the scan, which hashes the
    * whole corpus a second time in as many tasks as the input has
    * splits (one, for a small file). The filter drops the same
    * gram-less docs. PlanSpec pins the shape. */
  private[graft] def explodedShingles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.widened(Tables.documents(spark, dir))
      .select($"doc_id", Similarity.shingleHashes($"text", 3).as("h"))
      .select($"doc_id", size($"h").as("s"), explode_outer($"h").as("gram"))
      .filter($"gram".isNotNull)
  }

  /** Exact-jaccard verify of candidate (id_a, id_b) pairs against the
    * hashed-shingle arrays; adds inter/uni counts, keeps J >= tau. */
  private def verifyJaccard(candidates: DataFrame, arrays: DataFrame): DataFrame = {
    import candidates.sparkSession.implicits._
    candidates
      .join(arrays.select($"doc_id".as("id_a"), $"g".as("ga")), "id_a")
      .join(arrays.select($"doc_id".as("id_b"), $"g".as("gb")), "id_b")
      .withColumn("inter", size(array_intersect($"ga", $"gb")).cast("long"))
      .withColumn("uni", (size($"ga") + size($"gb")).cast("long") - $"inter")
      .filter($"inter" / $"uni" >= Tau)
  }

  /** documents ∪ an id-shifted copy: a corpus where every text has
    * exactly two exact copies — exercises keep-first semantics
    * deterministically (the raw table has no exact duplicates). */
  private def doubledCorpus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.widened(Tables.documents(spark, dir)).select($"doc_id", $"text")
    docs.union(docs.select(graft.Tables.synthId($"doc_id").as("doc_id"), $"text"))
  }

  /** Exact dedup: group by content digest, keep the smallest doc_id.
    * The shuffle key is sha2(text) — fixed 64-char digest, not the
    * document body — so shuffle volume is O(rows), not O(bytes).
    * (SQL oracle groups by full text: identical result barring a
    * sha256 collision.) */
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    doubledCorpus(spark, dir)
      .groupBy(sha2($"text", 256).as("digest"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select($"keep_id", $"n_copies")
      .orderBy($"keep_id")
  }

  /** Exact n-gram jaccard near-dup join via prefix filtering
    * (Chaudhuri '06 / Bayardo '07): under any global token order, two
    * sets with J >= tau must share a token within each one's first
    * |S| - ceil(tau*|S|) + 1 tokens. Ordering by ascending document
    * frequency makes those prefixes the RAREST tokens, so candidate
    * buckets stay tiny; a length filter (tau·|A| <= |B| — necessary
    * for J >= tau) prunes the rest. Exact — same pairs as the
    * all-pairs oracle — but never quadratic (measured 5.9M → 104k
    * candidates at sf0.1). The pairs come back kept as
    * `ngram_jaccard_pairs` ([[graft.CacheLedger.keep]]), whose count
    * is the one action before the caller's and releases the per-doc
    * arrays behind them. */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (pairs, arrays) = ngramJaccardPairs(spark, dir)
    graft.CacheLedger.keep("ngram_jaccard_pairs", pairs, arrays).orderBy($"id_a", $"id_b")
  }

  /** Gram-count sketch geometry for the verify prune: 32 hash buckets
    * of exact per-doc gram counts, packed 4 per long as 16-bit lanes
    * (8 longs = 64 B per doc). For any pair, the common grams of A and
    * B land in the SAME bucket on both sides, so
    * inter <= Σ_k min(cntA_k, cntB_k) — an EXACT upper bound (never
    * under), making the prune provably lossless: a candidate with
    * 17·Σmin < 7·(sa+sb) cannot reach J >= 0.7. Lanes are plain sum
    * aggregates (codegen + map-side combine); only docs with
    * s < 32768 participate — the aggregate itself emits 0 for larger
    * docs (not just the filter skipping them), because a lane carry
    * would corrupt neighbors and a top-lane (bit-48) count >= 2^15
    * crosses Long.MaxValue mid-sum, which Spark 4's default ANSI
    * arithmetic turns into a query-killing overflow error. Such docs
    * go straight to the exact verify. 32 buckets over ~52-gram docs
    * put a non-near-dup pair's Σmin ~4σ below the 7/17 overlap bar,
    * so ~all false candidates die while every true pair provably
    * survives. (private[graft]: DedupSpec rebuilds the lanes from
    * this geometry.) */
  private[graft] val SketchWords = 8
  private[graft] val SketchMaxS = 32768L

  /** Per-doc verify arrays, rarest-token prefixes, and gram-count
    * sketch lanes in ONE doc-keyed pass: annotate each shingle row with
    * its gram's document frequency, hash-partition the rows by doc,
    * tungsten-sort each partition on
    * (doc_id, df, gram), and assemble every doc's primitive long
    * arrays in a single linear scan — `g` (all s grams; its only
    * consumer is array_intersect/size, so emission order is free),
    * `prefix` (the first s - ceil(tau*s) + 1 grams, which under the
    * global (df, gram) sort are exactly the doc's rarest grams), and
    * the 8 packed sketch longs (bucket = pmod(gram, 32), lane b of
    * word w at bit 16·b — see [[SketchWords]]; docs with
    * s >= [[SketchMaxS]] emit all-zero lanes and skip the prune, as a
    * 16-bit lane could carry into its neighbor).
    *
    * r12 (VERDICT #4): this replaces a collect_list(struct(df, gram))
    * aggregate whose projection ran array_sort + two interpreted
    * higher-order transform lambdas per doc — boxed containers and
    * non-codegen expression trees in the family's hottest aggregate.
    * The exchange carries the same (doc, s, df, gram) rows either way
    * (collect_list has no map-side combine); the per-doc sort+lambda
    * CPU becomes one codegen'd sort plus a boxing-free linear pass.
    * DedupSpec pins this builder cell-equal to the old aggregate
    * formulation, and the end-to-end pair set is brute-force-pinned.
    *
    * Document frequency is `count(1) over (partition by gram)` on the
    * shingle rows: one gram-keyed exchange gives every row the exact df
    * of its gram, so `ex` has this pass as its only consumer and needs
    * no cache. A per-gram aggregate joined back would read `ex` twice,
    * and so need `ex` cached or shingled twice. DedupSpec pins the
    * window's df, and so the (df, gram) order and the prefixes, to that
    * aggregate-and-join formulation.
    *
    * Precondition: `ex` holds exactly one row per distinct (doc_id,
    * gram) and each row's `s` is its doc's row count, as
    * [[explodedShingles]] emits. The builder sizes `g` from `s`, so a
    * doc whose row count differs fails the task with an
    * IllegalStateException naming the doc instead of verifying
    * against a padded or truncated array. */
  private[graft] def ngramDocArrays(ex: DataFrame): DataFrame = {
    val spark = ex.sparkSession
    import spark.implicits._
    val sorted = ex
      .select($"doc_id", $"s", count(lit(1)).over(Window.partitionBy($"gram")).as("df"), $"gram")
      .repartition($"doc_id")
      .sortWithinPartitions($"doc_id", $"df", $"gram")
      .as[(Long, Int, Long, Long)]
    sorted.mapPartitions { it =>
      new Iterator[(Long, Int, Array[Long], Array[Long],
          Long, Long, Long, Long, Long, Long, Long, Long)] {
        private var has = it.hasNext
        private var cur: (Long, Int, Long, Long) = if (has) it.next() else null
        def hasNext: Boolean = has
        def next(): (Long, Int, Array[Long], Array[Long],
            Long, Long, Long, Long, Long, Long, Long, Long) = {
          val docId = cur._1
          val s = cur._2
          val g = new Array[Long](s)
          val sk = new Array[Long](SketchWords)
          val sketchable = s < SketchMaxS
          var i = 0
          var more = true
          while (more) {
            if (i == s) { // a row past s: count the rest of the doc
              var rows = i + 1
              while (it.hasNext && it.next()._1 == docId) rows += 1
              rowCountMismatch(docId, s, rows)
            }
            val gram = cur._4
            g(i) = gram
            i += 1
            if (sketchable) {
              val b = (((gram % 32) + 32) % 32).toInt // pmod(gram, 32)
              sk(b / 4) += 1L << (16 * (b % 4))
            }
            if (it.hasNext) {
              cur = it.next()
              if (cur._1 != docId) more = false
            } else { has = false; more = false }
          }
          if (i != s) rowCountMismatch(docId, s, i)
          // same arithmetic as the SQL int(s - ceil(s * tau) + 1):
          // long-double multiply, ceil, truncate
          val nPrefix = (s - math.ceil(s * Tau).toLong + 1).toInt
          val prefix = java.util.Arrays.copyOfRange(g, 0, math.min(nPrefix, i))
          (docId, s, g, prefix, sk(0), sk(1), sk(2), sk(3), sk(4), sk(5), sk(6), sk(7))
        }
      }
    }.toDF("doc_id" +: "s" +: "g" +: "prefix" +:
      (0 until SketchWords).map(w => s"sk$w"): _*)
  }

  private def rowCountMismatch(docId: Long, s: Int, rows: Int): Nothing =
    throw new IllegalStateException(
      s"ngramDocArrays: doc_id $docId has $rows shingle rows but s = $s " +
        "(expected one row per distinct gram)")

  /** The verified (id_a, id_b, j_bp) near-dup pairs behind
    * [[dedupNgramJaccard]] and [[dedupClusterRep]], unordered and LAZY,
    * with the one cache they read: the per-doc `arrays`, persisted here
    * and not yet materialized. No job runs before the caller's first
    * action. The caller owns the release of `arrays` once the pairs are
    * materialized or consumed: [[dedupNgramJaccard]] keeps the pairs
    * through [[graft.CacheLedger.keep]], which releases it after its
    * count; [[dedupClusterRep]] releases it once the component labels
    * are built. */
  private[operators] def ngramJaccardPairs(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    // ONE doc-keyed pass builds verify arrays, prefixes, AND the
    // gram-count sketch lanes — see [[ngramDocArrays]]. The earlier
    // formulation computed prefixes with a corpus-wide row_number
    // window — a second full shuffle AND sort of every (doc, gram) row
    // that this pass's doc-keyed sort replaces; at sf100 that exchange
    // (with the separate verify-array shuffle it duplicated) was a
    // double-digit-GB contributor to the run that filled the disk.
    // Persisted: the prefix self-join reads it twice and the verify
    // join twice more.
    val arrays = ngramDocArrays(explodedShingles(spark, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // Prefix rows carry their 1-based POSITION, which — because the
    // prefix is the head of the doc's (df, gram)-sorted gram sequence —
    // is the gram's rank in that global order within the doc. They also
    // carry the doc's 8 sketch words, so the sketch prune below reads
    // them off the candidate row instead of joining them back per pair
    // side. Cost at scale: a prefix row grows from ~28 B to ~92 B (the
    // gram-keyed self-join exchange and the candidate aggregate's
    // partial rows carry 64 B more), and in exchange the two
    // candidate-sized join shuffles that attached the sketches — plus
    // their two scans of `arrays` — go away.
    val sk = (0 until SketchWords).map(w => s"sk$w")
    val preAB = arrays
      .select(($"doc_id" +: $"s" +: sk.map(col)) :+
        posexplode($"prefix").as(Seq("p0", "gram")): _*)
      .select(($"doc_id" +: $"s" +: sk.map(col)) :+ ($"p0" + 1).as("p") :+ $"gram": _*)
    // PPJoin positional filter (Xiao '08), the candidate-volume lever
    // that keeps the verify phase from dominating at scale: J >= tau
    // requires overlap O >= ceil(tau/(1+tau) * (sa+sb)). For the pair's
    // FIRST shared gram under the global order, every other common gram
    // ranks after it in BOTH docs, so O <= 1 + min(sa-pa, sb-pb); and
    // since ranks are monotone in the same global order, that first
    // shared gram attains min(pa) and min(pb) simultaneously — the
    // per-pair aggregate below (which also replaces the distinct())
    // recovers its positions exactly. The bound is integer arithmetic
    // throughout (tau/(1+tau) = 7/17), so pruning is provably sound —
    // the verified pair set is bit-identical, only non-viable
    // candidates die before their arrays are ever fetched. At sf100
    // the verify join's exchange carries (pair, 52-gram array) rows:
    // candidates are the multiplier on that volume, and the unpruned
    // candidate set (~400x the true pairs on this corpus) is what
    // filled the disk.
    //
    // The sketch words ride through the aggregate as grouping keys: they
    // are functions of the doc, so grouping by them next to the doc ids
    // splits no group.
    val minSum = (for { w <- 0 until SketchWords; b <- 0 until 4 } yield
      least(shiftright(col(s"ska$w"), 16 * b).bitwiseAND(lit(0xFFFFL)),
        shiftright(col(s"skb$w"), 16 * b).bitwiseAND(lit(0xFFFFL))))
      .reduce(_ + _)
    val pruned = preAB.as("a").join(preAB.as("b"),
        $"a.gram" === $"b.gram" && $"a.doc_id" < $"b.doc_id" &&
          $"b.s" >= ceil($"a.s" * Tau) && $"a.s" >= ceil($"b.s" * Tau))
      .groupBy(Seq($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"),
          $"a.s".as("sa"), $"b.s".as("sb")) ++
        sk.indices.map(w => col(s"a.sk$w").as(s"ska$w")) ++
        sk.indices.map(w => col(s"b.sk$w").as(s"skb$w")): _*)
      .agg(min($"a.p").as("pa"), min($"b.p").as("pb"),
        max($"a.p").as("qa"), max($"b.p").as("qb"), count(lit(1)).as("c"))
      // second bound, same reasoning anchored on the LAST shared prefix
      // gram (which attains max(pa) and max(pb)): common grams ordering
      // before it in both docs are themselves shared prefix grams —
      // there are exactly c of those — so O <= c + min(sa-qa, sb-qb).
      .filter(lit(1) + least($"sa" - $"pa", $"sb" - $"pb") >=
        expr("(7 * (sa + sb) + 16) div 17") &&
        $"c" + least($"sa" - $"qa", $"sb" - $"qb") >=
        expr("(7 * (sa + sb) + 16) div 17"))
      // Sketch prune BEFORE any gram array is attached per pair: at
      // sf100 the unpruned verify exchange carried (pair, two ~52-gram
      // long arrays) ≈ 25 GB through one shuffle — candidates outnumber
      // true pairs ~100:1, so per-pair payload is the whole bill.
      // Candidates whose exact intersection upper bound cannot reach
      // the 7/17 overlap bar (the same integer arithmetic as the
      // positional filter) die here, and only the survivors —
      // essentially the true pair set — ever fetch full arrays.
      // Provably lossless: see SketchWords. Docs with s >= 32768 skip
      // the prune (lane carry / ANSI overflow would void the bound — see
      // SketchMaxS) and go straight to the exact verify. The predicate
      // reads grouping keys only, so Catalyst pushes it below the
      // aggregate into the self-join condition.
      .filter($"sa" >= SketchMaxS || $"sb" >= SketchMaxS ||
        lit(17L) * minSum >= lit(7L) * ($"sa" + $"sb"))
      .select($"id_a", $"id_b")

    val pairs = verifyJaccard(pruned, arrays.select($"doc_id", $"g"))
      // jaccard in exact integer basis points (see TextFunctions.qualityScoreBp)
      .select($"id_a", $"id_b",
        floor((lit(20000L) * $"inter" + $"uni") / (lit(2L) * $"uni")).cast("long").as("j_bp"))
    (pairs, arrays)
  }

  /** End-to-end fuzzy dedup with quality-based canonical selection —
    * the full "collapse near-duplicate clusters, keep the best copy"
    * pass a training-data pipeline runs after candidate generation:
    * exact-jaccard near-dup pairs ([[ngramJaccardPairs]], prefix
    * filtered — never all-pairs) → connected components over the pair
    * graph (bounded label propagation / driver union-find per
    * ConnectedComponents' honest size split) → per cluster, keep the
    * member with the highest quality score (integer basis points,
    * ties to the smallest doc_id — deterministic).
    *
    * Scale posture: the pair graph near-dup verification emits is
    * many orders smaller than the corpus (true near-dup pairs only);
    * quality is scored map-side over ONE corpus scan — scoring every
    * doc in the codegen pass is deliberate: restricting to members
    * first would move document TEXT through a semi-join exchange,
    * which costs more than the arithmetic it saves — and only member
    * rows survive the labels join (label side sized by cluster
    * membership; AQE picks broadcast vs shuffle). The argmax is one
    * partial-aggregated shuffle keyed by component.
    * Output: one row per near-dup cluster (size >= 2 by construction:
    * singletons never enter the pair graph).
    *
    * Materialization: the pairs are never kept. They go to
    * [[ConnectedComponents.label]] lazily, and label's one collect over
    * the edge frame it persists is the chain's only action before the
    * caller's (the distributed path above 2M edges reads that same
    * persisted edge frame). The per-doc `arrays` cache the pairs read is
    * released once the labels are built.
    *
    * SQL oracle: recursive-CTE closure over the same all-pairs
    * jaccard pair set, representative by (quality desc, doc_id) —
    * hash-exact. */
  def dedupClusterRep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (pairs, arrays) = ngramJaccardPairs(spark, dir)
    // label() materializes its output before returning: nothing reads
    // the pairs, or the arrays behind them, after it
    val labels =
      try ConnectedComponents.label(pairs.select($"id_a".as("src"), $"id_b".as("dst")))
      finally arrays.unpersist()
    val quality = Tables.widened(Tables.documents(spark, dir))
      .select($"doc_id", TextFunctions.qualityScoreBp($"text").as("q_bp"))
    labels.join(quality, $"id" === $"doc_id")
      // argmax by (q_bp, -doc_id): one max-struct aggregate — partial
      // map-side combine, no per-cluster sort or window
      .groupBy($"component".as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"),
        max(struct($"q_bp".as("q"), (-$"id").as("nid"))).as("rep"))
      .select($"cluster_id", $"n_docs",
        (-$"rep.nid").as("rep_id"), $"rep.q".as("rep_q_bp"))
      .orderBy($"cluster_id")
  }

  /** MinHash + LSH near-dup clustering: 64 codegen'd min-aggregate
    * lanes over hashed shingles → 16 bands × 4 rows → bucket join for
    * candidates → exact jaccard verify (>= tau) → connected components
    * (driver union-find / bounded label propagation, as in
    * [[dedupClusterRep]]). Output: every clustered doc with
    * its cluster representative. */
  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ex = explodedShingles(spark, dir)

    // Lanes-ONLY signature aggregate: 64 codegen'd min lanes combine
    // map-side, so the exchange carries ~520 B/doc of partial minima —
    // not the corpus. (An earlier formulation folded
    // sort_array(collect_list(gram)) into this same aggregate so the
    // verify arrays came "for free"; collect_list has no map-side
    // combine, so the whole corpus-as-shingles crossed the shuffle AND
    // sat in the persist — the superlinear term the sf100 decade
    // measured. Verify arrays are now built candidate-restricted,
    // below.)
    val laneAggs = (0 until MinhashLanes).map(i =>
      min(xxhash64(lit(i), $"gram")).as(s"h$i"))
    val r = MinhashLanes / MinhashBands
    val bandStructs = (0 until MinhashBands).map { b =>
      val laneCols: Seq[Column] = (b * r until (b + 1) * r).map(i => col(s"h$i"))
      struct(lit(b).as("band"), xxhash64(lit(b) +: laneCols: _*).as("band_hash"))
    }
    // one row per doc: its 16 band structs, hashed once from the lanes
    val items = ex.groupBy($"doc_id").agg(laneAggs.head, laneAggs.tail: _*)
      .select($"doc_id".as("id"), array(bandStructs: _*).as("bands"))

    // candidates come back persisted: they are referenced three times
    // below (both candIds union legs AND the verify join)
    val candidates = Similarity.lshPairs("dedup_minhash_lsh", items, $"bands",
        $"a.id" < $"b.id") {
      _.select($"a.id".as("id_a"), $"b.id".as("id_b"))
    }

    // Verify arrays for CANDIDATE docs only: semi-join the RAW
    // documents scan down to candidate ids BEFORE shingling (a left
    // semi does not push below a Generate on its own — explain-
    // verified — so joining the exploded frame would re-pay the full
    // corpus shingle CPU), then shingle and collect just those docs:
    // the shingle kernel AND the unavoidable collect_list shuffle are
    // both sized by the candidate set, not the corpus. AQE broadcasts
    // the id side at every measured scale; at 100 TB (candidate ids
    // past the broadcast threshold) the posture is a bloom prune on
    // doc_id ahead of this semi-join — same shape as
    // q_bloom_prune_join.
    val candIds = candidates.select($"id_a".as("doc_id"))
      .union(candidates.select($"id_b".as("doc_id")))
      .distinct()
    // persisted: verifyJaccard joins this frame once per pair side,
    // and AQE exchange reuse across the two references is not
    // guaranteed — without the cache the candidate shingle scan can
    // run twice. Candidate-doc-sized. The arrays are one map-side
    // projection of the native hashes (already distinct per doc), so
    // no explode and no collect_list shuffle.
    val arrays = Tables.documents(spark, dir)
      .join(candIds, Seq("doc_id"), "left_semi")
      .select($"doc_id", sort_array(Similarity.shingleHashes($"text", 3)).as("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val edges = verifyJaccard(candidates, arrays)
      .select($"id_a".as("src"), $"id_b".as("dst"))

    // label() materializes (and persists) the edge list up front, after
    // which nothing re-reads candidates or arrays: safe to release here
    val labels = ConnectedComponents.label(edges)
    candidates.unpersist()
    arrays.unpersist()
    labels
      .select($"id".as("doc_id"), $"component".as("cluster_rep"))
      .orderBy($"doc_id")
  }

  /** SimHash near-dup pairs: 64-bit token simhash from codegen'd
    * per-bit sum aggregates over exploded token hashes, block-
    * combination blocking (complete for hamming <= 3 at any
    * blocks > 3 — see Similarity.simhashBlockCombos for why 4×16-bit
    * bands go quadratic in corpus size), exact hamming verify. The
    * width adapts to the corpus via the same footer-count probe as
    * dedup_image_phash (Similarity.blocksForCodes): C(5,2) emits 10
    * rows/doc with 25–26-bit pair keys (block widths 13,13,13,13,12 →
    * 6·2^26 + 4·2^25 ≈ 537M slots across the 10 combos — buckets
    * average ~2 occupants at 10^8 docs at half the row cost of
    * C(6,3)), but the random key-COINCIDENCE pair count grows
    * quadratically in corpus/2^keyBits, so past ~10^7 docs the probe
    * switches to C(6,3) 31-33-bit triple keys — measured at sf10:
    * bands 44.6M raw candidate pairs, C(5,2) 7.0M, C(6,3) 2.9M, all
    * verifying to the same 97149 pair set. Produces the same
    * signatures as Similarity.simhash64 (ties set the bit). */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.io.GraftIO.footerRowCount(spark, s"$dir/documents.parquet")
      .getOrElse(Long.MaxValue)
    dedupSimhashBlocks(spark, dir, Similarity.blocksForCodes(docs))
  }

  /** [[dedupSimhash]] with the blocking width pinned (the spec runs
    * both widths and pins pair-set equality, so the adaptive switch is
    * provably result-invariant). */
  private[graft] def dedupSimhashBlocks(
      spark: SparkSession, dir: String, blocks: Int): DataFrame = {
    import spark.implicits._
    val maxHamming = 3

    val ex = Tables.widened(Tables.documents(spark, dir))
      .select($"doc_id", explode(TextFunctions.wsTokens($"text")).as("tok"))
      .select($"doc_id", xxhash64($"tok").as("h"))

    val bitAggs = (0 until 64).map(j =>
      sum(shiftright($"h", j).bitwiseAND(lit(1L))).as(s"c$j"))
    val counted = ex.groupBy($"doc_id")
      .agg(count(lit(1)).as("n"), bitAggs: _*)

    val sigBits = (0 until 64).map(j =>
      when(col(s"c$j") * 2 >= $"n", lit(1L << j)).otherwise(lit(0L)))
    val sigs = counted.select($"doc_id".as("id"),
      sigBits.reduce((a, b) => a.bitwiseOR(b)).as("sig"))
    Similarity.hammingPairs("dedup_simhash", sigs, blocks, maxHamming)
      .orderBy($"id_a", $"id_b")
  }

  /** Bounded edit-distance near-dup join via shift-tolerant pigeonhole
    * segment blocking (the PassJoin scheme, Li et al. 2011): for
    * distance k, split every string into k+1 contiguous segments. If
    * edit(r, s) <= k with |r| <= |s|, an optimal alignment touches at
    * most k of r's k+1 segments, so some segment survives untouched
    * and appears VERBATIM in s — displaced from its position in r by
    * the net indel balance before it, which is in [-k, +k]. Candidates
    * therefore come from an equi-join of r's segments against s's
    * probe substrings: for every partner length L' in [|s|-k, |s|], s
    * emits the substring at each segment position of an L'-long
    * partner shifted by each d in [-k, +k]. The pigeonhole needs all
    * k+1 of r's segments non-empty, i.e. |r| >= k+1; pairs whose
    * SHORTER side is under that are caught by a separate tiny-bucket
    * join (docs of len <= k against docs of len <= 2k) — that bucket
    * holds at most |Σ|^k distinct texts, so the join is bounded by
    * duplicate multiplicity, and any corpus where it degenerates has
    * a quadratic ANSWER (every tiny doc pairs with every other).
    * Together the blocking is COMPLETE for edit distance <= k
    * including insertions and deletions (the
    * round-4 version required equal lengths and silently excluded
    * indels, and until round 5 the sub-(k+1) lengths were excluded);
    * only candidates pay the banded Levenshtein verify, so
    * the contract is simply "all pairs within edit distance k" with no
    * quadratic phase anywhere. The gate corpus plants a
    * two-substitution twin for even doc_ids and an insertion+
    * substitution twin (length +1) for odd ones, built from
    * substr/concat so both engines derive byte-identical mutants.
    *
    * Spark joins on xxhash64(segment), the oracle on the raw segment
    * string. Because the blocking is complete in BOTH engines, hash
    * collisions cannot cause cross-engine divergence: a collision only
    * adds a spurious candidate, which the exact Levenshtein verify
    * removes unless the pair truly is within k — and such a pair is
    * found by the oracle's complete blocking anyway. */
  def dedupEditBlocked(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 2
    val nseg = k + 1

    val docs = Tables.widened(Tables.documents(spark, dir)).select($"doc_id", $"text")
    val mutated = docs.select(graft.Tables.synthId($"doc_id").as("doc_id"),
      when(length($"text") < 30, $"text")
        .when($"doc_id" % 2 === 0,
          concat(substring($"text", 1, 10), lit("Q"),
            expr("substring(text, 12, 11)"), lit("Z"),
            expr("substring(text, 24, length(text))")))
        .otherwise( // insert 'Q' after pos 10, substitute pos 20 -> 'Z': ed 2, len +1
          concat(substring($"text", 1, 10), lit("Q"),
            expr("substring(text, 11, 9)"), lit("Z"),
            expr("substring(text, 21, length(text))")))
        .as("text"))
    val corpus = docs.union(mutated)
    val withLen = corpus.select($"doc_id", $"text", length($"text").cast("long").as("len"))

    // segment geometry for a string of length L (as a Column expr over
    // `len - dl`): idx 0 and 1 are (L div 3)-long thirds, idx 2 takes
    // the remainder
    def segStart(i: Int, dl: Int): Column = {
      val third = expr(s"(len - $dl) div 3")
      i match {
        case 0 => lit(1L)
        case 1 => third + 1L
        case 2 => third * 2L + 1L
      }
    }
    def segLen(i: Int, dl: Int): Column = {
      val third = expr(s"(len - $dl) div 3")
      if (i < 2) third else (($"len" - dl) - third * 2L)
    }

    // index side: each doc's own k+1 segments; the shuffle key is
    // (idx, hash64(seg), len) — 8 bytes per segment instead of up to
    // a third of the document
    val segStructs = (0 until nseg).map { i =>
      struct(lit(i).as("idx"),
        when(segLen(i, 0) >= 1,
          xxhash64($"text".substr(segStart(i, 0).cast("int"), segLen(i, 0).cast("int"))))
          .as("seg"))
    }
    val segs = withLen
      .select($"doc_id", $"len", explode(array(segStructs: _*)).as("x"))
      .select($"doc_id", $"len", $"x.idx", $"x.seg")
      .filter($"seg".isNotNull)

    // probe side: substrings a shorter-or-equal partner's untouched
    // segment could occupy. The shift window is pruned by a tight
    // necessary condition: if the segment sits at displacement d in s,
    // the edits before it number >= |d| (each shifts by at most 1) and
    // the edits after it >= |Δlen - d| (they must make up the rest of
    // the length difference), so |d| + |dl - d| <= k. For k = 2 that
    // is 18 bounded-cost hashes per doc instead of the naive 45 —
    // still linear in corpus size
    val probeStructs = for {
      dl <- 0 to k
      i  <- 0 until nseg
      d  <- -k to k
      if math.abs(d) + math.abs(dl - d) <= k
    } yield {
      val start = segStart(i, dl) + d
      val sl = segLen(i, dl)
      struct(($"len" - dl).as("plen"), lit(i).as("idx"),
        when($"len" - dl >= 3 && sl >= 1 && start >= 1 && start + sl - 1 <= $"len",
          xxhash64($"text".substr(start.cast("int"), sl.cast("int"))))
          .as("seg"))
    }
    val probes = withLen
      .select($"doc_id", explode(array(probeStructs: _*)).as("x"))
      .select($"doc_id", $"x.plen", $"x.idx", $"x.seg")
      .filter($"seg".isNotNull)
      .distinct() // distinct (dl, d) combos can yield the same substring

    // tiny-bucket path: the segment pigeonhole is vacuous when the
    // shorter side has < k+1 chars — pair those docs directly against
    // everything within the length band. The tiny side broadcasts,
    // and the length band is exploded into equi-keys (a hash join,
    // not a nested loop, per the PlanSpec discipline).
    val tiny = withLen.filter($"len" < nseg.toLong)
    val tinyPartner = withLen.filter($"len" < (nseg + k).toLong)
    val tinyCand = broadcast(
        tiny.select($"doc_id",
            explode(sequence($"len" - k.toLong, $"len" + k.toLong)).as("plen"))
          .filter($"plen" >= 0L).as("s"))
      .join(tinyPartner.as("p"),
        $"s.plen" === $"p.len" && $"s.doc_id" =!= $"p.doc_id")
      .select(least($"s.doc_id", $"p.doc_id").as("id_a"),
        greatest($"s.doc_id", $"p.doc_id").as("id_b"))

    // persisted: the candidate subtree feeds both text joins of the
    // verify step, and without the cache the whole segment/probe join
    // pipeline re-executes per branch (measured 51.6 s → ~11 s on a 10×
    // corpus). Same hazard Similarity.lshPairs caches its items
    // against; released after the verified pairs exist.
    val candidates = segs.as("a").join(probes.as("b"),
        $"a.idx" === $"b.idx" && $"a.len" === $"b.plen" &&
          $"a.seg" === $"b.seg" && $"a.doc_id" =!= $"b.doc_id")
      .select(least($"a.doc_id", $"b.doc_id").as("id_a"),
        greatest($"a.doc_id", $"b.doc_id").as("id_b"))
      .union(tinyCand)
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // banded Levenshtein verify: Spark's 3-arg levenshtein still fills
    // the full O(n·m) table (early exit only), which measured 4.5 s
    // for 50k ~550-char pairs at sf1; the true O(k·n) band is ~100×
    // less work (5 cells per row at k = 2). A UDF is justified here by
    // the same tight-loop argument as the MMR/PQ/IVF kernels: the DP
    // is iterative with data-dependent early termination, which no
    // Catalyst expression expresses without materializing the table.
    val lev = udf((a: String, b: String) => bandedLevenshtein(a, b, k))
    graft.CacheLedger.keep("dedup_edit_blocked", candidates
      .join(corpus.select($"doc_id".as("id_a"), $"text".as("ta")), "id_a")
      .join(corpus.select($"doc_id".as("id_b"), $"text".as("tb")), "id_b")
      .select($"id_a", $"id_b", lev($"ta", $"tb").cast("long").as("dist"))
      .filter($"dist" >= 0 && $"dist" <= k), candidates)
      .orderBy($"id_a", $"id_b")
  }

  /** Exact Levenshtein distance when it is <= k, else -1, in O(k·n):
    * only the 2k+1 diagonal band of the DP table is filled, with an
    * early return when a whole band row exceeds k. Agrees with the
    * full-table distance for every pair within k (cells outside the
    * band are provably > k); spec-pinned against a full DP.
    * Pure function — runs inside dedupEditBlocked's verify UDF. */
  private[graft] def bandedLevenshtein(a: String, b: String, k: Int): Int = {
    if (a == null || b == null) return -1
    val n = a.length
    val m = b.length
    if (math.abs(n - m) > k) return -1
    val inf = k + 1
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    java.util.Arrays.fill(prev, inf)
    var j0 = 0
    while (j0 <= math.min(m, k)) { prev(j0) = j0; j0 += 1 }
    var i = 1
    while (i <= n) {
      java.util.Arrays.fill(cur, inf)
      cur(0) = if (i <= k) i else inf
      val lo = math.max(1, i - k)
      val hi = math.min(m, i + k)
      var rowMin = cur(0)
      var j = lo
      while (j <= hi) {
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
        var v = prev(j - 1) + cost
        if (prev(j) + 1 < v) v = prev(j) + 1
        if (cur(j - 1) + 1 < v) v = cur(j - 1) + 1
        if (v > inf) v = inf
        cur(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (rowMin >= inf) return -1
      val t = prev; prev = cur; cur = t
      i += 1
    }
    if (prev(m) > k) -1 else prev(m)
  }

  /** Embedding cosine near-dup clustering. The corpus is embeddings ∪
    * deterministically perturbed copies (the raw table has no
    * near-dup vectors — max pairwise cosine 0.51). Candidates come
    * from 64 random hyperplanes in 4 bands of 16 bits. Band width is
    * sized against the CLUSTERED corpus, not a uniform one: vectors
    * sharing a label sit near cos 0.5, where a plane agrees with
    * p ≈ 0.67 — an 8-bit band admits such a pair with p ≈ 0.04
    * (~1.25M candidates at sf0.1) while 16 bits cuts that to
    * p ≈ 0.0016 (~50k). A cos >= 0.99 twin flips a plane with
    * p ≈ 0.009 → P(missed by all 4 bands) ≈ 3e-4. Pairs are verified
    * with exact cosine. */
  def dedupEmbeddingCosine(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tau = 0.99

    val base = Tables.widened(Tables.embeddings(spark, dir)).select($"vec_id", $"embedding")
    val corpus = base.union(Tables.nearDupTwins(base))
    // the embedding rides in the cached items so pairs score straight
    // off the self-join — no re-join against the corpus (a 64-float
    // payload is cheap; the minhash path makes the opposite call
    // because its payload is the full shingle array)
    val items = Similarity.hyperplaneBucketsDf(corpus, "vec_id", "embedding", 64, 4)
      .join(corpus, "vec_id")
      .select($"vec_id".as("id"), $"bands", $"embedding")
    val pairs = Similarity.cosinePairs("dedup_embedding_cosine", items,
      $"a.id" < $"b.id", tau)

    // label() materializes (and persists) the edge list up front
    val labels = ConnectedComponents.label(pairs.select($"id_a".as("src"), $"id_b".as("dst")))
    pairs.unpersist()
    labels
      .select($"id".as("vec_id"), $"component".as("cluster_rep"))
      .orderBy($"vec_id")
  }
}
