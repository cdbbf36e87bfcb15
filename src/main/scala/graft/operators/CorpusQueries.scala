package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.text.TextFunctions._

/** Corpus-curation queries over the `documents` table: per-source
  * health stats behind a blocklist (the "which crawl sources do we
  * keep" decision) and BM25 retrieval (the "find the docs most
  * relevant to a probe query" primitive used for eval-set mining and
  * targeted inspection).
  *
  * Both have exact DuckDB oracles: the stats are integer sums, and the
  * BM25 score is computed with a fixed dag of IEEE +,*,/ on exact
  * integer operands — no transcendental functions — then quantized to
  * integer micro-points per (doc, term) BEFORE the order-sensitive
  * SUM, so cross-engine hashes match bit-for-bit.
  */
object CorpusQueries {

  /** Sources a curation pass has banned; stands in for the
    * domain-blocklist of a web pipeline. Small by nature (a human- or
    * classifier-curated list), so it broadcasts at any corpus scale. */
  val BlockedSources: Seq[String] = Seq("src4", "src13", "src7")

  /** Per-source corpus stats behind the blocklist: docs, chars, token
    * totals, mean quality (integer basis points), languages seen.
    * Plan: blocklist is a broadcast LEFT ANTI join (never a shuffle of
    * the corpus); per-doc scoring is map-side codegen; one partial-agg
    * shuffle on `source` whose cardinality is the (small) source count,
    * with combiner reduction keeping the skew harmless. */
  def docsSourceStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val blocklist = BlockedSources.toDF("source")
    Tables.documents(spark, dir)
      .join(broadcast(blocklist), Seq("source"), "left_anti")
      .select($"source", $"doc_id", $"lang",
        length($"text").cast("long").as("chars"),
        tokenCountWs($"text").cast("long").as("toks"),
        qualityScoreBp($"text").as("q_bp"))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"chars").as("sum_chars"),
        sum($"toks").as("sum_tokens"),
        sum($"q_bp").as("sum_quality_bp"),
        countDistinct($"lang").as("n_langs"),
        min($"doc_id").as("min_doc"),
        max($"doc_id").as("max_doc"))
      .orderBy($"source")
  }

  /** The probe query for [[textBm25]]: chosen for spread in document
    * frequency so the idf term actually discriminates. */
  val Bm25QueryTerms: Seq[String] = Seq("spark", "vector", "stream", "window", "hash")
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25TopK = 20

  /** BM25 top-k retrieval for a fixed probe-term set.
    *
    * Score per (doc, term): idf · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    * with the Lucene-classic rational idf (N−df+0.5)/(df+0.5) instead
    * of its log — same ranking for a single-term contribution, and
    * crucially expressible without `ln`, whose libm implementations
    * differ across engines by ulps. Every operand (tf, df, dl, N) is an
    * exact integer, so the float dag is bit-identical cross-engine; the
    * per-term score is quantized to integer micro-points BEFORE the
    * per-doc SUM (integer addition is associative — double addition is
    * not, and Spark/DuckDB will not sum in the same order).
    *
    * Plan shape at 100 TB: tokens are exploded and FILTERED TO THE
    * QUERY TERMS map-side — only (doc, query-term) hits ever reach a
    * shuffle, a |Q|-fold reduction before any exchange. Doc length
    * comes from the same single scan (no second pass). df and avgdl
    * are tiny aggregates broadcast back; final top-k is
    * TakeOrderedAndProject (per-partition k, then merge k·P rows on
    * the driver — never a global sort). */
  def textBm25(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.widened(Tables.documents(spark, dir))
      .select($"doc_id", wsTokens($"text").as("toks"))
      .select($"doc_id", $"toks", size($"toks").cast("long").as("dl"))
      .filter($"dl" > 0)

    // one scan: per-doc length + per-(doc, query-term) tf
    val hits = docs
      .select($"doc_id", $"dl", explode($"toks").as("token"))
      .filter($"token".isin(Bm25QueryTerms: _*))
      .groupBy($"doc_id", $"dl", $"token")
      .agg(count(lit(1)).as("tf"))

    // global constants: corpus size and average doc length (tiny agg)
    val consts = docs.agg(
      count(lit(1)).as("n_docs"), sum($"dl").as("sum_dl"))
    // per-term document frequency (|Q| rows)
    val dfs = hits.groupBy($"token").agg(count(lit(1)).as("df"))

    val scored = hits
      .join(broadcast(dfs), "token")
      .crossJoin(broadcast(consts))
      .select($"doc_id", $"token", $"tf", $"df",
        // fixed evaluation order; every input an exact integer
        (((($"n_docs" - $"df") + lit(0.5)) / ($"df" + lit(0.5))) *
          (($"tf" * lit(Bm25K1 + 1.0)) /
            ($"tf" + lit(Bm25K1) * (lit(1.0 - Bm25B) +
              (lit(Bm25B) * $"dl") / ($"sum_dl".cast("double") / $"n_docs")))))
          .as("s"))
      .select($"doc_id", $"token", $"tf", $"df",
        floor($"s" * lit(1e6) + lit(0.5)).cast("long").as("s_e6"))

    scored.groupBy($"doc_id")
      .agg(sum($"s_e6").as("bm25_e6"),
        count(lit(1)).as("n_terms_hit"),
        sum($"tf").as("sum_tf"))
      .orderBy($"bm25_e6".desc, $"doc_id")
      .limit(Bm25TopK)
  }

  /** Bigram-LM fluency scoring — the CCNet-style "does this read like
    * the corpus" signal used for perplexity-bucketed curation, in an
    * exact-integer form the cross-engine gate can hash: the model is
    * the corpus's own bigram table, a bigram's score is
    * floor(10000 * c(w1,w2) / c(w1,*)) basis points of its conditional
    * frequency, and a document scores (n_bigrams, sum_bp,
    * avg_bp = floor(sum/n)). Every division is the same IEEE
    * double division on exact integer operands in both engines (no
    * log(): libm ln differs across engines — same reasoning as BM25
    * above; monotone in the geometric-mean-of-probabilities ordering
    * a log-perplexity would give within fixed n).
    *
    * Plan at 100 TB: bigram instances explode MAP-SIDE from one scan
    * and immediately collapse to (doc_id, g, cnt) — the granularity
    * every later stage actually needs. That collapsed frame is
    * persisted and feeds BOTH the model (c2 = sum(cnt) per gram —
    * identical to counting instances) and the scoring join, so the
    * corpus is tokenized ONCE (the instance-granularity formulation
    * ran the scan+explode pipeline twice — once under the model
    * aggregation, once under the join — and shuffled raw instances
    * into the join; measured 17.2 s → 10.5 s at sf10). Every exchange
    * carries only (doc_id, g, cnt) / model scalars — the text column
    * never leaves the scan stage (PlanSpec-pinned). A production
    * variant thresholds the model (c2 >= minCount) and broadcasts the
    * surviving head — the long tail of singleton bigrams scores ~0
    * anyway. */
  def textLmScore(spark: SparkSession, dir: String): DataFrame =
    lmScoreHashed(spark, dir, 1L, "text_lm_score", broadcastModel = false)

  /** The one hashed-key scoring body of [[textLmScore]] and
    * [[textLmScoreHead]]: per-doc gram counts persisted once feed both
    * the model and the scoring join. The two differ only in
    * `minCount`, the ledger `tag`, and the join: the full model
    * (minCount = 1) is vocabulary-sized and joins unhinted; the head
    * broadcasts. */
  private def lmScoreHashed(
      spark: SparkSession, dir: String, minCount: Long, tag: String,
      broadcastModel: Boolean): DataFrame = {
    import spark.implicits._
    val docGrams = hashedDocGramCounts(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val model = lmModelFromCounts(
      docGrams.groupBy($"gh", $"w1h").agg(sum($"cnt").as("c2")), "gh", $"w1h", minCount)
    graft.CacheLedger.keep(tag, scoreDocGrams(docGrams, model, "gh", broadcastModel), docGrams)
      .orderBy(col("doc_id"))
  }

  /** Hashed-gram per-doc counts (doc_id, gh, w1h, cnt) — the r11
    * optimization of the lm-score pipeline's shuffle/aggregate keys:
    * every downstream grouping and join keys on 64-bit xxhash64 values
    * instead of bigram STRINGS (hash-aggregate probes and join
    * comparisons on longs, not UTF8String), exactly the dedup family's
    * hashed-shingle posture and the same negligible-collision
    * arithmetic (~n·2^-64; the sf0.01 hash gate agrees — note a gh
    * collision between distinct grams would yield two model rows for
    * one join key, DUPLICATING that gram's scoring rows, not merely
    * merging counts). w1h — the
    * hash of the left context — is carried from the map side because
    * it cannot be derived from gh; it is a function of gh's preimage,
    * so adding it to grouping keys creates no extra groups. */
  private def hashedDocGramCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bigramInstances(Tables.widened(Tables.documents(spark, dir)))
      .select($"doc_id", xxhash64($"g").as("gh"),
        xxhash64(substring_index($"g", " ", 1)).as("w1h"))
      .groupBy($"doc_id", $"gh", $"w1h").agg(count(lit(1)).as("cnt"))
  }

  /** CCNet-style quality bucketing: split each language's corpus into
    * head / middle / tail by the bigram-LM fluency score
    * ([[textLmScore]]'s integer avg_bp; docs with no modeled bigram
    * score 0), cut at the per-language quartiles — head above p75,
    * tail at or below p25, middle between. Training pipelines sample
    * the buckets at different rates (CCNet keeps head+middle,
    * Wenzek '19), so the operator reports per-(lang, bucket) volume.
    *
    * Scale posture: the score is map-side above the LM join; the
    * threshold aggregate is an exact `percentile` whose per-group
    * state is bounded by DISTINCT score values — avg_bp lives in
    * [0, 10000], so the aggregate state is a ≤10001-entry counts map
    * per language regardless of corpus size (no per-group sort, no
    * global window — the trap here would be ntile, which needs a full
    * per-language sort); thresholds then BROADCAST back (rows =
    * languages), and the final rollup is one partial-agg shuffle on
    * (lang, bucket). Quartile fractions 0.25/0.75 are exact binary
    * doubles and the interpolation runs on integer-valued data, so
    * the thresholds are cross-engine bit-equal (the q_group_quantiles
    * precedent) — hash-exact SQL oracle. */
  def docsQualityBuckets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bucketsFromScores(spark, dir,
      textLmScore(spark, dir).select($"doc_id", $"avg_bp"))
  }

  /** [[docsQualityBuckets]] over the broadcast head model
    * ([[textLmScoreHead]]) — the 100 TB pairing: bucketing's own plan
    * is unchanged (it is already scale-correct), only the score feed
    * swaps to the variant whose model join never shuffles the corpus.
    * Hash-gated with its own oracle: the thresholds re-derive from the
    * head scores, so the buckets are exact FOR THE HEAD SCORE, not an
    * approximation of the exact-score buckets (a doc near a quartile
    * boundary can land differently — that is the documented trade). */
  def docsQualityBucketsHead(
      spark: SparkSession, dir: String, minCount: Long = 2L): DataFrame = {
    import spark.implicits._
    bucketsFromScores(spark, dir,
      textLmScoreHead(spark, dir, minCount).select($"doc_id", $"avg_bp"))
  }

  private def bucketsFromScores(
      spark: SparkSession, dir: String, scored: DataFrame): DataFrame = {
    import spark.implicits._
    val perDoc = Tables.widened(Tables.documents(spark, dir))
      .select($"doc_id", $"lang", length($"text").cast("long").as("n_chars"))
      .join(scored, Seq("doc_id"), "left")
      .select($"doc_id", $"lang", $"n_chars",
        coalesce($"avg_bp", lit(0L)).as("score"))
    val thresholds = perDoc.groupBy($"lang").agg(
      percentile($"score", lit(0.25)).as("t1"),
      percentile($"score", lit(0.75)).as("t2"))
    perDoc.join(broadcast(thresholds), "lang")
      .withColumn("bucket",
        when($"score" > $"t2", lit("head"))
          .when($"score" > $"t1", lit("middle"))
          .otherwise(lit("tail")))
      .groupBy($"lang", $"bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("sum_chars"),
        sum($"score").as("sum_score"))
      .orderBy($"lang", $"bucket")
  }

  /** BPE tokenizer train + encode — the subword-vocabulary step a
    * training-data pipeline runs between curation and packing
    * (text/Bpe.scala holds the algorithm; Sennrich '16 shape).
    *
    * Plan, and why each side lives where it does: the TRAINER runs
    * driver-side over the corpus's word-frequency table, hard-capped
    * at the `maxTrainVocab` most frequent words (top-k, not a full
    * collect — a web-scale corpus has unbounded distinct "words":
    * typos, URLs, ids), tokenizer training is a bounded-model problem,
    * and production pipelines train on a sample regardless (the
    * LocalKMeans posture: models train on bounded data and broadcast).
    * Every gate corpus's full vocabulary sits far below the cap (3.1k
    * words at sf10 for 28M running tokens), so the cap is inert there. The ENCODE side is what must scale:
    * the driver encodes the VOCABULARY once and broadcasts the
    * word -> subwords table (KBs), so the distributed pass is a hash
    * lookup per token — no per-row merge replay, no shuffle except
    * the final per-doc combine; unseen words (a stream scoring
    * against yesterday's tokenizer) fall back to replaying the
    * broadcast merge ranks. The UDF is justified by the same
    * tight-loop argument as the MMR/PQ kernels: merge replay is an
    * iterative data-dependent loop no Catalyst expression states
    * without materializing every intermediate round.
    *
    * Output per doc: word count, subword count, and an xxhash64
    * digest of the subword stream (order-sensitive — pins the exact
    * segmentation, not just counts). Rows-gated; BpeSpec pins the
    * trainer against hand-computed merges, encode-conserves-
    * characters, and the replay/lookup equivalence. */
  def textBpeEncode(
      spark: SparkSession, dir: String, numMerges: Int = 200,
      maxTrainVocab: Int = 1 << 16): DataFrame = {
    val vocab = topVocab(spark, dir, maxTrainVocab)
    val merges = graft.text.Bpe.train(vocab, numMerges)
    // the training vocab is already on the driver, so seeding the
    // memo from it is free here (the served path seeds nothing and
    // memoizes per task instead)
    encodeCore(spark, dir, merges,
      vocab.map { case (w, _) => w -> graft.text.Bpe.encode(w, merges) }.toMap)
  }

  /** Fixture merge table for the HASH-gated encode (r11): encoding is
    * deterministic given the ranks, so pinning the table makes the
    * whole distributed encode pass SQL-restatable — the DuckDB oracle
    * ([[bpeFixtureOracleSql]], generated from THIS vector so the two
    * engines cannot drift) replays each merge as one string `replace`
    * over a separator-wrapped symbol string, which BpeSpec pins
    * byte-equal to [[graft.text.Bpe.encode]]'s left-to-right
    * non-overlapping pass. The TRAINER keeps its own coverage: BpeSpec
    * hand-computed merges + the ModelIO train/serve path. Chained
    * multi-level merges (th→the, er→ther) exercise the rank-order
    * replay. */
  val FixtureMerges: Vector[graft.text.Bpe.Merge] = Vector(
    ("e", "r"), ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("o", "n"), ("e", "n"), ("t", "i"), ("o", "r"), ("s", "t"), ("a", "r"),
    ("e", "s"), ("o", "u"), ("l", "l"), ("e", "d"), ("in", "g"), ("a", "t"),
    ("t", "o"), ("i", "t"), ("o", "f"), ("i", "s"), ("a", "l"), ("e", "l"),
    ("r", "e"), ("s", "e"), ("n", "t"), ("m", "e"), ("c", "o"), ("d", "e"),
    ("u", "r"), ("t", "er"), ("c", "h"), ("o", "m"), ("p", "r"), ("w", "h"),
    ("l", "e"), ("a", "s"), ("h", "e"), ("th", "er"))

  /** Hash-gated BPE encode under [[FixtureMerges]] (the gate entry for
    * `text_bpe_encode` since r11): same distributed encode kernel as
    * the trained path (broadcast ranks, per-task memoized replay), but
    * the stream digest is md5 over the SEP-joined subwords — md5 is
    * bit-identical in DuckDB where xxhash64 has no oracle-side
    * equivalent. */
  def textBpeEncodeFixture(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    encodeSubwords(spark, dir, FixtureMerges, Map.empty)
      .select($"doc_id", $"n_words", size($"sub").cast("long").as("n_subwords"),
        md5(array_join($"sub", "\u001f")).as("stream_md5"))
      .orderBy($"doc_id")
  }

  /** The DuckDB restatement of [[textBpeEncodeFixture]], generated
    * from [[FixtureMerges]]: each word becomes a chr(31)-wrapped
    * codepoint string (`✂c✂✂d✂…`), each merge one plain `replace` of
    * `✂a✂✂b✂` with `✂ab✂` in rank order — string replace is
    * left-to-right and non-overlapping in both engines, and the
    * double-separator wrapping makes symbol boundaries unambiguous
    * (verified: "aaa" under (a,a) → [aa, a], adjacent merges do not
    * consume each other's separators). */
  def bpeFixtureOracleSql: String = {
    val S = "\u001f"
    def q(s: String) = "'" + s.replace("'", "''") + "'"
    val base = s"regexp_replace(word, '(.)', ${q(S + "\\1" + S)}, 'g')"
    val enc = FixtureMerges.foldLeft(base) { case (acc, (a, b)) =>
      s"replace($acc, ${q(S + a + S + S + b + S)}, ${q(S + a + b + S)})"
    }
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    CASE WHEN length(trim(text)) = 0 THEN []
       |         ELSE string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+') END AS t
       |  FROM documents),
       |pos AS (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS p FROM toks),
       |words AS (SELECT doc_id, p, t[p] AS word FROM pos),
       |enc AS (SELECT doc_id, p, $enc AS e FROM words),
       |per AS (SELECT doc_id, p,
       |    (length(e) - length(replace(e, chr(31), ''))) // 2 AS n_sub,
       |    trim(replace(e, chr(31) || chr(31), chr(31)), chr(31)) AS plain
       |  FROM enc),
       |agg AS (SELECT doc_id, CAST(sum(n_sub) AS BIGINT) AS n_subwords,
       |    md5(string_agg(plain, chr(31) ORDER BY p)) AS stream_md5
       |  FROM per GROUP BY doc_id)
       |SELECT k.doc_id, CAST(len(k.t) AS BIGINT) AS n_words,
       |  CASE WHEN k.t IS NULL THEN NULL ELSE coalesce(a.n_subwords, 0) END AS n_subwords,
       |  CASE WHEN k.t IS NULL THEN NULL ELSE coalesce(a.stream_md5, md5('')) END AS stream_md5
       |FROM toks k LEFT JOIN agg a ON a.doc_id = k.doc_id
       |ORDER BY k.doc_id""".stripMargin
  }

  /** The training half of the train/serve split: fit the ranked merge
    * table alone, e.g. to persist via [[graft.io.ModelIO.saveBpeMerges]]
    * and serve from in later runs. */
  def trainBpeMerges(
      spark: SparkSession, dir: String, numMerges: Int = 200,
      maxTrainVocab: Int = 1 << 16): Vector[graft.text.Bpe.Merge] =
    graft.text.Bpe.train(topVocab(spark, dir, maxTrainVocab), numMerges)

  /** The serving half: encode a corpus under a PRE-TRAINED merge table
    * (typically [[graft.io.ModelIO.loadBpeMerges]] output). Encoding
    * depends ONLY on the merge ranks — the driver-built vocabulary
    * lookup table is a memoized fast path whose entries equal the
    * merge replay by construction — so serving runs ZERO extra Spark
    * jobs and no driver merge loop: the encode kernel memoizes merge
    * replays per task (the Zipf head repeats within every partition),
    * and produces the same subword streams the inline train+encode
    * does for the same merges. */
  def textBpeEncodeWith(
      spark: SparkSession, dir: String,
      merges: Seq[graft.text.Bpe.Merge]): DataFrame =
    encodeCore(spark, dir, merges, Map.empty)

  // the collect is BOUNDED by construction, not just by corpus
  // statistics: take the maxTrainVocab most frequent words
  // (deterministic (f desc, w asc) tie-break; TakeOrderedAndProject,
  // so the sort is a distributed partial top-k, not a global sort).
  // On every gate corpus the full vocabulary is far below the cap
  // (3.1k words at sf10), so the cap changes nothing there; on a real
  // 100 TB corpus it is what keeps the driver model bounded while the
  // frequency tail falls back to merge-rank replay in the encoder.
  private def topVocab(
      spark: SparkSession, dir: String, maxTrainVocab: Int): Seq[(String, Long)] = {
    import spark.implicits._
    Tables.widened(Tables.documents(spark, dir))
      .select(explode(wsTokens($"text")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("f"))
      .orderBy($"f".desc, $"w")
      .limit(maxTrainVocab)
      .as[(String, Long)].collect().toSeq
  }

  private def encodeCore(
      spark: SparkSession, dir: String, merges: Seq[graft.text.Bpe.Merge],
      seedMemo: Map[String, Seq[String]]): DataFrame = {
    import spark.implicits._
    encodeSubwords(spark, dir, merges, seedMemo)
      .select($"doc_id", $"n_words", size($"sub").cast("long").as("n_subwords"),
        xxhash64($"sub").as("stream_hash"))
      .orderBy($"doc_id")
  }

  // the shared distributed encode pass: (doc_id, n_words, sub) — the
  // digest flavor (xxhash64 for the trained path, md5 for the
  // SQL-gated fixture path) is the caller's projection
  private def encodeSubwords(
      spark: SparkSession, dir: String, merges: Seq[graft.text.Bpe.Merge],
      seedMemo: Map[String, Seq[String]]): DataFrame = {
    import spark.implicits._
    val bcTable = spark.sparkContext.broadcast(seedMemo)
    val bcMerges = spark.sparkContext.broadcast(merges)
    // taskMemo deserializes EMPTY with each task closure and fills as
    // the task encodes its partition — replay runs once per distinct
    // word per task (the Zipf head dominates every partition), so the
    // amortized cost matches the broadcast-table fast path without any
    // extra job or driver loop. Bounded by the task's distinct words.
    val enc = udf(new (Seq[String] => Seq[String]) with Serializable {
      @transient private lazy val taskMemo =
        new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
      // null in → null out, the SQL function contract (wsTokens of a
      // NULL text is null; crashing the task on it would fail a whole
      // corpus encode over one missing document)
      def apply(toks: Seq[String]): Seq[String] =
        if (toks == null) null else toks.flatMap { w =>
        bcTable.value.getOrElse(w, {
          val hit = taskMemo.get(w)
          if (hit != null) hit
          else {
            val e = graft.text.Bpe.encode(w, bcMerges.value)
            taskMemo.put(w, e); e
          }
        })
      }
    })
    Tables.widened(Tables.documents(spark, dir))
      .select($"doc_id", wsTokens($"text").as("toks"))
      .select($"doc_id", size($"toks").cast("long").as("n_words"), enc($"toks").as("sub"))
  }

  /** (doc_id, g) bigram instances of a documents frame — the map-side
    * explode both the model trainer and the scorer consume. */
  private[graft] def bigramInstances(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select($"doc_id",
      explode(graft.similarity.Similarity.wordNgramsAll(wsTokens($"text"), 2)).as("g"))
  }

  /** The model formula over a pre-counted (key, c2) gram-frequency
    * frame: bp = floor(10000·c2/c1), c1 summing c2 per left context
    * `w1`. The ONE definition of bp every LM path reduces to — the
    * hashed scorers pass `key = "gh"` with the carried `w1h`; the
    * string-keyed trainers pass `key = "g"` with
    * `substring_index(g, " ", 1)` (tokens contain no spaces, so
    * everything before the first space IS the left context; identical
    * derivation stated in the oracle via split_part).
    *
    * `minCount` keeps only the model HEAD (bigrams seen >= minCount
    * times) — the [[textLmScoreHead]] scale posture. The threshold is
    * applied AFTER the c1 denominator sums the FULL table, so a
    * surviving bigram's bp is bit-identical to the unthresholded
    * model's; dropping is the only approximation. minCount = 1 keeps
    * everything. */
  private[graft] def lmModelFromCounts(
      c2: DataFrame, key: String, w1: Column, minCount: Long): DataFrame = {
    val withW1 = c2.withColumn("w1", w1)
    val c1 = withW1.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    withW1.filter(col("c2") >= minCount)
      .join(c1, "w1")
      .select(col(key), floor(lit(10000L) * col("c2") / col("c1")).cast("long").as("bp"))
  }

  /** The production 100 TB variant of [[textLmScore]] — the posture the
    * exact query's docstring describes: threshold the model to its HEAD
    * (bigrams with corpus count >= `minCount`) and BROADCAST it, so the
    * (doc, g, cnt) frame never shuffles for the scoring join. The full
    * model is corpus-vocabulary-sized (unbroadcastable at scale, the
    * exact path shuffles for its join); the head is bounded by the
    * frequency threshold — the long tail of near-singleton bigrams it
    * drops scores ~0 bp anyway (bp = floor(10000·c2/c1) with c2 small).
    *
    * Approximation contract (LmHeadSpec pins all three):
    *  - minCount = 1 is bit-identical to [[textLmScore]];
    *  - n_bigrams is UNCHANGED (left join; dropped grams score 0, they
    *    don't disappear from the denominator);
    *  - the error is one-sided and exactly the tail mass: per doc,
    *    exact sum_bp − head sum_bp = Σ cnt·bp over that doc's grams
    *    with corpus count < minCount. avg_bp can therefore only
    *    round DOWN relative to the exact score, never up. */
  def textLmScoreHead(
      spark: SparkSession, dir: String, minCount: Long = 2L): DataFrame =
    lmScoreHashed(spark, dir, minCount, "text_lm_score_head", broadcastModel = true)

  /** The one scoring plan every LM variant shares: per-doc gram counts
    * left-joined to the model, absent grams scoring 0 bp without
    * leaving the n_bigrams denominator. `key` is "gh" on the hashed
    * fast path and "g" for the string-keyed persisted-model path; a
    * BROADCAST model (every head variant) never shuffles the corpus
    * side. */
  private def scoreDocGrams(
      docGrams: DataFrame, model: DataFrame, key: String,
      broadcastModel: Boolean = true): DataFrame = {
    import docGrams.sparkSession.implicits._
    val m = model.select(col(key), $"bp")
    docGrams.join(if (broadcastModel) broadcast(m) else m, Seq(key), "left")
      .groupBy($"doc_id")
      .agg(sum($"cnt").as("n_bigrams"),
        sum($"cnt" * coalesce($"bp", lit(0L))).as("sum_bp"))
      .select($"doc_id", $"n_bigrams", $"sum_bp",
        floor($"sum_bp" / $"n_bigrams").cast("long").as("avg_bp"))
  }

  /** String-keyed per-doc gram counts (doc_id, g, cnt) — the input of
    * the persisted-model paths, whose artifact keys on the gram string. */
  private def stringDocGramCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bigramInstances(Tables.widened(Tables.documents(spark, dir)))
      .groupBy($"doc_id", $"g").agg(count(lit(1)).as("cnt"))
  }

  /** Training half of the LM-head train/serve split: fit the
    * thresholded bigram head alone (one corpus scan), e.g. to persist
    * via [[graft.io.ModelIO.saveLmHead]] and serve from in later runs.
    * Identical model to the one [[textLmScoreHead]] fits inline: both
    * reduce to [[lmModelFromCounts]] over the same instance counts.
    * minCount = 1 trains the FULL model [[textLmScore]] scores under —
    * the static side streaming/DocStreams.lmScoreStream joins. */
  def trainLmHead(spark: SparkSession, dir: String, minCount: Long = 2L): DataFrame = {
    import spark.implicits._
    lmModelFromCounts(
      bigramInstances(Tables.widened(Tables.documents(spark, dir)))
        .groupBy($"g").agg(count(lit(1)).as("c2")),
      "g", substring_index($"g", " ", 1), minCount)
  }

  /** Serving half: score the corpus under a PRE-TRAINED head model
    * (typically [[graft.io.ModelIO.loadLmHead]] output) — the model is
    * broadcast exactly as the inline-trained frame is, and the ONLY
    * corpus work is the one scoring scan: zero training jobs. Unlike
    * [[textLmScoreHead]] there is no persist here — the gram frame has
    * a single consumer when the model arrives from disk. */
  def textLmScoreHeadWith(spark: SparkSession, dir: String, model: DataFrame): DataFrame =
    scoreDocGrams(stringDocGramCounts(spark, dir), model, "g").orderBy(col("doc_id"))

  /** Gate query for the full persisted-model round trip: train → save
    * → load → serve, with the serving result flowing from the LOADED
    * artifact (bit-exact parquet round trip per ModelIO's contract).
    * Hash-gated against the SAME oracle as [[textLmScoreHead]]: a
    * match proves the persisted-artifact path, not just the inline
    * one. The per-doc gram counts are computed ONCE and persisted
    * across both halves — training sums them to corpus counts, serving
    * scores from them under the loaded model — so this gate pays one
    * corpus scan like its inline twin, not two (the model still
    * round-trips through parquet; only the gram frame is shared, which
    * a real train-then-serve deployment would checkpoint the same
    * way).
    *
    * The SCORING join keys on xxhash64 longs (r12): the persisted
    * (g string, bp) artifact is untouched — that contract is what the
    * gate proves — but once the model is LOADED, both sides project
    * `gh = xxhash64(g)` map-side and the broadcast join probes on
    * longs instead of UTF8Strings (the r11 textLmScore key posture,
    * same ~n·2^-64 collision arithmetic; note a gh collision would
    * duplicate scoring join rows for the colliding gram, not just
    * merge counts — the sf0.01 hash gate computing with strings
    * pins parity). Training still consumes the string-keyed counts,
    * so the shared gram frame keeps `g`. */
  def textLmScoreHeadServed(spark: SparkSession, dir: String, minCount: Long = 2L): DataFrame = {
    import spark.implicits._
    val path = s"/tmp/graft_io/lm_head_${math.abs(dir.hashCode)}"
    val docGrams = stringDocGramCounts(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.io.ModelIO.saveLmHead(lmModelFromCounts(
      docGrams.groupBy($"g").agg(sum($"cnt").as("c2")),
      "g", substring_index($"g", " ", 1), minCount), path)
    graft.CacheLedger.keep("text_lm_score_head_served", scoreDocGrams(
      docGrams.withColumn("gh", xxhash64($"g")),
      graft.io.ModelIO.loadLmHead(spark, path).select(xxhash64($"g").as("gh"), $"bp"),
      "gh"), docGrams).orderBy(col("doc_id"))
  }
}
