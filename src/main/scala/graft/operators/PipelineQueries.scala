package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.similarity.Similarity
import graft.text.TextFunctions._

/** Round-3 additions to the training-data-pipeline suite: PII
  * redaction, benchmark decontamination, funnel analysis, embedding
  * centroids, and incremental (batch-vs-index) dedup. Every query has
  * a DuckDB oracle stating the same computation, and every plan is
  * audited for the 100 TB shape (map-side where possible, one
  * key-shuffle where not, broadcasts only for genuinely small sides).
  *
  * The `documents` test texts contain no real PII, so the PII and
  * incremental-dedup queries DERIVE their inputs deterministically
  * from the table (same derivation stated in the oracle SQL) — the
  * pipeline under test is identical to what would run on real data.
  */
object PipelineQueries {

  /** PII detection + redaction over documents. Input: text with a
    * deterministic PII-bearing suffix derived from (source, doc_id) —
    * an email, an IPv4, and a 555-prefixed phone number per row.
    * Output: per-type match counts and an md5 digest of the redacted
    * text (hash-verifies the rewrite byte-for-byte cross-engine).
    * Plan: pure map-side expression pipeline, zero shuffle. */
  def textPiiRedact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val injected = concat(
      $"text", lit(" contact "), $"source", $"doc_id".cast("string"),
      lit("@example.com from 10."), ($"doc_id" % 256).cast("string"),
      lit("."), ($"doc_id" % 100).cast("string"),
      lit(".7 call 555-"), lpad(($"doc_id" % 10000).cast("string"), 4, "0"))
    val stats = Similarity.bound(injected) { inj =>
      Similarity.bound(redactPii(inj)) { red =>
        struct(
          piiCount(inj, EmailRe).as("n_email"),
          piiCount(inj, Ipv4Re).as("n_ip"),
          piiCount(inj, PhoneRe).as("n_phone"),
          length(red).cast("long").as("red_chars"),
          md5(red.cast("binary")).as("red_md5"))
      }
    }
    Tables.widened(Tables.documents(spark, dir))
      .select($"doc_id", stats.as("x"))
      .select($"doc_id", $"x.n_email".as("n_email"), $"x.n_ip".as("n_ip"),
        $"x.n_phone".as("n_phone"), $"x.red_chars".as("red_chars"),
        $"x.red_md5".as("red_md5"))
      .orderBy($"doc_id")
  }

  /** Benchmark decontamination: flag corpus documents sharing any word
    * 5-gram with the held-out eval set (docs with doc_id % 20 == 0 —
    * the stand-in for a benchmark suite). The standard
    * training-data hygiene pass (eval n-gram overlap, cf. GPT-3
    * appendix / Dolma decontamination), sized to this corpus (5-grams;
    * 13-grams at web scale).
    *
    * Plan shape at 100 TB: the eval side is a BENCHMARK — small by
    * nature, independent of corpus scale — so its distinct n-grams
    * broadcast; the corpus side is map-side explode + broadcast
    * semi-join + partial-agg groupBy(doc_id). The corpus is never
    * shuffled except by the final per-doc count (combiner-reduced). */
  def textDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.widened(Tables.documents(spark, dir))
    // (gram-count, gram) structs: ONE explode carries each doc's
    // distinct-gram total alongside every gram, so no second
    // tokenize+shingle scan (and no join) is needed to recover it
    val grams = docs.select($"doc_id",
      explode(Similarity.wordNgramStructs(wsTokens($"text"), 5)).as("sg"))
      .select($"doc_id", $"sg.s".cast("long").as("n_grams"), $"sg.gram".as("g"))
    val evalGrams = grams.filter($"doc_id" % 20 === 0).select($"g").distinct()
    grams.filter($"doc_id" % 20 =!= 0)
      .join(broadcast(evalGrams), "g")
      .groupBy($"doc_id")
      .agg(max($"n_grams").as("n_grams"), count(lit(1)).as("n_hits"))
      .select($"doc_id", $"n_grams", $"n_hits".cast("long").as("n_hits"),
        floor((lit(20000L) * $"n_hits" + $"n_grams") / (lit(2L) * $"n_grams"))
          .cast("long").as("contam_bp"))
      .orderBy($"doc_id")
  }

  /** Semantic (embedding-space) decontamination — the paraphrase-
    * robust counterpart of [[textDecontaminate]]'s n-gram overlap:
    * corpus items whose embedding lies within cosine >= 0.99 of ANY
    * held-out eval item are flagged with their closest eval id and
    * hit count. N-gram overlap misses a reworded eval question; the
    * embedding does not.
    *
    * Eval set = vec_id % 20 == 0 (the held-out convention the n-gram
    * query uses on doc_id); the corpus side additionally carries
    * perturbed copies of the eval vectors (alternate dims ±2%,
    * cosine ≈ 0.9996 to their source) — the stand-in for
    * actually-contaminated training docs, exactly the construction
    * dedup_embedding_cosine plants and DedupSpec brute-force-verifies.
    *
    * Plan at 100 TB: both sides band under the SAME deterministic
    * hyperplane signatures (64 planes, 4 bands of 16 bits);
    * candidates come from the bipartite band-equality join of
    * Similarity.cosinePairs (dedup_embedding_cosine's pair step with an
    * eval-to-corpus side) — never all-pairs, hot buckets capped, cosine
    * scored before the multi-band distinct so its shuffle carries
    * scalars; the per-corpus-item closest-eval reduction is
    * a combiner-reduced aggregate. The eval side is a benchmark —
    * small by nature, independent of corpus scale — so at scale its
    * banded signatures broadcast, and the corpus is never shuffled
    * except by its own band keys. Rows-gated + PipelineSpec pins
    * equality with all-pairs brute force at sf0.001. */
  def textDecontaminateSemantic(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tau = 0.99
    val base = Tables.widened(Tables.embeddings(spark, dir)).select($"vec_id", $"embedding")
    val eval = base.filter($"vec_id" % 20 === 0)
    val corpus = base.filter($"vec_id" % 20 =!= 0).union(Tables.nearDupTwins(eval))

    val tagged = eval.select($"vec_id", $"embedding", lit(true).as("is_eval"))
      .union(corpus.select($"vec_id", $"embedding", lit(false).as("is_eval")))
    val items = Similarity.hyperplaneBucketsDf(tagged, "vec_id", "embedding", 64, 4)
      .join(tagged, "vec_id")
      .select($"vec_id".as("id"), $"bands", $"embedding", $"is_eval")
    // bipartite: the a side is the eval item, the b side the corpus item
    Similarity.cosinePairs("text_decontaminate_semantic", items,
        $"a.is_eval" && !$"b.is_eval", tau)
      .groupBy($"id_b".as("vec_id"))
      // closest eval item; exact-cosine ties resolve to the smallest
      // eval id (struct max: cos desc, then -eval_id asc)
      .agg(max(struct($"cos".as("c"), (-$"id_a").as("nid"))).as("m"),
        count(lit(1)).as("n_eval_hits"))
      .select($"vec_id", (-$"m.nid").cast("long").as("eval_id"),
        floor(lit(10000.0) * $"m.c" + lit(0.5)).cast("long").as("cos_dmbp"),
        $"n_eval_hits")
      .orderBy($"vec_id")
  }

  /** Ordered funnel analysis over the events stream: view → click →
    * purchase, where each stage must happen at or after the previous
    * stage's first occurrence for that user. Counts users reaching
    * each stage.
    *
    * Plan: one shuffle on user_id; both running-min windows and the
    * per-user aggregate reuse that single partitioning (user_id
    * cardinality scales with the data — no low-cardinality window
    * skew), then a single-row global roll-up. */
  def eventsFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val s1 = Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"event_type", $"ts")
      .withColumn("rv", min(when($"event_type" === "view", $"ts")).over(w))
    val s2 = s1.withColumn("rc",
      min(when($"event_type" === "click" && $"rv".isNotNull, $"ts")).over(w))
    s2.groupBy($"user_id")
      .agg(
        max(when($"event_type" === "view", 1L).otherwise(0L)).as("uv"),
        max(when($"event_type" === "click" && $"rv".isNotNull, 1L).otherwise(0L)).as("uc"),
        max(when($"event_type" === "purchase" && $"rc".isNotNull, 1L).otherwise(0L)).as("up"))
      .agg(
        count(lit(1)).as("n_users"),
        sum($"uv").as("n_view"),
        sum($"uc").as("n_click_after_view"),
        sum($"up").as("n_purchase_after_click"))
  }

  /** Per-label embedding centroids: element-wise mean over the
    * embedding column, computed on values quantized to exact integers
    * (floor(v·1e6 + 0.5) — float→double→floor is bit-identical across
    * engines, so the gate has no float-summation-order noise; exact up
    * to 2^53/1e6 ≈ 9e9 rows per cell at this scale of values).
    *
    * Plan: posexplode is MAP-SIDE (64× row fan-out never shuffles);
    * the groupBy(label, dim) partial-aggregates in the same task down
    * to |labels|·64 rows per task before the only shuffle. */
  def embedCentroid(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val quantized = Tables.widened(Tables.embeddings(spark, dir))
      .select($"label", posexplode($"embedding").as(Seq("dim", "v")))
      .select($"label", $"dim",
        floor($"v".cast("double") * lit(1000000.0) + lit(0.5)).cast("long").as("vq"))
    quantized
      .groupBy($"label", $"dim")
      .agg(count(lit(1)).as("n"), sum($"vq").as("sum_e6"))
      .select($"label".cast("long").as("label"), $"dim".cast("long").as("dim"),
        $"n", $"sum_e6",
        floor((lit(2.0) * $"sum_e6" + $"n") / (lit(2.0) * $"n")).cast("long").as("mean_e6"))
      .orderBy($"label", $"dim")
  }

  /** Vocabulary building: corpus-wide term and document frequencies,
    * top-100 by term frequency — the input to tokenizer training and
    * idf weighting. Plan: map-side explode, then Spark's two-phase
    * distinct aggregation — the FIRST shuffle carries partial-agg'd
    * distinct (token, doc_id) pairs (per-doc distinct vocabulary, not
    * raw token occurrences), the second only vocab cardinality — then
    * TakeOrderedAndProject for the top-k (no full sort). Exact df is
    * what the oracle needs; at 100 TB swap countDistinct for
    * approx_count_distinct and the pair-level shuffle disappears. */
  def textVocab(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.widened(Tables.documents(spark, dir))
      .select($"doc_id", explode(wsTokens($"text")).as("token"))
      .groupBy($"token")
      .agg(count(lit(1)).as("tf"), countDistinct($"doc_id").as("df"))
      .orderBy($"tf".desc, $"token")
      .limit(100)
  }

  /** Scale default for vocabulary building: df via
    * `approx_count_distinct` (HLL++). [[textVocab]]'s exact df is the
    * one measured near-linear-plus term in the text family — its first
    * shuffle carries the per-doc-distinct (token, doc_id) PAIRS, which
    * grow with corpus size. The sketch variant aggregates into a
    * fixed-size HLL register per token map-side, so the shuffle
    * carries one register per (task, token) — independent of document
    * count — and the pair-level shuffle disappears. tf and the top-100
    * cut stay EXACT (same count, same ordering); only df is
    * approximate, within the configured rsd. Rows oracle (DuckDB's
    * HLL is a different sketch); VocabSketchSpec pins the df error
    * against the exact variant. */
  def textVocabSketch(
      spark: SparkSession, dir: String, rsd: Double = 0.02): DataFrame = {
    import spark.implicits._
    Tables.widened(Tables.documents(spark, dir))
      .select($"doc_id", explode(wsTokens($"text")).as("token"))
      .groupBy($"token")
      .agg(count(lit(1)).as("tf"), approx_count_distinct($"doc_id", rsd).as("df"))
      .orderBy($"tf".desc, $"token")
      .limit(100)
  }

  /** Sequence packing — the step that turns a curated corpus into
    * fixed-token-budget training rows, GPT-pretraining style: within
    * each shard, documents are concatenated in a deterministic order
    * and cut into EXACT `budget`-token windows; a document whose
    * tokens straddle a boundary spans both windows (downstream
    * attention masking owns doc boundaries — standard concat-and-chunk
    * packing; greedy no-split packing is a sequential recurrence and
    * would serialize).
    *
    * Global concatenation would also serialize; docs are
    * hash-partitioned into `groups` shards and packed WITHIN shards.
    * One shuffle on the shard key; the cumulative-sum window is
    * shard-parallel, never a single global partition. Output: one row
    * per (shard, window) with the docs and token counts it packs —
    * every window except each shard's last holds exactly `budget`
    * tokens. */
  def textPackSequences(
      spark: SparkSession, dir: String,
      budget: Long = 512, groups: Int = 8): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"grp").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val b = lit(budget)
    // evaluated once, above the widening exchange: a plain select +
    // filter lets PushDownPredicates copy the token-count kernel into
    // the scan, below the round-robin spread, where it runs in one task
    graft.plans.EvalBarrier.evalOnce(Tables.widened(Tables.documents(spark, dir)),
        Seq("doc_id"), "n_tok" -> tokenCountWs($"text").cast("long"))
      .filter($"n_tok" > 0)
      .withColumn("grp", pmod($"doc_id", lit(groups.toLong)))
      .withColumn("end", sum($"n_tok").over(w))
      .withColumn("start", $"end" - $"n_tok")
      // the doc occupies token positions [start, end) of its shard's
      // concatenation → it touches windows floor(start/b)..floor((end-1)/b)
      .withColumn("bin", explode(sequence(
        ($"start" / b).cast("long"), (($"end" - 1) / b).cast("long"))))
      .groupBy($"grp", $"bin")
      .agg(
        count(lit(1)).as("n_docs"),
        // tokens this doc contributes to this window:
        // min(end, (bin+1)·b) − max(start, bin·b)
        sum(least($"end", ($"bin" + 1) * b) - greatest($"start", $"bin" * b))
          .as("n_tokens"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
      .orderBy($"grp", $"bin")
  }

  /** Keyword extraction: top-3 terms per document by tf/df (tf-idf
    * with the constant corpus-size factor cancelled). The ranking key
    * is ONE IEEE division of two exact integers — bit-identical on
    * both engines, so the cross-engine gate needs no log() (libm ln
    * is not guaranteed identical across engines) and no rounding.
    *
    * Plan: tf = groupBy(doc, token) with map-side combine; df derived
    * from tf (already one row per doc-token); the ranking window keys
    * on doc_id — cardinality scales with the corpus, and each
    * partition sort is bounded by one document's vocabulary. A per-doc
    * top-k aggregate would shuffle fewer rows, but measured slower in
    * local mode (sf1: 3.7 s vs the window's 3.2 s): the window sort is
    * whole-stage codegen, an imperative aggregate is interpreted per
    * row. */
  def textKeywords(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.widened(Tables.documents(spark, dir))
      .select($"doc_id", explode(wsTokens($"text")).as("token"))
    val tf = toks.groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"token").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy($"doc_id")
      .orderBy(($"tf".cast("double") / $"df").desc, $"token")
    // df is VOCABULARY-sized (31k tokens at sf100 for a 250M-row tf
    // side) — broadcast it explicitly: the static planner picked a
    // SortMergeJoin on token, which re-exchanged AND sorted the whole
    // corpus-sized tf frame against a dictionary (measured: 2 of the
    // plan's 3 full-width exchanges existed only for this join). At a
    // vocabulary too big to broadcast, cap it like BPE's
    // maxTrainVocab or feed the df side through a threshold.
    tf.join(broadcast(df), "token")
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"doc_id", $"rk".cast("long").as("rk"), $"token", $"tf", $"df")
      .orderBy($"doc_id", $"rk")
  }

  /** Session path mining: the top-10 most frequent event-type
    * sequences among gap-based sessions. Session boundaries come from
    * EventQueries.withSessionIds — the SAME definition
    * events_sessionize uses, so the two cannot diverge. Paths are
    * built from a sorted struct collect — (ts, event_id) is a total
    * order, so the concatenation is deterministic. One user-key
    * shuffle chain (session window + per-session agg share it), then
    * a path-count aggregate whose key count is bounded by distinct
    * paths. */
  def eventsPaths(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    EventQueries.withSessionIds(
      Tables.events(spark, dir)
        .select($"user_id", $"ts", $"event_id", $"event_type"))
      .groupBy($"user_id", $"session_id")
      .agg(concat_ws(">",
        transform(
          sort_array(collect_list(struct($"ts", $"event_id", $"event_type"))),
          x => x.getField("event_type"))).as("path"))
      .groupBy($"path")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy($"n_sessions".desc, $"path")
      .limit(10)
  }

  /** Per-group outlier detection: flag events whose value deviates
    * more than 3σ from their type's mean. The z-test is evaluated in
    * EXACT integer algebra on value cents — `(n·v − s)² > 9(nq − s²)`
    * with s = Σv, q = Σv² — so the cross-engine gate has no
    * float-boundary cases (Spark does the big products in
    * decimal(38,0), DuckDB in HUGEINT; both exact).
    *
    * Plan: one tiny moments aggregate per type (|types| rows,
    * broadcast back), map-side flagging, final per-type summary —
    * the event stream itself is never shuffled unflagged. */
  def eventsAnomaly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
      .select($"event_type", $"event_id",
        round(graft.functions.Guards.finiteOrNull($"value") * 100).cast("long").as("v"))
    val stats = e.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"v").as("s"), sum($"v" * $"v").as("q"))
    val dec = "decimal(38,0)"
    val dev = ($"n" * $"v" - $"s").cast(dec)
    val lhs = dev * dev
    val rhs = lit(9).cast(dec) *
      ($"n".cast(dec) * $"q".cast(dec) - $"s".cast(dec) * $"s".cast(dec))
    e.join(broadcast(stats), "event_type")
      .withColumn("out", (lhs > rhs).cast("long"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"out").as("n_outliers"),
        min(when($"out" === 1, $"event_id")).as("min_outlier_id"),
        max(when($"out" === 1, $"event_id")).as("max_outlier_id"))
      .orderBy($"event_type")
  }

  /** Data-mixture sampling: reweight the corpus by language with
    * deterministic per-row Bernoulli draws — keep a doc iff the first
    * 8 hex chars of sha256(doc_id) fall below the language's
    * threshold. The draw is a pure function of the row (same doc kept
    * in every run and on both engines — no RNG state, no seed
    * coordination across executors), which is what makes mixture
    * resampling reproducible at 100 TB. The keep-decision is map-side;
    * only the per-language summary aggregate (|languages| rows) and
    * the output sort shuffle.
    *
    * Full weight uses a sentinel above every hex prefix ("g" > "f")
    * so the strict `<` genuinely keeps ALL rows — `< "ffffffff"`
    * would drop a doc whose prefix is exactly ffffffff (p = 2^-32,
    * expected at billions of docs). */
  def qSampleMixture(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // en kept fully; de/fr/es halved; zh quartered (weights are the
    // operator's parameter in real use)
    val threshold = when($"lang" === "en", lit("gggggggg"))
      .when($"lang".isin("de", "fr", "es"), lit("80000000"))
      .otherwise(lit("40000000"))
    Tables.widened(Tables.documents(spark, dir))
      .select($"lang",
        (substring(sha2($"doc_id".cast("string"), 256), 1, 8) < threshold)
          .cast("long").as("kept"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_total"), sum($"kept").as("n_kept"))
      .orderBy($"lang")
  }

  /** Cohort retention: users grouped by the week of their first event,
    * counted per week-offset of later activity — the classic retention
    * matrix, complementing the funnel (ordered stages) with longevity.
    * Weeks are epoch-aligned integer buckets (ts is epoch nanos).
    *
    * Plan: one shuffle on user_id for the cohort window, then the
    * count-distinct pair of shuffles on (cohort, offset) — every key
    * scales with the data, no low-cardinality skew. */
  def eventsRetention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id")
    Tables.events(spark, dir)
      .select($"user_id", expr("ts div 604800000000000").cast("long").as("week"))
      .withColumn("cohort_week", min($"week").over(w))
      .groupBy($"cohort_week", ($"week" - $"cohort_week").as("week_offset"))
      .agg(countDistinct($"user_id").as("n_users"))
      .orderBy($"cohort_week", $"week_offset")
  }

  /** Incremental dedup — the production shape: dedup an INCOMING batch
    * against the digest index of the already-ingested corpus, not the
    * corpus against itself. The batch is derived from the table: docs
    * with doc_id % 3 == 0 re-ingested verbatim (must all drop against
    * the index) plus docs with doc_id % 7 == 1 re-sent with edited
    * text (genuinely new content — must survive). Keyed on the md5 of
    * normalized text; within-batch duplicates keep the smallest id.
    *
    * Plan: one shuffle on the digest for the anti-join + one for the
    * within-batch groupBy (AQE-coalesced); the index side streams —
    * at 100 TB the index probe is exactly the exact-dedup plan. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def digestOf(text: org.apache.spark.sql.Column) =
      graft.text.TextFunctions.normalizedDigest(text)
    val docs = Tables.widened(Tables.documents(spark, dir))
    val index = docs.select(digestOf($"text").as("digest"))
    val batch = docs.filter($"doc_id" % 3 === 0)
      .select(graft.Tables.synthId($"doc_id", 2).as("batch_id"), digestOf($"text").as("digest"))
      .union(docs.filter($"doc_id" % 7 === 1)
        .select(graft.Tables.synthId($"doc_id", 3).as("batch_id"),
          digestOf(concat($"text", lit(" edited v2"))).as("digest")))
    batch
      .join(index, Seq("digest"), "left_anti")
      .groupBy($"digest")
      .agg(min($"batch_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select($"keep_id", $"n_copies")
      .orderBy($"keep_id")
  }
}
