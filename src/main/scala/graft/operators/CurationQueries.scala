package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{BottomK, GraftExtensions}
import graft.text.TextFunctions

/** Round-4 corpus-curation operators: RAG chunking, exact-substring
  * duplication measurement, and leakage-safe train/test splitting.
  *
  * All three are pure map-side or digest-keyed — no corpus text ever
  * crosses a shuffle:
  *  - chunking is a per-row explode (zero shuffle);
  *  - substring dedup shuffles 16-byte span digests, never spans;
  *  - the split shuffles 16-byte content digests, never documents.
  */
object CurationQueries {

  /** RAG-style chunking: overlapping 64-token windows advancing by
    * 48 tokens (overlap = 16). A document shorter than one window
    * yields exactly one chunk; the final chunk of a longer document may
    * be short. A window start is kept only if its chunk contributes at
    * least one NEW token (start 0, or start <= n - 17): a tail window
    * fully contained in its predecessor's 64 tokens would embed as a
    * pure duplicate. `chunk_md5` digests the space-rejoined window, so
    * the gate proves byte-identical chunk content cross-engine.
    *
    * Scale: one Generate per document, no shuffle at all — the chunker
    * is a map over the corpus, exactly what feeds an embedding or
    * indexing stage downstream. Chunk boundaries depend only on the
    * document itself, so the operation is embarrassingly parallel at
    * any corpus size.
    */
  def textChunkRag(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val W = 64
    val S = 48
    Tables.widened(Tables.documents(spark, dir))
      .select($"doc_id", TextFunctions.wsTokens($"text").as("t"))
      .filter(size($"t") > 0)
      .select($"doc_id", $"t",
        explode(sequence(lit(0), size($"t") - 1, lit(S))).as("s"))
      .filter($"s" === 0 || $"s" <= size($"t") - (W - S + 1))
      .select($"doc_id", ($"s" / S).cast("long").as("chunk_idx"),
        slice($"t", $"s" + 1, lit(W)).as("ctoks"))
      .select($"doc_id", $"chunk_idx",
        size($"ctoks").cast("long").as("n_tok"),
        md5(concat_ws(" ", $"ctoks")).as("chunk_md5"))
      .orderBy($"doc_id", $"chunk_idx")
  }

  /** Exact duplicated-substring measurement — the span-level dedup
    * signal of Lee et al.'s "Deduplicating Training Data Makes Language
    * Models Better" (suffix-array substring dedup), re-expressed for a
    * shuffle engine: every 20-token window is hashed, window
    * digests are frequency-counted corpus-wide, and each document
    * reports what fraction of its windows (in basis points) also occur
    * in another document.
    *
    * The corpus is documents ∪ a tail-truncated copy (tokens from
    * position 10 on) of every doc_id % 5 == 0 — partially-overlapping
    * near-copies that exact dedup misses but span counting catches,
    * built deterministically from the given table (the raw corpus has
    * no repeated 20-token spans).
    *
    * Scale posture: the shuffle carries (digest, doc_id) pairs — 24
    * bytes per window regardless of document size — and the per-doc
    * aggregation re-keys on doc_id. Nothing is pairwise: cost is
    * O(total tokens), not O(docs²). At 100 TB the same plan holds with
    * a winnowing step (TextFunctions.fingerprint) thinning windows
    * first; step-1 windows here keep the oracle exact.
    */
  def dedupSubstring(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val K = 20
    val toks = Tables.widened(Tables.documents(spark, dir))
      .filter(length(trim($"text")) > 0)
      .select($"doc_id", TextFunctions.wsTokens($"text").as("t"))
    val copies = toks.filter($"doc_id" % 5 === 0)
      .select(graft.Tables.synthId($"doc_id").as("doc_id"),
        slice($"t", lit(10), greatest(size($"t") - 9, lit(0))).as("t"))
    val corpus = toks.union(copies).filter(size($"t") >= K)

    // span digest = xxhash64 over the token slice: equality-preserving
    // with 2^-64 collision odds (the repo's digest convention), 8 bytes
    // on the shuffle instead of a 32-char md5 hex string, and no
    // per-window concat string is ever built. The DuckDB oracle groups
    // its own (md5) digests — only span EQUALITY is observable in the
    // output, so the engines need not share a hash function.
    // Deliberately NOT persisted: the span pipeline feeds both the
    // frequency aggregate and the per-doc join, but it is pure map
    // work over the scan (tokenize/explode/hash) — re-executing it
    // costs less than a cache materialization job at every scale
    // (measured at sf0.1: persist 2.0 s vs recompute 1.3 s), unlike
    // the dedup candidate subtrees, which cache a JOIN's output.
    val spans = corpus
      .select($"doc_id", $"t", explode(sequence(lit(1), size($"t") - (K - 1))).as("i"))
      .select($"doc_id", xxhash64(slice($"t", $"i", lit(K))).as("span"))

    // "occurs in >= 2 distinct docs" needs no distinct pass at all:
    // it is exactly min(doc_id) != max(doc_id) within the span group —
    // a plain map-side-combining hash aggregate, one shuffle cheaper
    // than the countDistinct/distinct formulations
    val freq = spans.groupBy($"span")
      .agg((min($"doc_id") =!= max($"doc_id")).as("dup"))

    spans.filter($"doc_id" < graft.Tables.SynthIdOffset)
      .join(freq, "span")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when($"dup", 1L).otherwise(0L)).as("n_dup_spans"))
      .select($"doc_id", $"n_spans", $"n_dup_spans",
        floor((lit(20000L) * $"n_dup_spans" + $"n_spans") / (lit(2L) * $"n_spans"))
          .cast("long").as("dup_bp"))
      .orderBy($"doc_id")
  }

  /** Exact duplicated-substring REMOVAL (round 10 — the rewrite, where
    * [[dedupSubstring]] only measures): Lee et al.'s ExactSubstr dedup
    * ("Deduplicating Training Data Makes Language Models Better" '21)
    * drops every duplicated span from all but its first occurrence.
    * Token contract: a token is removed iff it lies inside some
    * K=20-token window whose content occurs elsewhere in the corpus
    * (any document, the same document included) at an earlier
    * (doc_id, position); the FIRST occurrence of each duplicated span
    * survives, so one copy of every byte remains — the property that
    * separates span REMOVAL from naive span deletion. Overlapping and
    * adjacent removal windows union into merged intervals (pinned with
    * edge cases by CurationSpec). Output is the rewritten document:
    * exact md5 + counts, the text_pii_redact byte-parity posture.
    *
    * The corpus plants both duplication shapes: a tail-truncated copy
    * (+Tables.SynthIdOffset, doc_id % 5 == 0 — cross-doc spans, the original is first
    * and survives intact while the copy's overlap is erased) and an
    * intra-doc repeat (doc_id % 7 == 0 appends its own first 25
    * tokens — the head survives, the appended block is erased).
    *
    * Scale (dedup-family rule): span digests are xxhash64 over token
    * slices — the frequency aggregate and the keep-first argmin shuffle
    * 16-24 bytes per window; removal starts regroup as (doc_id, int)
    * pairs; document TEXT crosses an exchange exactly once, at the
    * rewrite join that co-partitions token arrays with their removal
    * intervals (same price as text_line_dedup's rewrite regroup — it
    * IS the output). The interval merge and token filter are per-row
    * array work bounded by the doc's own length. Nothing is pairwise
    * anywhere: cost stays O(total tokens) at any corpus size. */
  def dedupSubstringRewrite(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val K = 20
    val t0 = Tables.widened(Tables.documents(spark, dir))
      .filter(length(trim($"text")) > 0)
      .select($"doc_id", TextFunctions.wsTokens($"text").as("t"))
    val inj = t0.select($"doc_id",
      when($"doc_id" % 7 === 0 && size($"t") >= 25, concat($"t", slice($"t", 1, 25)))
        .otherwise($"t").as("t"))
    val copies = inj.filter($"doc_id" % 5 === 0)
      .select(graft.Tables.synthId($"doc_id").as("doc_id"),
        slice($"t", lit(10), greatest(size($"t") - 9, lit(0))).as("t"))
    val docs = inj.union(copies).filter(size($"t") >= 1)

    val spans = docs.filter(size($"t") >= K)
      .select($"doc_id", $"t", explode(sequence(lit(1), size($"t") - (K - 1))).as("i"))
      .select($"doc_id", $"i", xxhash64(slice($"t", $"i", lit(K))).as("span"))

    // keep-first: one partial aggregate finds each span's multiplicity
    // AND its first occurrence (lexicographic min over (doc_id, i)) —
    // no window function, no second pass over the corpus
    val freq = spans.groupBy($"span")
      .agg(count(lit(1)).as("n_occ"), min(struct($"doc_id", $"i")).as("first"))
      .filter($"n_occ" >= 2)

    val removalStarts = spans.join(freq, "span")
      .filter(!($"doc_id" === $"first.doc_id" && $"i" === $"first.i"))
      .groupBy($"doc_id").agg(sort_array(collect_list($"i")).as("starts"))

    docs.join(removalStarts, Seq("doc_id"), "left")
      .select($"doc_id", $"t",
        coalesce($"starts", array().cast("array<int>")).as("starts"))
      // sorted starts fold into disjoint merged intervals: window
      // [s, s+19] extends the last interval when it overlaps or is
      // adjacent (s <= hi+1), else opens a new one — the hi bound is
      // monotone because starts are ascending
      .withColumn("iv", expr(s"""
        aggregate(starts, CAST(array() AS array<struct<lo:int,hi:int>>),
          (acc, s) -> CASE WHEN size(acc) > 0 AND s <= element_at(acc, -1).hi + 1
            THEN concat(slice(acc, 1, size(acc) - 1),
              array(named_struct('lo', element_at(acc, -1).lo,
                'hi', greatest(element_at(acc, -1).hi, s + ${K - 1}))))
            ELSE concat(acc, array(named_struct('lo', s, 'hi', s + ${K - 1}))) END)"""))
      // kept tokens = the GAPS between merged intervals, materialized
      // as M+1 native slice() calls — NOT a per-token exists() lambda:
      // higher-order lambdas are interpreted per element, and an
      // O(tokens) interpreted loop measured 37x the cost of the span
      // pipeline itself at sf10 (282 s vs 7.5 s). Gap g reads tokens
      // [prev.hi+1, next.lo-1], with sentinels 1 and size(t) at the
      // ends; intervals are sorted and disjoint by construction, so
      // the slices concatenate in order.
      .withColumn("kept", expr(
        """flatten(transform(sequence(0, size(iv)),
          |  g -> slice(t,
          |    CASE WHEN g = 0 THEN 1 ELSE element_at(iv, g).hi + 1 END,
          |    (CASE WHEN g = size(iv) THEN size(t)
          |          ELSE element_at(iv, g + 1).lo - 1 END)
          |    - (CASE WHEN g = 0 THEN 1 ELSE element_at(iv, g).hi + 1 END) + 1)))""".stripMargin))
      .withColumn("clean", concat_ws(" ", $"kept"))
      .select($"doc_id",
        size($"t").cast("long").as("n_tok"),
        (size($"t") - size($"kept")).cast("long").as("n_removed"),
        length($"clean").cast("long").as("clean_chars"),
        md5($"clean").as("clean_md5"))
      .orderBy($"doc_id")
  }

  /** Corpus-level line dedup + boilerplate removal — the C4/Gopher
    * curation pass every crawl pipeline runs first (C4 drops lines
    * seen verbatim across pages and sub-3-word fragments; reference
    * capability class: filtering + io). Three rules, applied per line:
    *
    *   1. corpus boilerplate: the line occurs in >= 3 DISTINCT
    *      documents (nav bars, cookie notices, footers);
    *   2. fragment: fewer than 3 whitespace tokens;
    *   3. intra-doc repeat: an identical line appeared EARLIER in the
    *      same document (C4's per-page line dedup).
    *
    * The gate corpus is the documents table with deterministic
    * boilerplate planted per doc: a per-source "subscribe" line (25
    * docs share it), two global lines, a duplicated body for
    * doc_id % 6 == 0 (intra-doc rule's target — unique corpus-wide, so
    * only rule 3 can catch it) and a duplicated subscribe line for
    * doc_id % 4 == 0. Output is the REWRITTEN document: exact md5 +
    * char count, so the gate proves byte-identical rewrites
    * cross-engine (same posture as text_pii_redact).
    *
    * Scale (dedup-family rule: shuffles carry digests, never line
    * text): the corpus-frequency aggregate shuffles (xxhash64(line),
    * doc_id) — 16 bytes per line regardless of line length; the
    * boilerplate verdict set (lines in >= 3 docs) is tiny relative to
    * the corpus and joins back by BROADCAST against the map-side line
    * stream, so no text moves for the verdict either (above broadcast
    * size, flip the verdict join to a digest-keyed shuffle carrying
    * (doc_id, idx) pairs — still no text). Text crosses an exchange
    * exactly ONCE: the final per-doc regroup that assembles the
    * rewritten document, which is the operator's output and priced the
    * same as writing it. Rule 3's array_position probe is O(L²) in
    * lines-per-doc inside one row — at crawl-scale line counts (~10²)
    * that is thousands of comparisons per doc, cheaper than any
    * shuffle; for pathological million-line docs swap it for one
    * aggregate() pass building a seen-set, same map-side shape. */
  def textLineDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val subscribe = concat(lit("subscribe to "),
      coalesce($"source", lit("")), lit(" newsletter today"))
    // shared by exactly the 2 docs of a pair — df sits just BELOW the
    // >= 3 threshold, so the boundary is exercised from both sides
    val rare = concat(lit("rare banner for pair "),
      floor($"doc_id" / 2).cast("long").cast("string"))
    val body = coalesce($"text", lit(""))
    val lines = Tables.widened(Tables.documents(spark, dir))
      .select($"doc_id",
        split(concat(
          body,
          when(pmod($"doc_id", lit(6)) === 0, concat(lit("\n"), body))
            .otherwise(lit("")),
          lit("\n"), subscribe,
          when(pmod($"doc_id", lit(4)) === 0, concat(lit("\n"), subscribe))
            .otherwise(lit("")),
          lit("\n"), rare,
          lit("\nok bye\nall rights reserved worldwide")), "\n").as("arr"))
      .select($"doc_id", $"arr", posexplode($"arr").as(Seq("idx0", "line")))
      .select($"doc_id", $"idx0", $"line",
        size(TextFunctions.wsTokens($"line")).as("n_tok"),
        (array_position($"arr", $"line") === $"idx0" + 1).as("first_in_doc"),
        xxhash64($"line").as("lh"))

    // corpus doc-frequency over DIGESTS only; the >= 3-doc survivors
    // are the broadcast verdict set (line equality is all that's
    // observable downstream — the oracle groups raw lines instead,
    // same cross-engine argument as dedupSubstring)
    val boiler = lines.groupBy($"lh")
      .agg(countDistinct($"doc_id").as("df"))
      .filter($"df" >= 3)
      .select($"lh", lit(true).as("boilerplate"))

    lines
      .join(broadcast(boiler), Seq("lh"), "left")
      .select($"doc_id", $"idx0", $"line",
        ($"boilerplate".isNull && $"n_tok" >= 3 && $"first_in_doc").as("keep"))
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when($"keep", 1L).otherwise(0L)).as("n_kept"),
        md5(concat_ws("\n",
          transform(array_sort(collect_list(when($"keep", struct($"idx0", $"line")))),
            s => s.getField("line")))).as("clean_md5"),
        length(concat_ws("\n",
          transform(array_sort(collect_list(when($"keep", struct($"idx0", $"line")))),
            s => s.getField("line")))).cast("long").as("clean_chars"))
      .orderBy($"doc_id")
  }

  /** Per-source document cap — "keep the best N documents per domain",
    * the standard guard against one crawl source flooding the training
    * mix. Runs on the `graft_bottomk` TypedImperativeAggregate with the
    * sort key `(10000 - quality_bp, doc_id)` zero-padded so ascending
    * byte order IS (quality desc, doc_id asc): each task keeps at most
    * N rows per source in flight and the shuffle carries N rows per
    * (task, source) — a rank window would shuffle the whole corpus
    * first (same argument as q_sample_deterministic). quality_bp and
    * doc_id ride the shuffle packed into one long; the oracle states
    * the equivalent rank window in SQL.
    */
  def docsSourceCap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val Pack = 10000000000L // quality_bp * Pack + doc_id, both recoverable
    Tables.widened(Tables.documents(spark, dir))
      .select($"source", $"doc_id", TextFunctions.qualityScoreBp($"text").as("q_bp"))
      // the 10-digit pad and the packed long both require doc_id <
      // 1e10; beyond that lpad TRUNCATES and the pack bleeds into the
      // quality digits — fail loudly instead of silently mis-ranking
      .withColumn("doc_id",
        when($"doc_id".between(0L, Pack - 1L), $"doc_id")
          .otherwise(raise_error(concat(
            lit("docs_source_cap: doc_id out of packable range [0, 1e10): "),
            $"doc_id".cast("string")))))
      .select($"source",
        concat(lpad((lit(10000L) - $"q_bp").cast("string"), 5, "0"),
          lpad($"doc_id".cast("string"), 10, "0")).as("key"),
        ($"q_bp" * Pack + $"doc_id").as("packed"))
      .groupBy($"source")
      .agg(GraftExtensions.column(BottomK, $"key", $"packed", lit(3)).as("top"))
      .select($"source", posexplode($"top").as(Seq("pos", "s")))
      .select($"source", ($"pos" + 1).cast("long").as("rk"),
        ($"s.value" % Pack).as("doc_id"),
        floor($"s.value" / Pack).cast("long").as("quality_bp"))
      .orderBy($"source", $"rk")
  }

  /** Leakage-safe stratified train/test split. The split decision is
    * made per CONTENT CLUSTER, not per document: documents are grouped
    * by normalized-text digest, each cluster's representative is its
    * minimum doc_id, and the whole cluster follows the representative's
    * deterministic hash draw (sha256 hex prefix < 'e6666666' ≈ 90%
    * train). Duplicate twins therefore never straddle the split — the
    * classic eval-contamination bug in naive per-row splits. The corpus
    * is documents ∪ an id-shifted copy so every cluster genuinely has
    * two members to keep together.
    *
    * Scale: two digest-keyed shuffles (cluster assembly, per-cluster
    * rep join) and a tiny (lang, split) aggregate — no text movement,
    * no window over a low-cardinality key. At 100 TB the same shape
    * holds with the near-dup cluster labels from dedup_minhash_lsh
    * substituted for exact digests.
    */
  /** Per-document split assignment — the reusable core of
    * [[splitTrainTest]]: (doc_id, lang, dg, rep, split). Exposed so
    * callers (and the leakage spec) can check the DOCUMENT-level
    * contract, not just the aggregate. */
  def assignSplits(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.widened(Tables.documents(spark, dir))
      .select($"doc_id", $"lang", $"text")
    // The planted twin (same text under doc_id + 1e6) fans out via a
    // map-side explode AFTER the digest projection, so normalize + sha
    // run once per source doc (the digest sits below the Generate; an
    // explode in the same select would re-evaluate it per fanned row).
    // The earlier self-union form evaluated the whole scan + digest
    // subtree once per union branch per consumer — with the join's two
    // consumers (probe side + rep aggregate) that was FOUR corpus
    // digest passes for identical output; sf100 measured it at 328 s
    // vs 4.35 s at sf10. The digest frame is slim (id, lang, 32-byte
    // digest — no text), so persisting it caps the heavy work at one
    // pass regardless of consumer count.
    val digests = docs
      .withColumn("dg", TextFunctions.normalizedDigest($"text"))
      .select(explode(array($"doc_id", graft.Tables.synthId($"doc_id"))).as("doc_id"),
        $"lang", $"dg")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize in a single-stage job BEFORE wiring up the two
    // consumers: their stages have no dependency on each other, so the
    // scheduler runs both concurrently and the cache does NOT dedupe
    // in-flight partition computation — without this count the "one
    // digest pass" claim above only holds on re-execution
    digests.count()
    val reps = digests.groupBy($"dg").agg(min($"doc_id").as("rep"))

    graft.CacheLedger.keep("assign_splits", digests.join(reps, "dg")
      .withColumn("split",
        when(substring(sha2($"rep".cast("string"), 256), 1, 8) < "e6666666", "train")
          .otherwise("test")), digests)
  }

  def splitTrainTest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    assignSplits(spark, dir)
      .groupBy($"lang", $"split")
      .agg(count(lit(1)).as("n_docs"), countDistinct($"rep").as("n_clusters"))
      .orderBy($"lang", $"split")
  }

  /** Per-language length-outlier trimming — the "drop the truncated
    * fragments and the concatenation blobs" pass every curation
    * pipeline runs, with the band computed PER LANGUAGE (a 50-char
    * Chinese document is normal; a 50-char German one is a fragment).
    *
    * Exact order-statistic contract (so the gate hashes): with n docs
    * in a language and k = n div 100, the band is [lo, hi] where lo =
    * the (k+1)-th smallest n_chars and hi = the (n−k)-th smallest —
    * i.e. the 1st/99th percentile VALUES of the sorted multiset. Docs
    * with n_chars outside [lo, hi] are dropped; ties AT the cut values
    * always survive (a value-based, not row-based, trim — deterministic
    * under any row order). Output is the per-language report:
    * band, totals, kept counts, kept char mass.
    *
    * Plan at 100 TB — NO global sort, NO per-language row_number: a
    * window ranking docs inside each language would sort the corpus
    * with one task per language (few languages = few tasks = the skew
    * anti-pattern). Instead the cuts come from the per-(lang, n_chars)
    * VALUE HISTOGRAM — cardinality = distinct lengths per language,
    * thousands of rows regardless of corpus size — via a running sum
    * over that tiny frame; the corpus itself is touched by exactly two
    * map-side passes (histogram build, band filter) with partial-agg
    * shuffles of counter rows only. */
  def filterLengthOutliers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"lang", $"n_chars")
    // tiny frame: (lang, n_chars, cnt) — distinct lengths per language
    val hist = docs.groupBy($"lang", $"n_chars").agg(count(lit(1)).as("cnt"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"n_chars")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = hist
      .withColumn("cum", sum($"cnt").over(wCum))
      .withColumn("n", sum($"cnt").over(org.apache.spark.sql.expressions.Window.partitionBy($"lang")))
      .withColumn("k", expr("n div 100"))
    // lo = smallest value whose cumulative count reaches k+1;
    // hi = smallest value whose cumulative count reaches n-k
    val cuts = cum.groupBy($"lang")
      .agg(min(when($"cum" >= $"k" + 1, $"n_chars")).as("lo_chars"),
        min(when($"cum" >= $"n" - $"k", $"n_chars")).as("hi_chars"),
        min($"n").as("n_total")) // constant per lang; min is order-insensitive
    docs.join(broadcast(cuts), "lang")
      .groupBy($"lang", $"lo_chars", $"hi_chars", $"n_total")
      .agg(
        sum(when($"n_chars".between($"lo_chars", $"hi_chars"), 1L).otherwise(0L)).as("n_kept"),
        sum(when($"n_chars".between($"lo_chars", $"hi_chars"), $"n_chars").otherwise(0L)).as("kept_chars"))
      .orderBy($"lang")
  }

  /** Per-document content novelty under ingestion order — the
    * curriculum / dedup-direction signal: what fraction of a doc's
    * distinct word-3-gram shingles occur FIRST in this doc (doc_id as
    * arrival order) versus being inherited from earlier corpus
    * documents. A low-novelty doc is mostly restating what the corpus
    * already holds (the redundancy that substring/fuzzy dedup then
    * removes); pipelines use the score to order training data or to
    * drop late echoes outright.
    *
    * Plan: distinct (doc, gram) explode → grams hashed to 64 bits at
    * the scan (the dedup-family rule: shuffles carry longs, never
    * gram strings; collision odds ~n·|S|·2^-64, the oracle's raw-string
    * grouping agrees at every gate scale) → TWO independent aggregates
    * over the shared exploded frame: per-doc distinct-gram counts
    * (doc-keyed combine) and per-gram first occurrence (gram-keyed
    * min) immediately re-aggregated to per-doc novel counts — "novel
    * in doc D" ≡ "first_doc = D", so the novel count needs NO join
    * back at (gram) granularity (the first formulation joined the
    * first-occurrence table against every (doc, gram) row — a
    * corpus-of-grams-sized shuffle that the sf100 study priced at
    * ~2x the whole query; both aggregate outputs here are doc-count-
    * sized scalars and their join is trivial at any scale).
    * novelty_bp = round-half-up(10000 · novel / n_grams) in exact
    * integer arithmetic (the j_bp pattern). */
  def textNgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // persisted: feeds both aggregates — two executions of the
    // scan+explode otherwise
    val ex = Tables.widened(Tables.documents(spark, dir))
      .select($"doc_id", explode(
        graft.similarity.Similarity.wordNgrams(TextFunctions.wsTokens($"text"), 3)).as("gram"))
      .select($"doc_id", xxhash64($"gram").as("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perDoc = ex.groupBy($"doc_id").agg(count(lit(1)).as("n_grams"))
    val novelPerDoc = ex.groupBy($"g").agg(min($"doc_id").as("first_doc"))
      .groupBy($"first_doc".as("doc_id")).agg(count(lit(1)).as("novel"))
    // left: a doc whose every gram first occurred earlier has no
    // novelPerDoc row — it scores 0, it does not disappear
    graft.CacheLedger.keep("text_ngram_novelty", perDoc.join(novelPerDoc, Seq("doc_id"), "left")
      .select($"doc_id", $"n_grams", coalesce($"novel", lit(0L)).as("novel"))
      .select($"doc_id", $"n_grams", $"novel",
        floor((lit(20000L) * $"novel" + $"n_grams") / (lit(2L) * $"n_grams"))
          .cast("long").as("novelty_bp")), ex)
      .orderBy($"doc_id")
  }
}
