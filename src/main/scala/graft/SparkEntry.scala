package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Analytics, AnnQueries, ClusterQueries, CorpusQueries, CurationQueries, DedupQueries, EventQueries, FilterQueries, GraphQueries, HeavyHitterQueries, ImageDedupQueries, IoQueries, IvfQueries, MaintenanceQueries, MultimodalQueries, PipelineQueries, PqQueries, SampleQueries, TextQueries, UrlQueries}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Every implemented operator has a `queries` entry keyed as in
  * SURVEY.md §2; SQL-expressible ones also have an `oracleSql` entry
  * (DuckDB, same parquet tables). Column names are aliased identically
  * on both sides; doubles are rounded on both sides.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary"       -> (Analytics.q1PricingSummary _),
    "q3_shipping_priority"     -> (Analytics.q3ShippingPriority _),
    "q5_local_supplier_volume" -> (Analytics.q5LocalSupplierVolume _),
    "q6_revenue_forecast"      -> (Analytics.q6RevenueForecast _),
    "q_window_top_customers"   -> (Analytics.qWindowTopCustomers _),
    "q_semijoin_priority"      -> (Analytics.qSemijoinPriority _),
    "q_antijoin_parts"         -> (Analytics.qAntijoinParts _),
    "q_rollup_sales"           -> (Analytics.qRollupSales _),
    "q_range_join"             -> (Analytics.qRangeJoin _),
    "q_group_quantiles"        -> (Analytics.qGroupQuantiles _),
    "q_pivot_events"           -> (Analytics.qPivotEvents _),
    "q_sample_deterministic"   -> (SampleQueries.qSampleDeterministic _),
    "q_sketch_stats"           -> (Analytics.qSketchStats _),
    "q_sample_mixture"         -> (PipelineQueries.qSampleMixture _),
    "io_dsv_roundtrip"         -> (IoQueries.ioDsvRoundtrip _),
    "io_jsonlines_roundtrip"   -> (IoQueries.ioJsonlinesRoundtrip _),
    "io_partitioned_roundtrip" -> (IoQueries.ioPartitionedRoundtrip _),
    "io_orc_roundtrip"         -> (IoQueries.ioOrcRoundtrip _),
    "filter_events_basic"      -> (FilterQueries.filterEventsBasic _),
    "filter_events_nested"     -> (FilterQueries.filterEventsNested _),
    "filter_events_prefix_anybut" -> (FilterQueries.filterEventsPrefixAnybut _),
    "text_token_count"         -> (TextQueries.textTokenCount _),
    "text_quality_score"       -> (TextQueries.textQualityScore _),
    "text_language_id"         -> (TextQueries.textLanguageId _),
    "text_fingerprint"         -> (TextQueries.textFingerprint _),
    "text_normalize"           -> (TextQueries.textNormalize _),
    "text_repetition"          -> (TextQueries.textRepetition _),
    "text_curate"              -> (TextQueries.textCurate _),
    "dedup_exact"              -> (DedupQueries.dedupExact _),
    "dedup_ngram_jaccard"      -> (DedupQueries.dedupNgramJaccard _),
    "dedup_minhash_lsh"        -> (DedupQueries.dedupMinhashLsh _),
    "dedup_simhash"            -> (DedupQueries.dedupSimhash _),
    "dedup_embedding_cosine"   -> (DedupQueries.dedupEmbeddingCosine _),
    "ann_bruteforce_topk"      -> (AnnQueries.annBruteforceTopk _),
    "ann_lsh_topk"             -> (AnnQueries.annLshTopk _),
    "ann_ivf_topk"             -> (IvfQueries.annIvfTopk _),
    "events_windowed_agg"      -> (EventQueries.eventsWindowedAgg _),
    "events_sessionize"        -> (EventQueries.eventsSessionize _),
    "events_asof_orders"       -> (EventQueries.eventsAsofOrders _),
    "events_attribution"       -> (EventQueries.eventsAttribution _),
    "multimodal_pipeline"      -> (MultimodalQueries.multimodalPipeline _),
    "multimodal_meta"          -> (MultimodalQueries.multimodalMeta _),
    "multimodal_decode"        -> (MultimodalQueries.multimodalDecode _),
    "multimodal_resize"        -> (MultimodalQueries.multimodalResize _),
    "multimodal_audio"         -> (MultimodalQueries.multimodalAudio _),
    "multimodal_video"         -> (MultimodalQueries.multimodalVideo _),
    "dedup_image_phash"        -> (ImageDedupQueries.dedupImagePhash _),
    "text_pii_redact"          -> (PipelineQueries.textPiiRedact _),
    "text_decontaminate"       -> (PipelineQueries.textDecontaminate _),
    "text_vocab"               -> (PipelineQueries.textVocab _),
    "text_pack_sequences"      -> ((s: SparkSession, d: String) => PipelineQueries.textPackSequences(s, d)),
    "events_funnel"            -> (PipelineQueries.eventsFunnel _),
    "events_retention"         -> (PipelineQueries.eventsRetention _),
    "events_anomaly"           -> (PipelineQueries.eventsAnomaly _),
    "events_paths"             -> (PipelineQueries.eventsPaths _),
    "text_keywords"            -> (PipelineQueries.textKeywords _),
    "embed_centroid"           -> (PipelineQueries.embedCentroid _),
    "dedup_incremental"        -> (PipelineQueries.dedupIncremental _),
    "docs_source_stats"        -> (CorpusQueries.docsSourceStats _),
    "text_bm25"                -> (CorpusQueries.textBm25 _),
    "text_lm_score"            -> (CorpusQueries.textLmScore _),
    // the 100 TB posture: model thresholded to its head + broadcast
    "text_lm_score_head"       -> ((s: SparkSession, d: String) =>
      CorpusQueries.textLmScoreHead(s, d)),
    "docs_quality_buckets_head" -> ((s: SparkSession, d: String) =>
      CorpusQueries.docsQualityBucketsHead(s, d)),
    // rows-only gate: LSH banding + cosine aren't SQL-expressible;
    // PipelineSpec pins equality with all-pairs brute force
    "text_decontaminate_semantic" -> (PipelineQueries.textDecontaminateSemantic _),
    // HASH gate since r11: encode under the FIXTURE merge table
    // (encoding is deterministic given ranks, so DuckDB replays each
    // merge as a string replace — CorpusQueries.bpeFixtureOracleSql is
    // generated from the same vector); the TRAINER stays covered by
    // BpeSpec's hand-computed merges + the ModelIO train/serve path
    "text_bpe_encode"          -> (CorpusQueries.textBpeEncodeFixture _),
    "io_merge_upsert"          -> (IoQueries.ioMergeUpsert _),
    "text_chunk_rag"           -> (CurationQueries.textChunkRag _),
    "dedup_substring"          -> (CurationQueries.dedupSubstring _),
    "dedup_substring_rewrite"  -> (CurationQueries.dedupSubstringRewrite _),
    "text_line_dedup"          -> (CurationQueries.textLineDedup _),
    "url_domain_stats"         -> (UrlQueries.urlDomainStats _),
    "url_dedup"                -> (UrlQueries.urlDedup _),
    "split_train_test"         -> (CurationQueries.splitTrainTest _),
    "q_heavy_hitters"          -> (HeavyHitterQueries.qHeavyHitters _),
    "q_bloom_prune_join"       -> (HeavyHitterQueries.qBloomPruneJoin _),
    "docs_source_cap"          -> (CurationQueries.docsSourceCap _),
    "io_schema_evolution"      -> (IoQueries.ioSchemaEvolution _),
    "events_sliding_window"    -> (EventQueries.eventsSlidingWindow _),
    "ann_pq_topk"              -> (PqQueries.annPqTopk _),
    "events_gap_fill"          -> (EventQueries.eventsGapFill _),
    "q_incremental_agg"        -> (MaintenanceQueries.qIncrementalAgg _),
    "io_scd2_history"          -> (MaintenanceQueries.ioScd2History _),
    "dedup_edit_blocked"       -> (DedupQueries.dedupEditBlocked _),
    "graph_components"         -> (GraphQueries.graphComponents _),
    "io_stats_prune_scan"      -> (IoQueries.ioStatsPruneScan _),
    "io_export_shards"         -> (IoQueries.ioExportShards _),
    "io_profile_columns"       -> (IoQueries.ioProfileColumns _),
    "events_dedup_window"      -> (EventQueries.eventsDedupWindow _),
    "text_classifier_score"    -> (TextQueries.textClassifierScore _),
    "ann_mmr_rerank"           -> (AnnQueries.annMmrRerank _),
    "io_scd2_asof"             -> (MaintenanceQueries.ioScd2Asof _),
    "q_sample_weighted"        -> (SampleQueries.qSampleWeighted _),
    "text_vocab_sketch"        -> ((s: SparkSession, d: String) =>
      PipelineQueries.textVocabSketch(s, d)),
    "graph_pagerank"           -> (GraphQueries.graphPagerank _),
    "io_snapshot_diff"         -> (MaintenanceQueries.ioSnapshotDiff _),
    "filter_length_outliers"   -> (CurationQueries.filterLengthOutliers _),
    // rows-only gate: k-means training isn't SQL-expressible;
    // ClusterSpec pins assignment, partition, and determinism
    "doc_cluster_kmeans"       -> (ClusterQueries.docClusterKmeans _),
    "embed_hard_negatives"     -> (AnnQueries.embedHardNegatives _),
    "dedup_cluster_rep"        -> (DedupQueries.dedupClusterRep _),
    "docs_quality_buckets"     -> (CorpusQueries.docsQualityBuckets _),
    "text_ngram_novelty"       -> (CurationQueries.textNgramNovelty _),
    "embed_int8_quantize"      -> (PqQueries.embedInt8Quantize _),
    // served twins: the SAME result answered from a PERSISTED ModelIO
    // artifact (train → save → load → serve); the LM head one is
    // hash-gated against the inline twin's oracle, the IVF one is
    // rows-only (same as its twin) with IvfSpec pinning bit-equality
    "text_lm_score_head_served" -> ((s: SparkSession, d: String) =>
      CorpusQueries.textLmScoreHeadServed(s, d)),
    "ann_ivf_topk_served"      -> (IvfQueries.annIvfTopkServed _),
  )

  /** Shared by the inline-trained and served LM-head gate queries —
    * the served twin must hash-match the SAME oracle, which is what
    * makes its CORRECTNESS entry a proof of the persisted-artifact
    * path. */
  private val LmHeadOracle: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    CASE WHEN length(trim(text)) = 0 THEN []
      |         ELSE string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') END AS t
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
      |  FROM toks WHERE len(t) >= 2),
      |c2 AS (SELECT g, CAST(count(*) AS BIGINT) AS c2 FROM grams GROUP BY g),
      |c1 AS (SELECT split_part(g, ' ', 1) AS w1, CAST(sum(c2) AS BIGINT) AS c1
      |       FROM c2 GROUP BY 1),
      |model AS (
      |  SELECT g, CAST(floor(10000 * c2.c2 / c1.c1) AS BIGINT) AS bp
      |  FROM c2 JOIN c1 ON split_part(c2.g, ' ', 1) = c1.w1
      |  WHERE c2.c2 >= 2)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |  CAST(sum(coalesce(bp, 0)) AS BIGINT) AS sum_bp,
      |  CAST(floor(CAST(sum(coalesce(bp, 0)) AS BIGINT) / count(*)) AS BIGINT) AS avg_bp
      |FROM grams LEFT JOIN model USING (g)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** DuckDB-runnable oracles, same table names, same output column names. */
  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2) AS sum_charge,
        |  ((2 * CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) * 10000
        |    + count(*)) // (2 * count(*))) / 10000.0 AS avg_qty,
        |  ((2 * CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) * 100
        |    + count(*)) // (2 * count(*))) / 10000.0 AS avg_price,
        |  ((2 * CAST(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT) * 100
        |    + count(*)) // (2 * count(*))) / 10000.0 AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_shipping_priority" ->
      """SELECT l_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  o_orderpriority,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1996-06-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1996-06-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,

    "q5_local_supplier_volume" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE c_nationkey = s_nationkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    "q6_revenue_forecast" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,

    "q_window_top_customers" ->
      """SELECT c_mktsegment, rk, o_orderkey, o_totalprice, c_name FROM (
        |  SELECT c_mktsegment,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rk,
        |    o_orderkey, round(o_totalprice, 2) AS o_totalprice, c_name
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |) WHERE rk <= 3
        |ORDER BY c_mktsegment, rk""".stripMargin,

    "q_semijoin_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-03-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-09-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // exact-integer average: cent-quantized sum, one shared IEEE
    // division + floor (round(avg(..), 2) flaked one cell at sf0.1 —
    // the true average sat exactly on a half-cent boundary and the
    // engines' summation orders rounded opposite ways)
    "q_antijoin_parts" ->
      """SELECT p_brand, count(*) AS n_parts,
        |  ((2 * CAST(sum(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    + count(*)) // (2 * count(*))) / 100.0 AS avg_price
        |FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |                  WHERE l_partkey = p_partkey AND l_quantity >= 48)
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,

    "q_rollup_sales" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_extendedprice), 2) AS total_price,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q_sample_deterministic" ->
      """SELECT event_type, rk, event_id FROM (
        |  SELECT event_type, event_id,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY sha256(CAST(event_id AS VARCHAR)), event_id) AS BIGINT) AS rk
        |  FROM events)
        |WHERE rk <= 5 ORDER BY event_type, rk""".stripMargin,

    // Efraimidis-Spirakis weighted sample, hash-gated (r11): the draw
    // is 52 sha256 bits (bit-identical in DuckDB; '0x'-cast = Spark's
    // conv(hex,16,10)), the key pow(u, 1/w) restated verbatim. The key
    // is not an output column — only the per-lang order matters, and
    // adjacent keys are ~1/n apart, far above pow ULP wobble.
    "q_sample_weighted" ->
      """WITH k AS (
        |  SELECT doc_id, lang, CAST(length(text) AS DOUBLE) AS w,
        |    (('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 1.0)
        |      / 4503599627370498.0 AS u
        |  FROM documents WHERE length(text) > 0),
        |r AS (
        |  SELECT lang, doc_id, CAST(w AS BIGINT) AS weight,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY pow(u, 1.0 / w) DESC, doc_id) AS BIGINT) AS rk
        |  FROM k)
        |SELECT lang, rk, doc_id, weight FROM r
        |WHERE rk <= 5 ORDER BY lang, rk""".stripMargin,

    "q_pivot_events" ->
      """SELECT event_type,
        |  count(*) FILTER (WHERE date_part('dow', ts) = 0) AS "0",
        |  count(*) FILTER (WHERE date_part('dow', ts) = 1) AS "1",
        |  count(*) FILTER (WHERE date_part('dow', ts) = 2) AS "2",
        |  count(*) FILTER (WHERE date_part('dow', ts) = 3) AS "3",
        |  count(*) FILTER (WHERE date_part('dow', ts) = 4) AS "4",
        |  count(*) FILTER (WHERE date_part('dow', ts) = 5) AS "5",
        |  count(*) FILTER (WHERE date_part('dow', ts) = 6) AS "6"
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_group_quantiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.9) AS p90,
        |  quantile_cont(l_quantity, 0.99) AS p99,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_range_join" ->
      """SELECT p_brand, count(*) AS n,
        |  CAST(sum(floor(l_extendedprice / l_quantity)) AS BIGINT) AS sum_unit_floor,
        |  count(DISTINCT p_partkey) AS n_parts
        |FROM lineitem JOIN part
        |  ON l_extendedprice / l_quantity BETWEEN p_retailprice - 2 AND p_retailprice + 2
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    // io_* oracles aggregate the ORIGINAL parquet: a hash match proves
    // the write→read roundtrip through the format was lossless.
    "io_dsv_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price,
        |  CAST(sum(l_orderkey) AS BIGINT) AS sum_okey,
        |  CAST(sum(l_partkey) AS BIGINT) AS sum_pkey
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "io_jsonlines_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_okey,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "io_partitioned_roundtrip" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS sum_id,
        |  round(sum(value), 2) AS sum_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events WHERE event_type IN ('purchase', 'signup')
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "io_orc_roundtrip" ->
      """SELECT p_brand, count(*) AS n,
        |  CAST(sum(p_partkey) AS BIGINT) AS sum_pkey,
        |  round(sum(p_retailprice), 2) AS sum_price
        |FROM part WHERE p_size >= 25
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    // filter_* oracles restate the compiled filter document as plain SQL
    "filter_events_basic" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events
        |WHERE event_type = 'purchase'
        |   OR (event_type = 'click' AND value >= 50)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "filter_events_nested" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS DOUBLE) > 20
        |  AND CAST(json_extract_string(props, '$.k') AS DOUBLE) <= 60
        |  AND user_id < 100
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "filter_events_prefix_anybut" ->
      """SELECT event_type, count(*) AS n,
        |  ((2 * CAST(sum(CAST(floor((CASE WHEN isnan(value) OR isinf(value) THEN NULL ELSE value END) * 10000 + 0.5) AS BIGINT)) AS BIGINT)
        |    + count(*)) // (2 * count(*))) / 10000.0 AS avg_value
        |FROM events
        |WHERE event_type LIKE 's%'
        |   OR (event_type NOT IN ('click', 'view', 'error') AND value < 10)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // text_* oracles restate the same expression pipeline in DuckDB SQL;
    // language_id and fingerprint are heuristic/hash outputs → rows-only.
    // BPE encode under the fixture merge table — SQL generated from
    // CorpusQueries.FixtureMerges itself (the UrlFunctions.SqlAlts
    // posture: one source of truth, the engines cannot drift)
    "text_bpe_encode" -> graft.operators.CorpusQueries.bpeFixtureOracleSql,

    "text_token_count" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) END AS BIGINT) AS n_ws,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]')) AS BIGINT) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,

    // integer-basis-point closed form mirroring TextFunctions.qualityScoreBp:
    // N = 2mtc + 750hc + 750(c-p)t, D = 2500tc, q_bp = floor((10000N + D/2)/D)
    "text_quality_score" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(greatest(length(text), 1) AS BIGINT) AS c,
        |    CAST(least(length(text), 500) AS BIGINT) AS m,
        |    CAST(greatest(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) END, 1) AS BIGINT) AS t,
        |    CAST(len(list_filter(
        |         CASE WHEN length(trim(text)) = 0 THEN []
        |              ELSE string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') END,
        |         tok -> list_contains(['the','a','an','of','and','to','in','is','it','that'], tok))) AS BIGINT) AS h,
        |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 \t\n\x0B\f\r]')) AS BIGINT) AS p
        |  FROM documents)
        |SELECT doc_id, n_chars,
        |  CAST(floor((20000 * p + c) / (2.0 * c)) AS BIGINT) AS punct_bp,
        |  CAST(floor((10000.0 * (2*m*t*c + 750*h*c + 750*(c-p)*t) + 1250.0*t*c)
        |       / (2500.0*t*c)) AS BIGINT) AS quality_bp
        |FROM base ORDER BY doc_id""".stripMargin,

    "text_normalize" ->
      """SELECT doc_id,
        |  CAST(length(norm) AS BIGINT) AS norm_chars,
        |  md5(norm) AS norm_md5
        |FROM (SELECT doc_id,
        |        lower(regexp_replace(trim(text), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS norm
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // the curation pipeline composed from the already-verified pieces:
    // quality formula, language argmax, normalization digest
    "text_curate" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(trim(text)) = 0 THEN []
        |         ELSE string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') END AS t
        |  FROM documents),
        |q AS (
        |  SELECT doc_id,
        |    CAST(floor((10000.0 * (2*m*t*c + 750*h*c + 750*(c-p)*t) + 1250.0*t*c)
        |         / (2500.0*t*c)) AS BIGINT) AS quality_bp
        |  FROM (SELECT doc_id,
        |      CAST(greatest(length(text), 1) AS BIGINT) AS c,
        |      CAST(least(length(text), 500) AS BIGINT) AS m,
        |      CAST(greatest(len(t), 1) AS BIGINT) AS t,
        |      CAST(len(list_filter(t, tok -> list_contains(['the','a','an','of','and','to','in','is','it','that'], tok))) AS BIGINT) AS h,
        |      CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 \t\n\x0B\f\r]')) AS BIGINT) AS p
        |    FROM base)),
        |scores AS (
        |  SELECT doc_id, 'en' AS cand,
        |    CAST(len(list_filter(t, x -> list_contains(['the','a','of','and','to','in','is','that','it','for'], x))) AS DOUBLE) / greatest(len(t), 1) AS score FROM base
        |  UNION ALL
        |  SELECT doc_id, 'de',
        |    CAST(len(list_filter(t, x -> list_contains(['der','die','das','und','ist','nicht','ein','zu','mit','auf'], x))) AS DOUBLE) / greatest(len(t), 1) FROM base
        |  UNION ALL
        |  SELECT doc_id, 'fr',
        |    CAST(len(list_filter(t, x -> list_contains(['le','la','les','et','est','une','que','pour','dans','pas'], x))) AS DOUBLE) / greatest(len(t), 1) FROM base
        |  UNION ALL
        |  SELECT doc_id, 'es',
        |    CAST(len(list_filter(t, x -> list_contains(['el','la','los','y','es','una','que','por','con','para'], x))) AS DOUBLE) / greatest(len(t), 1) FROM base
        |  UNION ALL
        |  SELECT doc_id, 'zh',
        |    CAST(len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS DOUBLE) / greatest(length(text), 1) FROM base),
        |best AS (
        |  SELECT doc_id, cand FROM (
        |    SELECT doc_id, cand,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand DESC) AS rn
        |    FROM scores) WHERE rn = 1),
        |kept AS (
        |  SELECT b.doc_id,
        |    md5(lower(regexp_replace(trim(d.text), '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS dg,
        |    q.quality_bp
        |  FROM best b JOIN q USING (doc_id) JOIN documents d USING (doc_id)
        |  WHERE q.quality_bp >= 4000 AND b.cand = 'en'),
        |dedup AS (
        |  SELECT dg, min(doc_id) AS keep_id, max(quality_bp) AS qb
        |  FROM kept GROUP BY dg)
        |SELECT count(*) AS n_kept,
        |  CAST(sum(qb) AS BIGINT) AS sum_quality_bp,
        |  CAST(min(keep_id) AS BIGINT) AS min_id,
        |  CAST(max(keep_id) AS BIGINT) AS max_id
        |FROM dedup""".stripMargin,

    // docs with < 2 tokens produce no bigrams and are absent on both
    // sides; coverage in integer basis points
    "text_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN []
        |         ELSE string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') END AS t
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
        |  FROM toks WHERE len(t) >= 2),
        |counts AS (
        |  SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g)
        |SELECT doc_id,
        |  CAST(sum(c) AS BIGINT) AS n_bigrams,
        |  CAST(floor((20000 * max(c) + sum(c)) / (2.0 * sum(c))) AS BIGINT) AS top_bigram_bp
        |FROM counts GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // dedup_exact: oracle groups by full text (spark groups by sha256
    // digest — identical result barring a collision)
    "dedup_exact" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000, text FROM documents)
        |SELECT CAST(min(doc_id) AS BIGINT) AS keep_id,
        |  CAST(count(*) AS BIGINT) AS n_copies
        |FROM corpus GROUP BY text ORDER BY keep_id""".stripMargin,

    // dedup_ngram_jaccard: the oracle verifies the prefix-filtered join
    // against a brute-force all-pairs jaccard over word TRIGRAMS
    // (feasible only at oracle scale; the spark side never goes
    // quadratic, and hashes shingles to 64-bit longs — identical
    // results barring a 2^-64 collision)
    "dedup_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |grams AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
        |  FROM toks),
        |g2 AS (SELECT * FROM grams WHERE len(g) > 0),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.g, b.g)) AS BIGINT) AS inter,
        |    CAST(len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) AS BIGINT) AS uni
        |  FROM g2 a JOIN g2 b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b,
        |  CAST(floor((20000 * inter + uni) / (2.0 * uni)) AS BIGINT) AS j_bp
        |FROM pairs WHERE CAST(inter AS DOUBLE) / uni >= 0.7
        |ORDER BY id_a, id_b""".stripMargin,

    // both operands cast to DOUBLE[]: list_cosine_similarity over
    // FLOAT[] computes and returns single precision, while graft_cosine
    // accumulates in double, so a float oracle rounds a similarity near
    // a half-milli boundary to the other sim_mbp
    "ann_bruteforce_topk" ->
      """SELECT qid, rk, vid, CAST(floor(1000 * s + 0.5) AS BIGINT) AS sim_mbp
        |FROM (
        |  SELECT q.vec_id AS qid, e.vec_id AS vid,
        |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS s,
        |    CAST(row_number() OVER (
        |      PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) DESC,
        |               e.vec_id) AS BIGINT) AS rk
        |  FROM embeddings q JOIN embeddings e ON e.vec_id != q.vec_id
        |  WHERE q.vec_id < 10
        |    AND q.embedding IS NOT NULL AND e.embedding IS NOT NULL
        |    AND len(list_filter(q.embedding, x -> x IS NULL OR isnan(CAST(x AS DOUBLE)) OR abs(CAST(x AS DOUBLE)) > 3.4028235e38)) = 0
        |    AND len(list_filter(e.embedding, x -> x IS NULL OR isnan(CAST(x AS DOUBLE)) OR abs(CAST(x AS DOUBLE)) > 3.4028235e38)) = 0)
        |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,

    "events_windowed_agg" ->
      """SELECT CAST(epoch_ns(ts) // 3600000000000 * 3600 AS BIGINT) AS bucket_start_s,
        |  event_type, count(*) AS n, round(sum(value), 2) AS sum_value,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the right side is deduped per (custkey, orderdate) on both engines
    // so "most recent order" is unambiguous; DuckDB's native ASOF LEFT
    // JOIN states the same backward-inclusive semantics
    "events_asof_orders" ->
      """WITH ord AS (
        |  SELECT o_custkey, epoch_ns(o_orderdate) AS otn, o_orderpriority
        |  FROM orders
        |  QUALIFY row_number() OVER (PARTITION BY o_custkey, o_orderdate
        |                             ORDER BY o_orderkey DESC) = 1),
        |j AS (
        |  SELECT e.value, epoch_ns(e.ts) AS tsn, o.otn, o.o_orderpriority
        |  FROM events e ASOF LEFT JOIN ord o
        |    ON e.user_id = o.o_custkey AND epoch_ns(e.ts) >= o.otn)
        |SELECT coalesce(o_orderpriority, 'NONE') AS priority, count(*) AS n,
        |  round(sum(value), 2) AS sum_value,
        |  CAST(sum((tsn - otn) // 1000000000) AS BIGINT) AS sum_age_s
        |FROM j GROUP BY priority ORDER BY priority""".stripMargin,

    // the tolerance-bounded as-of: most-recent-click-or-null, nulled
    // when older than 1h (equivalent to "within 1h": any other click is
    // older than the most recent one)
    "events_attribution" ->
      """WITH clicks AS (
        |  SELECT user_id AS c_user, epoch_ns(ts) AS c_ts
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |purch AS (
        |  SELECT event_id, user_id, value, epoch_ns(ts) AS tsn
        |  FROM events WHERE event_type = 'purchase'),
        |j0 AS (
        |  SELECT p.event_id, p.value, p.tsn, c.c_ts AS raw_cts
        |  FROM purch p ASOF LEFT JOIN clicks c
        |    ON p.user_id = c.c_user AND p.tsn >= c.c_ts),
        |j AS (
        |  SELECT event_id, value, tsn,
        |    CASE WHEN raw_cts IS NOT NULL AND tsn - raw_cts <= 3600000000000
        |         THEN raw_cts END AS c_ts
        |  FROM j0)
        |SELECT (c_ts IS NOT NULL) AS attributed, count(*) AS n,
        |  round(sum(value), 2) AS sum_value,
        |  CAST(sum((tsn - c_ts) // 1000000000) AS BIGINT) AS sum_lag_s
        |FROM j GROUP BY attributed ORDER BY attributed""".stripMargin,

    // language_id restated: per-language stopword-hit ratio (CJK char
    // ratio for zh), argmax with ties to the lexicographically last
    // language — the same IEEE divisions on the same integer operands,
    // so the comparison is exact cross-engine
    "text_language_id" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, text,
        |    CASE WHEN length(trim(text)) = 0 THEN []
        |         ELSE string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') END AS t
        |  FROM documents),
        |scores AS (
        |  SELECT doc_id, lang, 'en' AS cand,
        |    CAST(len(list_filter(t, x -> list_contains(['the','a','of','and','to','in','is','that','it','for'], x))) AS DOUBLE) / greatest(len(t), 1) AS score FROM toks
        |  UNION ALL
        |  SELECT doc_id, lang, 'de',
        |    CAST(len(list_filter(t, x -> list_contains(['der','die','das','und','ist','nicht','ein','zu','mit','auf'], x))) AS DOUBLE) / greatest(len(t), 1) FROM toks
        |  UNION ALL
        |  SELECT doc_id, lang, 'fr',
        |    CAST(len(list_filter(t, x -> list_contains(['le','la','les','et','est','une','que','pour','dans','pas'], x))) AS DOUBLE) / greatest(len(t), 1) FROM toks
        |  UNION ALL
        |  SELECT doc_id, lang, 'es',
        |    CAST(len(list_filter(t, x -> list_contains(['el','la','los','y','es','una','que','por','con','para'], x))) AS DOUBLE) / greatest(len(t), 1) FROM toks
        |  UNION ALL
        |  SELECT doc_id, lang, 'zh',
        |    CAST(len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS DOUBLE) / greatest(length(text), 1) FROM toks),
        |best AS (
        |  SELECT doc_id, lang, cand,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand DESC) AS rn
        |  FROM scores)
        |SELECT lang, cand AS pred_lang, count(*) AS n
        |FROM best WHERE rn = 1
        |GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin,

    // the SQL-expressible half of the media pipeline: sizes, frame
    // sampling, resize plan (same double arithmetic both engines)
    "multimodal_meta" ->
      """SELECT doc_id AS media_id,
        |  (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS kind,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  CAST((doc_id % 300 + 1 + 9) // 10 AS BIGINT) AS frames_sampled,
        |  CAST(ceil((doc_id % 640 + 32) *
        |    least(1.0, 256.0 / greatest(doc_id % 640 + 32, doc_id % 480 + 32))) AS BIGINT) AS out_width,
        |  CAST(ceil((doc_id % 480 + 32) *
        |    least(1.0, 256.0 / greatest(doc_id % 640 + 32, doc_id % 480 + 32))) AS BIGINT) AS out_height
        |FROM documents ORDER BY media_id""".stripMargin,

    // the REAL-codec roundtrip gate: Spark encodes each deterministic
    // RGB image to actual PNG bytes and decodes them back via ImageIO;
    // the oracle never touches a codec — it enumerates the identical
    // pixel grid arithmetically. A hash match proves the decode path
    // reproduces every pixel bit-exactly.
    "multimodal_decode" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, doc_id % 48 + 16 AS w, doc_id % 32 + 16 AS h
        |  FROM documents),
        |px AS (SELECT media_id, w, h, unnest(range(w)) AS x FROM m),
        |pxy AS (SELECT media_id, w, h, x, unnest(range(h)) AS y FROM px)
        |SELECT media_id, CAST(max(w) AS BIGINT) AS width,
        |  CAST(max(h) AS BIGINT) AS height,
        |  count(*) AS n_pixels,
        |  CAST(sum((media_id*7 + 3*x + 5*y) % 256) AS BIGINT) AS r_sum,
        |  CAST(sum((media_id*11 + 5*x + 7*y) % 256) AS BIGINT) AS g_sum,
        |  CAST(sum((media_id*13 + 7*x + 11*y) % 256) AS BIGINT) AS b_sum
        |FROM pxy GROUP BY media_id ORDER BY media_id""".stripMargin,

    // decode + REAL nearest-neighbor resize gate: Spark resizes the
    // decoded raster (integer dims + source-pixel selection); the
    // oracle enumerates the identical sample grid arithmetically
    "multimodal_resize" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, doc_id % 48 + 16 AS w, doc_id % 32 + 16 AS h
        |  FROM documents),
        |o AS (
        |  SELECT media_id, w, h,
        |    CASE WHEN greatest(w,h) <= 16 THEN w ELSE (w*16 + greatest(w,h) - 1) // greatest(w,h) END AS ow,
        |    CASE WHEN greatest(w,h) <= 16 THEN h ELSE (h*16 + greatest(w,h) - 1) // greatest(w,h) END AS oh
        |  FROM m),
        |px AS (SELECT media_id, w, h, ow, oh, unnest(range(ow)) AS dx FROM o),
        |pxy AS (SELECT media_id, w, h, ow, oh, dx, unnest(range(oh)) AS dy FROM px),
        |s AS (SELECT media_id, ow, oh, (dx*w) // ow AS sx, (dy*h) // oh AS sy FROM pxy)
        |SELECT media_id, CAST(max(ow) AS BIGINT) AS out_width,
        |  CAST(max(oh) AS BIGINT) AS out_height,
        |  count(*) AS n_pixels,
        |  CAST(sum((media_id*7 + 3*sx + 5*sy) % 256) AS BIGINT) AS r_sum,
        |  CAST(sum((media_id*11 + 5*sx + 7*sy) % 256) AS BIGINT) AS g_sum,
        |  CAST(sum((media_id*13 + 7*sx + 11*sy) % 256) AS BIGINT) AS b_sum
        |FROM s GROUP BY media_id ORDER BY media_id""".stripMargin,

    // the REAL audio-codec roundtrip gate: Spark encodes each
    // deterministic stereo PCM clip to actual WAV bytes and decodes
    // them back via javax.sound.sampled; the oracle enumerates the
    // identical waveform arithmetically. A hash match proves the
    // decode path reproduces every 16-bit sample bit-exactly.
    "multimodal_audio" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, doc_id % 480 + 32 AS n,
        |    ([8000,16000,44100])[CAST(doc_id % 3 + 1 AS INT)] AS rate
        |  FROM documents),
        |s AS (SELECT media_id, n, rate, unnest(range(n)) AS i FROM m)
        |SELECT media_id,
        |  CAST(max(rate) AS BIGINT) AS sample_rate,
        |  CAST(2 AS BIGINT) AS n_channels,
        |  CAST(max(n) AS BIGINT) AS n_frames,
        |  CAST(sum(abs((media_id*7 + i*13) % 65536 - 32768)) AS BIGINT) AS c0_abs_sum,
        |  CAST(sum(abs((media_id*7 + i*13 + 31) % 65536 - 32768)) AS BIGINT) AS c1_abs_sum
        |FROM s GROUP BY media_id ORDER BY media_id""".stripMargin,

    // the REAL video-container roundtrip gate: Spark encodes each
    // deterministic BI_RGB frame sequence to actual AVI bytes (RIFF,
    // public spec) and parses them back with the zero-dependency RIFF
    // walk, frame-sampling every 10th frame; every 97th clip is
    // truncated to 32 bytes and must read as zero stats — the
    // corruption contract is part of the hash gate. The oracle
    // enumerates the sampled pixel grid arithmetically.
    "multimodal_video" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, doc_id % 24 + 8 AS w, doc_id % 16 + 8 AS h,
        |         doc_id % 30 + 1 AS nf, doc_id % 97 = 0 AS corrupt
        |  FROM documents),
        |f AS (SELECT media_id, w, h, nf, unnest(range(0, nf, 10)) AS fr
        |  FROM m WHERE NOT corrupt),
        |fx AS (SELECT media_id, w, h, nf, fr, unnest(range(w)) AS x FROM f),
        |fxy AS (SELECT media_id, w, h, nf, fr, x, unnest(range(h)) AS y FROM fx)
        |SELECT media_id, CAST(max(w) AS BIGINT) AS width,
        |  CAST(max(h) AS BIGINT) AS height,
        |  CAST(max(nf) AS BIGINT) AS n_frames,
        |  CAST((max(nf) + 9) // 10 AS BIGINT) AS frames_sampled,
        |  CAST(sum((media_id*7 + 3*x + 5*y + 17*fr) % 256) AS BIGINT) AS r_sum,
        |  CAST(sum((media_id*11 + 5*x + 7*y + 19*fr) % 256) AS BIGINT) AS g_sum,
        |  CAST(sum((media_id*13 + 7*x + 11*y + 23*fr) % 256) AS BIGINT) AS b_sum
        |FROM fxy GROUP BY media_id
        |UNION ALL
        |SELECT media_id, 0, 0, 0, 0, 0, 0, 0 FROM m WHERE corrupt
        |ORDER BY media_id""".stripMargin,

    // image near-dup dedup gate: Spark really encodes/decodes PNGs,
    // dHashes the decoded rasters, and finds hamming<=3 pairs via
    // Manku banding; the oracle enumerates the dHash sample grid
    // arithmetically (two 32-bit halves — a 64-bit sum would need
    // bit 63 and overflow BIGINT) and takes ALL-PAIRS xor/bit_count —
    // all-pairs is the oracle's job, never Spark's. Both blockings
    // are complete for hamming<=3, so the pair sets are identical.
    "dedup_image_phash" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, doc_id AS base, doc_id % 48 + 16 AS w,
        |         doc_id % 32 + 16 AS h, 1 AS sc, FALSE AS pert FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000, doc_id, doc_id % 48 + 16,
        |         doc_id % 32 + 16, 2, FALSE FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000000, doc_id, doc_id % 48 + 16,
        |         doc_id % 32 + 16, 1, TRUE FROM documents WHERE doc_id % 5 = 0),
        |g AS (SELECT media_id, base, w*sc AS ww, h*sc AS hh, sc, pert,
        |        unnest(range(8)) AS gy FROM m),
        |gg AS (SELECT media_id, base, ww, hh, sc, pert, gy, unnest(range(9)) AS gx FROM g),
        |s AS (SELECT media_id, base, sc, pert, gx, gy,
        |        (gx*ww) // 9 AS rx, (gy*hh) // 8 AS ry FROM gg),
        |l AS (SELECT media_id, gx, gy,
        |    CASE WHEN pert AND rx < 4 AND ry < 4 THEN
        |      299*(255 - ((base*7 + 73*(rx//sc) + 151*(ry//sc) + 29*(rx//sc)*(ry//sc) + base % 997) % 256))
        |      + 587*(255 - ((base*11 + 97*(rx//sc) + 131*(ry//sc) + 41*(rx//sc)*(ry//sc) + base % 991) % 256))
        |      + 114*(255 - ((base*13 + 59*(rx//sc) + 173*(ry//sc) + 37*(rx//sc)*(ry//sc) + base % 983) % 256))
        |    ELSE
        |      299*((base*7 + 73*(rx//sc) + 151*(ry//sc) + 29*(rx//sc)*(ry//sc) + base % 997) % 256)
        |      + 587*((base*11 + 97*(rx//sc) + 131*(ry//sc) + 41*(rx//sc)*(ry//sc) + base % 991) % 256)
        |      + 114*((base*13 + 59*(rx//sc) + 173*(ry//sc) + 37*(rx//sc)*(ry//sc) + base % 983) % 256)
        |    END AS luma FROM s),
        |bits AS (SELECT a.media_id, a.gy*8 + a.gx AS bit,
        |    CASE WHEN a.luma > b.luma THEN 1 ELSE 0 END AS v
        |  FROM l a JOIN l b ON b.media_id = a.media_id AND b.gy = a.gy AND b.gx = a.gx + 1
        |  WHERE a.gx < 8),
        |ph AS (SELECT media_id,
        |    sum(CASE WHEN bit < 32 THEN v * (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS lo,
        |    sum(CASE WHEN bit >= 32 THEN v * (CAST(1 AS BIGINT) << (bit - 32)) ELSE 0 END) AS hi
        |  FROM bits GROUP BY media_id),
        |pairs AS (SELECT x.media_id AS id_a, y.media_id AS id_b,
        |    bit_count(xor(x.lo, y.lo)) + bit_count(xor(x.hi, y.hi)) AS hamming
        |  FROM ph x JOIN ph y ON x.media_id < y.media_id)
        |SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
        |FROM pairs WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin,

    // substring-dedup REWRITE: keep-first occurrence semantics stated
    // as window functions (rn=1 over (doc_id, i)); coverage as
    // per-position set union where Spark merges intervals — identical
    // token-kept sets; md5 of the rewritten doc proves byte parity.
    // The oracle groups md5 span digests where Spark groups xxhash64 —
    // only span equality is observable (dedup_substring's argument).
    "dedup_substring_rewrite" ->
      """WITH t0 AS (
        |  SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |inj AS (
        |  SELECT doc_id, CASE WHEN doc_id % 7 = 0 AND len(t) >= 25
        |    THEN list_concat(t, list_slice(t, 1, 25)) ELSE t END AS t
        |  FROM t0),
        |docs AS (
        |  SELECT doc_id, t FROM inj
        |  UNION ALL
        |  SELECT doc_id + 1000000000, list_slice(t, 10, len(t)) FROM inj
        |  WHERE doc_id % 5 = 0 AND len(list_slice(t, 10, len(t))) >= 1),
        |sp0 AS (SELECT doc_id, t, unnest(range(1, len(t) - 18)) AS i
        |  FROM docs WHERE len(t) >= 20),
        |sp AS (SELECT doc_id, i,
        |    md5(array_to_string(list_slice(t, i, i + 19), ' ')) AS span FROM sp0),
        |occ AS (SELECT doc_id, i,
        |    count(*) OVER (PARTITION BY span) AS cnt,
        |    row_number() OVER (PARTITION BY span ORDER BY doc_id, i) AS rn
        |  FROM sp),
        |cov0 AS (SELECT doc_id, unnest(range(i, i + 20)) AS p
        |  FROM occ WHERE cnt >= 2 AND rn > 1),
        |cov AS (SELECT DISTINCT doc_id, p FROM cov0),
        |tok AS (SELECT doc_id, unnest(t) AS tok, unnest(range(1, len(t) + 1)) AS p
        |  FROM docs),
        |kept AS (SELECT k.doc_id, k.p, k.tok
        |  FROM tok k LEFT JOIN cov c ON c.doc_id = k.doc_id AND c.p = k.p
        |  WHERE c.p IS NULL)
        |SELECT d.doc_id,
        |  CAST(len(d.t) AS BIGINT) AS n_tok,
        |  CAST(len(d.t) - count(k.p) AS BIGINT) AS n_removed,
        |  CAST(length(coalesce(string_agg(k.tok, ' ' ORDER BY k.p), '')) AS BIGINT) AS clean_chars,
        |  md5(coalesce(string_agg(k.tok, ' ' ORDER BY k.p), '')) AS clean_md5
        |FROM docs d LEFT JOIN kept k ON k.doc_id = d.doc_id
        |GROUP BY d.doc_id, len(d.t)
        |ORDER BY d.doc_id""".stripMargin,

    // PII injection derived from (source, doc_id) exactly as in the
    // Spark query; md5 of the redacted text proves byte parity
    "text_pii_redact" ->
      """WITH inj AS (
        |  SELECT doc_id,
        |    text || ' contact ' || source || CAST(doc_id AS VARCHAR)
        |      || '@example.com from 10.' || CAST(doc_id % 256 AS VARCHAR)
        |      || '.' || CAST(doc_id % 100 AS VARCHAR)
        |      || '.7 call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
        |  FROM documents),
        |red AS (
        |  SELECT doc_id, t,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |        '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
        |      '\b555-\d{4}\b', '<PHONE>', 'g') AS r
        |  FROM inj)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ip,
        |  CAST(len(regexp_extract_all(t, '\b555-\d{4}\b')) AS BIGINT) AS n_phone,
        |  CAST(length(r) AS BIGINT) AS red_chars,
        |  md5(r) AS red_md5
        |FROM red ORDER BY doc_id""".stripMargin,

    // eval set = doc_id % 20 == 0; corpus docs sharing any word 5-gram
    // with it are contaminated; coverage in integer basis points
    "text_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |grams AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(t) - 3),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS g
        |  FROM toks WHERE len(t) >= 5),
        |eg AS (SELECT DISTINCT unnest(g) AS gram FROM grams WHERE doc_id % 20 = 0),
        |cg AS (SELECT doc_id, unnest(g) AS gram FROM grams WHERE doc_id % 20 != 0),
        |hits AS (
        |  SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_hits
        |  FROM cg c JOIN eg e USING (gram) GROUP BY c.doc_id),
        |sizes AS (
        |  SELECT doc_id, CAST(len(g) AS BIGINT) AS n_grams
        |  FROM grams WHERE doc_id % 20 != 0)
        |SELECT h.doc_id, s.n_grams, h.n_hits,
        |  CAST(floor((20000 * h.n_hits + s.n_grams) / (2.0 * s.n_grams)) AS BIGINT) AS contam_bp
        |FROM hits h JOIN sizes s USING (doc_id) ORDER BY h.doc_id""".stripMargin,

    // deterministic per-row Bernoulli by sha256 hex prefix — identical
    // lowercase hex and string comparison on both engines
    "q_sample_mixture" ->
      """SELECT lang, count(*) AS n_total,
        |  CAST(sum(CASE WHEN substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8) <
        |    (CASE WHEN lang = 'en' THEN 'gggggggg'
        |          WHEN lang IN ('de', 'fr', 'es') THEN '80000000'
        |          ELSE '40000000' END) THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // concat-and-chunk packing: identical integer window arithmetic on
    // both engines (budget 512, 8 shards, shard = doc_id % 8)
    "text_pack_sequences" ->
      """WITH toks AS (
        |  SELECT doc_id, doc_id % 8 AS grp,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) END AS BIGINT) AS n_tok
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, grp, n_tok,
        |    sum(n_tok) OVER (PARTITION BY grp ORDER BY doc_id
        |                     ROWS UNBOUNDED PRECEDING) AS "end"
        |  FROM toks WHERE n_tok > 0),
        |spans AS (
        |  SELECT doc_id, grp, n_tok, "end", "end" - n_tok AS "start",
        |    unnest(range(CAST(("end" - n_tok) // 512 AS BIGINT),
        |                 CAST(("end" - 1) // 512 + 1 AS BIGINT))) AS bin
        |  FROM pos)
        |SELECT grp, bin,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(least("end", (bin + 1) * 512) - greatest("start", bin * 512)) AS BIGINT) AS n_tokens,
        |  CAST(min(doc_id) AS BIGINT) AS first_doc,
        |  CAST(max(doc_id) AS BIGINT) AS last_doc
        |FROM spans GROUP BY grp, bin ORDER BY grp, bin""".stripMargin,

    // top-100 terms by (tf desc, token asc) — total order, so LIMIT
    // is deterministic on both engines
    "text_vocab" ->
      """SELECT token, CAST(count(*) AS BIGINT) AS tf,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |FROM (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS token
        |  FROM documents WHERE length(trim(text)) > 0)
        |GROUP BY token ORDER BY tf DESC, token LIMIT 100""".stripMargin,

    // running-min windows state the same stage ordering; ties broken
    // by event_id on both engines
    "events_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, event_id, event_type,
        |    min(CASE WHEN event_type = 'view' THEN ts END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS rv,
        |    ts
        |  FROM events),
        |s2 AS (
        |  SELECT *,
        |    min(CASE WHEN event_type = 'click' AND rv IS NOT NULL THEN ts END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS rc
        |  FROM s1),
        |u AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS uv,
        |    max(CASE WHEN event_type = 'click' AND rv IS NOT NULL THEN 1 ELSE 0 END) AS uc,
        |    max(CASE WHEN event_type = 'purchase' AND rc IS NOT NULL THEN 1 ELSE 0 END) AS up
        |  FROM s2 GROUP BY user_id)
        |SELECT count(*) AS n_users,
        |  CAST(sum(uv) AS BIGINT) AS n_view,
        |  CAST(sum(uc) AS BIGINT) AS n_click_after_view,
        |  CAST(sum(up) AS BIGINT) AS n_purchase_after_click
        |FROM u""".stripMargin,

    // tf/df ranking key is one IEEE division of two exact integers —
    // identical doubles, identical ordering, no log() divergence
    "text_keywords" ->
      """WITH tf AS (
        |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id,
        |          unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS token
        |        FROM documents WHERE length(trim(text)) > 0)
        |  GROUP BY doc_id, token),
        |df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token)
        |SELECT doc_id, rk, token, tf, df FROM (
        |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
        |    CAST(row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY CAST(tf.tf AS DOUBLE) / df.df DESC, tf.token) AS BIGINT) AS rk
        |  FROM tf JOIN df USING (token))
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,

    // same 30-minute gap sessionization as events_sessionize; path =
    // type sequence ordered by (ts, event_id)
    "events_paths" ->
      """WITH lagd AS (
        |  SELECT user_id, epoch_ns(ts) AS tsn, event_id, event_type,
        |    lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS p
        |  FROM events),
        |flags AS (
        |  SELECT *, CASE WHEN p IS NULL OR tsn - p > 1800000000000 THEN 1 ELSE 0 END AS f
        |  FROM lagd),
        |sess AS (
        |  SELECT *, sum(f) OVER (PARTITION BY user_id ORDER BY tsn, event_id
        |                         ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flags),
        |paths AS (
        |  SELECT user_id, sid,
        |    string_agg(event_type, '>' ORDER BY tsn, event_id) AS path
        |  FROM sess GROUP BY user_id, sid)
        |SELECT path, count(*) AS n_sessions
        |FROM paths GROUP BY path ORDER BY n_sessions DESC, path LIMIT 10""".stripMargin,

    // exact integer z-test on value cents: (n·v − s)² > 9(nq − s²),
    // HUGEINT here, decimal(38,0) in Spark — both exact, no float
    // boundary
    "events_anomaly" ->
      """WITH c AS (
        |  SELECT event_type, event_id,
        |    CAST(round((CASE WHEN isnan(value) OR isinf(value) THEN NULL ELSE value END) * 100) AS BIGINT) AS v
        |  FROM events),
        |m AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v) AS BIGINT) AS s, CAST(sum(v * v) AS BIGINT) AS q
        |  FROM c GROUP BY event_type),
        |f AS (
        |  SELECT c.event_type, c.event_id,
        |    CASE WHEN (CAST(m.n AS HUGEINT) * c.v - m.s) * (CAST(m.n AS HUGEINT) * c.v - m.s)
        |        > 9 * (CAST(m.n AS HUGEINT) * m.q - CAST(m.s AS HUGEINT) * m.s)
        |      THEN 1 ELSE 0 END AS out
        |  FROM c JOIN m USING (event_type))
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(out) AS BIGINT) AS n_outliers,
        |  CAST(min(CASE WHEN out = 1 THEN event_id END) AS BIGINT) AS min_outlier_id,
        |  CAST(max(CASE WHEN out = 1 THEN event_id END) AS BIGINT) AS max_outlier_id
        |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin,

    // epoch-aligned integer week buckets; `//` and Spark's `div` agree
    // on non-negative longs
    "events_retention" ->
      """WITH wk AS (
        |  SELECT user_id, epoch_ns(ts) // 604800000000000 AS week FROM events),
        |coh AS (
        |  SELECT user_id, week,
        |    min(week) OVER (PARTITION BY user_id) AS cohort_week
        |  FROM wk)
        |SELECT cohort_week, week - cohort_week AS week_offset,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM coh GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // quantize each float to an exact integer (identical IEEE
    // float→double→floor on both engines), then integer sums
    "embed_centroid" ->
      """WITH ex AS (
        |  SELECT label, unnest(list_transform(range(1, len(embedding) + 1),
        |    i -> {'dim': i - 1, 'v': embedding[i]})) AS s
        |  FROM embeddings WHERE embedding IS NOT NULL
        |    AND len(list_filter(embedding, x -> x IS NULL OR isnan(CAST(x AS DOUBLE)) OR abs(CAST(x AS DOUBLE)) > 3.4028235e38)) = 0),
        |q AS (
        |  SELECT label, s.dim AS dim,
        |    CAST(floor(CAST(s.v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS vq
        |  FROM ex)
        |SELECT CAST(label AS BIGINT) AS label, CAST(dim AS BIGINT) AS dim,
        |  count(*) AS n, CAST(sum(vq) AS BIGINT) AS sum_e6,
        |  CAST(floor((2.0 * sum(vq) + count(*)) / (2.0 * count(*))) AS BIGINT) AS mean_e6
        |FROM q GROUP BY label, dim ORDER BY label, dim""".stripMargin,

    // batch = re-ingested (% 3 == 0, must drop) + edited (% 7 == 1,
    // must survive); digest = md5 of normalized text as in text_normalize
    "dedup_incremental" ->
      """WITH norm AS (
        |  SELECT doc_id,
        |    md5(lower(regexp_replace(trim(text), '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS digest,
        |    md5(lower(regexp_replace(trim(text || ' edited v2'), '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS digest_v2
        |  FROM documents),
        |batch AS (
        |  SELECT doc_id + 2000000000 AS batch_id, digest FROM norm WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 3000000000 AS batch_id, digest_v2 FROM norm WHERE doc_id % 7 = 1),
        |kept AS (
        |  SELECT b.batch_id, b.digest FROM batch b
        |  WHERE NOT EXISTS (SELECT 1 FROM norm n WHERE n.digest = b.digest))
        |SELECT CAST(min(batch_id) AS BIGINT) AS keep_id,
        |  CAST(count(*) AS BIGINT) AS n_copies
        |FROM kept GROUP BY digest ORDER BY keep_id""".stripMargin,

    // blocklisted sources excluded, per-source integer stats; quality
    // formula identical to text_quality_score's oracle
    "docs_source_stats" ->
      """WITH q AS (
        |  SELECT doc_id, source, lang,
        |    CAST(length(text) AS BIGINT) AS chars,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) END AS BIGINT) AS toks,
        |    CAST(floor((10000.0 * (2*m*t*c + 750*h*c + 750*(c-p)*t) + 1250.0*t*c)
        |         / (2500.0*t*c)) AS BIGINT) AS q_bp
        |  FROM (SELECT doc_id, source, lang, text,
        |      CAST(greatest(length(text), 1) AS BIGINT) AS c,
        |      CAST(least(length(text), 500) AS BIGINT) AS m,
        |      CAST(greatest(CASE WHEN length(trim(text)) = 0 THEN 0
        |           ELSE len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) END, 1) AS BIGINT) AS t,
        |      CAST(len(list_filter(
        |           CASE WHEN length(trim(text)) = 0 THEN []
        |                ELSE string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') END,
        |           tok -> list_contains(['the','a','an','of','and','to','in','is','it','that'], tok))) AS BIGINT) AS h,
        |      CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 \t\n\x0B\f\r]')) AS BIGINT) AS p
        |    FROM documents))
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(toks) AS BIGINT) AS sum_tokens,
        |  CAST(sum(q_bp) AS BIGINT) AS sum_quality_bp,
        |  count(DISTINCT lang) AS n_langs,
        |  CAST(min(doc_id) AS BIGINT) AS min_doc,
        |  CAST(max(doc_id) AS BIGINT) AS max_doc
        |FROM q WHERE source NOT IN ('src4', 'src13', 'src7')
        |GROUP BY source ORDER BY source""".stripMargin,

    // BM25 with the rational Lucene-classic idf (no ln — libm differs
    // across engines); every float op CAST to DOUBLE so DuckDB does not
    // fall into DECIMAL arithmetic; per-term score quantized to integer
    // micro-points BEFORE the order-sensitive per-doc SUM
    "text_bm25" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS toks,
        |    CAST(len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS BIGINT) AS dl
        |  FROM documents WHERE length(trim(text)) > 0),
        |hits AS (
        |  SELECT doc_id, dl, token, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, dl, unnest(toks) AS token FROM d)
        |  WHERE token IN ('spark', 'vector', 'stream', 'window', 'hash')
        |  GROUP BY doc_id, dl, token),
        |consts AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
        |dfs AS (SELECT token, CAST(count(*) AS BIGINT) AS df
        |        FROM hits GROUP BY token),
        |scored AS (
        |  SELECT doc_id, token, tf,
        |    CAST(floor(
        |      (((CAST(n_docs - df AS DOUBLE) + CAST(0.5 AS DOUBLE))
        |          / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))) *
        |        ((CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
        |          / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
        |             (CAST(0.25 AS DOUBLE) +
        |              (CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE))
        |                / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
        |      * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS s_e6
        |  FROM hits JOIN dfs USING (token) CROSS JOIN consts)
        |SELECT doc_id, CAST(sum(s_e6) AS BIGINT) AS bm25_e6,
        |  count(*) AS n_terms_hit, CAST(sum(tf) AS BIGINT) AS sum_tf
        |FROM scored GROUP BY doc_id
        |ORDER BY bm25_e6 DESC, doc_id LIMIT 20""".stripMargin,

    // bigram model trained on the corpus itself; bp = conditional
    // frequency in basis points, every division IEEE double on exact
    // integer operands (same bigram construction as text_repetition;
    // w1 via split_part == Spark's substring_index — tokens cannot
    // contain the space separator)
    "text_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN []
        |         ELSE string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') END AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
        |  FROM toks WHERE len(t) >= 2),
        |c2 AS (SELECT g, CAST(count(*) AS BIGINT) AS c2 FROM grams GROUP BY g),
        |c1 AS (SELECT split_part(g, ' ', 1) AS w1, CAST(sum(c2) AS BIGINT) AS c1
        |       FROM c2 GROUP BY 1),
        |model AS (
        |  SELECT g, CAST(floor(10000 * c2.c2 / c1.c1) AS BIGINT) AS bp
        |  FROM c2 JOIN c1 ON split_part(c2.g, ' ', 1) = c1.w1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(bp) AS BIGINT) AS sum_bp,
        |  CAST(floor(CAST(sum(bp) AS BIGINT) / count(*)) AS BIGINT) AS avg_bp
        |FROM grams JOIN model USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // head-model variant: model rows restricted to c2 >= 2 AFTER the
    // full-table c1 denominator (surviving bp identical to the exact
    // model); LEFT join + coalesce keeps n_bigrams unchanged and
    // scores dropped tail grams 0. The served twin answers from a
    // persisted ModelIO artifact and must match the SAME oracle.
    "text_lm_score_head" -> LmHeadOracle,
    "text_lm_score_head_served" -> LmHeadOracle,

    // same change derivation as the Spark side; update-then-delete on
    // one key resolves by highest seq (delete wins)
    "io_merge_upsert" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |changes AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    o_totalprice + 100.0 AS o_totalprice, 'U' AS op, 1 AS seq
        |  FROM base WHERE o_orderkey % 5 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, 'D', 2
        |  FROM base WHERE o_orderkey % 7 = 3
        |  UNION ALL
        |  SELECT o_orderkey + (SELECT max(o_orderkey) + 1 FROM base), 'N', 1.0, 'I', 1
        |  FROM base WHERE o_orderkey % 11 = 0),
        |latest AS (
        |  SELECT o_orderkey, op, o_orderstatus, o_totalprice FROM (
        |    SELECT *, row_number() OVER (PARTITION BY o_orderkey
        |                                 ORDER BY seq DESC) AS rn
        |    FROM changes) WHERE rn = 1),
        |merged AS (
        |  SELECT b.* FROM base b
        |  WHERE NOT EXISTS (SELECT 1 FROM latest l
        |                    WHERE l.o_orderkey = b.o_orderkey)
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM latest WHERE op != 'D')
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_okey,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // overlapping 64-token windows, stride 48; a start is kept only if
    // its chunk adds a new token (s = 0 or s <= n - 17); md5 of the
    // space-rejoined window proves byte-identical chunk content
    // cross-engine. range(0, n, 48) == sequence(0, n-1, 48): same set
    "text_chunk_rag" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |spans AS (
        |  SELECT doc_id, t, s FROM (
        |    SELECT doc_id, t, unnest(range(0, len(t), 48)) AS s FROM toks)
        |  WHERE s = 0 OR s <= len(t) - 17)
        |SELECT doc_id, CAST(s // 48 AS BIGINT) AS chunk_idx,
        |  CAST(len(list_slice(t, s + 1, least(s + 64, len(t)))) AS BIGINT) AS n_tok,
        |  md5(array_to_string(list_slice(t, s + 1, least(s + 64, len(t))), ' ')) AS chunk_md5
        |FROM spans ORDER BY doc_id, chunk_idx""".stripMargin,

    // URL curation: registrable-domain extraction (ports, userinfo,
    // IP hosts, punycode, uppercase, multi-label suffixes all in the
    // corpus), blocklist, cap-3-per-domain; the oracle states the cap
    // as a rank window where Spark runs the bottom-k aggregate
    "url_domain_stats" ->
      """WITH u AS (
        |  SELECT doc_id, coalesce(n_chars, 0) AS n_chars,
        |    CASE doc_id % 7
        |      WHEN 0 THEN 'https://www.' || coalesce(source,'') || '.com/articles/' || CAST(doc_id AS VARCHAR)
        |      WHEN 1 THEN 'https://news.' || coalesce(source,'') || '.co.uk/' || CAST(doc_id AS VARCHAR)
        |      WHEN 2 THEN 'http://' || coalesce(source,'') || '.org:8080/p?id=' || CAST(doc_id AS VARCHAR)
        |      WHEN 3 THEN 'https://user:pw@' || coalesce(source,'') || '.net/account'
        |      WHEN 4 THEN 'http://192.168.' || CAST(doc_id % 256 AS VARCHAR) || '.7/raw'
        |      WHEN 5 THEN 'https://cdn.xn--' || coalesce(source,'') || '-4ab.com/img/' || CAST(doc_id AS VARCHAR) || '.png'
        |      ELSE 'HTTPS://Blog.' || upper(coalesce(source,'')) || '.COM/Post/' || CAST(doc_id AS VARCHAR)
        |    END AS url
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, n_chars,
        |    lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#]*@)?([^/:?#\[\]]+)', 1)) AS host
        |  FROM u),
        |d AS (
        |  SELECT doc_id, n_chars, host,
        |    regexp_matches(host, '^((25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])\.){3}(25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])$') AS is_ip,
        |    CASE
        |      WHEN regexp_matches(host, '^((25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])\.){3}(25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])$') THEN host
        |      WHEN regexp_matches(host, '(^|\.)(__EXC3__)$')
        |        THEN CASE WHEN regexp_extract(host, '([^.]+\.[^.]+\.[^.]+)$', 1) = '' THEN host
        |                  ELSE regexp_extract(host, '([^.]+\.[^.]+\.[^.]+)$', 1) END
        |      WHEN regexp_matches(host, '(^|\.)(__EXC2__)$')
        |        THEN CASE WHEN regexp_extract(host, '([^.]+\.[^.]+)$', 1) = '' THEN host
        |                  ELSE regexp_extract(host, '([^.]+\.[^.]+)$', 1) END
        |      WHEN regexp_matches(host, '\.(__WILD2__)$')
        |        THEN CASE WHEN regexp_extract(host, '([^.]+\.[^.]+\.[^.]+\.[^.]+)$', 1) = '' THEN host
        |                  ELSE regexp_extract(host, '([^.]+\.[^.]+\.[^.]+\.[^.]+)$', 1) END
        |      WHEN regexp_matches(host, '\.(__WILD1__)$')
        |        THEN CASE WHEN regexp_extract(host, '([^.]+\.[^.]+\.[^.]+)$', 1) = '' THEN host
        |                  ELSE regexp_extract(host, '([^.]+\.[^.]+\.[^.]+)$', 1) END
        |      WHEN regexp_matches(host, '(^|\.)(__MULTI__)$')
        |        THEN CASE WHEN regexp_extract(host, '([^.]+\.[^.]+\.[^.]+)$', 1) = '' THEN host
        |                  ELSE regexp_extract(host, '([^.]+\.[^.]+\.[^.]+)$', 1) END
        |      ELSE CASE WHEN regexp_extract(host, '([^.]+\.[^.]+)$', 1) = '' THEN host
        |                ELSE regexp_extract(host, '([^.]+\.[^.]+)$', 1) END
        |    END AS domain
        |  FROM h),
        |f AS (SELECT * FROM d WHERE domain NOT IN ('src2.com','src5.co.uk','src11.org')),
        |r AS (SELECT *, row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rk FROM f)
        |SELECT domain,
        |  CASE WHEN bool_or(is_ip) THEN NULL
        |       ELSE NULLIF(regexp_extract(domain, '^[^.]+\.(.+)$', 1), '') END AS tld,
        |  count(*) AS n_docs,
        |  CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
        |  CAST(sum(CASE WHEN rk <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN rk <= 3 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
        |  CAST(min(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS first_kept_doc
        |FROM r GROUP BY domain ORDER BY domain""".stripMargin
        // the PSL rule alternations are BUILT from the same lists the
        // Spark expression compiles (UrlFunctions.SqlAlts) — the two
        // engines cannot drift on the rule table
        .replace("__EXC3__", graft.text.UrlFunctions.SqlAlts.exc3)
        .replace("__EXC2__", graft.text.UrlFunctions.SqlAlts.exc2)
        .replace("__WILD2__", graft.text.UrlFunctions.SqlAlts.wild2)
        .replace("__WILD1__", graft.text.UrlFunctions.SqlAlts.wild1)
        .replace("__MULTI__", graft.text.UrlFunctions.SqlAlts.multi),

    // URL-canonicalization dedup: six cosmetic variants per page —
    // five must collapse (case, default port, tracking params,
    // trailing slash), the sixth (real param + non-default port +
    // http) stays distinct. DuckDB regexp_replace takes the 'g' flag
    // to match Spark's always-global replacement.
    "url_dedup" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE doc_id % 6
        |      WHEN 0 THEN 'https://www.site' || CAST((doc_id//6) % 97 AS VARCHAR) || '.com/a/' || CAST(doc_id//6 AS VARCHAR)
        |      WHEN 1 THEN 'HTTPS://WWW.SITE' || CAST((doc_id//6) % 97 AS VARCHAR) || '.COM/a/' || CAST(doc_id//6 AS VARCHAR)
        |      WHEN 2 THEN 'https://www.site' || CAST((doc_id//6) % 97 AS VARCHAR) || '.com:443/a/' || CAST(doc_id//6 AS VARCHAR)
        |      WHEN 3 THEN 'https://www.site' || CAST((doc_id//6) % 97 AS VARCHAR) || '.com/a/' || CAST(doc_id//6 AS VARCHAR) || '?utm_source=feed&utm_campaign=x'
        |      WHEN 4 THEN 'https://www.site' || CAST((doc_id//6) % 97 AS VARCHAR) || '.com/a/' || CAST(doc_id//6 AS VARCHAR) || '/'
        |      ELSE 'http://www.site' || CAST((doc_id//6) % 97 AS VARCHAR) || '.com:8080/a/' || CAST(doc_id//6 AS VARCHAR) || '?id=9&fbclid=c' || CAST(doc_id AS VARCHAR)
        |    END AS url
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#]*@)?([^/:?#\[\]]+)', 1)) AS host,
        |    regexp_replace(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#]*@)?[^/:?#\[\]]+:([0-9]+)', 1),
        |      '^0+', '', 'g') AS port,
        |    regexp_replace(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([/?#].*)$', 1),
        |      '#.*$', '', 'g') AS nofrag
        |  FROM u),
        |pq AS (
        |  SELECT doc_id, scheme, host, port,
        |    regexp_extract(nofrag, '^([^?]*)', 1) AS path,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(regexp_extract(nofrag, '^[^?]*(\?.*)$', 1),
        |          '&(utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&]*', '', 'g'),
        |        '\?(utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&]*&', '?', 'g'),
        |      '\?(utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&]*$', '', 'g') AS qc
        |  FROM c),
        |canon AS (
        |  SELECT doc_id,
        |    CASE WHEN host = '' THEN ''
        |         ELSE scheme || '://' || host ||
        |           CASE WHEN port <> '' AND NOT ((scheme = 'http' AND port = '80')
        |                                      OR (scheme = 'https' AND port = '443'))
        |                THEN ':' || port ELSE '' END ||
        |           regexp_replace(path || qc, '/$', '', 'g') END AS canonical
        |  FROM pq)
        |SELECT canonical, count(*) AS n_urls,
        |  CAST(min(doc_id) AS BIGINT) AS first_doc, CAST(max(doc_id) AS BIGINT) AS last_doc
        |FROM canon WHERE canonical <> ''
        |GROUP BY canonical ORDER BY canonical""".stripMargin,

    // C4-style line curation over the planted-boilerplate corpus:
    // drop lines in >= 3 distinct docs, sub-3-token fragments, and
    // intra-doc repeats; md5 of the rewritten document proves byte
    // parity. The oracle groups raw LINES where Spark groups xxhash64
    // digests — only line equality is observable, same cross-engine
    // argument as dedup_substring.
    "text_line_dedup" ->
      """WITH base AS (
        |  SELECT doc_id, coalesce(text, '') AS body,
        |    'subscribe to ' || coalesce(source, '') || ' newsletter today' AS sub,
        |    'rare banner for pair ' || CAST(doc_id // 2 AS VARCHAR) AS rare
        |  FROM documents),
        |inj AS (
        |  SELECT doc_id,
        |    body
        |    || CASE WHEN doc_id % 6 = 0 THEN chr(10) || body ELSE '' END
        |    || chr(10) || sub
        |    || CASE WHEN doc_id % 4 = 0 THEN chr(10) || sub ELSE '' END
        |    || chr(10) || rare
        |    || chr(10) || 'ok bye' || chr(10) || 'all rights reserved worldwide' AS t
        |  FROM base),
        |lines AS (
        |  SELECT doc_id, string_split(t, chr(10)) AS arr,
        |    unnest(string_split(t, chr(10))) AS line,
        |    unnest(range(1, len(string_split(t, chr(10))) + 1)) AS idx
        |  FROM inj),
        |flags AS (
        |  SELECT doc_id, idx, line,
        |    CASE WHEN length(trim(line)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(line), '[ \t\n\x0B\f\r]+')) END AS n_tok,
        |    (list_position(arr, line) = idx) AS first_in_doc
        |  FROM lines),
        |freq AS (SELECT line, count(DISTINCT doc_id) AS df FROM flags GROUP BY line),
        |k AS (
        |  SELECT f.doc_id, f.idx, f.line,
        |    (fr.df < 3 AND f.n_tok >= 3 AND f.first_in_doc) AS keep
        |  FROM flags f JOIN freq fr USING (line))
        |SELECT doc_id, count(*) AS n_lines,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  md5(coalesce(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY idx), '')) AS clean_md5,
        |  CAST(length(coalesce(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY idx), '')) AS BIGINT) AS clean_chars
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // 20-token span digests over documents ∪ tail-truncated copies of
    // doc_id % 5 == 0 (tokens from position 10); a span is duplicated
    // when >= 2 distinct docs contain it; coverage in basis points
    "dedup_substring" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |corpus AS (
        |  SELECT doc_id, t FROM toks
        |  UNION ALL
        |  SELECT doc_id + 1000000000, list_slice(t, 10, len(t)) FROM toks
        |  WHERE doc_id % 5 = 0),
        |c2 AS (SELECT * FROM corpus WHERE len(t) >= 20),
        |spans AS (
        |  SELECT doc_id, md5(array_to_string(list_slice(t, i, i + 19), ' ')) AS span
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 18)) AS i FROM c2)),
        |freq AS (SELECT span, count(DISTINCT doc_id) AS nd FROM spans GROUP BY span)
        |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(sum(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
        |  CAST(floor((20000 * sum(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END) + count(*))
        |       / (2.0 * count(*))) AS BIGINT) AS dup_bp
        |FROM spans s JOIN freq f USING (span) WHERE s.doc_id < 1000000000
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,

    // split decided by the cluster REPRESENTATIVE's hash draw (min
    // doc_id per normalized-text digest), so duplicate twins never
    // straddle train/test; same sha256 hex prefix draw as
    // q_sample_mixture
    "split_train_test" ->
      """WITH corpus AS (
        |  SELECT doc_id, lang, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000, lang, text FROM documents),
        |dgs AS (
        |  SELECT doc_id, lang,
        |    md5(lower(regexp_replace(trim(text), '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS dg
        |  FROM corpus),
        |reps AS (SELECT dg, min(doc_id) AS rep FROM dgs GROUP BY dg),
        |assigned AS (
        |  SELECT d.lang, r.rep,
        |    CASE WHEN substr(sha256(CAST(r.rep AS VARCHAR)), 1, 8) < 'e6666666'
        |         THEN 'train' ELSE 'test' END AS split
        |  FROM dgs d JOIN reps r USING (dg))
        |SELECT lang, split, count(*) AS n_docs,
        |  CAST(count(DISTINCT rep) AS BIGINT) AS n_clusters
        |FROM assigned GROUP BY lang, split ORDER BY lang, split""".stripMargin,

    // capacity 64 > corpus vocabulary, so the SpaceSaving summary is
    // exact and the sketch pins against the exact GROUP BY; top-10 by
    // (cnt desc, token asc) is a total order on both engines
    "q_heavy_hitters" ->
      """SELECT token, cnt FROM (
        |  SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS token
        |        FROM documents WHERE length(trim(text)) > 0)
        |  GROUP BY token)
        |ORDER BY cnt DESC, token LIMIT 10""".stripMargin,

    // the bloom prefilter has no false negatives and the exact join
    // removes residual false positives, so the result IS the plain join
    "q_bloom_prune_join" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // per-source best-3 by quality; the bottom-k aggregate's
    // (10000 - q_bp, doc_id) byte key == (q_bp DESC, doc_id ASC); the
    // quality formula is the text_quality_score closed form
    "docs_source_cap" ->
      """WITH q AS (
        |  SELECT doc_id, source,
        |    CAST(floor((10000.0 * (2*m*t*c + 750*h*c + 750*(c-p)*t) + 1250.0*t*c)
        |         / (2500.0*t*c)) AS BIGINT) AS quality_bp
        |  FROM (SELECT doc_id, source,
        |      CAST(greatest(length(text), 1) AS BIGINT) AS c,
        |      CAST(least(length(text), 500) AS BIGINT) AS m,
        |      CAST(greatest(CASE WHEN length(trim(text)) = 0 THEN 0
        |           ELSE len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) END, 1) AS BIGINT) AS t,
        |      CAST(len(list_filter(
        |           CASE WHEN length(trim(text)) = 0 THEN []
        |                ELSE string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') END,
        |           tok -> list_contains(['the','a','an','of','and','to','in','is','it','that'], tok))) AS BIGINT) AS h,
        |      CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 \t\n\x0B\f\r]')) AS BIGINT) AS p
        |    FROM documents))
        |SELECT source, rk, doc_id, quality_bp FROM (
        |  SELECT source, doc_id, quality_bp,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY quality_bp DESC, doc_id) AS BIGINT) AS rk
        |  FROM q)
        |WHERE rk <= 3 ORDER BY source, rk""".stripMargin,

    // oracle aggregates the SOURCE table with the generation rule
    // (doc_id parity) restated: a hash match proves generation-1 rows
    // read back with a null `source` and generation-2 rows keep theirs
    "io_schema_evolution" ->
      """SELECT lang, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_source,
        |  count(DISTINCT CASE WHEN doc_id % 2 = 1 THEN source END) AS n_sources
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // 2h windows sliding every 30min: event at t covers starts
    // k*slide, k in ((t-len)/slide, t/slide] — 4 windows each; same
    // integer arithmetic on epoch nanos in both engines
    "events_sliding_window" ->
      """WITH mem AS (
        |  SELECT event_type, value, user_id,
        |    unnest(range(epoch_ns(ts) // 1800000000000 - 3,
        |                 epoch_ns(ts) // 1800000000000 + 1)) AS k
        |  FROM events)
        |SELECT CAST(k * 1800 AS BIGINT) AS window_start_s, event_type,
        |  count(*) AS n, round(sum(value), 2) AS sum_value,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM mem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "events_sessionize" ->
      """WITH lagd AS (
        |  SELECT user_id, epoch_ns(ts) AS tsn, event_id,
        |    lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS p
        |  FROM events),
        |flags AS (
        |  SELECT *, CASE WHEN p IS NULL OR tsn - p > 1800000000000 THEN 1 ELSE 0 END AS f
        |  FROM lagd),
        |sess AS (
        |  SELECT *, sum(f) OVER (PARTITION BY user_id ORDER BY tsn, event_id
        |                         ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flags)
        |SELECT user_id, CAST(sid AS BIGINT) AS session_id,
        |  count(*) AS n, CAST((max(tsn) - min(tsn)) // 1000000000 AS BIGINT) AS duration_s
        |FROM sess GROUP BY user_id, sid ORDER BY user_id, session_id""".stripMargin,

    // per-user day grid from first to last active day, forward-filled
    // with the most recent observed daily total; exact cents end-to-end
    "events_gap_fill" ->
      """WITH c AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day_no,
        |    CAST(round((CASE WHEN isnan(value) OR isinf(value) THEN NULL ELSE value END) * 100) AS BIGINT) AS v
        |  FROM events),
        |daily AS (
        |  SELECT user_id, day_no, CAST(sum(v) AS BIGINT) AS cents
        |  FROM c GROUP BY 1, 2),
        |grid AS (
        |  SELECT user_id, unnest(range(lo, hi + 1)) AS day_no
        |  FROM (SELECT user_id, min(day_no) AS lo, max(day_no) AS hi
        |        FROM daily GROUP BY user_id)),
        |f AS (
        |  SELECT g.user_id, g.day_no, d.cents,
        |    last_value(d.cents IGNORE NULLS) OVER (
        |      PARTITION BY g.user_id ORDER BY g.day_no
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |  FROM grid g LEFT JOIN daily d USING (user_id, day_no))
        |SELECT day_no, count(*) AS n_users,
        |  CAST(sum(CASE WHEN cents IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_observed,
        |  CAST(sum(filled) AS BIGINT) AS sum_filled_cents
        |FROM f GROUP BY day_no ORDER BY day_no""".stripMargin,

    // the oracle RECOMPUTES the rollup from the whole table; the Spark
    // side merges a snapshot aggregate with a delta-batch aggregate —
    // a hash match proves the merge algebra equals recomputation
    "q_incremental_agg" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round((CASE WHEN isnan(l_extendedprice) OR isinf(l_extendedprice) THEN NULL ELSE l_extendedprice END) * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // SCD2 over the io_merge_upsert change feed: every non-delete
    // change opens a version closed by the key's next change; keys
    // with a single change (pure inserts) are excluded on both sides
    "io_scd2_history" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |  FROM orders),
        |changes AS (
        |  SELECT o_orderkey, 'I' AS op, 0 AS seq, o_orderstatus, price_cents FROM base
        |  UNION ALL
        |  SELECT o_orderkey, 'U', 1, o_orderstatus, price_cents + 10000
        |  FROM base WHERE o_orderkey % 5 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 'D', 2, o_orderstatus, price_cents
        |  FROM base WHERE o_orderkey % 7 = 3
        |  UNION ALL
        |  SELECT o_orderkey + (SELECT max(o_orderkey) + 1 FROM base), 'I', 1, 'N', 100
        |  FROM base WHERE o_orderkey % 11 = 0),
        |v AS (
        |  SELECT *,
        |    lead(seq) OVER (PARTITION BY o_orderkey ORDER BY seq) AS end_seq,
        |    count(*) OVER (PARTITION BY o_orderkey) AS n_changes
        |  FROM changes)
        |SELECT o_orderkey, CAST(seq AS BIGINT) AS version_seq,
        |  CAST(end_seq AS BIGINT) AS end_seq, o_orderstatus,
        |  CAST(price_cents AS BIGINT) AS price_cents,
        |  (end_seq IS NULL) AS is_current
        |FROM v WHERE op != 'D' AND n_changes >= 2
        |ORDER BY o_orderkey, version_seq""".stripMargin,

    // AS OF seq 1 over the same change feed: the version whose
    // interval contains t (open end = infinity), tombstones excluded
    // as versions but still closing intervals via lead()
    "io_scd2_asof" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |  FROM orders),
        |changes AS (
        |  SELECT o_orderkey, 'I' AS op, 0 AS seq, o_orderstatus, price_cents FROM base
        |  UNION ALL
        |  SELECT o_orderkey, 'U', 1, o_orderstatus, price_cents + 10000
        |  FROM base WHERE o_orderkey % 5 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 'D', 2, o_orderstatus, price_cents
        |  FROM base WHERE o_orderkey % 7 = 3
        |  UNION ALL
        |  SELECT o_orderkey + (SELECT max(o_orderkey) + 1 FROM base), 'I', 1, 'N', 100
        |  FROM base WHERE o_orderkey % 11 = 0),
        |v AS (
        |  SELECT *, lead(seq) OVER (PARTITION BY o_orderkey ORDER BY seq) AS end_seq
        |  FROM changes)
        |SELECT o_orderstatus, count(*) AS n_keys,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |  CAST(sum(price_cents) AS BIGINT) AS sum_price_cents
        |FROM v
        |WHERE op != 'D' AND seq <= 1 AND (end_seq IS NULL OR end_seq > 1)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // pigeonhole-blocked bounded edit distance: equal-length strings
    // sharing one of 3 position-segments, levenshtein <= 2; the corpus
    // plants a two-substitution twin of every long-enough document
    // (byte-identical substr/concat derivation on both engines)
    // shift-tolerant pigeonhole: the oracle states the same COMPLETE
    // blocking (segments of the shorter string vs shifted probe
    // substrings of the longer) so both engines compute exactly "all
    // pairs within edit distance 2", indels included
    "dedup_edit_blocked" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000,
        |    CASE WHEN length(text) < 30 THEN text
        |      WHEN doc_id % 2 = 0
        |      THEN substr(text, 1, 10) || 'Q' || substr(text, 12, 11)
        |           || 'Z' || substr(text, 24, length(text))
        |      ELSE substr(text, 1, 10) || 'Q' || substr(text, 11, 9)
        |           || 'Z' || substr(text, 21, length(text))
        |    END
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len FROM corpus),
        |segs AS (
        |  SELECT doc_id, len, i.idx,
        |    CASE i.idx
        |      WHEN 0 THEN substr(text, 1, CAST(len // 3 AS INT))
        |      WHEN 1 THEN substr(text, CAST(len // 3 + 1 AS INT), CAST(len // 3 AS INT))
        |      ELSE substr(text, CAST(2 * (len // 3) + 1 AS INT), CAST(len AS INT)) END AS seg
        |  FROM base CROSS JOIN (SELECT unnest([0, 1, 2]) AS idx) i
        |  WHERE len >= 3),
        |probes0 AS (
        |  SELECT doc_id, text, len, g.dl, s.d, len - g.dl AS plen, i.idx,
        |    (CASE i.idx WHEN 0 THEN 1 WHEN 1 THEN (len - g.dl) // 3 + 1
        |      ELSE 2 * ((len - g.dl) // 3) + 1 END) + s.d AS sstart,
        |    CASE i.idx WHEN 2 THEN (len - g.dl) - 2 * ((len - g.dl) // 3)
        |      ELSE (len - g.dl) // 3 END AS slen
        |  FROM base
        |  CROSS JOIN (SELECT unnest([0, 1, 2]) AS dl) g
        |  CROSS JOIN (SELECT unnest([0, 1, 2]) AS idx) i
        |  CROSS JOIN (SELECT unnest([-2, -1, 0, 1, 2]) AS d) s),
        |probes AS (
        |  SELECT DISTINCT doc_id, plen, idx,
        |    substr(text, CAST(sstart AS INT), CAST(slen AS INT)) AS seg
        |  FROM probes0
        |  WHERE plen >= 3 AND slen >= 1 AND sstart >= 1 AND sstart + slen - 1 <= len
        |    AND abs(d) + abs(dl - d) <= 2),
        |cand AS (
        |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
        |    greatest(a.doc_id, b.doc_id) AS id_b
        |  FROM segs a JOIN probes b
        |    ON a.idx = b.idx AND a.len = b.plen AND a.seg = b.seg
        |       AND a.doc_id <> b.doc_id
        |  UNION
        |  SELECT DISTINCT least(s.doc_id, p.doc_id) AS id_a,
        |    greatest(s.doc_id, p.doc_id) AS id_b
        |  FROM base s JOIN base p
        |    ON s.len < 3 AND p.len < 5 AND abs(p.len - s.len) <= 2
        |       AND s.doc_id <> p.doc_id)
        |SELECT id_a, id_b,
        |  CAST(levenshtein(ca.text, cb.text) AS BIGINT) AS dist
        |FROM cand
        |JOIN corpus ca ON ca.doc_id = id_a
        |JOIN corpus cb ON cb.doc_id = id_b
        |WHERE levenshtein(ca.text, cb.text) <= 2
        |ORDER BY id_a, id_b""".stripMargin,

    // the oracle answers the same partkey-range aggregate from the
    // ORIGINAL table; the Spark side answers it through the z-ordered
    // copy via the stats-index-pruned read — a hash match proves the
    // pruned scan is exact. Integer window bounds derived identically.
    "io_stats_prune_scan" ->
      """WITH r AS (SELECT min(l_partkey) AS lo, max(l_partkey) AS hi FROM lineitem),
        |q AS (SELECT lo + (hi - lo) * 2 // 5 AS qlo,
        |             lo + (hi - lo) * 3 // 5 AS qhi FROM r)
        |SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  CAST(sum(l_orderkey) AS BIGINT) AS sum_okey
        |FROM lineitem, q
        |WHERE l_partkey >= qlo AND l_partkey <= qhi
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // shard = value of the first two md5 hex digits of the decimal doc
    // id, mod 8 — both engines emit the same lowercase hex, and the
    // hex→int step is spelled with strpos so no engine-specific
    // conversion function is involved
    "io_export_shards" ->
      """WITH s AS (
        |  SELECT doc_id, text, lang,
        |    CAST((strpos('0123456789abcdef',
        |            substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef',
        |            substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS BIGINT) % 8 AS shard
        |  FROM documents)
        |SELECT shard, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_id,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |  count(DISTINCT lang) AS n_langs
        |FROM s GROUP BY shard ORDER BY shard""".stripMargin,

    // per-column profile of orders: min/max rendered AFTER the typed
    // aggregate (rendering first would compare lexicographically);
    // the double column renders as exact half-up integer cents so
    // cross-engine float formatting never reaches the hash
    "io_profile_columns" ->
      """SELECT * FROM (
        |  SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
        |    count(*) - count(o_orderkey) AS n_null,
        |    count(DISTINCT o_orderkey) AS n_distinct,
        |    CAST(min(o_orderkey) AS VARCHAR) AS min_s,
        |    CAST(max(o_orderkey) AS VARCHAR) AS max_s FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
        |    count(DISTINCT o_custkey),
        |    CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
        |    count(DISTINCT o_orderstatus),
        |    CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
        |    count(DISTINCT o_totalprice),
        |    CAST(CAST(floor(min(o_totalprice) * 100 + 0.5) AS BIGINT) AS VARCHAR),
        |    CAST(CAST(floor(max(o_totalprice) * 100 + 0.5) AS BIGINT) AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
        |    count(DISTINCT o_orderdate),
        |    CAST(min(o_orderdate) AS VARCHAR), CAST(max(o_orderdate) AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
        |    count(DISTINCT o_orderpriority),
        |    CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR) FROM orders
        |) ORDER BY col_name""".stripMargin,

    // hashed-feature linear inference: bucket = first two md5 hex
    // digits of the token (strpos decode as in io_export_shards);
    // weight = ((bucket * 2654435761) % 2001) - 1000; all integer
    "text_classifier_score" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS token
        |  FROM documents WHERE length(trim(text)) > 0),
        |w AS (
        |  SELECT doc_id,
        |    (CAST((strpos('0123456789abcdef', substr(md5(token), 1, 1)) - 1) * 16
        |        + (strpos('0123456789abcdef', substr(md5(token), 2, 1)) - 1) AS BIGINT)
        |      * 2654435761) % 2001 - 1000 AS w
        |  FROM toks)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(w) AS BIGINT) AS score,
        |  (sum(w) > 0) AS accepted
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the keep-chain walk (keep an occurrence only when it falls
    // outside 1h of the LAST KEPT one) is a per-id fold — restated as
    // a recursive CTE stepping occurrence by occurrence
    "events_dedup_window" ->
      """WITH RECURSIVE occ AS (
        |  SELECT dup_id, tsn, event_id,
        |    row_number() OVER (PARTITION BY dup_id ORDER BY tsn, event_id) AS rn
        |  FROM (SELECT event_id % 1000 AS dup_id, epoch_ns(ts) AS tsn, event_id
        |        FROM events)),
        |walk(dup_id, rn, last, n, id_sum) AS (
        |  SELECT dup_id, 0, CAST(-7200000000000 AS BIGINT), CAST(0 AS BIGINT),
        |         CAST(0 AS BIGINT)
        |  FROM (SELECT DISTINCT dup_id FROM occ)
        |  UNION ALL
        |  SELECT o.dup_id, o.rn,
        |    CASE WHEN o.tsn - w.last > 3600000000000 THEN o.tsn ELSE w.last END,
        |    CASE WHEN o.tsn - w.last > 3600000000000 THEN w.n + 1 ELSE w.n END,
        |    CASE WHEN o.tsn - w.last > 3600000000000 THEN w.id_sum + o.event_id
        |         ELSE w.id_sum END
        |  FROM walk w JOIN occ o ON o.dup_id = w.dup_id AND o.rn = w.rn + 1)
        |SELECT w.dup_id, CAST(w.n AS BIGINT) AS n_kept,
        |  CAST(w.id_sum AS BIGINT) AS kept_id_sum
        |FROM walk w
        |JOIN (SELECT dup_id, max(rn) AS mx FROM occ GROUP BY dup_id) m
        |  ON m.dup_id = w.dup_id AND m.mx = w.rn
        |ORDER BY w.dup_id""".stripMargin,

    // transitive closure over the doubling graph (i -> 2i), component
    // = min reachable id — verifies ConnectedComponents.label exactly
    "graph_components" ->
      """WITH RECURSIVE e AS (
        |  SELECT doc_id AS src, doc_id * 2 AS dst FROM documents
        |  WHERE doc_id >= 1
        |    AND doc_id * 2 IN (SELECT doc_id FROM documents)),
        |und AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        |verts AS (SELECT DISTINCT src AS id FROM und),
        |reach(id, r) AS (
        |  SELECT id, id FROM verts
        |  UNION
        |  SELECT reach.id, und.dst FROM reach JOIN und ON reach.r = und.src)
        |SELECT id, CAST(min(r) AS BIGINT) AS component
        |FROM reach GROUP BY id ORDER BY id""".stripMargin,

    // fixed-iteration PageRank in pure integer arithmetic (micro-unit
    // ranks, integral division) — 5 unrolled rounds; `//` is DuckDB's
    // integral division, matching Spark's `div` on these non-negative
    // operands
    "graph_pagerank" -> {
      val round = (i: Int) =>
        s"""r$i AS (SELECT e.dst AS id,
           |  CAST(150000 + (85 * sum(r${i - 1}.r // e.outdeg)) // 100 AS BIGINT) AS r
           |  FROM e JOIN r${i - 1} ON r${i - 1}.id = e.src GROUP BY e.dst)"""
      s"""WITH e0 AS (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |und AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
         |deg AS (SELECT src AS id, count(*) AS outdeg FROM und GROUP BY src),
         |e AS (SELECT und.src, und.dst, deg.outdeg FROM und JOIN deg ON deg.id = und.src),
         |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM deg),
         |${(1 to 5).map(round).mkString(",\n")}
         |SELECT id, r AS rank_u FROM r5 ORDER BY r DESC, id LIMIT 100""".stripMargin
    },

    "io_snapshot_diff" ->
      """WITH a AS (SELECT doc_id, md5(text) AS dig FROM documents),
        |b AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 17 = 5 THEN text || ' v2' ELSE text END) AS dig
        |  FROM documents WHERE doc_id % 17 <> 3
        |  UNION ALL
        |  SELECT -doc_id - 1 AS doc_id, md5(text) AS dig
        |  FROM documents WHERE doc_id % 17 = 7)
        |SELECT * FROM (
        |  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |    CASE WHEN a.doc_id IS NULL THEN 'added'
        |         WHEN b.doc_id IS NULL THEN 'removed'
        |         WHEN a.dig <> b.dig THEN 'changed' END AS status
        |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id) d
        |WHERE status IS NOT NULL ORDER BY doc_id""".stripMargin,

    // exact per-language order-statistic band from the value histogram
    // (same derivation as the Spark plan: lo = value at multiset
    // position k+1, hi = value at position n-k, k = n div 100)
    "filter_length_outliers" ->
      """WITH hist AS (
        |  SELECT lang, n_chars, count(*) AS cnt FROM documents GROUP BY lang, n_chars),
        |cum AS (
        |  SELECT lang, n_chars, cnt,
        |    sum(cnt) OVER (PARTITION BY lang ORDER BY n_chars
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(cnt) OVER (PARTITION BY lang) AS n
        |  FROM hist),
        |cuts AS (
        |  SELECT lang,
        |    min(CASE WHEN cum >= (n // 100) + 1 THEN n_chars END) AS lo_chars,
        |    min(CASE WHEN cum >= n - (n // 100) THEN n_chars END) AS hi_chars,
        |    CAST(min(n) AS BIGINT) AS n_total
        |  FROM cum GROUP BY lang)
        |SELECT d.lang, c.lo_chars, c.hi_chars, c.n_total,
        |  CAST(sum(CASE WHEN d.n_chars BETWEEN c.lo_chars AND c.hi_chars
        |       THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN d.n_chars BETWEEN c.lo_chars AND c.hi_chars
        |       THEN d.n_chars ELSE 0 END) AS BIGINT) AS kept_chars
        |FROM documents d JOIN cuts c USING (lang)
        |GROUP BY d.lang, c.lo_chars, c.hi_chars, c.n_total
        |ORDER BY d.lang""".stripMargin,

    // same broadcast-scan semantics as ann_bruteforce_topk with the
    // different-label predicate added; sims are the same pairwise
    // cosine values that oracle already matches at milli-point rounding
    "embed_hard_negatives" ->
      """SELECT qid, rk, vid, CAST(floor(1000 * s + 0.5) AS BIGINT) AS sim_mbp
        |FROM (
        |  SELECT q.vec_id AS qid, e.vec_id AS vid,
        |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS s,
        |    CAST(row_number() OVER (
        |      PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) DESC,
        |               e.vec_id) AS BIGINT) AS rk
        |  FROM embeddings q JOIN embeddings e
        |    ON e.vec_id != q.vec_id AND e.label != q.label
        |  WHERE q.vec_id < 10
        |    AND q.embedding IS NOT NULL AND e.embedding IS NOT NULL
        |    AND len(list_filter(q.embedding, x -> x IS NULL OR isnan(CAST(x AS DOUBLE)) OR abs(CAST(x AS DOUBLE)) > 3.4028235e38)) = 0
        |    AND len(list_filter(e.embedding, x -> x IS NULL OR isnan(CAST(x AS DOUBLE)) OR abs(CAST(x AS DOUBLE)) > 3.4028235e38)) = 0)
        |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,

    // the dedup_ngram_jaccard pair set (all-pairs restatement), closed
    // into components by recursive CTE (the graph_components shape),
    // representative per cluster by (quality_bp desc, doc_id) — the
    // quality formula is text_quality_score's, verbatim
    "dedup_cluster_rep" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |grams AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
        |  FROM toks),
        |g2 AS (SELECT * FROM grams WHERE len(g) > 0),
        |p0 AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.g, b.g)) AS BIGINT) AS inter,
        |    CAST(len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) AS BIGINT) AS uni
        |  FROM g2 a JOIN g2 b ON a.doc_id < b.doc_id),
        |pairs AS (SELECT id_a, id_b FROM p0 WHERE CAST(inter AS DOUBLE) / uni >= 0.7),
        |und AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |        UNION SELECT id_b, id_a FROM pairs),
        |verts AS (SELECT DISTINCT src AS id FROM und),
        |reach(id, r) AS (
        |  SELECT id, id FROM verts
        |  UNION
        |  SELECT reach.id, und.dst FROM reach JOIN und ON reach.r = und.src),
        |comp AS (SELECT id, CAST(min(r) AS BIGINT) AS cluster_id FROM reach GROUP BY id),
        |q AS (
        |  SELECT doc_id,
        |    CAST(floor((10000.0 * (2*m*t*c + 750*h*c + 750*(c-p)*t) + 1250.0*t*c)
        |         / (2500.0*t*c)) AS BIGINT) AS q_bp
        |  FROM (
        |    SELECT doc_id,
        |      CAST(greatest(length(text), 1) AS BIGINT) AS c,
        |      CAST(least(length(text), 500) AS BIGINT) AS m,
        |      CAST(greatest(CASE WHEN length(trim(text)) = 0 THEN 0
        |           ELSE len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) END, 1) AS BIGINT) AS t,
        |      CAST(len(list_filter(
        |           CASE WHEN length(trim(text)) = 0 THEN []
        |                ELSE string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') END,
        |           tok -> list_contains(['the','a','an','of','and','to','in','is','it','that'], tok))) AS BIGINT) AS h,
        |      CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 \t\n\x0B\f\r]')) AS BIGINT) AS p
        |    FROM documents)),
        |members AS (
        |  SELECT comp.cluster_id, comp.id, q.q_bp
        |  FROM comp JOIN q ON comp.id = q.doc_id),
        |ranked AS (
        |  SELECT cluster_id, id, q_bp,
        |    CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_docs,
        |    row_number() OVER (PARTITION BY cluster_id ORDER BY q_bp DESC, id) AS rn
        |  FROM members)
        |SELECT cluster_id, n_docs, id AS rep_id, q_bp AS rep_q_bp
        |FROM ranked WHERE rn = 1 ORDER BY cluster_id""".stripMargin,

    // per-doc LM score is text_lm_score's (verbatim CTEs), quartile
    // thresholds via quantile_cont on integer-valued data (the
    // q_group_quantiles cross-engine precedent; 0.25/0.75 are exact
    // binary doubles)
    "docs_quality_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN []
        |         ELSE string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') END AS t
        |  FROM documents),
        |gr AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
        |  FROM toks WHERE len(t) >= 2),
        |c2 AS (SELECT g, CAST(count(*) AS BIGINT) AS c2 FROM gr GROUP BY g),
        |c1 AS (SELECT split_part(g, ' ', 1) AS w1, CAST(sum(c2) AS BIGINT) AS c1
        |       FROM c2 GROUP BY 1),
        |model AS (
        |  SELECT g, CAST(floor(10000 * c2.c2 / c1.c1) AS BIGINT) AS bp
        |  FROM c2 JOIN c1 ON split_part(c2.g, ' ', 1) = c1.w1),
        |lm AS (
        |  SELECT doc_id,
        |    CAST(floor(CAST(sum(bp) AS BIGINT) / count(*)) AS BIGINT) AS avg_bp
        |  FROM gr JOIN model USING (g) GROUP BY doc_id),
        |perdoc AS (
        |  SELECT d.doc_id, d.lang, CAST(length(d.text) AS BIGINT) AS n_chars,
        |    coalesce(lm.avg_bp, 0) AS score
        |  FROM documents d LEFT JOIN lm ON d.doc_id = lm.doc_id),
        |th AS (SELECT lang, quantile_cont(score, 0.25) AS t1,
        |              quantile_cont(score, 0.75) AS t2
        |       FROM perdoc GROUP BY lang)
        |SELECT p.lang,
        |  CASE WHEN score > t2 THEN 'head'
        |       WHEN score > t1 THEN 'middle' ELSE 'tail' END AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(score) AS BIGINT) AS sum_score
        |FROM perdoc p JOIN th ON p.lang = th.lang
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // head-model bucketing: identical CTEs except the model keeps only
    // c2 >= 2 rows (c1 still full-table) and lm LEFT-joins with
    // coalesce — thresholds re-derive from the head scores
    "docs_quality_buckets_head" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN []
        |         ELSE string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') END AS t
        |  FROM documents),
        |gr AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
        |  FROM toks WHERE len(t) >= 2),
        |c2 AS (SELECT g, CAST(count(*) AS BIGINT) AS c2 FROM gr GROUP BY g),
        |c1 AS (SELECT split_part(g, ' ', 1) AS w1, CAST(sum(c2) AS BIGINT) AS c1
        |       FROM c2 GROUP BY 1),
        |model AS (
        |  SELECT g, CAST(floor(10000 * c2.c2 / c1.c1) AS BIGINT) AS bp
        |  FROM c2 JOIN c1 ON split_part(c2.g, ' ', 1) = c1.w1
        |  WHERE c2.c2 >= 2),
        |lm AS (
        |  SELECT doc_id,
        |    CAST(floor(CAST(sum(coalesce(bp, 0)) AS BIGINT) / count(*)) AS BIGINT) AS avg_bp
        |  FROM gr LEFT JOIN model USING (g) GROUP BY doc_id),
        |perdoc AS (
        |  SELECT d.doc_id, d.lang, CAST(length(d.text) AS BIGINT) AS n_chars,
        |    coalesce(lm.avg_bp, 0) AS score
        |  FROM documents d LEFT JOIN lm ON d.doc_id = lm.doc_id),
        |th AS (SELECT lang, quantile_cont(score, 0.25) AS t1,
        |              quantile_cont(score, 0.75) AS t2
        |       FROM perdoc GROUP BY lang)
        |SELECT p.lang,
        |  CASE WHEN score > t2 THEN 'head'
        |       WHEN score > t1 THEN 'middle' ELSE 'tail' END AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(score) AS BIGINT) AS sum_score
        |FROM perdoc p JOIN th ON p.lang = th.lang
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // distinct-3-gram construction restates dedup_ngram_jaccard's (the
    // Spark side groups by the 64-bit gram hash — collision-equivalent,
    // same trade as the dedup family); novelty_bp is the j_bp
    // round-half-up pattern on exact integers
    "text_ngram_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
        |  FROM toks),
        |firsts AS (SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS novel,
        |  CAST(floor((20000 * CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
        |       + count(*)) / (2.0 * count(*))) AS BIGINT) AS novelty_bp
        |FROM grams JOIN firsts USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // float→double widening is exact and both engines state the same
    // IEEE division + floor(x + 0.5) half-up, so codes are
    // bit-identical; md5 over the comma-joined stream pins assignment
    "embed_int8_quantize" ->
      """WITH base AS (
        |  SELECT vec_id, embedding,
        |    CAST(len(embedding) AS BIGINT) AS n_dims,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
        |  FROM embeddings WHERE embedding IS NOT NULL
        |    AND len(list_filter(embedding, x -> x IS NULL OR isnan(CAST(x AS DOUBLE)) OR abs(CAST(x AS DOUBLE)) > 3.4028235e38)) = 0),
        |coded AS (
        |  SELECT vec_id, n_dims, scale,
        |    list_transform(embedding, x ->
        |      CASE WHEN scale = 0 THEN 0
        |           ELSE CAST(greatest(least(floor(CAST(x AS DOUBLE) / scale + 0.5),
        |                127), -127) AS BIGINT) END) AS codes
        |  FROM base)
        |SELECT vec_id, n_dims,
        |  CAST(floor(scale * 1e9 + 0.5) AS BIGINT) AS scale_e9,
        |  CAST(len(list_filter(codes, c -> abs(c) = 127)) AS BIGINT) AS n_sat,
        |  CAST(len(list_filter(codes, c -> c = 0)) AS BIGINT) AS n_zero,
        |  CAST(list_sum(codes) AS BIGINT) AS code_sum,
        |  md5(array_to_string(codes, ',')) AS code_md5
        |FROM coded ORDER BY vec_id""".stripMargin,
  )
}
