package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.storage.StorageLevel

import graft.operators.RangeAggregate

/** The materialization kernel's contract: `keep` persists, counts,
  * releases its inputs and registers; releaseAll unpersists, and a
  * frame the caller already released is a safe no-op to release again;
  * a count that throws leaves nothing cached and nothing registered.
  * Suites run one at a time in the forked test JVM, so the cases that
  * start from `clearCache()` may assert on the whole CacheManager. */
class CacheLedgerSpec extends SparkSpec {

  private def cacheManager = spark.sharedState.cacheManager

  /** Long identity that throws on 7: a measure whose count fails. */
  private val boom = udf((i: Long) => if (i == 7L) throw new IllegalStateException("boom") else i)

  test("register + releaseAll unpersists; double-release is a no-op") {
    val input = spark.range(100).toDF("i").persist(StorageLevel.MEMORY_AND_DISK)
    val df = CacheLedger.keep("cache-ledger-spec", input.select((col("i") * 2).as("j")), input)
    assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(input.storageLevel == StorageLevel.NONE)
    assert(CacheLedger.registered.contains("cache-ledger-spec"))

    CacheLedger.releaseAll()
    assert(!CacheLedger.registered.contains("cache-ledger-spec"))
    assert(df.storageLevel == StorageLevel.NONE)

    // caller-side release after ledger release (and vice versa) is the
    // documented double-release path
    df.unpersist()

    // a frame the CALLER released first must not break releaseAll
    val input2 = spark.range(10).toDF("i").persist(StorageLevel.MEMORY_AND_DISK)
    val df2 = CacheLedger.keep("cache-ledger-spec-2", input2.select((col("i") + 1).as("j")), input2)
    df2.unpersist()
    CacheLedger.releaseAll()
    assert(!CacheLedger.registered.contains("cache-ledger-spec-2"))
  }

  test("keep: a count that throws unpersists the result and its input and registers nothing") {
    val input = spark.range(20).toDF("i").persist(StorageLevel.MEMORY_AND_DISK)
    val out = input.select(boom(col("i")).as("j"))
    intercept[SparkException](CacheLedger.keep("cache-ledger-spec-fail", out, input))
    assert(out.storageLevel == StorageLevel.NONE)
    assert(input.storageLevel == StorageLevel.NONE)
    assert(!CacheLedger.registered.contains("cache-ledger-spec-fail"))
  }

  test("bandSums whose measure throws leaves nothing cached and registers nothing") {
    spark.catalog.clearCache()
    CacheLedger.releaseAll()
    assert(cacheManager.isEmpty)
    val points = spark.range(100).select(col("id").as("p"), boom(col("id")).as("v"))
    val intervals = spark.range(5)
      .select(col("id"), (col("id") * 10).as("lo"), (col("id") * 10 + 15).as("hi"))
    intercept[SparkException](
      RangeAggregate.bandSums(points, "p", Seq("v"), intervals, "id", "lo", "hi"))
    assert(cacheManager.isEmpty)
    assert(!CacheLedger.registered.contains("range_band_sums"))
  }

  test("operators returning persisted pair frames register them; releaseAll drains the tags") {
    val queries = SparkEntry.queries.toMap
    val tagOf = Seq(
      "dedup_minhash_lsh" -> "dedup_minhash_lsh",
      "dedup_simhash" -> "dedup_simhash",
      "dedup_image_phash" -> "dedup_image_phash",
      "dedup_embedding_cosine" -> "dedup_embedding_cosine",
      "text_decontaminate_semantic" -> "text_decontaminate_semantic",
      "dedup_ngram_jaccard" -> "ngram_jaccard_pairs",
      "dedup_edit_blocked" -> "dedup_edit_blocked",
      "q_range_join" -> "range_band_sums",
      "text_lm_score" -> "text_lm_score",
      "text_lm_score_head" -> "text_lm_score_head",
      "text_lm_score_head_served" -> "text_lm_score_head_served",
      "split_train_test" -> "assign_splits",
      "text_ngram_novelty" -> "text_ngram_novelty")
    spark.catalog.clearCache()
    CacheLedger.releaseAll()
    for ((query, tag) <- tagOf) {
      queries(query)(spark, sf).count()
      assert(CacheLedger.registered.contains(tag), s"$query: $tag")
      CacheLedger.releaseAll()
      assert(CacheLedger.registered.isEmpty, query)
      assert(cacheManager.isEmpty, s"$query left a cache entry")
    }
    // dedup_cluster_rep keeps nothing: its lazy pairs go straight to
    // ConnectedComponents.label, and the per-doc arrays they read are
    // released once label returns
    val rep = queries("dedup_cluster_rep")(spark, sf)
    assert(CacheLedger.registered.isEmpty, "dedup_cluster_rep registered a frame")
    assert(cacheManager.isEmpty, "dedup_cluster_rep returned with a cache entry")
    rep.count()
    assert(CacheLedger.registered.isEmpty && cacheManager.isEmpty,
      "dedup_cluster_rep's action left a cache entry")
  }
}
