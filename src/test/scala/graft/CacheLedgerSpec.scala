package graft

import org.apache.spark.storage.StorageLevel

import graft.operators.{Analytics, DedupQueries, ImageDedupQueries, PipelineQueries}

/** The ledger contract operators rely on when they return persisted
  * frames: registration is visible, releaseAll unpersists, and a frame
  * the caller already released is a safe no-op to release again.
  * Asserts are scoped to this suite's own tags — other suites share
  * the JVM-wide session and may register concurrently. */
class CacheLedgerSpec extends SparkSpec {

  test("register + releaseAll unpersists; double-release is a no-op") {
    val df = spark.range(100).toDF("i").persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    assert(df.storageLevel != StorageLevel.NONE)

    CacheLedger.register("cache-ledger-spec", df)
    assert(CacheLedger.registered.contains("cache-ledger-spec"))

    CacheLedger.releaseAll()
    assert(!CacheLedger.registered.contains("cache-ledger-spec"))
    assert(df.storageLevel == StorageLevel.NONE)

    // caller-side release after ledger release (and vice versa) is the
    // documented double-release path
    df.unpersist()

    // a frame the CALLER released first must not break releaseAll
    val df2 = spark.range(10).toDF("i").persist(StorageLevel.MEMORY_AND_DISK)
    CacheLedger.register("cache-ledger-spec-2", df2)
    df2.unpersist()
    CacheLedger.releaseAll()
    assert(!CacheLedger.registered.contains("cache-ledger-spec-2"))
  }

  test("operators returning persisted pair frames register them; releaseAll drains the tags") {
    val ops = Seq(
      "dedup_simhash" -> DedupQueries.dedupSimhash _,
      "dedup_image_phash" -> ImageDedupQueries.dedupImagePhash _,
      "text_decontaminate_semantic" -> PipelineQueries.textDecontaminateSemantic _,
      "dedup_edit_blocked" -> DedupQueries.dedupEditBlocked _,
      "range_band_sums" -> Analytics.qRangeJoin _)
    for ((tag, op) <- ops) {
      op(spark, sf)
      assert(CacheLedger.registered.contains(tag), tag)
      CacheLedger.releaseAll()
      assert(!CacheLedger.registered.contains(tag), tag)
    }
  }
}
