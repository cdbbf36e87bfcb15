package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Every step of the `curate` benchmark generates the same code on
  * every call, so its second call compiles nothing and reuses the
  * classes (and the JIT's work on them) of the first. A step whose
  * source changes per call, such as an unseeded `rand()` whose seed
  * codegen inlines as a literal, recompiles on every call whatever the
  * size of the codegen cache. Suites run one at a time in the forked
  * test JVM, so the JVM-wide compile count moves only for these calls.
  *
  * Only these four are pinned. Some other queries (`text_bm25`,
  * `docs_quality_buckets`, `dedup_substring_rewrite`, ...) generate new
  * code on some repeated calls, most likely from plans that AQE picks
  * at run time, and a pin on them would flake. */
class CodegenSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One benchmark step: the query through the `noop` sink, then the
    * cache release the benchmark runs between steps. */
  private def runOnce(name: String): Unit =
    try SparkEntry.queries(name)(spark, sf).write.format("noop").mode("overwrite").save()
    finally {
      CacheLedger.releaseAll()
      spark.catalog.clearCache()
    }

  test("the test session sizes the codegen cache as Harness does") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      Harness.CodegenCacheEntries.toString)
  }

  Seq("text_curate", "dedup_cluster_rep", "multimodal_decode", "ann_bruteforce_topk").foreach { q =>
    test(s"$q compiles no new class on its second call") {
      runOnce(q)
      val before = compiles
      runOnce(q)
      assert(compiles - before == 0, s"$q compiled ${compiles - before} classes on its second call")
    }
  }
}
