package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point:
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`.
  * Injects every function of [[GraftExtensions.Functions]]. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.Functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  /** The graft native functions: the one table both registration paths
    * read. */
  val Functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    ("graft_cosine", CosineSimilarity.Info, CosineSimilarity.Builder),
    ("graft_bottomk", BottomK.Info, BottomK.Builder),
    ("graft_topfreq", TopFreq.Info, TopFreq.Builder),
    ("graft_bloom_agg", BloomAgg.Info, BloomAgg.Builder),
    ("graft_bloom_contains", BloomContains.Info, BloomContains.Builder),
    ("graft_text_counts", TextScanCounts.Info, TextScanCounts.Builder),
    ("graft_shingle_hashes", ShingleHashes.Info, ShingleHashes.Builder)
  ).map { case (name, info, builder) => (FunctionIdentifier(name), info, builder) }

  /** Idempotent imperative registration of every function in
    * [[Functions]] — for sessions not built with the extension (e.g. a
    * session the caller constructed elsewhere). Functions already in
    * the session's registry are left as they are. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    Functions.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
  }
}
