package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.graftshim.ExpressionColumns

/** A graft native function: its SQL description and its one builder. */
trait NativeFunction {
  val Info: ExpressionInfo
  val Builder: FunctionBuilder
}

/** SparkSessionExtensions entry point:
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`.
  * Injects every function of [[GraftExtensions.Functions]] so SQL can
  * call it by name; graft's operators need none of this. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.Functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  /** The graft native functions: the one table the extension injects,
    * each under the name its `Info` declares. */
  val Functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    CosineSimilarity, BottomK, TopFreq, BloomAgg, BloomContains, TextScanCounts, ShingleHashes
  ).map(f => (FunctionIdentifier(f.Info.getName), f.Info, f.Builder))

  /** `fn(args*)` as a Column built by `fn`'s builder, reading and writing
    * no function registry, so it works in any session. An aggregate is
    * wrapped as the analyzer wraps one it resolves by name. */
  private[graft] def column(fn: NativeFunction, args: Column*): Column =
    ExpressionColumns.toColumn(fn.Builder(args.map(ExpressionColumns.toExpression)) match {
      case agg: AggregateFunction => agg.toAggregateExpression()
      case e => e
    })
}
