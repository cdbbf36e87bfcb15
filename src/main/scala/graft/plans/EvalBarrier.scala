package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Plan-shaping helper: evaluate expensive derived columns exactly
  * once when the caller filters on them.
  *
  * `PushDownPredicates` substitutes a filter's attribute references
  * with the defining project expressions and copies the WHOLE
  * expression tree into the scan-stage filter; the project above then
  * evaluates the tree again for the surviving rows. For cheap
  * expressions that trade is right (filtering at the scan skips IO and
  * row construction); for heavy scoring trees it doubles the dominant
  * cost — text_curate at sf1 measured 10.5 s with the duplicated
  * trees vs 3.1 s evaluated once.
  *
  * The barrier is a nondeterministic column (`rand(0L)`): a project
  * containing ANY nondeterministic expression is not a valid pushdown
  * target, and the always-true nondeterministic filter directly above
  * it keeps `ColumnPruning` from dropping the column and blocks
  * `CombineFilters` from merging caller predicates downward (both
  * rules require deterministic conditions). Caller filters therefore
  * stay ABOVE this block and reference the computed attributes.
  *
  * The seed is fixed because only the nondeterminism matters, never the
  * values. Whole-stage codegen inlines the seed as a literal, so an
  * unseeded `rand()` (a fresh random seed per call) would make every
  * call generate new source: text_curate would compile its two
  * ~1,150-line scoring classes from cold, and the JIT restart on them,
  * on every call, whatever the size of the codegen cache.
  *
  * Use ONLY where a filter (or repeated projection) would re-evaluate
  * heavy trees: the barrier forfeits scan-level pruning for the
  * projected columns, which is exactly the wrong trade for cheap
  * predicates over raw columns.
  */
object EvalBarrier {

  private val BarrierCol = "__eval_once_barrier"

  /** Project `cols` (plus every column in `keep`) computing each
    * exactly once, shielded from predicate pushdown and projection
    * collapse by a nondeterministic barrier. */
  def evalOnce(df: DataFrame, keep: Seq[String], cols: (String, Column)*): DataFrame = {
    val projected = keep.map(col) ++ cols.map { case (n, c) => c.as(n) }
    df.select(projected :+ rand(0L).as(BarrierCol): _*)
      .filter(col(BarrierCol) >= -1d)
      .drop(BarrierCol)
  }
}
