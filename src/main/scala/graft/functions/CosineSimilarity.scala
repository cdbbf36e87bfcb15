package graft.functions

import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: cosine similarity of two float-array
  * columns, with real `doGenCode` — the scoring kernel of the ANN and
  * embedding-dedup verify paths.
  *
  * Why an Expression and not `zip_with`+`aggregate`: higher-order
  * functions evaluate an interpreted lambda per element (~200
  * interpreted calls per 64-dim pair), while this compiles to a tight
  * primitive loop inside whole-stage codegen. Math matches the
  * higher-order formulation bit-for-bit: elements widened to double,
  * accumulated in array order, `dot / (sqrt(na) * sqrt(nb))`.
  *
  * Array elements must be non-null (embedding vectors); a zero-norm
  * input yields NaN, same as the declarative form.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  // (return type inferred — AbstractDataType is private[sql])
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_cosine"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = math.min(xs.numElements(), ys.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = xs.getFloat(i).toDouble
      val y = ys.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.getFloat($i);
         |  double $y = (double) $b.getFloat($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity extends NativeFunction {
  val Info: ExpressionInfo = new ExpressionInfo(
    classOf[CosineSimilarity].getCanonicalName, null, "graft_cosine",
    "_FUNC_(a, b) - cosine similarity of two float arrays", "")

  val Builder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, s"graft_cosine expects 2 arguments, got ${exprs.length}")
    CosineSimilarity(exprs.head, exprs(1))
  }
}
