package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData

/** Native codegen'd squared-L2 distance over two ArrayType(FloatType)
  * columns — the PQ assignment/encode hot path (graft.operators.Pq
  * evaluates it corpus × codewords times per subspace).
  *
  * Semantics are identical to the higher-order-function fold
  * `aggregate(zip_with(a, b, (x,y) -> (x-y)²), 0.0, +)`: one sequential
  * left-to-right double accumulation, so results — and therefore the
  * argmin code assignments the oracle replays — are bit-identical to
  * the interpreted form and to DuckDB. Same "(b) custom Expression"
  * tier as [[CosineSimilarity]]: performance, not new semantics.
  */
case class L2Squared(left: Expression, right: Expression)
    extends BinaryExpression with FloatVectorPair {

  override def prettyName: String = "l2_sq"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = (double) $x.getFloat($i) - (double) $y.getFloat($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2Squared =
    copy(left = newLeft, right = newRight)
}
