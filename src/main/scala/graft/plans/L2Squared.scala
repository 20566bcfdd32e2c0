package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}

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

  protected val accumulators: Seq[String] = Seq("acc")
  protected def step(acc: Array[Double], xi: Double, yi: Double): Unit = {
    val d = xi - yi
    acc(0) += d * d
  }
  protected def result(acc: Array[Double]): Double = acc(0)
  protected def stepCode(acc: Seq[String], xi: String, yi: String): String =
    s"${acc(0)} += ($xi - $yi) * ($xi - $yi);"
  protected def resultCode(acc: Seq[String]): String = acc(0)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2Squared =
    copy(left = newLeft, right = newRight)
}
