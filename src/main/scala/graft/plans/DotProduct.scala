package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}

/** Native codegen'd dot product over two ArrayType(FloatType) columns —
  * the same sequential double fold as [[CosineSimilarity]]'s dot term,
  * exposed on its own so pair-scan operators can hoist the per-vector
  * norm out of the inner loop: an all-pairs cosine via
  * `dot(x,y) * rinv_x * rinv_y` does one fold per PAIR instead of three,
  * with the two inverse norms computed once per VECTOR.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with FloatVectorPair {

  override def prettyName: String = "dot_product"

  protected val accumulators: Seq[String] = Seq("dot")
  protected def step(acc: Array[Double], xi: Double, yi: Double): Unit =
    acc(0) += xi * yi
  protected def result(acc: Array[Double]): Double = acc(0)
  protected def stepCode(acc: Seq[String], xi: String, yi: String): String =
    s"${acc(0)} += $xi * $yi;"
  protected def resultCode(acc: Seq[String]): String = acc(0)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}
