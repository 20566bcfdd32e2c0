package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}

/** Native codegen'd cosine similarity over two ArrayType(FloatType)
  * columns.
  *
  * Semantics are identical to the higher-order-function formulation in
  * graft.functions.VectorOps (three independent sequential double folds:
  * dot, |a|², |b|²) so results are bit-identical to the DuckDB oracle —
  * but evaluated in one pass with no intermediate zipped array and no
  * lambda dispatch, keeping the ANN hot path inside whole-stage codegen.
  *
  * This is the "(b) custom Expression" tier of the build guidance —
  * used where built-in operators can't express the performance, not new
  * semantics.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with FloatVectorPair {

  override def prettyName: String = "cosine_sim"

  protected val accumulators: Seq[String] = Seq("dot", "na", "nb")
  protected def step(acc: Array[Double], xi: Double, yi: Double): Unit = {
    acc(0) += xi * yi
    acc(1) += xi * xi
    acc(2) += yi * yi
  }
  protected def result(acc: Array[Double]): Double =
    acc(0) / (math.sqrt(acc(1)) * math.sqrt(acc(2)))
  protected def stepCode(acc: Seq[String], xi: String, yi: String): String =
    s"${acc(0)} += $xi * $yi; ${acc(1)} += $xi * $xi; ${acc(2)} += $yi * $yi;"
  protected def resultCode(acc: Seq[String]): String =
    s"${acc(0)} / (java.lang.Math.sqrt(${acc(1)}) * java.lang.Math.sqrt(${acc(2)}))"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}
