package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.BinaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** The vector kernels' shared signature and loop ([[CosineSimilarity]],
  * [[DotProduct]], [[L2Squared]]): two `array<float>` arguments, one
  * double result, folded left to right over the first min(|x|, |y|)
  * element pairs, each widened to double. A kernel names its double
  * accumulators (each starts at 0.0) and gives its fold step and result
  * twice, interpreted and as generated Java over the same names, so
  * both paths run the same IEEE operations in the same order.
  * ExpectsInputTypes/AbstractDataType are private[sql] in Spark 4.1.2,
  * so the input types are validated with public API only. */
trait FloatVectorPair extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }
  override def dataType: DataType = DoubleType

  /** The accumulators' names, in the order `step` and `result` see them. */
  protected def accumulators: Seq[String]
  /** Folds the element pair (xi, yi) into `acc`. */
  protected def step(acc: Array[Double], xi: Double, yi: Double): Unit
  /** The kernel's value from the folded accumulators. */
  protected def result(acc: Array[Double]): Double
  /** [[step]] as Java statements over the accumulators' variables. */
  protected def stepCode(acc: Seq[String], xi: String, yi: String): String
  /** [[result]] as a Java expression over the accumulators' variables. */
  protected def resultCode(acc: Seq[String]): String

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val acc = new Array[Double](accumulators.size)
    var i = 0
    while (i < n) {
      step(acc, x.getFloat(i).toDouble, y.getFloat(i).toDouble)
      i += 1
    }
    result(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val acc = accumulators.map(ctx.freshName)
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |${acc.map(a => s"double $a = 0.0;").mkString("\n")}
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $x.getFloat($i);
         |  double $yi = (double) $y.getFloat($i);
         |  ${stepCode(acc, xi, yi)}
         |}
         |${ev.value} = ${resultCode(acc)};
       """.stripMargin
    })
}
