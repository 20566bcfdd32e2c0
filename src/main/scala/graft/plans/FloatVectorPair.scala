package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.BinaryExpression
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** The vector kernels' shared signature ([[CosineSimilarity]],
  * [[DotProduct]], [[L2Squared]]): two `array<float>` arguments, one
  * double result. ExpectsInputTypes/AbstractDataType are private[sql] in
  * Spark 4.1.2, so the input types are validated with public API only. */
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
}
